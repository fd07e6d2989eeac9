"""Off-paper operator tests: seeded and stratified sampling, sequence
packing, source mixing, k-hop distances and PageRank. Exactness is
pinned against hand-computed values, the DuckDB oracle, or the
brute-force baseline."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _docs(spark, sf=SF_SMALL):
    return spark.read.parquet(f"{sf}/documents.parquet")


def test_seeded_sampling_deterministic_and_stratified(spark):
    """Sampling is a pure function of (id, seed): identical membership
    at any partitioning, different seeds give different samples, and
    the stratified variant returns exactly min(k, |group|) per group."""
    from motive_rdf_spark.operators.sampling import seeded_sample, stratified_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).cast("string").alias("source")
    )
    s1 = sorted(r["doc_id"] for r in seeded_sample(df, 0.2, seed=1).collect())
    s1b = sorted(
        r["doc_id"] for r in seeded_sample(df.repartition(13), 0.2, seed=1).collect()
    )
    s2 = sorted(r["doc_id"] for r in seeded_sample(df, 0.2, seed=2).collect())
    assert s1 == s1b
    assert s1 != s2
    assert 0.15 < len(s1) / 2000 < 0.25

    st = stratified_sample(df, "source", k=10, seed=1)
    per_group = {
        r["source"]: r["n"]
        for r in st.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_group == {str(g): 10 for g in range(7)}
    # a group smaller than k returns the whole group
    tiny = df.filter((F.col("doc_id") < 3) | (F.col("source") != "0"))
    st_tiny = stratified_sample(tiny, "source", k=10, seed=1)
    n0 = st_tiny.filter(F.col("source") == "0").count()
    assert n0 == 1  # only doc_id 0 has source '0' among doc_id < 3


def test_stratified_hot_group_guard_identical_output(spark):
    """One group holds 90% of rows: with the guard triggered
    (hot_threshold below the group size) the output is IDENTICAL to the
    naive full-rank path, and the hot group's window input shrinks to
    the pre-filtered prefix instead of the whole group."""
    from motive_rdf_spark.operators.sampling import (
        PRECISION,
        _rank_topk,
        _sel_hash,
        stratified_sample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, "hot").otherwise((F.col("id") % 5).cast("string")).alias("source"),
    ).persist()
    naive = sorted(tuple(r) for r in _rank_topk(df, "source", 7, 1, "doc_id").collect())
    guarded = stratified_sample(df, "source", k=7, seed=1, hot_threshold=100, safety=4.0)
    assert sorted(tuple(r) for r in guarded.collect()) == naive
    # evidence the guard engages: the prefix for the hot group keeps
    # far fewer rows than the group itself (~safety*k out of 900)
    thr = -(-4.0 * 7 * PRECISION // 900)  # ceil
    kept = df.filter((F.col("source") == "hot") & (_sel_hash("doc_id", 1) < thr)).count()
    assert 7 <= kept < 200, kept
    df.unpersist()


def test_stratified_shortfall_fallback_still_exact(spark):
    """A pathologically small safety factor starves the prefix; the
    in-plan shortfall check must re-rank the affected group from the
    full data, keeping the output identical to the naive path."""
    from motive_rdf_spark.operators.sampling import _rank_topk, stratified_sample

    df = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, "big").otherwise("small").alias("source"),
    ).persist()
    naive = sorted(tuple(r) for r in _rank_topk(df, "source", 10, 3, "doc_id").collect())
    # safety≈0 → threshold ceil(~0.3) = 1 → prefix keeps ~500/1e6 ≈ 0
    # rows → shortfall → full re-rank of the flagged group
    starved = stratified_sample(
        df, "source", k=10, seed=3, hot_threshold=100, safety=1e-4
    )
    assert sorted(tuple(r) for r in starved.collect()) == naive
    df.unpersist()


def test_pack_sequences_boundaries(spark):
    """Pack assignment: a doc belongs to the pack its preceding
    cumulative count falls in; packs overflow by at most one doc;
    groups pack independently."""
    from motive_rdf_spark.operators.sampling import pack_sequences

    mk = lambda n: " ".join(["w"] * n)  # noqa: E731
    df = spark.createDataFrame(
        [
            (0, "a", mk(6)),  # cum_before 0  -> pack 0
            (1, "a", mk(6)),  # cum_before 6  -> pack 0 (overflows to 12)
            (2, "a", mk(3)),  # cum_before 12 -> pack 1
            (3, "a", mk(20)), # cum_before 15 -> pack 1
            (4, "b", mk(4)),  # independent group -> pack 0
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (r["pack_id"], r["n_tokens"])
        for r in pack_sequences(df, 10, "source").collect()
    }
    assert got == {0: (0, 6), 1: (0, 6), 2: (1, 3), 3: (1, 20), 4: (0, 4)}


def test_mix_sources_rates_nested_and_allowlist(spark):
    """mix_sources keeps ~rate per mapped group, drops unmapped groups,
    and lower rates select nested subsets of higher rates."""
    from motive_rdf_spark.operators.sampling import mix_sources

    docs = _docs(spark, "/root/testdata/sf0.01").select("doc_id", "source")
    lo = mix_sources(docs, {"src0": 0.2, "src1": 0.2})
    hi = mix_sources(docs, {"src0": 0.6, "src1": 0.6, "src2": 0.4})
    lo_ids = {r["doc_id"] for r in lo.collect()}
    hi_rows = hi.collect()
    hi_ids = {r["doc_id"] for r in hi_rows}
    assert lo_ids <= hi_ids  # nested: same hash, lower threshold
    assert {r["source"] for r in hi_rows} <= {"src0", "src1", "src2"}
    # src3..19 dropped entirely; mapped groups keep a plausible fraction
    n_src0 = sum(1 for r in hi_rows if r["source"] == "src0")
    assert 0 < n_src0 < 25


def test_khop_min_dist_tiny_graph(spark):
    """Hand-checked BFS distances, incl. a shorter-path override and
    the predicate allowlist."""
    from motive_rdf_spark.operators.paths import khop_min_dist

    # 1 -a-> 2 -a-> 3 -a-> 4;  1 -b-> 4 (shortcut);  5 isolated
    triples = spark.createDataFrame(
        [(1, 0, 2), (2, 0, 3), (3, 0, 4), (1, 1, 4)],
        "s long, p long, o long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in khop_min_dist(triples, seeds, k=3).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2}
    only_a = {
        r["node"]: r["dist"]
        for r in khop_min_dist(triples, seeds, k=3, preds=[0]).collect()
    }
    assert only_a == {1: 0, 2: 1, 3: 2, 4: 3}


def test_pagerank_hand_computed_and_multi_edge_dedup(spark):
    """Two damped iterations on a 3-node graph, checked against the
    closed-form recurrence; a parallel (s,o) edge under a second
    predicate must not change anything (rank flows over the distinct
    adjacency)."""
    from motive_rdf_spark.operators.pagerank import pagerank

    # 1 -> 2, 1 -> 3, 2 -> 3 (+ duplicate 1->2 under predicate 7)
    triples = spark.createDataFrame(
        [(1, 0, 2), (1, 0, 3), (2, 0, 3), (1, 7, 2)],
        "s long, p long, o long",
    )
    got = {
        r["node"]: r["rank_n"]
        for r in pagerank(triples, iterations=2, round_to=None).collect()
    }
    # N-scaled: r0 = 1; odeg(1)=2, odeg(2)=1
    # r1: n1 = 0.15, n2 = 0.15 + 0.85*0.5, n3 = 0.15 + 0.85*1.5
    # r2: n2 = 0.15 + 0.85*(0.15/2), n3 = 0.15 + 0.85*(0.15/2 + 0.575)
    assert abs(got[1] - 0.15) < 1e-12
    assert abs(got[2] - (0.15 + 0.85 * 0.075)) < 1e-12
    assert abs(got[3] - (0.15 + 0.85 * (0.075 + 0.575))) < 1e-12


def test_pagerank_matches_sql_twin_on_testdata(spark):
    """Value-exact (at ROUND 4) vs the unrolled-CTE oracle on the
    TPC-H KG at the smallest SF."""
    from motive_rdf_spark.kg_tpch import TRIPLES_CTE, triples_view
    from motive_rdf_spark.operators.pagerank import pagerank, pagerank_sql

    got = sorted(
        (r["node"], r["rank_n"])
        for r in pagerank(triples_view(spark, SF_SMALL), iterations=3).collect()
    )
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    want = sorted(map(tuple, con.execute(pagerank_sql(TRIPLES_CTE, 3)).fetchall()))
    assert got == want


def test_pagerank_and_khop_lazy_mode_equals_materialized(spark):
    """materialize=False (single lazy plan) must produce identical
    results to the checkpointing path on both iterative operators."""
    from motive_rdf_spark.operators.pagerank import pagerank
    from motive_rdf_spark.operators.paths import khop_min_dist

    triples = spark.createDataFrame(
        [(1, 0, 2), (1, 0, 3), (2, 0, 3), (3, 1, 4), (5, 0, 1)],
        "s long, p long, o long",
    )
    a = sorted(map(tuple, pagerank(triples, 2).collect()))
    b = sorted(map(tuple, pagerank(triples, 2, materialize=False).collect()))
    assert a == b

    seeds = spark.createDataFrame([(5,)], "node long")
    ka = sorted(map(tuple, khop_min_dist(triples, seeds, 3).collect()))
    kb = sorted(map(tuple, khop_min_dist(triples, seeds, 3, materialize=False).collect()))
    assert ka == kb


