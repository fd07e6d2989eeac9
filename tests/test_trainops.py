"""Training-data operator tests: dedup (n-gram Jaccard, MinHash-LSH,
SimHash), similarity search (brute-force + LSH ANN), sampling and
graph ranking. Exactness is pinned against hand-computed values, the DuckDB
oracle, or the brute-force baseline."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from motive_rdf_spark.operators.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_sql,
    word_ngrams,
)
from motive_rdf_spark.operators.similarity import cosine_topk, lsh_ann_topk

SF_SMALL = "/root/testdata/sf0.001"


def _docs(spark, sf=SF_SMALL):
    return spark.read.parquet(f"{sf}/documents.parquet")


def test_ngram_jaccard_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),       # grams: abc bcd cde
            (2, "a b c d x"),       # grams: abc bcd cdx  -> |∩|=2 |∪|=4 -> 0.5
            (3, "q r s t u"),       # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs == {(1, 2): 0.5}


def test_minhash_finds_exact_dups_and_matches_jaccard(spark):
    docs = _docs(spark)
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=None).collect()
    }
    mh = {
        (r["a"], r["b"]): r["jaccard"]
        for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    # LSH verification step computes TRUE jaccard -> values must agree
    for pair, j in mh.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-9
    # recall: high-similarity pairs are almost never missed by 8x4 bands
    high = {p for p, j in exact.items() if j >= 0.8}
    found = set(mh) & high
    if high:
        assert len(found) / len(high) >= 0.9


def test_simhash_matches_duckdb_oracle(spark):
    docs = _docs(spark)
    got = {r["doc_id"]: r["sh"] for r in simhash(docs).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    exp = {r[0]: r[1] for r in con.execute(simhash_sql()).fetchall()}
    assert got == exp


def test_simhash_identical_docs_collide(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz yyy xxx www")],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["sh"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2] and sh[1] != sh[3]


def test_cosine_topk_known_neighbors(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),   # closest to 0
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),  # opposite of 0
        ],
        "vec_id long, embedding array<double>",
    )
    top = cosine_topk(vecs, vecs, k=1)
    best = {r["query_id"]: r["neighbor_id"] for r in top.collect()}
    assert best[0] == 1 and best[1] == 0 and best[3] == 2  # 3⊥2 beats 3·0=-1


def test_lsh_ann_finds_planted_clone(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(40)
    dim = len(emb.select("embedding").first()[0])
    # plant an exact clone of each vector under id+10000: same bucket,
    # cosine 1.0 -> must be the ANN top-1
    clones = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    ann = lsh_ann_topk(emb, corpus, dim=dim, k=1)
    rows = {r["query_id"]: (r["neighbor_id"], r["sim"]) for r in ann.collect()}
    for qid, (nid, sim) in rows.items():
        assert nid == qid + 10000 and sim == pytest.approx(1.0, abs=1e-3)
    assert len(rows) == 40
    # ANN sims agree with brute force on shared pairs
    bf = cosine_topk(emb, corpus, k=1)
    bf_rows = {r["query_id"]: (r["neighbor_id"], r["sim"]) for r in bf.collect()}
    assert bf_rows == rows


def test_lsh_multi_probe_improves_recall(spark):
    """Hamming-1 multi-probe recall@1 >= single-bucket recall@1 vs the
    brute-force baseline, and never invents pairs the brute force
    would rank differently (sims agree on shared pairs)."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(50)
    dim = len(emb.select("embedding").first()[0])
    bf = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(emb, emb, k=1).collect()}

    def recall(multi_probe: int) -> float:
        ann = {
            r["query_id"]: r["neighbor_id"]
            for r in lsh_ann_topk(emb, emb, dim=dim, k=1, num_planes=6,
                                  multi_probe=multi_probe).collect()
        }
        hits = sum(1 for q, n in bf.items() if ann.get(q) == n)
        return hits / len(bf)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0


def test_ivf_ann_finds_planted_clone_and_recall(spark):
    """IVF ANN: a planted exact clone lands in the same centroid cell
    (identical vector -> identical assignment) and must be top-1; with
    nprobe = num_clusters the search degrades gracefully to exact."""
    from motive_rdf_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(40)
    clones = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    ann = ivf_ann_topk(emb, corpus, k=1, num_clusters=8, nprobe=2, seed=3)
    rows = {r["query_id"]: (r["neighbor_id"], r["sim"]) for r in ann.collect()}
    assert len(rows) == 40
    for qid, (nid, sim) in rows.items():
        assert nid == qid + 10000 and sim == pytest.approx(1.0, abs=1e-3)
    # full-probe IVF == exact brute force (same top-1 per query)
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(emb, corpus, k=1).collect()
    }
    full = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_ann_topk(emb, corpus, k=1, num_clusters=8, nprobe=8, seed=3).collect()
    }
    assert full == exact


def test_cosine_near_dup_lsh_subset_and_clone_recall(spark):
    """LSH-bucketed near-dup pairs must be a subset of the exact pairs
    with identical sims, and exact clones (cosine 1.0 — identical
    sketches) must always be recovered."""
    from motive_rdf_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(40)
    clones = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(clones).persist()
    corpus.count()
    exact = {
        (r["a"], r["b"]): r["sim"]
        for r in cosine_near_dup_pairs(corpus, threshold=0.3).collect()
    }
    approx = {
        (r["a"], r["b"]): r["sim"]
        for r in cosine_near_dup_pairs(corpus, threshold=0.3, lsh=True).collect()
    }
    assert set(approx) <= set(exact)
    assert all(exact[k] == v for k, v in approx.items())
    # every (v, clone) pair has cosine 1.0 and identical sketch -> found
    for r in emb.select("vec_id").collect():
        assert (r["vec_id"], r["vec_id"] + 10000) in approx
    corpus.unpersist()


def test_decontaminate_planted_overlap(spark):
    """Planted contamination: only docs sharing a full word-5-gram with
    the benchmark are flagged; 4-gram overlap and short docs are not."""
    from motive_rdf_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (0, "prefix alpha beta gamma delta epsilon suffix"),  # 5-gram hit
            (1, "alpha beta gamma delta other words here"),  # only 4-gram overlap
            (2, "totally unrelated content with many words"),
            (3, "beta gamma delta"),  # < 5 tokens: no shingles
        ],
        "doc_id long, text string",
    )
    for bcast in (True, False):
        got = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(docs, bench, n=5, broadcast_benchmark=bcast).collect()
        }
        assert got == {0: 1, 1: 0, 2: 0, 3: 0}, (bcast, got)


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


def test_dedup_clusters_canonical_per_component(spark):
    """Chain a-b-c and pair e-f must fold to min-id clusters; isolated
    d stays its own canonical singleton. Transitivity comes from the
    CC step, not the pair list (a-c is never a direct pair)."""
    from pyspark.sql import functions as F

    from motive_rdf_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (5, 6, 0.7)], "a long, b long, jaccard double"
    )
    out = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert {k: v["cluster_id"] for k, v in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5
    }
    assert [k for k, v in sorted(out.items()) if v["is_canonical"]] == [1, 4, 5]


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


def test_max_dup_ngram_run_hand_computed(spark):
    """Two docs share a 6-token span (= run of 3 4-grams); a third doc
    shares nothing. Runs and zeros hand-checked."""
    from motive_rdf_spark.operators.dedup import max_dup_ngram_run

    shared = "one two three four five six"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} aaa bbb ccc"),
            (2, f"xxx yyy {shared} zzz"),
            (3, "totally different words here only once"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["max_dup_run"]
        for r in max_dup_ngram_run(docs, n=4).collect()
    }
    assert got == {1: 3, 2: 3, 3: 0}


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


def test_centroid_cosine_hand_computed(spark):
    from motive_rdf_spark.operators.similarity import centroid_cosine

    rows = [
        # group 0: two orthogonal unit vectors -> centroid (.5, .5),
        # cos(v, c) = 0.5/(1 * sqrt(0.5)) = 0.7071 for both
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.0, 1.0]),
        # group 1: singleton -> cos to own centroid = 1.0
        (2, 1, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {r["vec_id"]: r.asDict() for r in centroid_cosine(df, outlier_below=0.8).collect()}
    assert got[0]["cos_centroid"] == got[1]["cos_centroid"] == 0.7071
    assert got[0]["is_outlier"] and got[1]["is_outlier"]
    assert got[2]["cos_centroid"] == 1.0 and not got[2]["is_outlier"]


def test_centroid_cosine_negative_outlier(spark):
    from motive_rdf_spark.operators.similarity import centroid_cosine

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.1]),
        (2, 0, [-1.0, 0.0]),  # opposes the group direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {r["vec_id"]: r["cos_centroid"] for r in centroid_cosine(df).collect()}
    assert got[2] < 0 < got[0]


def test_semantic_decontaminate_lsh_flags_planted_clone(spark):
    """LSH mode must flag a corpus vector that is a near-copy of a
    benchmark vector (cosine ~1 vectors agree on nearly every
    hyperplane, so they share or neighbor a bucket), must not flag
    unrelated vectors at a high threshold, and exact mode must agree
    with a locally computed max."""
    import math

    from motive_rdf_spark.operators.similarity import semantic_decontaminate

    import random

    dim = 16
    rng = []
    for i in range(40):
        r = random.Random(i * 1000 + 7)
        rng.append([r.gauss(0, 1) for _ in range(dim)])
    bench_rows = [(1000 + i, rng[i]) for i in range(5)]
    # corpus: a near-copy of bench vector 0 (tiny perturbation), plus
    # orthogonal-ish noise vectors
    clone = [x + 0.001 for x in rng[0]]
    corpus_rows = [(0, clone)] + [(i, rng[10 + i]) for i in range(1, 30)]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    bench = spark.createDataFrame(bench_rows, "vec_id long, embedding array<double>")

    flagged = {
        r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
        for r in semantic_decontaminate(
            corpus, bench, threshold=0.98, lsh=True, dim=dim
        ).collect()
    }
    assert flagged[0][1] is True and flagged[0][0] >= 0.98
    assert sum(1 for _, (s, c) in flagged.items() if c) == 1

    # exact mode: max_bench_sim equals the local computation
    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a)); nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    exact = {
        r["vec_id"]: r["max_bench_sim"]
        for r in semantic_decontaminate(corpus, bench, threshold=0.98).collect()
    }
    for vid, vec in corpus_rows:
        want = round(max(cos(vec, bv) for bid, bv in bench_rows if bid != vid), 4)
        assert abs(exact[vid] - want) < 2e-4, (vid, exact[vid], want)
