"""Joint scoring of motif *sets* — the multi-pattern MDL code of the
reference (MotifCode.pruneValues MotifCode.java:378-408 + the
multi-pattern codelength call sites SimAnnealingMulti.java:87-135,
GAMulti.java:98-201).

Semantics: patterns are processed in a fixed order with one shared
``seen`` triple set — an instance of pattern i is kept iff none of its
triples was claimed by any previously kept instance (of any pattern).
The joint codelength is dims + Σ pattern-structure bits + ONE template
term (graph degrees minus ALL kept instances' triples) + per-pattern
label codes.

Pattern order = canonical-form sort (SURVEY.md §4.4: the reference's
scores depend on list order; fixing order by canonical key makes joint
scores deterministic and comparable across engines).

Scale shape: per pattern one match job (bounded), prune over the
union of instance triples, then the same degree-subtraction joins as
the single-motif scorer — all DataFrame work; only histograms are
collected.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.canon import canonical_key
from motive_rdf_spark.functions.mdl import (
    matches_codelength_alt,
    pattern_bits,
    prefix,
)
from motive_rdf_spark.functions.mdl import edgelist_codelength, Prior
from motive_rdf_spark.operators import degrees as deg
from motive_rdf_spark.operators.bgp import find
from motive_rdf_spark.operators.mdl_ops import template_degree_hists, variable_freq_hists
from motive_rdf_spark.operators.prune import (
    instance_triples_df,
    prune_matches,
    prune_matches_df,
)
from motive_rdf_spark.patterns import Pattern


@dataclass
class MotifSetScore:
    total: float
    per_pattern_freq: list[int]


def sort_patterns(patterns: list[Pattern]) -> list[Pattern]:
    """Deterministic processing order: sort by canonical key."""
    return sorted(patterns, key=lambda p: canonical_key(p))


def prune_values(
    patterns: list[Pattern], matches_per_pattern: list[list[list[int]]]
) -> list[list[list[int]]]:
    """MotifCode.pruneValues: shared ``seen`` set across patterns in
    list order (driver-exact; match lists are pre-sorted canonically)."""
    seen: set = set()
    kept: list[list[list[int]]] = []
    for pat, matches in zip(patterns, matches_per_pattern):
        kept.append(prune_matches(pat, matches, seen=seen))
    return kept


def prune_values_df(
    patterns: list[Pattern], matches_dfs: list[DataFrame]
) -> list[DataFrame]:
    """Distributed MotifCode.pruneValues: patterns processed in list
    order; each pattern's matches go through the distributed greedy
    fixpoint (operators/prune.prune_matches_df) against an accumulated
    claimed-triples DataFrame — the shared ``seen`` set never leaves the
    cluster (VERDICT r1 item 1). Returns one kept-matches DF per pattern
    (localCheckpoint'ed — safe to reuse across jobs)."""
    claimed: DataFrame | None = None
    kept_dfs: list[DataFrame] = []
    for pat, m in zip(patterns, matches_dfs):
        kept = prune_matches_df(pat, m, claimed=claimed).localCheckpoint(eager=True)
        kept_dfs.append(kept)
        new_claim = (
            instance_triples_df(pat, kept)
            .select(F.struct("s", "p", "o").alias("__t"))
            .distinct()
        )
        if claimed is None:
            claimed = new_claim.localCheckpoint(eager=True)
        else:
            # append only the genuinely new claims (anti-join) instead of
            # re-distincting the whole monotonically growing set each
            # pattern (VERDICT r2 item 8): the accumulated set stays a
            # union of disjoint checkpointed parts — globally distinct by
            # construction, one narrow union, no O(P) wide passes
            fresh = new_claim.join(claimed, "__t", "left_anti").localCheckpoint(
                eager=True
            )
            claimed = claimed.unionAll(fresh)
    return kept_dfs


def batch_find(
    src, patterns: list[Pattern], max_matches: int
) -> tuple[list[DataFrame], list[int], DataFrame]:
    """ONE unioned match job for a set of patterns — the SURVEY §2.10
    mapping for the reference's generation-at-a-time evaluation
    (GAMulti.java:203-299): each pattern's bounded match output is
    normalized to (motif_id, vals array<long>), unioned, persisted and
    materialized in a single job whose ``groupBy(__motif)`` aggregate
    ALSO yields every pattern's support count — no per-pattern
    ``count()`` jobs at all. Per-pattern DataFrames (with their v1..vk
    columns restored) are cheap filters over the cached union.

    Returns (per_pattern_dfs, per_pattern_counts, union_handle); the
    caller unpersists the handle when scoring is done. Requires every
    pattern to have variables (callers guarantee this — Utils.valid
    analog)."""
    from motive_rdf_spark.patterns import var_col

    parts = []
    for i, pat in enumerate(patterns):
        cols = [var_col(v) for v in pat.variables]
        m = find(src, pat).limit(max_matches)
        parts.append(
            m.select(
                F.lit(i).alias("__motif"),
                F.array(*cols).cast("array<long>").alias("__vals"),
            )
        )
    union = parts[0]
    for q in parts[1:]:
        union = union.unionAll(q)
    union = union.persist()
    # the one job that evaluates every member's matcher; populates the
    # cache and returns all support counts as a byproduct
    by_motif = {
        r["__motif"]: r["n"]
        for r in union.groupBy("__motif").agg(F.count("*").alias("n")).collect()
    }
    counts = [int(by_motif.get(i, 0)) for i in range(len(patterns))]
    outs = []
    for i, pat in enumerate(patterns):
        k = len(pat.variables)
        outs.append(
            union.filter(F.col("__motif") == i).select(
                *[F.col("__vals")[j].alias(f"v{j + 1}") for j in range(k)]
            )
        )
    return outs, counts, union


def score_motif_set(
    triples: DataFrame,
    patterns: list[Pattern],
    max_matches: int = 100_000,
    driver_prune_threshold: int = 50_000,
    matches_by_key: dict[tuple, DataFrame] | None = None,
    counts_by_key: dict[tuple, int] | None = None,
    batch_members: bool = True,
) -> MotifSetScore:
    """Joint codelength of a motif set vs the graph.

    The shared-``seen`` prune runs driver-exact when the total bounded
    match count is small (fixture scale, as the reference's own tests
    use) and switches to the distributed per-pattern fixpoint with an
    accumulated claimed-triples DF above ``driver_prune_threshold`` —
    both compute the same sequential-greedy result in canonical order.

    Returns total bits and per-pattern kept-instance frequencies.

    ``triples`` may be a ``bgp.GraphStore`` — match jobs then reuse the
    pre-partitioned copies; degree aggregations read the plain graph.

    Match evaluation is batched: with ``batch_members`` (default) every
    member pattern's matcher runs in ONE unioned Spark job
    (``batch_find``) instead of one job per member. Pass
    ``matches_by_key`` (canonical key → bounded match DF) to reuse
    matches batched at a wider scope — e.g. a whole GA generation
    (GAMulti.batch scoring); the caller owns that cache's lifetime.
    """
    from motive_rdf_spark.operators.bgp import GraphStore

    store = triples if isinstance(triples, GraphStore) else None
    if store is not None:
        triples = store.plain
    spark = triples.sparkSession
    patterns = sort_patterns(patterns)
    n, m, r = deg.graph_dims(triples)

    src = store if store is not None else triples
    handle: DataFrame | None = None
    own_persist = False
    counts: list[int] | None = None
    if matches_by_key is not None:
        bounded = [matches_by_key[canonical_key(pat)] for pat in patterns]
        if counts_by_key is not None:
            counts = [counts_by_key[canonical_key(pat)] for pat in patterns]
    elif batch_members and len(patterns) > 1 and all(p.variables for p in patterns):
        bounded, counts, handle = batch_find(src, patterns, max_matches)
    else:
        bounded = [find(src, pat).limit(max_matches).persist() for pat in patterns]
        own_persist = True
    if counts is None:
        counts = [b.count() for b in bounded]

    if sum(counts) <= driver_prune_threshold:
        matches_per = []
        for b in bounded:
            rows = [list(x) for x in b.collect()]
            rows.sort()
            matches_per.append(rows)
        kept_per = prune_values(patterns, matches_per)
        kept_dfs, freqs_per = [], []
        for pat, kept in zip(patterns, kept_per):
            cols = [f"v{i + 1}" for i in range(pat.num_vars)]
            schema = ", ".join(f"{c} long" for c in cols)
            kept_dfs.append(
                spark.createDataFrame([tuple(x) for x in kept], schema)
            )
            freqs_per.append(len(kept))
    else:
        kept_dfs = prune_values_df(patterns, bounded)
        freqs_per = [k.count() for k in kept_dfs]
    if own_persist:
        for b in bounded:
            b.unpersist()
    if handle is not None:
        handle.unpersist()  # kept_dfs are checkpointed/collected by now

    # one template term: degrees minus ALL kept instances' triples
    # (union of per-(instance, edge) rows — multiplicity preserved,
    # mirroring Utils.allTriples)
    bits = prefix(n) + prefix(m) + prefix(r) + prefix(len(patterns))
    inst_parts = [
        instance_triples_df(pat, kept).select("s", "p", "o")
        for pat, kept, cnt in zip(patterns, kept_dfs, freqs_per)
        if cnt
    ]
    if inst_parts:
        inst_df = inst_parts[0]
        for q in inst_parts[1:]:
            inst_df = inst_df.unionAll(q)
    else:
        inst_df = spark.createDataFrame([], "s long, p long, o long")

    template = template_degree_hists(triples, inst_df, n, r)
    bits += edgelist_codelength(template, Prior.COMPLETE_FAST)

    freqs = []
    for pat, kept_df, cnt in zip(patterns, kept_dfs, freqs_per):
        bits += pattern_bits(pat)
        freqs.append(cnt)
        if cnt:
            var_h = variable_freq_hists(pat, kept_df, n, r)
            bits += matches_codelength_alt(var_h, cnt, pat.num_vars, fast_py=True)
    return MotifSetScore(total=bits, per_pattern_freq=freqs)


def entropy_sorted(matches: DataFrame) -> DataFrame:
    """MotifCode.sort (MotifCode.java:447-490): order variable columns
    by DESCENDING value-entropy, then sort matches lexicographically in
    that column order (improves the downstream sequence coding).

    Entropy is computed fully distributed in ONE job: explode each row
    into (column-name, value) pairs, count per (column, value), then
    H(c) = log2(N) - Σ cnt·log2(cnt) / N per column — only |columns|
    scalars reach the driver (a variable column can have ~|V| distinct
    values, so collecting per-value counts would be a driver OOM at
    scale — VERDICT r1 item 6). The sort is a single range-shuffle.
    Returns the sorted DataFrame with columns re-ordered
    [highest-entropy first].
    """
    total = matches.count()
    if total == 0:
        return matches
    pairs = matches.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("c"), F.col(c).alias("v"))
                    for c in matches.columns
                ]
            )
        ).alias("x")
    ).select("x.c", "x.v")
    ent_rows = (
        pairs.groupBy("c", "v")
        .agg(F.count("*").alias("cnt"))
        .groupBy("c")
        .agg(
            (
                F.log2(F.lit(float(total)))
                - F.sum(F.col("cnt") * F.log2("cnt")) / F.lit(float(total))
            ).alias("e")
        )
        .collect()
    )
    ent = {r["c"]: r["e"] for r in ent_rows}
    order = sorted(matches.columns, key=lambda c: (-ent[c], c))
    return matches.select(*order).orderBy(*order)
