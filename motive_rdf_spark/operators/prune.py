"""Greedy overlap pruning of motif instances.

Reference semantics (MotifCode.prune, MotifCode.java:418-436): iterate
instances in list order; keep an instance iff *none* of its instantiated
triples was already claimed by a previously-kept instance. Order-
dependent — the reference's own tests shuffle matches and assert only
the recovered *count* (MotifCodeTest.java:58-60), so count-level
equivalence under a deterministic canonical order is the P/R-relevant
contract (SURVEY.md §4.4).

Two implementations:

- ``prune_matches``       — exact driver replica over collected rows
  (the safe default at fixture scale, ≤10⁵ matches): the sequential
  scan over dense triple ids built with numpy;
- ``prune_matches_df``    — distributed greedy-chain fixpoint: rank
  matches by canonical key, then repeat { keep every instance that is
  rank-minimal on ALL its triples among still-active instances; kill
  every active instance sharing a triple with a newly-kept one }.
  This computes exactly the sequential greedy result (an instance is
  kept by the sequential scan iff every triple it claims is untaken by
  earlier kept instances — the round structure only batches decisions
  that are already order-independent), in O(longest conflict chain)
  rounds, each one shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from motive_rdf_spark.patterns import Pattern, var_col


def canonical_sort_key(pattern: Pattern) -> list[str]:
    """Deterministic prune order: the binding tuple in variable order."""
    return [var_col(v) for v in pattern.variables]


def prune_matches(
    pattern: Pattern, matches: list[list[int]], seen: set | None = None
) -> list[list[int]]:
    """Exact replica of MotifCode.prune (MotifCode.java:418-436) over a
    driver-side match list. ``seen`` may be shared across patterns to get
    pruneValues semantics (MotifCode.java:378-408): instances touching
    a triple in it are dropped, and the kept instances' triples are
    added to it."""
    k = len(matches)
    if k == 0:
        return []
    rows = np.asarray(matches, dtype=np.int64).reshape(k, pattern.num_vars)
    terms = [
        rows[:, -t - 1] if t < 0 else np.full(k, t, dtype=np.int64)
        for e in pattern.edges
        for t in e
    ]
    spo = np.stack(terms, axis=1).reshape(-1, 3)  # (k * edges, 3)
    # dense triple ids: lexicographic sort, then a new id at each change
    order = np.lexsort(spo.T[::-1])
    srt = spo[order]
    new = np.ones(len(srt), dtype=bool)
    new[1:] = (srt[1:] != srt[:-1]).any(axis=1)
    tid = np.empty(len(srt), dtype=np.int64)
    tid[order] = np.cumsum(new) - 1
    triples = srt[new]
    tid = tid.reshape(k, -1)
    taken = set()
    if seen:
        taken = {i for i, t in enumerate(map(tuple, triples.tolist())) if t in seen}
    kept = []
    for i, t in enumerate(tid.tolist()):
        if taken.isdisjoint(t):
            taken.update(t)
            kept.append(i)
    if seen is not None:
        seen.update(map(tuple, triples[np.unique(tid[kept])].tolist()))
    return rows[kept].tolist()


def instance_triples_df(pattern: Pattern, matches: DataFrame) -> DataFrame:
    """Explode a matches DataFrame into (match columns…, s, p, o) — one
    row per (instance, pattern edge); Utils.allTriples as a DataFrame
    (Utils.java:454-461). Pure projection + unionAll: no shuffle."""
    parts = []
    for s, p, o in pattern.edges:

        def term(t: int):
            return F.col(var_col(t)) if t < 0 else F.lit(t).cast("long")

        parts.append(
            matches.select(
                *matches.columns,
                term(s).alias("s"),
                term(p).alias("p"),
                term(o).alias("o"),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionAll(q)
    return out


def prune_matches_df(
    pattern: Pattern,
    matches: DataFrame,
    max_rounds: int = 40,
    claimed: DataFrame | None = None,
) -> DataFrame:
    """Distributed greedy prune. Returns the kept matches (same columns).

    Matches are ordered by the canonical binding key, making the result
    deterministic regardless of partitioning (SURVEY.md §4.4). The
    "rank" is the binding-key STRUCT itself — Spark orders structs
    lexicographically, so ``min`` and equality work natively and no
    global ``row_number`` window (a single-task bottleneck at 1e8
    matches) is ever needed.

    ``claimed`` (optional): DataFrame with a single struct column
    ``__t`` = (s,p,o) of triples already taken by earlier patterns —
    the distributed analog of MotifCode.pruneValues' shared ``seen``
    set (MotifCode.java:378-408): any instance touching a claimed
    triple is dead before the fixpoint starts.
    """
    key_cols = canonical_sort_key(pattern)
    # duplicate binding rows are the same instance (they claim the same
    # triples); the sequential greedy keeps exactly one — mirror that
    ranked = matches.dropDuplicates(key_cols).withColumn(
        "__rank", F.struct(*[F.col(c) for c in key_cols])
    )
    # (rank, triple) claim table; triple key as a single struct column
    it = instance_triples_df(pattern, ranked.select("__rank", *key_cols)).select(
        "__rank", F.struct("s", "p", "o").alias("__t")
    )
    active = it
    if claimed is not None:
        dead0 = it.join(claimed, "__t").select("__rank").distinct()
        active = it.join(dead0, "__rank", "left_anti")
    kept_ranks: DataFrame | None = None
    spark = matches.sparkSession
    converged = False
    for _ in range(max_rounds):
        active = active.localCheckpoint(eager=True)  # cut lineage per round
        if active.isEmpty():
            converged = True
            break
        # rank-minimal on every triple among active instances
        wmin = active.groupBy("__t").agg(F.min("__rank").alias("__wrank"))
        flags = (
            active.join(wmin, "__t")
            .groupBy("__rank")
            .agg(F.min((F.col("__rank") == F.col("__wrank")).cast("int")).alias("__all_min"))
        )
        keep_now = flags.filter(F.col("__all_min") == 1).select("__rank")
        kept_ranks = keep_now if kept_ranks is None else kept_ranks.unionAll(keep_now)
        kept_ranks = kept_ranks.localCheckpoint(eager=True)
        # triples claimed by newly-kept instances are now taken: every
        # active instance touching one (including the kept ones) leaves
        taken = active.join(keep_now, "__rank").select("__t").distinct()
        dead = active.join(taken, "__t").select("__rank").distinct()
        active = active.join(dead, "__rank", "left_anti")

    kept = (
        matches.limit(0)
        if kept_ranks is None
        else ranked.join(kept_ranks, "__rank").select(*matches.columns)
    )
    if converged:
        return kept
    # Pathological conflict chain (each round settles only ~2 chain
    # positions, so an L-long overlap chain needs L/2 rounds — real
    # graphs can exceed max_rounds). Every kept/dead decision so far is
    # FINAL, and the surviving residual shares no triple with any kept
    # instance (it would have been killed), so finishing the residual
    # with the driver-sequential greedy in rank order is exact. The
    # residual is bounded by the caller's match budget, so the collect
    # is safe by construction.
    residual_rows = [
        list(r)
        for r in ranked.join(active.select("__rank").distinct(), "__rank")
        .select(*matches.columns)
        .collect()
    ]
    residual_rows.sort()  # binding-tuple order == rank order
    kept_res = prune_matches(pattern, residual_rows)
    if not kept_res:
        return kept
    res_df = spark.createDataFrame(
        [tuple(x) for x in kept_res], matches.select(*matches.columns).schema
    )
    return kept.unionByName(res_df)
