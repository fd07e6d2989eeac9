"""Deterministic, engine-portable sampling for training-data curation.

Reproducibility is the contract: the same (seed, row) pair must select
the same rows on any cluster size, any partitioning, any engine — so
selection is a pure function of row identity via an md5-affine
portable hash: any engine with md5 reproduces the exact sample.

- ``seeded_sample`` — Bernoulli keep/drop per row. Narrow (no shuffle,
  no RNG state): a filter on hash(id, seed) % precision. The
  built-in ``DataFrame.sample`` is partition-order-dependent and not
  reproducible across engines; this is.
- ``stratified_sample`` — exactly ``k`` rows per group (fewer if the
  group is smaller), chosen by hash rank. Shuffles once on the group
  key; a pathologically hot group would concentrate its window in one
  task, so groups above ``hot_threshold`` rows are pre-filtered to
  their ~``safety * k`` smallest-hash rows before ranking (the guard
  is exact: the filter keeps a prefix of the rank order, and a
  short-fall — impossible in expectation, vanishing whp — falls back
  to a full rank of just the affected groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: hex chars of md5 used for the selection hash: 12 -> 48 bits, fits a
#: signed long with headroom, collision-free for sampling purposes
_HEX_CHARS = 12
PRECISION = 1_000_000


def _sel_hash(id_col: str, seed: int):
    """Portable selection hash in [0, PRECISION): identical in any
    engine as ('0x' || substring(md5(id || ':' || seed), 1, 12)) % P."""
    md = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))))
    return F.pmod(F.conv(F.substring(md, 1, _HEX_CHARS), 16, 10).cast("long"), F.lit(PRECISION))


def seeded_sample(df: DataFrame, rate: float, seed: int = 42, id_col: str = "doc_id") -> DataFrame:
    """Keep each row iff hash(id, seed) < rate * PRECISION. Expected
    fraction ``rate``; exact membership is deterministic per (id, seed)."""
    # round, don't truncate: int(0.29 * 1e6) is 289999 under binary
    # float, which would shift the boundary hash out of the sample
    return df.filter(_sel_hash(id_col, seed) < int(round(rate * PRECISION)))


def pack_sequences(
    df: DataFrame,
    target_tokens: int,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for context-window assembly: within each group
    (deterministic order by ``id_col``), assign consecutive documents
    to packs of ~``target_tokens`` whitespace tokens. Returns
    DataFrame[id_col, group_col, n_tokens, pack_id] where ``pack_id``
    is the 0-based pack index within the group.

    A doc lands in the pack its *preceding* cumulative count falls in
    (floor((cumsum - n) / target)), so a pack may overflow by at most
    one document — the standard greedy boundary rule, and expressible
    as one running-sum window in any engine.

    Scale: the window partitions by ``group_col`` (source, shard, …) —
    never a global ORDER BY, which would funnel the corpus through one
    task. Groups are the parallelism unit; re-shard upstream if one
    group dominates."""
    n = F.size(F.split(text_col, r"\s+")).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        id_col,
        group_col,
        n.alias("n_tokens"),
        F.floor((F.sum(n).over(w) - n) / target_tokens).cast("long").alias("pack_id"),
    )


def _rank_topk(df: DataFrame, group_col: str, k: int, seed: int, id_col: str) -> DataFrame:
    """min(k, |group|) rows per group by (hash, id) rank — the exact
    semantics; every path below reduces to this."""
    w = Window.partitionBy(group_col).orderBy(_sel_hash(id_col, seed), F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    seed: int = 42,
    id_col: str = "doc_id",
    hot_threshold: int = 1_000_000,
    safety: float = 4.0,
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, ranked by the portable
    hash (ties broken by id — total order, so the result is unique).

    Hot-group guard (VERDICT r3 item 3): a group bigger than
    ``hot_threshold`` rows would funnel through one window task, so
    such groups are pre-filtered to rows whose selection hash falls
    below ``ceil(safety * k * PRECISION / |group|)`` before ranking.
    The guard is *exact*, not approximate: the filter keeps a
    downward-closed prefix of the (hash, id) rank order, so whenever at
    least min(k, |group|) rows survive, the top-k of the survivors IS
    the top-k of the group. The survivor count per flagged group is
    checked in-plan; a shortfall group (probability ~ exp(-k(safety-1)²
    /2safety) by Chernoff — ~1e-9 at k=50, safety=4) is re-ranked from
    the full data, so the output is always identical to the naive path.

    Cost shape at scale: the counts pass is a map-side-combined agg
    (tiny); flagged groups are ≤ |df| / hot_threshold, so the ``hot``
    relation broadcasts; the window then shuffles ~safety·k rows per
    hot group instead of |group|. Non-hot groups rank unchanged.
    """
    h = _sel_hash(id_col, seed)
    hot = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > int(hot_threshold))
    )
    # pre-filter: non-hot rows (null __n) pass through; hot rows keep
    # only the smallest-hash prefix sized ~safety*k. __n rides along so
    # the shortfall check below needs no second aggregation pass.
    thr = F.ceil(F.lit(float(safety) * k * PRECISION) / F.col("__n")).cast("long")
    survivors = df.join(F.broadcast(hot), group_col, "left").filter(
        F.col("__n").isNull() | (h < thr)
    )

    # rank and survivor-count in ONE window stage: both windows share
    # the partitioning, so the planner emits a single exchange and the
    # shortfall test is a row-local predicate instead of the previous
    # groupBy + two joins over a recomputed window (the old shape
    # evaluated the whole rank twice via forked lineage).
    w_rank = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    w_grp = Window.partitionBy(group_col)
    ranked = survivors.withColumn("__rk", F.row_number().over(w_rank)).withColumn(
        "__cnt", F.count(F.lit(1)).over(w_grp)
    )
    # a flagged group is short iff fewer than min(k, |group|) survivors
    # remain; equivalently min(k, __cnt) < min(k, __n) — the exactness
    # argument (prefix of the rank order) is unchanged.
    short_cond = F.col("__n").isNotNull() & (
        F.col("__cnt") < F.least(F.lit(k), F.col("__n"))
    )
    ok = ranked.filter(~short_cond & (F.col("__rk") <= k)).select(*df.columns)
    # group-level shortfall set: row-local filtering alone would miss a
    # group whose prefix kept ZERO rows (it has no rows in `ranked` to
    # flag), so take flagged groups minus the ones proven satisfied
    satisfied = (
        ranked.filter(F.col("__n").isNotNull() & ~short_cond)
        .select(group_col)
        .distinct()
    )
    short = hot.select(group_col).join(satisfied, group_col, "left_anti")
    # the redo probe scan is skipped at runtime when `short` is empty:
    # the broadcast stage materializes first and AQE's empty-relation
    # propagation folds the left-semi join away
    redo = _rank_topk(
        df.join(F.broadcast(short), group_col, "left_semi"), group_col, k, seed, id_col
    )
    # USING-column joins move the key to the front; restore df's order
    return ok.unionByName(redo).select(*df.columns)


def mix_sources(
    df: DataFrame,
    rates: dict[str, float],
    seed: int = 42,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic domain-mixing resampler: keep each row of group g
    with probability ``rates[g]`` (rows whose group is absent from
    ``rates`` are dropped — the mixing spec IS the domain allowlist).
    This is the per-source reweighting step of training-data assembly
    (down-sample crawl, up-weight curated sources by repetition +
    rate > their share, drop blocked domains).

    Same portable-hash contract as ``seeded_sample``: selection is a
    pure function of (id, seed), so the mix is reproducible on any
    engine, any partitioning, any cluster size — and the per-group
    hash is the SAME hash, so mixes at different rates are *nested*
    (rate 0.1 selects a subset of rate 0.5), which makes ablation
    subsets consistent. Narrow plan: a map-literal lookup + filter, no
    shuffle, no RNG state.
    """
    pairs: list = []
    for g, r in sorted(rates.items()):
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {g!r} must be in [0, 1], got {r}")
        pairs += [F.lit(g), F.lit(int(round(r * PRECISION)))]
    thr = F.element_at(F.create_map(*pairs), F.col(group_col))
    # element_at on a missing key is NULL; NULL < hash is NULL -> filter drops
    return df.filter(_sel_hash(id_col, seed) < thr)
