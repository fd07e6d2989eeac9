"""Entity linking: score extracted mentions against a broadcast
candidate dictionary and emit ``same_as`` links.

north_star: "entity-link scoring against a broadcast candidate
dictionary" — the dictionary is small relative to the corpus (entity
vocabularies are ~1e6-1e8 rows vs 1e12 files), so the join is a
broadcast hash join: zero shuffle of the mention table. Past
``BROADCAST_DICT_MAX_ROWS`` the join degrades gracefully to a
spillable shuffle join instead of forcing a multi-GB broadcast.

Scoring is a vectorized pandas UDF (Arrow-batched): a deterministic
string-affinity score in [0,1] between the mention surface form and
the candidate surface, blended with the candidate's popularity prior.
Exact matches always score 1.0 + prior, so closed-vocabulary fixtures
link exactly. Best candidate per mention via max-struct aggregation
(no window over the full mention table — a single partial-aggregatable
groupBy, skew-safe since map-side combine absorbs hub surfaces).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())
def link_score(mention: pd.Series, candidate: pd.Series, prior: pd.Series) -> pd.Series:
    """Affinity(mention, candidate) + 0.001·prior, vectorized.

    Affinity = |longest common prefix| / max(len) — cheap, monotone,
    exact-match == 1.0. Computed on whole Arrow batches.
    """
    a = mention.fillna("")
    b = candidate.fillna("")
    # vectorized common-prefix length via numpy char comparison
    import numpy as np

    la = a.str.len().to_numpy()
    lb = b.str.len().to_numpy()
    out = np.zeros(len(a))
    eq = (a == b).to_numpy()
    out[eq] = 1.0
    ne = ~eq
    if ne.any():
        sub_a = a[ne].to_numpy()
        sub_b = b[ne].to_numpy()
        lcp = np.array(
            [_lcp(x, y) for x, y in zip(sub_a, sub_b)], dtype="float64"
        )
        out[ne] = lcp / np.maximum(la[ne], lb[ne]).clip(min=1)
    return pd.Series(out + 0.001 * prior.fillna(0.0).to_numpy())


def _lcp(x: str, y: str) -> int:
    n = min(len(x), len(y))
    i = 0
    while i < n and x[i] == y[i]:
        i += 1
    return i


#: dictionaries at or below this row count are force-broadcast (~64 MB
#: of HashedRelation at typical surface+id+prior widths — the session's
#: autoBroadcastJoinThreshold); bigger dictionaries shuffle-join so the
#: build never outgrows executor memory and the driver never serializes
#: a multi-GB relation per query.
BROADCAST_DICT_MAX_ROWS = 1_500_000


def link_mentions(
    mentions: DataFrame,
    candidates: DataFrame,
    min_score: float = 0.999,
    surface_col: str = "surface",
    fuzzy: bool = True,
    broadcast_dict: bool | None = None,
) -> DataFrame:
    """Link distinct mention surfaces to their best candidate.

    ``mentions``: any DataFrame with a ``mention`` column.
    ``candidates``: (surface, entity_id, prior). Returns
    (mention, entity_id, score).

    Two tiers, sized for skewed real corpora:

    1. **exact surface hit** — hash join on the full surface string;
       the overwhelmingly common case, zero Python, linear. The
       dictionary side is broadcast when it is dimension-sized
       (north_star's "broadcast candidate dictionary", zero shuffle of
       the mention table) but falls back to a spillable shuffle join
       past ``BROADCAST_DICT_MAX_ROWS``: a forced broadcast of a
       ~1e7-row dictionary is a driver-serial, non-spillable build
       that is identical work at every cluster size — it both caps
       scaling and OOMs exactly when the corpus is big enough to
       matter. ``broadcast_dict=None`` decides with one count() on the
       (cheap, dimension-sized) dictionary; pass True/False to skip
       the probe when the caller already knows.
    2. **fuzzy residual** — only mentions with NO exact hit are blocked
       (first 4 chars + length bucket — a coarse-prefix block like
       "first 2 chars" degenerates quadratically when every mention
       shares a prefix, the classic entity-linking skew trap) and
       scored by the vectorized pandas UDF; best candidate per mention
       via max-struct aggregation (partial-aggregatable, skew-safe).
    """
    m = mentions.select("mention").distinct()
    if broadcast_dict is None:
        broadcast_dict = candidates.count() <= BROADCAST_DICT_MAX_ROWS
    cand = F.broadcast(candidates) if broadcast_dict else candidates
    # ONE left broadcast join carries both tiers' bookkeeping: hits get
    # their candidate rows, a mention with no hit gets a single
    # null-candidate row. Best-per-mention even on the exact tier: if
    # two dictionary entries share a surface, emitting both would hand
    # connected-components a spurious merge of distinct entities
    # (ADVICE r1) — keep the highest (prior, entity_id) candidate,
    # mirroring the fuzzy tier's rule. Misses keep a null score so the
    # residual tier can read them from the SAME materialization — the
    # previous shape (inner join + left_anti probe + final plan)
    # executed the exact join up to three times and let AQE broadcast
    # the 1M-row hit set for the anti join, a driver-serial build that
    # dominated the construct stage at high parallelism.
    best = (
        m.join(cand, m["mention"] == cand[surface_col], "left")
        .select(
            "mention",
            "entity_id",
            F.when(
                F.col("entity_id").isNotNull(),
                F.lit(1.0) + 0.001 * F.coalesce(F.col("prior"), F.lit(0.0)),
            ).alias("score"),
        )
        .groupBy("mention")
        .agg(F.max(F.struct("score", F.col("entity_id"))).alias("b"))
        .select("mention", F.col("b.entity_id").alias("entity_id"), F.col("b.score").alias("score"))
    )
    # null scores (misses) never clear min_score, so the exact tier is
    # one filter away — no second join
    if not fuzzy:
        return best.filter(F.col("score") >= min_score)

    # closed-vocabulary fast path: when every mention hits exactly (the
    # common case for code-entity linking against a complete symbol
    # dictionary), skip the fuzzy residual plan entirely — it would
    # broadcast a 3x-replicated candidate table and build per-mention
    # block structs for zero rows. `best` is materialized as a local
    # checkpoint, so the probe and the caller's downstream consumption
    # reuse it instead of re-running the join; the ContextCleaner
    # reclaims it when the result goes out of scope (a persist() would
    # hold a cache entry per call until someone unpersisted it). The
    # trade: a lost executor's checkpoint blocks cannot be recomputed,
    # so the job fails instead of recovering, as with every other
    # localCheckpoint in the engine.
    best = best.localCheckpoint(eager=True)
    rest = best.filter(F.col("entity_id").isNull()).select("mention")
    if rest.isEmpty():
        return best.filter(F.col("score") >= min_score)
    exact = best.filter(F.col("entity_id").isNotNull())
    blk_m = F.struct(
        F.substring("mention", 1, 4).alias("pfx"),
        (F.length("mention") / 4).cast("int").alias("lb"),
    )
    # candidates are replicated into the adjacent length buckets so a
    # near-miss one bucket over (e.g. one extra char crossing a /4
    # boundary) still meets its candidate; 3x the (small) dictionary
    lb_c = (F.length(surface_col) / 4).cast("int")
    cand_rep = cand.withColumn("_lb", F.explode(F.array(lb_c - 1, lb_c, lb_c + 1)))
    cand_rep = cand_rep.withColumn(
        "_blk", F.struct(F.substring(surface_col, 1, 4).alias("pfx"), F.col("_lb").alias("lb"))
    )
    if broadcast_dict:
        cand_rep = F.broadcast(cand_rep)
    block = rest.withColumn("_blk", blk_m).join(cand_rep, "_blk")
    scored = block.select(
        "mention",
        "entity_id",
        link_score(F.col("mention"), F.col(surface_col), F.col("prior")).alias("score"),
    )
    fuzzy_best = (
        scored.groupBy("mention")
        .agg(F.max(F.struct("score", F.col("entity_id"))).alias("b"))
        .select("mention", F.col("b.entity_id").alias("entity_id"), F.col("b.score").alias("score"))
    )
    return exact.unionByName(fuzzy_best).filter(F.col("score") >= min_score)
