"""Dictionary encoding: string terms -> dense long ids, at scale.

The reference assigns dense ids in first-seen file order during a
two-pass load (KGraph.java:1222-1317). "First seen" is not a stable
notion for a distributed, resumable pipeline, so the engine's
canonical rule is **dense ids in lexicographic order of the term** —
deterministic across runs, partitionings, and cluster sizes (the
property the resume and scaling tests assert). Any consistent
bijection preserves P/R (triple-set comparison is done on decoded
strings).

``dense_ids`` is the scale-safe primitive: a global
``row_number().over(Window.orderBy(...))`` funnels every row through
ONE task, which is wrong at 1e9 dictionary entries. Instead:

  1. range-repartition the raw terms, dedupe in-partition (range
     partitioning satisfies the dedup aggregate's clustering
     requirement — ONE shuffle total, plan-pinned), sort;
  2. count rows per partition (tiny collect: one long per partition);
  3. rank *within* each physical partition (``row_number`` partitioned
     by ``spark_partition_id`` — each partition is its own window
     group, so the rank runs parallel and JVM-side) and add the
     partition's exclusive prefix-sum offset via a broadcast map
     literal.

Same output as the global-window version (tests assert equality), no
single-task bottleneck, no Python/Arrow round-trip.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window, functions as F

from motive_rdf_spark.threads import side_by_side


def dense_ids(df: DataFrame, col: str, id_col: str = "id", num_partitions: int | None = None) -> DataFrame:
    """Distinct values of ``col`` -> dense ids [0, n) in lexicographic
    order of the value. Output: DataFrame[col, id_col]."""
    return dense_ids_counted(df, col, id_col, num_partitions)[0]


def dense_ids_counted(
    df: DataFrame, col: str, id_col: str = "id", num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """``dense_ids`` plus the total term count, which the id assignment
    already knows (the per-partition size collect) — callers that need
    the dictionary's size for a size-aware join choice get it without
    an extra job over the un-materialized window plan."""
    # range-partition FIRST, dedupe second: RangePartitioning(col)
    # satisfies the dedup aggregate's clustering requirement, so the
    # whole build pays ONE exchange (plan-pinned by test) instead of a
    # hash-distinct exchange followed by a range exchange
    d = df.select(col)
    if num_partitions:
        d = d.repartitionByRange(num_partitions, F.col(col))
    else:
        d = d.repartitionByRange(F.col(col))
    d = d.dropDuplicates([col])
    # checkpoint so the size-count job and the id-assignment job see the
    # exact same physical partitioning (range boundaries sampled once)
    d = (
        d.sortWithinPartitions(col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    sizes = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    if not sizes:  # empty dictionary batch (e.g. no new terms on resume)
        return d.select(col).withColumn(id_col, F.lit(0).cast("long")), 0
    pairs: list = []
    acc = 0
    for pid in sorted(sizes):
        pairs += [F.lit(pid), F.lit(acc)]
        acc += sizes[pid]
    offset = F.create_map(*pairs)

    w = Window.partitionBy("_pid").orderBy(col)
    out = (
        d.withColumn(
            id_col,
            (F.row_number().over(w) - 1 + offset[F.col("_pid")]).cast("long"),
        )
        .select(col, id_col)
    )
    return out, acc


#: node-dictionary joins broadcast the dictionary below this many terms
#: (same size-aware pattern as link.BROADCAST_DICT_MAX_ROWS): at bench
#: scale (~1M terms, tens of MB) broadcasting halves the encode joins'
#: cost by keeping the triple set un-shuffled; past the cap — any real
#: 100 TB dictionary — the shuffle join is the only spill-safe plan.
BROADCAST_NODE_DICT_MAX_TERMS = 1_500_000


def _dict_fits_broadcast(node_dict: DataFrame) -> bool:
    """Whether the node dictionary is small enough to broadcast. The
    count is one cheap job over an already-materialized (checkpointed
    or storage-backed) dictionary — trivial next to the two triple-set
    shuffles it can save. Callers that already know the term count
    (dense_ids_counted threads it) should pass it instead of invoking
    this (ADVICE r3: counting an un-materialized dictionary plan runs
    the whole build once just to pick a join strategy)."""
    from pyspark.errors import PySparkException

    try:
        return node_dict.count() <= BROADCAST_NODE_DICT_MAX_TERMS
    except PySparkException:
        # only the expected failure mode (a dead/unbound plan at
        # strategy-choice time) degrades to the spill-safe shuffle join;
        # genuine analysis errors propagate from the join itself
        return False


def encode_triples(
    mention_triples: DataFrame,
    node_dict: DataFrame | None = None,
    pred_dict: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """String (subj, pred, obj) triples -> long (s, p, o) + the two
    dictionaries (node_dict[term,id], pred_dict[term,id]).

    Nodes and predicates live in disjoint id spaces starting at 0 each,
    exactly like the reference's nodes/relations dictionaries
    (KGraph.java:1240-1283). Pass existing dictionaries to encode a new
    snapshot consistently with prior ones (resume path); terms unseen
    by the provided dictionary would get null ids — callers extend
    dictionaries first (see materialize.extend_dict).
    """
    # build missing dictionaries CONCURRENTLY (driver threads sharing
    # the session): each dense_ids run is a short chain of jobs, and
    # Spark schedules both chains' stages across executors at once —
    # halving the sequential per-job latency on the critical path
    builds = {}
    if node_dict is None:
        nodes = mention_triples.select(F.col("subj").alias("term")).unionAll(
            mention_triples.select(F.col("obj").alias("term"))
        )
        builds["node"] = functools.partial(dense_ids_counted, nodes, "term")
    if pred_dict is None:
        builds["pred"] = functools.partial(
            dense_ids_counted, mention_triples.select(F.col("pred").alias("term")), "term"
        )
    built = dict(zip(builds, side_by_side(mention_triples.sparkSession, list(builds.values()))))
    # the broadcast decision reuses the count dense_ids already made
    # (zero extra jobs); a storage-backed dictionary pays one cheap
    # columnar count. Freshly built SMALL dictionaries are checkpointed
    # once so the two broadcast builds (subj, obj) don't each re-run
    # the id-assignment window; large dictionaries skip both the
    # checkpoint (a multi-GB materialization at real scale) and the
    # broadcast — their shuffle joins recompute only the in-partition
    # rank over the checkpointed distinct-terms base.
    if "node" in built:
        node_dict, n_terms = built["node"]
        node_bcast = n_terms <= BROADCAST_NODE_DICT_MAX_TERMS
        if node_bcast:
            node_dict = node_dict.localCheckpoint(eager=True)
    else:
        node_bcast = _dict_fits_broadcast(node_dict)
    if "pred" in built:
        pred_dict = built["pred"][0].localCheckpoint(eager=True)

    bs = node_dict.select(F.col("term").alias("subj"), F.col("id").alias("s"))
    bo = node_dict.select(F.col("term").alias("obj"), F.col("id").alias("o"))
    if node_bcast:
        bs, bo = F.broadcast(bs), F.broadcast(bo)
    bp = F.broadcast(pred_dict.select(F.col("term").alias("pred"), F.col("id").alias("p")))
    extra = [c for c in mention_triples.columns if c not in ("subj", "pred", "obj")]
    enc = (
        mention_triples.join(bs, "subj")
        .join(bp, "pred")
        .join(bo, "obj")
        .select("s", "p", "o", *extra)
    )
    return enc, node_dict, pred_dict


def decode_triples(
    triples: DataFrame,
    node_dict: DataFrame,
    pred_dict: DataFrame,
    node_terms: int | None = None,
) -> DataFrame:
    """(s,p,o) long -> (subj, pred, obj) strings (KGraph.recover,
    KGraph.java:1490-1509) — three joins, predicate side broadcast.

    Pass ``node_terms`` when the dictionary size is already known (e.g.
    from ``dense_ids_counted``) so the broadcast-vs-shuffle choice costs
    zero jobs; otherwise one count job runs over ``node_dict``."""
    ds = node_dict.select(F.col("id").alias("s"), F.col("term").alias("subj"))
    do = node_dict.select(F.col("id").alias("o"), F.col("term").alias("obj"))
    if (
        node_terms <= BROADCAST_NODE_DICT_MAX_TERMS
        if node_terms is not None
        else _dict_fits_broadcast(node_dict)
    ):
        ds, do = F.broadcast(ds), F.broadcast(do)
    dp = F.broadcast(pred_dict.select(F.col("id").alias("p"), F.col("term").alias("pred")))
    return (
        triples.join(ds, "s").join(dp, "p").join(do, "o").select("subj", "pred", "obj")
    )
