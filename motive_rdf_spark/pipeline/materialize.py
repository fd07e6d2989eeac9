"""Pipeline orchestration + materialization: checkpoint-resumable per
snapshot, with per-partition lineage and metrics tables (north_star:
"checkpoint-resumable per Iceberg snapshot with per-partition lineage
and metrics tables").

Snapshot model: the source table's ``commit`` column is the snapshot
id (an Iceberg snapshot maps to a set of commits in the graft's
deployment; here commits ARE the increments). Layout under ``out_dir``
(plain partitioned Parquet with the same snapshot/partition contract
an Iceberg catalog would give; the writer is connector-agnostic):

    triples/snapshot=<commit>/        final (s,p,o) long triples
    node_dict/vN/ pred_dict/vN/       term <-> id (append-only, versioned:
                                      each snapshot commits a new vN; the
                                      previous version is never rewritten)
    lineage/snapshot=<commit>/        per (repo) input/output row counts + sha checksum
    metrics/snapshot=<commit>/        per stage: rows, wall seconds
    ledger/                           processed-snapshot records (the checkpoint)

Resume semantics: ``run_pipeline`` anti-joins the ledger — an already-
processed snapshot is skipped entirely; a crashed run (snapshot
partition written but no ledger row) is safely re-run because every
per-snapshot write uses dynamic partition overwrite (idempotent).
Dictionary extension is append-only: new terms get ids above the
current max, so previously materialized snapshots never need
re-encoding — the id assignment rule (lexicographic within a batch,
batches ordered by arrival) stays deterministic given the snapshot
processing order, which the ledger records.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from motive_rdf_spark.pipeline.canonicalize import (
    canonical_entities,
    extend_components,
    rewrite_triples,
)
from motive_rdf_spark.pipeline.encode import dense_ids, encode_triples
from motive_rdf_spark.pipeline.extract import extract_triples
from motive_rdf_spark.pipeline.link import link_mentions
from motive_rdf_spark.threads import side_by_side

SAME_AS = "same_as"
ENTITY_PREFIX = "entity::"


@dataclass
class SnapshotReport:
    snapshot: str
    n_files: int = 0
    n_mentions: int = 0
    n_triples: int = 0
    stages: dict[str, float] = field(default_factory=dict)
    skipped: bool = False
    motif_supports: dict[str, int] = field(default_factory=dict)


def _write(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


class ParquetStorage:
    """Default physical backend: the module-doc layout, one parquet
    directory per logical table under ``out_dir``. The pipeline only
    talks to this interface (write / read / load_dict / write_dict);
    `sources/iceberg.IcebergStorage` implements the same surface over
    an Iceberg catalog, where atomic snapshot commits subsume both the
    dynamic-partition-overwrite idempotence and the hand-rolled
    ``_SUCCESS``-marker dictionary versioning below."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        _write(df, f"{self.out_dir}/{table}", mode, partition_by)

    def read(self, table: str) -> DataFrame | None:
        return _load_optional(self.spark, f"{self.out_dir}/{table}")

    def load_dict(self, table: str) -> DataFrame | None:
        return load_dict(self.spark, f"{self.out_dir}/{table}")

    def write_dict(self, df: DataFrame, table: str) -> None:
        _write_dict(df, f"{self.out_dir}/{table}")


def _storage(spark: SparkSession, out_dir: str, storage) -> ParquetStorage:
    return storage if storage is not None else ParquetStorage(spark, out_dir)


def processed_snapshots(spark: SparkSession, out_dir: str, storage=None) -> set[str]:
    """The checkpoint: snapshots with a committed ledger row."""
    ledger = _storage(spark, out_dir, storage).read("ledger")
    if ledger is None:
        return set()
    try:
        return {r["snapshot"] for r in ledger.select("snapshot").distinct().collect()}
    except Exception:
        return set()


def extend_dict(existing: DataFrame | None, terms: DataFrame, col: str = "term") -> DataFrame:
    """Append-only dictionary growth: terms not in ``existing`` get dense
    ids starting at max(existing.id)+1, lexicographic within the batch."""
    if existing is None:
        return dense_ids(terms, col)
    base = existing.agg(F.max("id")).collect()[0][0]
    base = -1 if base is None else int(base)
    fresh = terms.select(col).distinct().join(existing.select(col), col, "left_anti")
    new_ids = dense_ids(fresh, col).withColumn("id", F.col("id") + F.lit(base + 1))
    return existing.unionByName(new_ids)


def _load_optional(spark: SparkSession, path: str) -> DataFrame | None:
    # a missing table is checked on the file system, not by a failed
    # read: a failed analysis also reaches the session's query
    # listeners, which log it as an error
    fs, jpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


# --- crash-safe dictionary storage ------------------------------------
# Dictionaries are the only state shared across snapshots, so they are
# stored as immutable versions (node_dict/v1, v2, ...) instead of being
# overwritten in place: a crash mid-write leaves an incomplete new
# version (no _SUCCESS marker) and never touches the committed one, so
# previously materialized triples stay decodable (ADVICE r1).


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _dict_versions(spark: SparkSession, base: str) -> list[int]:
    """Committed (``_SUCCESS``-marked) version numbers under ``base``."""
    fs, jpath, jvm = _hadoop_fs(spark, base)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v") and name[1:].isdigit():
            if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/{name}/_SUCCESS")):
                out.append(int(name[1:]))
    return sorted(out)


def load_dict(spark: SparkSession, base: str) -> DataFrame | None:
    """Latest committed dictionary version (None if none exists).

    Falls back to reading ``base`` directly for pre-versioning layouts.
    """
    vs = _dict_versions(spark, base)
    if not vs:
        return _load_optional(spark, base)
    return spark.read.parquet(f"{base}/v{vs[-1]}")


def _write_dict(df: DataFrame, base: str) -> None:
    """Commit a new dictionary version without touching the current one;
    keeps the last two committed versions, prunes older."""
    spark = df.sparkSession
    vs = _dict_versions(spark, base)
    nxt = (vs[-1] + 1) if vs else 1
    df.write.mode("overwrite").parquet(f"{base}/v{nxt}")
    fs, _, jvm = _hadoop_fs(spark, base)
    for v in _dict_versions(spark, base)[:-2]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base}/v{v}"), True)


def build_string_triples(source_snap: DataFrame, candidates: DataFrame | None) -> DataFrame:
    """Extract + link one snapshot: returns string-level triples
    including ``same_as`` edges from entity linking."""
    mentions = extract_triples(source_snap)
    if candidates is None:
        return mentions
    call_objs = mentions.filter(F.col("pred") == "calls").select(F.col("obj").alias("mention"))
    links = link_mentions(call_objs, candidates)
    same_as = links.select(
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("content_sha"),
        F.col("mention").alias("subj"),
        F.lit(SAME_AS).alias("pred"),
        F.concat(F.lit(ENTITY_PREFIX), F.col("entity_id").cast("string")).alias("obj"),
    )
    return mentions.unionByName(same_as)


def run_snapshot(
    spark: SparkSession,
    source: DataFrame,
    candidates: DataFrame | None,
    out_dir: str,
    snapshot: str,
    storage=None,
    motifs: dict | None = None,
) -> SnapshotReport:
    """Process one snapshot end-to-end and commit it to the ledger.

    ``storage`` selects the physical backend (default
    ``ParquetStorage(out_dir)``; pass an ``IcebergStorage`` for
    catalog-backed tables — identical logical behavior, test-pinned in
    tests/test_iceberg.py). ``motifs`` (name -> Pattern) enables
    incremental motif-support maintenance: per snapshot the
    ``motif_supports`` table gains one row per motif with the running
    support, computed from the PREVIOUS row plus only the delta
    matches (see _maintain_motif_supports)."""
    st = _storage(spark, out_dir, storage)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    cached: list[DataFrame] = []
    try:
        return _commit_snapshot(spark, st, source, candidates, snapshot, motifs, cached)
    finally:
        # also when a stage raised: a failed commit leaves no cached frame
        for df in cached:
            df.unpersist()


def _commit_snapshot(
    spark: SparkSession, st, source, candidates, snapshot: str, motifs, cached: list
) -> SnapshotReport:
    """``run_snapshot``'s stages; every frame it persists goes into
    ``cached`` for the caller to release."""
    rep = SnapshotReport(snapshot)
    src = source.filter(F.col("commit") == snapshot).persist()
    cached.append(src)
    rep.n_files = src.count()

    t0 = time.time()
    strs = build_string_triples(src, candidates).persist()
    cached.append(strs)
    rep.n_mentions = strs.count()
    rep.stages["extract_link"] = round(time.time() - t0, 3)

    # --- dictionary extension (append-only, see module doc) -----------
    # the two dictionaries, each built and committed on its own driver
    # thread. localCheckpoint cuts the plan's file-source lineage so the
    # new dict version can be committed while the DF stays usable; the
    # versioned commit means a crash leaves the previous version intact
    # (dict growth is idempotent on re-run)
    t0 = time.time()

    def extend_and_commit(table: str, terms: DataFrame) -> DataFrame:
        d = extend_dict(st.load_dict(table), terms).localCheckpoint(eager=True)
        st.write_dict(d, table)
        return d

    node_terms = strs.select(F.col("subj").alias("term")).unionAll(
        strs.select(F.col("obj").alias("term"))
    )
    pred_terms = strs.select(F.col("pred").alias("term"))
    node_dict, pred_dict = side_by_side(
        spark,
        [
            functools.partial(extend_and_commit, "node_dict", node_terms),
            functools.partial(extend_and_commit, "pred_dict", pred_terms),
        ],
    )
    rep.stages["encode_dict"] = round(time.time() - t0, 3)

    t0 = time.time()
    enc, _, _ = encode_triples(
        strs.select("subj", "pred", "obj"), node_dict=node_dict, pred_dict=pred_dict
    )
    enc = enc.persist()
    cached.append(enc)
    same_as_id_row = pred_dict.filter(F.col("term") == SAME_AS).collect()
    rep.stages["encode"] = round(time.time() - t0, 3)

    # --- canonicalization (CC over same_as) ---------------------------
    # two branches on driver threads, sharing only the same_as edges:
    # the triples (snapshot-local CC, rewrite, write) and the
    # entity-identity state (same_as edges, cross-snapshot canonical
    # map). Triples stay materialized under their snapshot-local
    # canonical ids; load_graph(canonical=True) upgrades them through
    # the latest map at read time, so later merges apply retroactively
    # without rewriting committed partitions.
    t0 = time.time()
    n_written = Observation()

    def write_triples(final: DataFrame) -> None:
        final = final.dropDuplicates().withColumn("snapshot", F.lit(snapshot))
        final = final.observe(n_written, F.count("*").alias("n"))
        st.write(final, "triples", partition_by=["snapshot"])

    if same_as_id_row:
        said = int(same_as_id_row[0]["id"])
        sa_edges = enc.filter(F.col("p") == said).select(
            F.col("s").alias("src"), F.col("o").alias("dst")
        )
        prior_map = _latest_canonical_map(spark, st, before=snapshot)
        # first snapshot: the canonical map IS this snapshot's CC, so it
        # is computed once and shared by both branches
        first_map = canonical_entities(sa_edges) if prior_map is None else None

        def triples_branch() -> None:
            mapping = first_map if first_map is not None else canonical_entities(sa_edges)
            write_triples(rewrite_triples(enc.filter(F.col("p") != said), mapping))

        def identity_branch() -> None:
            st.write(
                sa_edges.withColumn("snapshot", F.lit(snapshot)),
                "same_as_edges",
                partition_by=["snapshot"],
            )
            # incremental CC: contraction onto the previous map — cost
            # bounded by this snapshot's edges, not the accumulated set
            if prior_map is not None:
                global_map = extend_components(prior_map, sa_edges)
            else:
                global_map = None if first_map.isEmpty() else first_map
            if global_map is not None:
                st.write(
                    global_map.withColumn("snapshot", F.lit(snapshot)),
                    "canonical_map",
                    partition_by=["snapshot"],
                )

        side_by_side(spark, [triples_branch, identity_branch])
    else:
        write_triples(enc.select("s", "p", "o"))
    rep.n_triples = n_written.get["n"]
    rep.stages["canonicalize_write"] = round(time.time() - t0, 3)

    # --- lineage: per (snapshot, repo) counts + content checksum ------
    def write_lineage() -> None:
        lineage = (
            strs.filter(F.col("repo").isNotNull())
            .groupBy("repo")
            .agg(
                F.countDistinct("path").alias("n_files"),
                F.count("*").alias("n_mentions"),
                # order-insensitive checksum over per-row shas: xor via
                # bit_xor of the sha's first 16 hex chars as a long
                F.bit_xor(F.conv(F.substring("content_sha", 1, 15), 16, 10).cast("long")).alias("sha_xor"),
            )
            .withColumn("snapshot", F.lit(snapshot))
        )
        st.write(lineage, "lineage", partition_by=["snapshot"])

    # --- metrics ------------------------------------------------------
    metrics_rows = [
        (snapshot, stage, float(sec), int(rep.n_mentions)) for stage, sec in rep.stages.items()
    ]

    def write_metrics() -> None:
        metrics = spark.createDataFrame(
            metrics_rows, "snapshot string, stage string, seconds double, rows long"
        )
        st.write(metrics, "metrics", partition_by=["snapshot"])

    # --- incremental motif-support maintenance ------------------------
    def maintain_supports() -> None:
        t0 = time.time()
        _maintain_motif_supports(spark, st, snapshot, motifs, rep)
        rep.stages["motif_supports"] = round(time.time() - t0, 3)

    side_by_side(spark, [write_lineage, write_metrics] + ([maintain_supports] if motifs else []))

    # --- ledger commit (the checkpoint) -------------------------------
    # last, once every branch above has returned: side_by_side raises
    # a branch's error only after all of them finished, so a failed
    # snapshot never gets a ledger row
    ledger = spark.createDataFrame(
        [(snapshot, rep.n_files, rep.n_triples, time.time())],
        "snapshot string, n_files long, n_triples long, committed_at double",
    )
    st.write(ledger, "ledger", mode="append")
    return rep


def _maintain_motif_supports(spark, st, snapshot: str, motifs, rep) -> None:
    """Update the ``motif_supports`` table for this snapshot via
    semi-naive delta matching (operators/delta.find_delta): the prior
    support plus the count of matches that use at least one of this
    snapshot's NEW triples — never a full re-match of the accumulated
    graph. Crash-safe like every per-snapshot write: the partition is
    dynamic-overwritten on re-run, and the prior row (the previous
    snapshot's) is untouched, so the addition is idempotent.

    The maintained number equals ``find_count(load_graph(out_dir))``
    after each snapshot (pinned by tests/test_pipeline.py) because the
    delta matcher strips triples already present in the accumulated
    deduped graph — the same dedup rule ``load_graph`` applies."""
    from motive_rdf_spark.operators.delta import delta_support

    all_triples = st.read("triples")
    cur = all_triples.filter(F.col("snapshot") == snapshot).select("s", "p", "o")
    # strictly EARLIER snapshots (not merely != current): a forced
    # re-run of a mid-history snapshot must see the same old graph the
    # original run saw — matching the prior-support and canonical-map
    # derivations — or the recomputed delta strips matches involving
    # future triples and corrupts the support row (ADVICE r4)
    old = (
        all_triples.filter(F.col("snapshot") < snapshot)
        .select("s", "p", "o")
        .dropDuplicates()
        .persist()
    )
    # prior supports: per motif, the row of the latest earlier snapshot
    # (run_pipeline processes snapshots in sorted order — the ledger's
    # commit order); missing table/rows mean "first snapshot", prior 0
    prior: dict[str, int] = {}
    sup_tbl = st.read("motif_supports")
    if sup_tbl is not None:
        for r in (
            sup_tbl.filter(F.col("snapshot") < snapshot)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("motif").orderBy(F.col("snapshot").desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("motif", "support")
            .collect()
        ):
            prior[r["motif"]] = int(r["support"])
    rows = []
    for name, pat in motifs.items():
        d = delta_support(old, cur, pat)
        total = prior.get(name, 0) + d
        rep.motif_supports[name] = total
        rows.append((snapshot, name, total, d))
    old.unpersist()
    out = spark.createDataFrame(
        rows, "snapshot string, motif string, support long, delta_matches long"
    )
    st.write(out, "motif_supports", partition_by=["snapshot"])


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    candidates: DataFrame | None,
    out_dir: str,
    snapshots: list[str] | None = None,
    force: bool = False,
    storage=None,
    motifs: dict | None = None,
) -> list[SnapshotReport]:
    """Process every unprocessed snapshot, in deterministic (sorted)
    order. Re-invocation after a crash resumes where the ledger left
    off; ``force=True`` reprocesses (dynamic-overwrite, idempotent)."""
    if snapshots is None:
        snapshots = sorted(
            r["commit"] for r in source.select("commit").distinct().collect()
        )
    done = set() if force else processed_snapshots(spark, out_dir, storage)
    reports = []
    for snap in snapshots:
        if snap in done:
            reports.append(SnapshotReport(snap, skipped=True))
            continue
        reports.append(
            run_snapshot(
                spark, source, candidates, out_dir, snap, storage=storage, motifs=motifs
            )
        )
    return reports


def _latest_canonical_map(
    spark: SparkSession, st, before: str | None = None
) -> DataFrame | None:
    """The canonical_map rows of the latest committed snapshot
    (optionally restricted to snapshots sorted before ``before`` — the
    resume path must not read the partition a crashed run of the SAME
    snapshot may have half-written)."""
    tbl = st.read("canonical_map")
    if tbl is None:
        return None
    if before is not None:
        tbl = tbl.filter(F.col("snapshot") < before)
    latest = tbl.select(F.max("snapshot")).collect()[0][0]
    if latest is None:
        return None
    return tbl.filter(F.col("snapshot") == latest).select("node", "component")


def load_graph(
    spark: SparkSession, out_dir: str, canonical: bool = False, storage=None
) -> DataFrame:
    """The materialized KG across all snapshots, deduped (a triple
    re-derived in a later snapshot is the same triple).

    ``canonical=True`` additionally rewrites s/o through the maintained
    cross-snapshot canonical map, so entity merges discovered in LATER
    snapshots apply to earlier triples retroactively — without ever
    rewriting committed partitions."""
    g = spark.read.parquet(f"{out_dir}/triples").select("s", "p", "o").dropDuplicates()
    if not canonical:
        return g
    mapping = _latest_canonical_map(spark, _storage(spark, out_dir, storage))
    if mapping is None:
        return g
    return rewrite_triples(g, mapping).dropDuplicates()
