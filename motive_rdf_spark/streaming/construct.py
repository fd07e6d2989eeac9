"""Streaming KG construction: checkpointed incremental triple
extraction over the source-code table (north_star input shape
``repo/path/commit/lang/content``).

The batch pipeline (pipeline/materialize.py) is snapshot-incremental
via its ledger; this module is the Structured Streaming front of the
same architecture — the lambda split a production ingest uses:

- **streaming tier** (this module): ``readStream`` over the source
  drop directory -> the SAME vectorized pandas-UDF extraction +
  sha256 invariant as batch (``pipeline/extract.extract_triples`` is
  stateless, so it runs unchanged on a streaming DataFrame) ->
  exactly-once parquet sink of string triples. ``Trigger.AvailableNow``
  drains everything new and stops, so one entry point serves both
  catch-up batch runs and continuous tailing; the checkpoint makes
  re-runs process only files not yet committed.
- **batch tier**: dictionary encoding + canonicalization stay batch
  (they need global state — the dictionaries — which the ledgered
  snapshot path already manages crash-safely).

Scale notes: extraction is map-only (no shuffle, no watermark, no
state store) — each micro-batch is embarrassingly parallel and the
sink commit is per-batch atomic via the checkpoint's offset log +
file-sink metadata log, giving end-to-end exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from motive_rdf_spark.pipeline.extract import extract_triples

SOURCE_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)


def stream_source(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over a source-code drop directory (explicit
    schema — a streaming source must never infer schema in production)."""
    return spark.readStream.schema(SOURCE_SCHEMA).parquet(source_dir)


def extract_triples_stream(source: DataFrame) -> DataFrame:
    """The batch extractor applied to a streaming DataFrame — stateless
    Arrow-batched UDF, identical semantics (the equality is pytest-
    pinned against the batch path)."""
    return extract_triples(source)


def run_extract_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    available_now: bool = True,
) -> None:
    """Drain all unprocessed source files into the string-triples sink
    exactly once. Re-invocation after more files land (or after a
    crash) processes only the delta — the streaming analog of the
    batch ledger's resume contract."""
    triples = extract_triples_stream(stream_source(spark, source_dir))
    writer = (
        triples.writeStream.format("parquet")
        .option("path", f"{out_dir}/string_triples")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


def load_string_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the streamed string-triples sink (batch view)."""
    return spark.read.parquet(f"{out_dir}/string_triples")


# --- streaming incremental motif supports ------------------------------

def hash_encode_triples(strs: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """Stateless, dictionary-free term encoding for the streaming tier:
    id = content hash of the term (portable md5 family by default, so
    the DuckDB oracle reconstructs identical ids). Unlike the batch
    tier's dense dictionaries this needs NO cross-batch state — any
    batch, any executor, any engine maps a term to the same id, which
    is exactly what a streaming matcher wants. Collisions are 2^-60
    per pair — the oracle equality doubles as a collision check at
    fixture scale."""
    from motive_rdf_spark.data.generators import seeded_hash
    from pyspark.sql import functions as F

    return strs.select(
        seeded_hash(hash_fn, F.col("subj")).alias("s"),
        seeded_hash(hash_fn, F.col("pred")).alias("p"),
        seeded_hash(hash_fn, F.col("obj")).alias("o"),
    )


def ground_term(term: str, hash_fn: str = "md5") -> int:
    """The pure-Python mirror of ``hash_encode_triples`` for grounding
    pattern constants ('calls', a known IRI, ...) to their stream ids."""
    import hashlib

    if hash_fn != "md5":
        raise ValueError("ground_term mirrors the portable md5 family only")
    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16)


def run_support_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    motifs: dict,
    hash_fn: str = "md5",
    available_now: bool = True,
) -> None:
    """Maintain motif supports over the source stream, incrementally
    per micro-batch: extract -> hash-encode -> ``find_delta`` against
    the accumulated graph -> one supports row per (batch, motif).

    Exactly-once without a state store: each batch writes its NEW
    triples to ``enc_triples/batch=<id>`` and its supports to
    ``motif_supports_stream/batch=<id>`` — both dynamic-overwrite
    partitions keyed by the checkpointed batch id, so a replayed batch
    (foreachBatch may re-deliver the last batch after a crash)
    rewrites its own partitions idempotently; the delta is computed
    against strictly-earlier partitions and the prior support comes
    from the latest earlier batch. The streaming analog of the ledger
    discipline in pipeline/materialize.py.

    The checkpoint and ``out_dir`` are one unit: batch ids are issued
    by the checkpoint, so deleting it while keeping ``out_dir`` (or
    vice versa) desynchronizes the partition keys from the offset log
    — the standard Spark streaming-sink contract, stated here because
    this sink keys its idempotence on those ids."""
    from pyspark.sql import functions as F

    from motive_rdf_spark.operators.delta import delta_support
    from motive_rdf_spark.pipeline.extract import extract_triples

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    enc_path = f"{out_dir}/enc_triples"
    sup_path = f"{out_dir}/motif_supports_stream"

    def _read(path):
        try:
            return spark.read.parquet(path)
        except Exception:
            return None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enc = hash_encode_triples(extract_triples(batch_df), hash_fn).dropDuplicates()
        prior_enc = _read(enc_path)
        old = (
            prior_enc.filter(F.col("batch") < batch_id).select("s", "p", "o")
            if prior_enc is not None
            else None
        )
        if old is not None:
            old = old.dropDuplicates().persist()
            new_enc = enc.join(old, ["s", "p", "o"], "left_anti").persist()
        else:
            new_enc = enc.persist()
        rows = []
        sup_tbl = _read(sup_path)
        for name, pat in motifs.items():
            if old is None:
                from motive_rdf_spark.operators.bgp import find

                d = find(new_enc, pat).count()
            else:
                d = delta_support(old, new_enc, pat, assume_new=True)
            prior = 0
            if sup_tbl is not None:
                r = (
                    sup_tbl.filter(
                        (F.col("batch") < batch_id) & (F.col("motif") == name)
                    )
                    .orderBy(F.col("batch").desc())
                    .limit(1)
                    .collect()
                )
                if r:
                    prior = int(r[0]["support"])
            rows.append((name, prior + d, d))
        # triples first, supports second: a crash between the two makes
        # the replay recompute d against batch < id partitions only, so
        # the half-written enc partition is invisible until both commit
        new_enc.withColumn("batch", F.lit(batch_id)).write.mode(
            "overwrite"
        ).partitionBy("batch").parquet(enc_path)
        spark.createDataFrame(
            rows, "motif string, support long, delta_matches long"
        ).withColumn("batch", F.lit(batch_id)).write.mode("overwrite").partitionBy(
            "batch"
        ).parquet(sup_path)
        new_enc.unpersist()
        if old is not None:
            old.unpersist()

    writer = (
        stream_source(spark, source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out_dir}/_support_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()


def load_stream_supports(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest maintained support per motif: DataFrame[motif, support]."""
    from pyspark.sql import Window, functions as F

    tbl = spark.read.parquet(f"{out_dir}/motif_supports_stream")
    w = Window.partitionBy("motif").orderBy(F.col("batch").desc())
    return (
        tbl.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("motif", "support")
    )
