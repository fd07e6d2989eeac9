"""Long runs stay bounded: committing snapshots and maintaining motif
supports per snapshot or per micro-batch must not leave cached frames
behind, so the number of persisted RDDs stays flat however many
snapshots or batches go by.

Two counts are kept: the session's cache entries (a frame that was
persisted and never unpersisted stays one, materialized or not) and
the persisted RDDs that are not local checkpoints. Local checkpoints
are left out because the ContextCleaner reclaims them once they are
unreachable, at the JVM garbage collector's pace."""

from __future__ import annotations

from motive_rdf_spark.data.generators import (
    SOURCE_SCHEMA,
    candidate_dict,
    source_code_table,
)
from motive_rdf_spark.patterns import Pattern


def _cached(spark) -> tuple[int, int]:
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        entries = cm.numCachedEntries()
    except Exception as e:  # py4j error: no such method in this Spark
        raise AssertionError(
            "CacheManager.numCachedEntries() is missing in this Spark version; "
            "the cache-entry count needs another source"
        ) from e
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    persisted = sum(not rdds.get(k).rdd().isCheckpointed() for k in rdds.keySet().toArray())
    return entries, persisted


def test_snapshot_supports_release_cached_frames(spark, tmp_path):
    from motive_rdf_spark.pipeline.materialize import run_pipeline

    src = source_code_table(spark, 60, commits=3).drop("k")
    cands = candidate_dict(spark, 60)
    out = str(tmp_path / "kg")
    motifs = {
        "vee": Pattern([(-1, -4, -2), (-1, -5, -3)]),
        "edge": Pattern([(-1, -2, -3)]),
    }
    snaps = sorted(r["commit"] for r in src.select("commit").distinct().collect())
    counts = []
    for snap in snaps:  # the first commit, then two appended snapshots
        run_pipeline(spark, src, cands, out, snapshots=[snap], motifs=motifs)
        counts.append(_cached(spark))
    assert counts == [counts[0]] * len(snaps), counts


def test_stream_supports_release_cached_frames(spark, tmp_path):
    from motive_rdf_spark.streaming.construct import ground_term, run_support_stream

    calls = ground_term("calls")
    motifs = {
        "calls_vee": Pattern([(-1, calls, -3), (-2, calls, -3)]),
        "edge": Pattern([(-1, -2, -3)]),
    }
    src_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "out")
    rows = source_code_table(spark, 80, hash_fn="md5").drop("k").collect()
    counts = []
    for lo in range(0, 80, 20):  # four waves, one micro-batch each
        spark.createDataFrame(rows[lo : lo + 20], SOURCE_SCHEMA).write.mode("append").parquet(src_dir)
        run_support_stream(spark, src_dir, out_dir, motifs)
        counts.append(_cached(spark))
    assert counts == [counts[0]] * len(counts), counts
