"""Structured Streaming tests: streaming results must equal the batch
equivalents on the same input (the catch-up/continuous equivalence that
makes Trigger.AvailableNow deployments safe)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_extraction_incremental_equals_batch(spark, tmp_path):
    """Streaming KG extraction (streaming/construct.py): two source
    drops drained by two AvailableNow runs must (a) process each file
    exactly once (the checkpoint skips already-committed files) and
    (b) produce exactly the batch extractor's output over the full
    source."""
    from motive_rdf_spark.data.generators import source_code_table
    from motive_rdf_spark.pipeline.extract import extract_triples
    from motive_rdf_spark.streaming.construct import (
        load_string_triples,
        run_extract_stream,
    )

    src_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "stream_out")
    full = source_code_table(spark, 40, commits=2).drop("k").persist()
    full.count()
    snaps = sorted(r["commit"] for r in full.select("commit").distinct().collect())

    # drop 1 -> drain -> drop 2 -> drain
    full.filter(F.col("commit") == snaps[0]).write.mode("append").parquet(src_dir)
    run_extract_stream(spark, src_dir, out_dir)
    n1 = load_string_triples(spark, out_dir).count()
    assert n1 == extract_triples(full.filter(F.col("commit") == snaps[0])).count()

    full.filter(F.col("commit") == snaps[1]).write.mode("append").parquet(src_dir)
    run_extract_stream(spark, src_dir, out_dir)

    got = {
        tuple(r)
        for r in load_string_triples(spark, out_dir)
        .select("subj", "pred", "obj", "content_sha")
        .collect()
    }
    exp = {
        tuple(r)
        for r in extract_triples(full).select("subj", "pred", "obj", "content_sha").collect()
    }
    assert got == exp
    # a third drain with nothing new must add zero rows (exactly-once)
    n_before = load_string_triples(spark, out_dir).count()
    run_extract_stream(spark, src_dir, out_dir)
    assert load_string_triples(spark, out_dir).count() == n_before
    full.unpersist()


def test_streaming_motif_supports_incremental_equals_batch(spark, tmp_path):
    """Supports maintained per micro-batch across two drop waves (and a
    no-op third drain) must equal a from-scratch find_count over the
    hash-encoded extraction of ALL files."""
    from motive_rdf_spark.data.generators import source_code_table
    from motive_rdf_spark.operators.bgp import find_count
    from motive_rdf_spark.patterns import Pattern
    from motive_rdf_spark.pipeline.extract import extract_triples
    from motive_rdf_spark.streaming.construct import (
        ground_term,
        hash_encode_triples,
        load_stream_supports,
        run_support_stream,
    )

    calls = ground_term("calls")
    member = ground_term("member_of")
    defc = ground_term("defines_class")
    motifs = {
        "calls_vee": Pattern([(-1, calls, -3), (-2, calls, -3)]),
        "def_member": Pattern([(-1, member, -2), (-3, defc, -2)]),
    }
    src_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "out")
    full = source_code_table(spark, 80, hash_fn="md5").drop("k").persist()
    a = full.limit(50)
    b = full.exceptAll(a)

    a.write.mode("append").parquet(src_dir)
    run_support_stream(spark, src_dir, out_dir, motifs)
    b.write.mode("append").parquet(src_dir)
    run_support_stream(spark, src_dir, out_dir, motifs)
    # third drain with nothing new: supports unchanged
    run_support_stream(spark, src_dir, out_dir, motifs)

    got = {r["motif"]: r["support"] for r in load_stream_supports(spark, out_dir).collect()}
    enc_all = hash_encode_triples(
        extract_triples(spark.read.parquet(src_dir))
    ).dropDuplicates()
    for name, pat in motifs.items():
        assert got[name] == find_count(enc_all, pat), name
    assert got["def_member"] == 80  # one (f, C, file) chain per source row
