"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Metric: total wall seconds over the headline set, plus per-query
seconds and construction throughput (triples/sec) for the KG pipeline
— the north_rule's primary number. Scaling evidence across
parallelism levels lives in tools/scaling_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from motive_rdf_spark.contract import registry
    from motive_rdf_spark.session import get_spark

    spark = get_spark(
        app_name="motive-rdf-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus) * 2, 8)),
    )
    spark.sparkContext.setLogLevel("ERROR")

    headline = [
        "bgp_vee",
        "bgp_chain",
        "bgp_support_by_nation",
        "degrees_in",
        "dict_encode",
    ]
    # best-of-N per query: this host shows ~27% run-to-run spread
    # (BENCH/BASELINE.md), so single-run numbers aren't actionable —
    # the minimum over N runs is the standard low-noise estimator
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    reg = registry()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    rows: dict[str, int] = {}
    import statistics

    for name in headline:
        fn, _ = reg[name]
        samples: list[float] = []
        # sub-2s queries get extra runs: at that scale the host's
        # run-to-run spread dominates the query itself (the round-3
        # cosine_topk 0.88->1.38 s driver-run delta was exactly this —
        # same code measured 0.49 s in isolation). Both the best-of
        # (low-noise floor) and the median (what a typical run costs on
        # this host) are reported — VERDICT r4 item 6: sub-second
        # best-of deltas alone are not attributable to code.
        while len(samples) < n_runs or (min(samples) < 2.0 and len(samples) < max(n_runs, 8)):
            t0 = time.time()
            df = fn(spark, sf_dir)
            # count() forces full evaluation without driver-side collect
            rows[name] = df.count()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)
        medians[name] = round(statistics.median(samples), 3)

    # KG-construction throughput over the TPC-H star schema view
    from motive_rdf_spark.kg_tpch import triples_view

    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        n_triples = triples_view(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    timings["kg_construct_tpch"] = round(best, 3)

    # KG-construction pipeline throughput (north_rule metric):
    # synthesized source table -> extract -> link -> encode ->
    # canonicalize, in memory
    from pyspark.sql import functions as F

    from motive_rdf_spark.data.generators import candidate_dict, source_code_table
    from motive_rdf_spark.pipeline.canonicalize import canonical_entities, rewrite_triples
    from motive_rdf_spark.pipeline.encode import encode_triples
    from motive_rdf_spark.pipeline.materialize import SAME_AS, build_string_triples

    # 300k rows amortizes fixed per-job latency so the reported
    # triples/sec reflects pipeline throughput, not session startup
    pipe_rows = int(os.environ.get("SPARK_GRAFT_PIPE_ROWS", "300000"))
    src = source_code_table(spark, pipe_rows).drop("k").persist()
    src.count()
    construct_sec = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        strs = build_string_triples(src, candidate_dict(spark, pipe_rows)).persist()
        enc, _, pred_dict = encode_triples(strs.select("subj", "pred", "obj"))
        enc = enc.persist()
        said = pred_dict.filter(F.col("term") == SAME_AS).collect()
        sid = int(said[0]["id"])
        sa = enc.filter(F.col("p") == sid).select(F.col("s").alias("src"), F.col("o").alias("dst"))
        final = rewrite_triples(enc.filter(F.col("p") != sid), canonical_entities(sa))
        pipe_triples = final.count()
        construct_sec = min(construct_sec, time.time() - t0)
        strs.unpersist()
        enc.unpersist()
    timings["kg_construct_pipeline"] = round(construct_sec, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # stop the JVM before printing: executor threads share this stdout
    # fd and an async warning (GC, shutdown) interleaved after the JSON
    # would break naive last-line capture of the one-line contract
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "rows": rows,
                "triples": pipe_triples,
                "triples_per_sec": round(pipe_triples / max(construct_sec, 1e-9), 1),
                "pipeline_source_rows": pipe_rows,
                "tpch_triples": n_triples,
                "bench_runs": n_runs,
                "cpus": int(cpus),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
