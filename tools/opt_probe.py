"""Probe two pipeline-optimization hypotheses at bench shape:

A. Does pre-materializing ``strs`` (one count before encode_triples)
   beat letting the two concurrent dict-build chains race to populate
   the cache (duplicated extraction work)?
B. How many CC rounds run on the bench's same_as graph, and what does
   each cost?

Usage: python tools/opt_probe.py [rows]
"""

from __future__ import annotations

import os
import sys
import time


def bench_once(spark, src, rows, precount: bool) -> float:
    from pyspark.sql import functions as F

    from motive_rdf_spark.data.generators import candidate_dict
    from motive_rdf_spark.pipeline.canonicalize import canonical_entities, rewrite_triples
    from motive_rdf_spark.pipeline.encode import encode_triples
    from motive_rdf_spark.pipeline.materialize import SAME_AS, build_string_triples

    t0 = time.time()
    strs = build_string_triples(src, candidate_dict(spark, rows)).persist()
    if precount:
        strs.count()
    enc, _, pred_dict = encode_triples(strs.select("subj", "pred", "obj"))
    enc = enc.persist()
    said = pred_dict.filter(F.col("term") == SAME_AS).collect()
    sid = int(said[0]["id"])
    sa = enc.filter(F.col("p") == sid).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    final = rewrite_triples(enc.filter(F.col("p") != sid), canonical_entities(sa))
    final.count()
    dt = time.time() - t0
    strs.unpersist()
    enc.unpersist()
    return dt


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from motive_rdf_spark.data.generators import candidate_dict, source_code_table
    from motive_rdf_spark.pipeline.encode import encode_triples
    from motive_rdf_spark.pipeline.materialize import SAME_AS, build_string_triples
    from motive_rdf_spark.session import get_spark

    spark = get_spark(
        app_name="opt-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus) * 2, 8)),
    )
    spark.sparkContext.setLogLevel("ERROR")

    src = source_code_table(spark, rows).drop("k").persist()
    src.count()

    # interleave A/B so host drift hits both variants equally
    for rnd in range(3):
        a = bench_once(spark, src, rows, precount=False)
        b = bench_once(spark, src, rows, precount=True)
        print(f"round{rnd}: race={a:.2f}s precount={b:.2f}s")

    # --- CC round cost ------------------------------------------------
    from motive_rdf_spark.pipeline import canonicalize as C

    strs = build_string_triples(src, candidate_dict(spark, rows)).persist()
    strs.count()
    enc, _, pred_dict = encode_triples(strs.select("subj", "pred", "obj"))
    enc = enc.persist()
    enc.count()
    sid = int(pred_dict.filter(F.col("term") == SAME_AS).collect()[0]["id"])
    sa = enc.filter(F.col("p") == sid).select(F.col("s").alias("src"), F.col("o").alias("dst"))

    # instrumented copy of connected_components
    sym = sa.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        sa.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    t0 = time.time()
    sym = sym.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)
    print(f"cc-setup sym: {time.time()-t0:.2f}s rows={sym.count()}")
    t0 = time.time()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    print(f"cc-setup labels: {time.time()-t0:.2f}s rows={labels.count()}")

    def label_sum(df):
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    prev = label_sum(labels)
    for it in range(10):
        t0 = time.time()
        offers = sym.join(labels.hint("shuffle_hash"), sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("component")
        )
        cand = offers.unionAll(labels.select("node", "component"))
        new_labels = C._salted_min(cand, "node", "component", C.SALT_BUCKETS)
        jump = new_labels.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        ).hint("shuffle_hash")
        labels = (
            new_labels.join(jump, new_labels["component"] == jump["jnode"], "left")
            .select(
                "node",
                F.coalesce(F.least("component", "jcomp"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        ns = label_sum(labels)
        print(f"cc-round {it}: {time.time()-t0:.2f}s sum={ns}")
        if ns == prev:
            break
        prev = ns
    spark.stop()


if __name__ == "__main__":
    main()
