"""Stage-level profile of the kg_construct_pipeline bench entry: time
extract+link, encode, CC, and rewrite separately so optimization effort
lands on the actual bottleneck.

Usage: python tools/pipe_profile.py [rows]
"""

from __future__ import annotations

import os
import sys
import time


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from motive_rdf_spark.data.generators import candidate_dict, source_code_table
    from motive_rdf_spark.pipeline.canonicalize import canonical_entities, rewrite_triples
    from motive_rdf_spark.pipeline.encode import encode_triples
    from motive_rdf_spark.pipeline.materialize import SAME_AS, build_string_triples
    from motive_rdf_spark.session import get_spark

    spark = get_spark(
        app_name="pipe-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus) * 2, 8)),
    )
    spark.sparkContext.setLogLevel("ERROR")

    src = source_code_table(spark, rows).drop("k").persist()
    src.count()

    for run in range(2):
        t = {}
        t0 = time.time()
        strs = build_string_triples(src, candidate_dict(spark, rows)).persist()
        n_strs = strs.count()
        t["extract_link"] = time.time() - t0

        t0 = time.time()
        enc, node_dict, pred_dict = encode_triples(strs.select("subj", "pred", "obj"))
        enc = enc.persist()
        n_enc = enc.count()
        t["encode"] = time.time() - t0

        t0 = time.time()
        said = pred_dict.filter(F.col("term") == SAME_AS).collect()
        sid = int(said[0]["id"])
        sa = enc.filter(F.col("p") == sid).select(
            F.col("s").alias("src"), F.col("o").alias("dst")
        )
        canon = canonical_entities(sa).persist()
        n_canon = canon.count()
        t["cc"] = time.time() - t0

        t0 = time.time()
        final = rewrite_triples(enc.filter(F.col("p") != sid), canon)
        n_final = final.count()
        t["rewrite"] = time.time() - t0

        total = sum(t.values())
        print(
            f"run{run}: total={total:.2f}s "
            + " ".join(f"{k}={v:.2f}s" for k, v in t.items())
            + f" | strs={n_strs} enc={n_enc} canon={n_canon} final={n_final}"
        )
        strs.unpersist()
        enc.unpersist()
        canon.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
