"""Incremental support maintenance vs full re-match — the probe behind
BENCH/BASELINE.md's "Incremental vs full" table.

Protocol: interleaved best-of-3 (A/B/A/B) — this host drifts up to 2x
between separate sessions, so only interleaved samples are comparable.
Workloads over the 69M-triple planted graph with a 30k-triple
(10k-instance) appended delta:

  triangle — constant-predicate triangle (3.01M-row match set): the
             low-cardinality regime where a full re-match off the
             cache-resident graph is near the scan floor and the delta
             path's k cascades are parity at best.
  vee      — predicate-variable vee (306M-row match set): the
             high-cardinality regime where the full re-match pays for
             enumerating every embedding each snapshot and the delta
             path wins by the ratio of match sets.

Usage: python tools/delta_probe.py [triangle|vee|both]
"""

from __future__ import annotations

import os
import sys
import time


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")

    from motive_rdf_spark.data.generators import plant_instances, planted_graph
    from motive_rdf_spark.operators.bgp import GraphStore, find_count, prepare_triples
    from motive_rdf_spark.operators.delta import delta_support
    from motive_rdf_spark.patterns import Pattern
    from motive_rdf_spark.session import get_spark

    spark = get_spark(
        app_name="delta-probe",
        master=f"local[{cpus}]",
        shuffle_partitions=str(max(int(cpus) * 2, 8)),
    )
    spark.sparkContext.setLogLevel("ERROR")

    tri = [(-1, 0, -2), (-1, 1, -3), (-2, 2, -3)]
    n, m, r, k = 12_000_000, 60_000_000, 20, 3_000_000
    prep = prepare_triples(planted_graph(spark, n=n, m=m, r=r, pattern_edges=tri, k=k))
    store = GraphStore(prep)
    store.by_s.count(), store.by_o.count()
    delta = (
        plant_instances(spark, tri, 10_000, node_offset=n + 3 * k + 10, num_relations=r)
        .drop("instance_id")
        .persist()
    )
    delta.count()
    union = store.plain.select("s", "p", "o").unionAll(delta)

    pats = {"triangle": Pattern(tri), "vee": Pattern([(-1, -4, -2), (-1, -5, -3)])}
    for name, pat in pats.items():
        if which not in (name, "both"):
            continue
        best: dict = {}
        for rnd in range(5 if name == "triangle" else 1):
            for label, fn in (
                ("full", lambda: find_count(union, pat)),
                ("delta_store", lambda: delta_support(store, delta, pat, assume_new=True)),
            ):
                t0 = time.time()
                v = fn()
                dt = time.time() - t0
                best[label] = min(best.get(label, (1e9, 0)), (dt, v))
                print(f"{name} round{rnd} {label}: {dt:.2f}s ({v})")
        for label, (dt, v) in best.items():
            print(f"{name} BEST {label}: {dt:.2f}s result={v}")
    spark.stop()


if __name__ == "__main__":
    main()
