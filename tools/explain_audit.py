"""Physical-plan audit: `.explain("formatted")` every headline query
and check the properties that matter at 100 TB — filter pushdown to
the parquet scan, column pruning (ReadSchema), broadcast of small
sides, exchange (shuffle) counts — and write EXPLAIN.md.

Usage: python tools/explain_audit.py [name ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

AUDITED = [
    "bgp_vee",
    "bgp_chain",
    "triple_lookup",
    "degrees_in",
    "dict_encode",
    "delta_bgp_support",
    "incremental_canonicalize",
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_op_counts(df) -> dict:
    """Operator histogram of the final (post-AQE) EXECUTED plan tree.

    Walks the physical tree via py4j instead of counting substrings of
    the explain text: cached relations (InMemoryTableScan) are leaves,
    so exchanges that only exist in a persisted copy's *lineage* (e.g.
    GraphStore's one-time repartition) are not mis-counted as per-query
    shuffles."""
    df.count()  # materialize so AQE reaches its final plan
    plan = df._jdf.queryExecution().executedPlan()
    try:
        inner = plan.executedPlan()  # AdaptiveSparkPlanExec -> final
    except Exception:
        inner = plan
    counts: dict = {}

    def walk(p):
        name = p.nodeName()
        counts[name] = counts.get(name, 0) + 1
        if "InMemoryTableScan" in name:
            return
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        if "QueryStage" in name:
            try:
                walk(p.plan())
            except Exception:
                pass

    walk(inner)
    return counts


def audit(name: str, plan: str, ops: dict) -> dict:
    def n(*keys):
        return sum(v for k, v in ops.items() if any(key in k for key in keys))

    return {
        "exchanges": n("Exchange") - n("BroadcastExchange"),
        "bcast_joins": n("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        "smj": n("SortMergeJoin"),
        "scans": plan.count("Scan parquet"),
        "pushed": bool(re.search(r"PushedFilters: \[(?!\])", plan)),
        "pruned_schema": "ReadSchema" in plan,
        "pyudf": n("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"),
        "rowudf": n("BatchEvalPython"),
    }


def main(names: list[str]) -> None:
    sys.path.insert(0, REPO)
    from motive_rdf_spark.contract import registry
    from motive_rdf_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions="8")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    lines = [
        "# EXPLAIN audit — physical-plan properties of the headline queries",
        "",
        f"Audited at `{SF}`. Shuffle/join/UDF counts come from the FINAL",
        "post-AQE executed plan tree (py4j walk; cached-lineage exchanges",
        "excluded), scan/pushdown/schema from `explain('formatted')`.",
        "Checked: shuffle (hash Exchange) count, broadcast vs sort-merge",
        "joins, parquet scan count, filter pushdown reaching the scan,",
        "schema pruning, and that NO row-at-a-time Python appears",
        "anywhere (Arrow/pandas only).",
        "",
        "| query | exchanges | bcast joins | SMJ | scans | pushdown | pruned schema | arrow-udf ops | row-python |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    bad = []
    for name in names or AUDITED:
        fn, _ = reg[name]
        df = fn(spark, SF)
        a = audit(name, plan_of(df), executed_op_counts(df))
        if a["rowudf"]:
            bad.append(name)
        lines.append(
            f"| {name} | {a['exchanges']} | {a['bcast_joins']} | {a['smj']} | {a['scans']} | "
            f"{'yes' if a['pushed'] else '—'} | {'yes' if a['pruned_schema'] else '—'} | "
            f"{a['pyudf']} | {'YES (bad)' if a['rowudf'] else 'none'} |"
        )
        print(lines[-1])
    lines += [
        "",
        "Notes:",
        "- BGP queries read the once-per-session prepared graph cache",
        "  (kg_tpch.prepared_triples), so their plans show InMemoryTableScan",
        "  rather than repeated parquet scans after warm-up; `scans` counts",
        "  the static plan's parquet leaves, which the cache elides at run",
        "  time.",
        "- BGP matcher queries run over `bgp.GraphStore` (s-/o-partitioned",
        "  cached copies — the bucketed-storage analog). At this SF every",
        "  expansion join broadcasts, so they execute ZERO hash exchanges;",
        "  in the non-broadcast regime (100 TB shape, broadcast disabled)",
        "  the store cuts bgp_chain's executed exchanges 4 -> 2 at equal",
        "  results (tests/test_bgp.py::test_graphstore_equal_results_",
        "  fewer_exchanges).",
        "- `pushdown: —` is expected for queries whose first operator is a",
        "  full aggregation (no filter to push).",
        "- row-python must be `none` everywhere (input_hint: vectorized",
        "  Arrow UDFs only).",
    ]
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote EXPLAIN.md" + (f"; ROW-PYTHON FOUND IN {bad}" if bad else ""))


if __name__ == "__main__":
    main(sys.argv[1:])
