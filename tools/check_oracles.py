"""Local replica of the driver's correctness gate: run every contract
query on Spark AND its DuckDB oracle at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(x):
    import datetime
    import math

    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return f"{x:.9g}"
    if isinstance(x, datetime.datetime):
        return x.isoformat()
    return str(x)


def norm_rows(cols, rows):
    # sort columns by name, then rows lexicographically (driver semantics)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def connect(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(spark, con, name: str, sf_dir: str = SF_DIR) -> tuple[bool, str]:
    """Run contract entry ``name`` on Spark and its oracle on ``con``;
    returns (passed, one-line report plus mismatch details)."""
    from motive_rdf_spark.contract import registry

    fn, sql = registry()[name]
    sdf = fn(spark, sf_dir)
    sc, sr = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = con.execute(sql)
    dc, dr = norm_rows([d[0] for d in res.description], res.fetchall())
    ok_cols = sc == dc
    ok_vals = sr == dr
    if ok_cols and ok_vals:
        return True, f"OK    ({len(sr)} rows)"
    lines = [f"FAIL cols={ok_cols} count={len(sr)}/{len(dr)} vals={ok_vals}"]
    if not ok_cols:
        lines.append(f"   spark cols: {sc}\n   duck  cols: {dc}")
    else:
        diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        only_s = [r for r in sr[:2000] if r not in set(dr[:2000])][:2]
        lines.append(f"   first diffs: {diff}")
        lines.append(f"   sample spark-only: {only_s}")
    return False, "\n".join(lines)


def main(names: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from motive_rdf_spark.contract import registry
    from motive_rdf_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions="8")
    con = connect()
    todo = names or sorted(registry())
    failures = 0
    for name in todo:
        ok, report = check(spark, con, name)
        failures += not ok
        print(f"{name:28s} {report}")
    print(f"\n{len(todo) - failures}/{len(todo)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
