"""Checkpoint-resume hardening: a crash AFTER data writes but BEFORE
the ledger commit must be fully repaired by re-running (dynamic
partition overwrite makes the partial snapshot idempotent), and the
CLI construct experiment must drive the same path."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from test_bounded_cache import _cached

from motive_rdf_spark.data.generators import candidate_dict, source_code_table
from motive_rdf_spark.patterns import Pattern
from motive_rdf_spark.pipeline.materialize import (
    load_graph,
    processed_snapshots,
    run_pipeline,
    run_snapshot,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*args: str, timeout: int) -> subprocess.CompletedProcess:
    """Run ``python -m motive_rdf_spark`` from this checkout."""
    return subprocess.run(
        [sys.executable, "-m", "motive_rdf_spark", *args],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=timeout,
        env={**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_CPUS": "4"},
    )


#: the chain motif the snapshot_append benchmark maintains
CHAIN = Pattern([(-1, 2, -2), (-2, 0, -3)])


def _rows(spark, path: str) -> list[tuple]:
    return sorted(map(tuple, spark.read.parquet(path).drop("committed_at").collect()))


@pytest.mark.parametrize("table", ["triples", "canonical_map", "motif_supports", "ledger"])
def test_crash_before_ledger_commit_recovers(spark, tmp_path, monkeypatch, table):
    """A crash in any write of snapshot 1 — one in each parallel branch
    of the commit, or the ledger row itself — leaves snapshot 1 without
    a ledger row, and the resumed run gives the same KG and the same
    motif_supports rows as a clean run."""
    src = source_code_table(spark, 40, commits=2).drop("k")
    cands = candidate_dict(spark, 40)
    out = str(tmp_path / "kg")
    snaps = sorted(r["commit"] for r in src.select("commit").distinct().collect())
    motifs = {"chain": CHAIN}

    # reference run: both snapshots cleanly
    ref_out = str(tmp_path / "ref")
    run_pipeline(spark, src, cands, ref_out, motifs=motifs)
    expected = sorted(map(tuple, load_graph(spark, ref_out, canonical=True).collect()))

    # crash run: process snapshot 0, then fail the chosen write of
    # snapshot 1
    run_snapshot(spark, src, cands, out, snaps[0], motifs=motifs)

    import motive_rdf_spark.pipeline.materialize as mat

    orig_write = mat._write
    def crashing_write(df, path, mode="overwrite", partition_by=None):
        if path.endswith(f"/{table}"):
            raise RuntimeError(f"simulated crash in the {table} write")
        return orig_write(df, path, mode, partition_by)

    monkeypatch.setattr(mat, "_write", crashing_write)
    before = _cached(spark)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_snapshot(spark, src, cands, out, snaps[1], motifs=motifs)
    monkeypatch.setattr(mat, "_write", orig_write)
    # the failed commit released the frames it cached
    assert _cached(spark) == before

    # snapshot 1's data partitions may exist but it is NOT checkpointed
    assert processed_snapshots(spark, out) == {snaps[0]}

    # resume: reprocesses snapshot 1 (dynamic overwrite), commits it
    reports = run_pipeline(spark, src, cands, out, motifs=motifs)
    assert [r.skipped for r in reports] == [True, False]
    assert processed_snapshots(spark, out) == set(snaps)
    got = sorted(map(tuple, load_graph(spark, out, canonical=True).collect()))
    assert got == expected
    assert _rows(spark, f"{out}/motif_supports") == _rows(spark, f"{ref_out}/motif_supports")
    assert _rows(spark, f"{out}/ledger") == _rows(spark, f"{ref_out}/ledger")


def test_cli_construct_experiment(spark, tmp_path):
    src_path = str(tmp_path / "source")
    source_code_table(spark, 30, commits=1).drop("k").write.parquet(src_path)
    out = str(tmp_path / "out")
    res = _cli(
        "--experiment", "construct", "--data", src_path, "--output", out,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "triples" in res.stdout
    assert spark.read.parquet(f"{out}/triples").count() > 0


def test_cli_multi_experiment(spark, tmp_path):
    res = _cli(
        "--experiment", "multi", "--data", "hub:60",
        "--iterations", "5", "--seed", "4",
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "best motif set" in res.stdout


def test_cli_synthetic_experiment(spark, tmp_path):
    """Quality-sweep CSV golden shape: scores.csv has 2 columns per
    instance count, the focus column's frequency for the planted motif
    row is >= its injection count, and score grows with instances."""
    out = str(tmp_path)
    res = _cli(
        "--experiment", "synthetic", "--nodes", "300", "--links", "900",
        "--relations", "5", "--instances", "0", "60",
        "--iterations", "3", "--seed", "7", "--topk", "5",
        "--max-time", "5", "--output", out,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    import csv

    with open(f"{out}/scores.csv") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["score_0", "freq_0", "score_60", "freq_60"]
    assert len(rows) >= 2  # at least the warm-start motif retained
    motifs = open(f"{out}/motifs.csv").read().strip().splitlines()
    assert len(motifs) == len(rows) - 1
    # the top motif must be recovered much more often in the 60-instance
    # graph than in the clean graph, with a higher score
    top = [float(rows[1][0]), int(rows[1][1]), float(rows[1][2]), int(rows[1][3])]
    assert top[3] >= 60 and top[3] > top[1]
    assert top[2] > top[0]


def test_cli_classification_experiment(spark, tmp_path):
    out = str(tmp_path / "cls")
    res = _cli(
        "--experiment", "classification", "--data", "planted:300,900,5,60",
        "--warm=-1,0,-2;-1,1,-3;-2,2,-3",
        "--iterations", "4", "--seed", "3", "--topk", "2",
        "--max-time", "5", "--output", out,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    complete = spark.read.csv(f"{out}/complete", schema="s long, p long, o long")
    total = complete.count()
    assert total > 0
    simp1 = spark.read.csv(
        f"{out}/simplified-byscore-top1", schema="s long, p long, o long"
    )
    assert 0 < simp1.count() < total  # a strict simplification
    n1 = spark.read.csv(f"{out}/neighborhood-1", schema="s long, p long, o long")
    n3 = spark.read.csv(f"{out}/neighborhood-3", schema="s long, p long, o long")
    assert 0 < n1.count() <= n3.count() <= total
