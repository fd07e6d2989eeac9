"""Deployment-path test: the construct job runs under real
spark-submit with the engine shipped ONLY via --py-files (no repo on
PYTHONPATH), proving the north_rule's packaging contract."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from motive_rdf_spark.data.generators import candidate_dict, source_code_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
)


@pytest.mark.skipif(not shutil.which("spark-submit"), reason="spark-submit not on PATH")
def test_construct_job_via_spark_submit(spark, tmp_path):
    sys.path.insert(0, ROOT)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "motive_rdf_spark.zip"))

    src_path = str(tmp_path / "source")
    source_code_table(spark, 30, commits=1).drop("k").write.parquet(src_path)
    cand_path = str(tmp_path / "cands")
    candidate_dict(spark, 30).write.parquet(cand_path)
    out = str(tmp_path / "out")

    env = {**os.environ}
    env.pop("PYTHONPATH", None)  # engine must come from --py-files only
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(ROOT, "jobs", "construct_job.py"),
            src_path, out, cand_path,
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo: imports must resolve from the zip
        timeout=420,
        env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "triples" in res.stdout
    n = spark.read.parquet(f"{out}/triples").count()
    assert n > 0
    assert spark.read.parquet(f"{out}/ledger").count() == 1
