"""Ship-it test: the pipeline runs via real ``spark-submit --py-files``
(north_rule packaging contract), writes cleaned + audit tables, and a
second --resume invocation finds zero pending work.

Runs two fresh JVMs (~1 min total) — kept to one scenario on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_path_factory):
    out = subprocess.run(
        ["sh", os.path.join(REPO, "scripts", "package.sh")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr
    zip_path = os.path.join(REPO, "dist", "textcleaning_spark.zip")
    assert os.path.exists(zip_path)
    return zip_path


def _submit(zip_path: str, extra_args: list[str], cwd: str) -> dict:
    env = dict(os.environ)
    # spark-submit must find the package ONLY through --py-files: run
    # from a neutral cwd so the repo dir isn't implicitly importable.
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--conf",
        "spark.sql.shuffle.partitions=8",
        "--conf",
        "spark.ui.enabled=false",
        "--py-files",
        zip_path,
        os.path.join(REPO, "jobs", "run_quality_filter.py"),
        *extra_args,
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=cwd, timeout=300
    )
    assert out.returncode == 0, f"stdout:\n{out.stdout}\nstderr:\n{out.stderr[-4000:]}"
    last = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(last)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on PATH"
)
def test_spark_submit_run_and_resume(pyfiles_zip, tmp_path):
    out_dir = str(tmp_path / "cleaned")
    audit_dir = str(tmp_path / "audit")
    args = [
        "--synthetic-docs",
        "2000",
        "--output",
        out_dir,
        "--audit",
        audit_dir,
    ]
    first = _submit(pyfiles_zip, args, cwd=str(tmp_path))
    assert first["newly_processed"] == 2000
    assert 0 < first["kept_total"] < 2000
    assert any(
        f.startswith("lineage_bucket=") for f in os.listdir(out_dir)
    ), os.listdir(out_dir)
    # audit table has per-(bucket, lang) metric rows
    assert any(f.endswith(".parquet") for f in os.listdir(audit_dir))
    # kept_total comes from the audit table and must match the data
    keep = pq.read_table(out_dir, columns=["keep"]).column("keep").to_pylist()
    assert first["kept_total"] == sum(keep)
    # without --resume the job refuses an existing audit table, before
    # it starts Spark
    from jobs.run_quality_filter import main

    with pytest.raises(SystemExit, match="--resume"):
        main(args)

    resumed = _submit(pyfiles_zip, args + ["--resume"], cwd=str(tmp_path))
    assert resumed["newly_processed"] == 0, "resume must find no pending buckets"
    assert resumed["kept_total"] == first["kept_total"]
