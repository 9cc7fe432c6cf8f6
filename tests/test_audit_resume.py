"""Checkpoint/lineage/resume contract: a killed job resumes without
recomputing completed buckets (north_rule)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from textcleaning_spark.plans.audit import (
    completed_buckets,
    pending,
    run_resumable,
    write_stage,
)
from textcleaning_spark.plans.pipeline import metrics_table, run_quality_pipeline
from textcleaning_spark.sources.pages import generate_pages


@pytest.fixture()
def scored(spark):
    return run_quality_pipeline(generate_pages(spark, 200, seed=11, partitions=4))


def _files(*roots: str) -> set[str]:
    return {
        os.path.join(d, f) for root in roots for d, _, fs in os.walk(root) for f in fs
    }


def _assert_audit_reconciles(spark, scored, out: str, audit: str, n_written: int):
    """The audit rows are metrics_table rows that add up to the output."""
    rows = spark.read.parquet(audit)
    assert rows.columns == metrics_table(scored).columns + ["stage", "completed_at"]
    n_docs, n_keep = rows.agg(F.sum("n_docs"), F.sum("n_keep")).first()
    assert n_docs == n_written
    assert n_keep == spark.read.parquet(out).filter("keep").count()


def test_full_run_then_noop_resume(spark, scored, tmp_path):
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    n1 = run_resumable(scored, spark, out, audit, "quality_filter")
    assert n1 == 200
    _assert_audit_reconciles(spark, scored, out, audit, n1)
    before = _files(out, audit)
    n2 = run_resumable(scored, spark, out, audit, "quality_filter")
    assert n2 == 0  # everything audited — nothing recomputed
    assert _files(out, audit) == before  # no data file, no audit row added
    assert spark.read.parquet(out).count() == 200


def test_partial_crash_resume(spark, scored, tmp_path):
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    buckets = sorted(
        r["lineage_bucket"]
        for r in scored.select("lineage_bucket").distinct().collect()
    )
    half = set(buckets[: len(buckets) // 2])
    # simulate a job killed after finishing half the buckets
    first = scored.filter(F.col("lineage_bucket").isin(*half))
    n_first = run_resumable(first, spark, out, audit, "quality_filter")
    assert n_first == first.count()
    # resume with the FULL input: only the missing buckets run
    n_resumed = run_resumable(scored, spark, out, audit, "quality_filter")
    assert n_resumed == 200 - n_first
    assert spark.read.parquet(out).count() == 200
    _assert_audit_reconciles(spark, scored, out, audit, 200)
    before = _files(out, audit)
    assert run_resumable(scored, spark, out, audit, "quality_filter") == 0
    assert _files(out, audit) == before
    done = completed_buckets(spark, audit, "quality_filter")
    assert done.count() == len(buckets)
    assert pending(scored, spark, audit, "quality_filter").count() == 0


def test_resume_with_file_uris(spark, scored, tmp_path):
    """Output and audit given as ``file://`` URIs: the resume still
    finds the audit, so the second run writes no second set of rows."""
    out, audit = (tmp_path / "out").as_uri(), (tmp_path / "audit").as_uri()
    assert run_resumable(scored, spark, out, audit) == 200
    assert run_resumable(scored, spark, out, audit) == 0
    assert spark.read.parquet(audit).agg(F.sum("n_docs")).first()[0] == 200


def test_resume_filter_runs_below_langid(spark, scored, tmp_path):
    """After a partial run, the done buckets leave the plan before the
    langid Python stage (and so before scoring): a literal NOT IN
    filter pushed down to the source, not an anti-join above it."""
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    run_resumable(scored.filter(F.col("lineage_bucket") < 32), spark, out, audit)
    p = pending(scored, spark, audit, "quality_filter")
    lines = p._jdf.queryExecution().executedPlan().toString().splitlines()
    assert not any("LeftAnti" in ln for ln in lines)
    python_at = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    filter_at = [i for i, ln in enumerate(lines) if "Filter NOT" in ln]
    assert len(python_at) == 1 and len(filter_at) == 1, lines
    assert filter_at[0] > python_at[0], "\n".join(lines)
    assert p.count() == scored.filter(F.col("lineage_bucket") >= 32).count()


def _files_per_bucket(out: str) -> dict[str, int]:
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(out, d)))
        for d in os.listdir(out)
        if d.startswith("lineage_bucket=")
    }


def test_write_stage_one_file_per_bucket(spark, scored, tmp_path):
    """Hash-clustered layout: a multi-partition input still writes ONE
    data file per lineage bucket (not one per input task and bucket),
    and rewriting the same buckets keeps it that way."""
    out, audit = str(tmp_path / "out"), str(tmp_path / "audit")
    assert scored.rdd.getNumPartitions() >= 4
    n_buckets = scored.select("lineage_bucket").distinct().count()
    for _ in range(2):  # second pass overwrites the same buckets
        write_stage(scored, spark, out, audit, "quality_filter")
        per_bucket = _files_per_bucket(out)
        assert len(per_bucket) == n_buckets
        assert set(per_bucket.values()) == {1}, per_bucket
        assert spark.read.parquet(out).count() == 200


def test_storage_format_capability_probe(spark):
    """The format decision is an explicit classpath probe. In this
    sandbox the Iceberg runtime jar is absent, so the probe must say so
    and the parquet stand-in must be selected (the tests above already
    exercise that leg end-to-end). With the jar on the classpath the
    same call flips to 'iceberg' — see test_resume_contract_iceberg."""
    from textcleaning_spark.plans.audit import iceberg_available, storage_format

    fmt = storage_format(spark)
    assert fmt in ("iceberg", "parquet")
    assert (fmt == "iceberg") == iceberg_available(spark)


def test_resume_contract_iceberg(spark, scored, tmp_path):
    """Iceberg leg of the SAME contract (skips without the runtime jar:
    SURVEY.md §7.4 risk 5). Identical assertions to the parquet leg —
    the contract is format-independent by construction."""
    from textcleaning_spark.plans.audit import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("Iceberg Spark runtime jar not on the classpath")
    out, audit = str(tmp_path / "out_ice"), str(tmp_path / "audit_ice")
    n1 = run_resumable(scored, spark, out, audit, "quality_filter")
    assert n1 == 200
    n2 = run_resumable(scored, spark, out, audit, "quality_filter")
    assert n2 == 0
    assert spark.read.format("iceberg").load(out).count() == 200
