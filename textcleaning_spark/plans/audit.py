"""Checkpoint / lineage / resume (north_rule; SURVEY.md §7.2 step 7).

Reference analogue: incremental pickle dumps every 10,000 docs
(sna_analysis.py:78-81) and cache-or-compute pickle memoization
(text_process_v5.py:29-33). Here the unit of work is a STABLE lineage
bucket (xxhash64(url) % N — invariant across runs and cluster sizes),
and each completed bucket appends its per-(bucket, lang) metrics rows
to the audit table. A killed job resumes by filtering out the buckets
the audit table records — no recomputation of completed work, no
reliance on task-level state.

Iceberg note (round 3: capability-probed, not assumed): the layout is
Iceberg-table-shaped (append-only audit + partitioned data). When the
Iceberg Spark runtime jar is on the classpath, :func:`storage_format`
resolves to ``iceberg`` and every read/write below goes through
``format("iceberg")``; otherwise it resolves to the plain-parquet
stand-in with identical audit/resume semantics (SURVEY.md §7.4 risk 5
allows this when the jar is absent — in this sandbox it is). The
contract itself (stable buckets, dynamic partition overwrite,
audit-after-data ordering) is format-independent and tested in both
modes (tests/test_audit_resume.py; the Iceberg leg skips without the
jar). ``partitionBy(lineage_bucket)`` makes resume a partition-pruned
read on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.plans.pipeline import N_LINEAGE_BUCKETS, metrics_table

_ICEBERG_PROBE_CLASS = "org.apache.iceberg.spark.SparkCatalog"

# audit stage name of the quality-filter pass (run_resumable's default)
STAGE = "quality_filter"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in THIS JVM.

    A classpath probe, not a config guess: ``Class.forName`` on the
    Iceberg SparkCatalog entry point. No jar → ClassNotFoundException →
    False (the parquet stand-in runs)."""
    try:
        spark._jvm.java.lang.Class.forName(_ICEBERG_PROBE_CLASS)
        return True
    except Exception:
        return False


def storage_format(spark: SparkSession) -> str:
    """Checkpoint/audit table format: ``iceberg`` when the runtime jar
    is present, else ``parquet`` (explicit capability check — the
    decision is visible in logs/plans rather than implicit)."""
    return "iceberg" if iceberg_available(spark) else "parquet"


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop FileSystem its
    scheme names: a plain local path, ``file://``, ``hdfs://`` and
    ``s3a://`` all resolve the way Spark's own reads and writes do."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def completed_buckets(spark: SparkSession, audit_path: str, stage: str) -> DataFrame:
    """Buckets already finished for ``stage`` (empty DF if no audit yet)."""
    if not path_exists(spark, audit_path):
        return spark.range(0).select(F.col("id").cast("int").alias("lineage_bucket"))
    audit = spark.read.format(storage_format(spark)).load(audit_path)
    return (
        audit.filter(F.col("stage") == stage)
        .select("lineage_bucket")
        .distinct()
    )


def pending(df: DataFrame, spark: SparkSession, audit_path: str, stage: str) -> DataFrame:
    """Resume predicate: keep only rows whose bucket has no audit row.

    The done buckets (at most ``N_LINEAGE_BUCKETS`` ids) are collected
    and enter the plan as one literal ``NOT lineage_bucket IN (...)``.
    Catalyst pushes that filter through the langid Python stage to just
    above the source, so a resumed run neither detects the language of
    nor scores a done bucket's rows; a join against the audit table
    sits above both and would not."""
    done = [r[0] for r in completed_buckets(spark, audit_path, stage).collect()]
    return df.filter(~F.col("lineage_bucket").isin(done)) if done else df


def write_stage(
    scored: DataFrame,
    spark: SparkSession,
    out_path: str,
    audit_path: str,
    stage: str,
    metrics: DataFrame | None = None,
) -> int:
    """Write stage output partitioned by lineage bucket, then append
    the audit rows for the buckets written; returns the number of rows
    written (0 == nothing written, and then no audit rows either).

    The data write observes itself: a ``pyspark.sql.Observation`` on
    the written rows yields their count and the set of buckets they
    fall in, so ``scored`` is computed exactly once, with no persist
    and no separate count pass. The default audit payload is
    :func:`~textcleaning_spark.plans.pipeline.metrics_table` over just
    those buckets, read back from ``out_path`` with ``lineage_bucket IN
    (...)``: a partition-pruned columnar read that runs no Python stage.
    ``metrics`` overrides that payload with a frame the caller already
    holds (perfbench's timed crawl pass passes one, over its persisted
    input); it must have the same per-(bucket, lang) shape.

    Layout: rows are hash-clustered by ``lineage_bucket`` before the
    write (Iceberg's default ``write.distribution-mode=hash``), so each
    bucket is written by exactly one task: ONE data file per bucket per
    pass, not one per (input task, bucket). Per-file cost, not bytes,
    sets the local write time: without libhadoop, Hadoop's local file
    system forks ``chmod`` for every file it creates. The task
    count is explicit, ``min(defaultParallelism, N_LINEAGE_BUCKETS)``:
    AQE coalesces a key-only repartition of this small shuffle into ONE
    task that creates every file serially, and leaves an explicit count
    alone, so all cores write. Write parallelism per pass is therefore
    at most the bucket count, which is also the resume unit. Row order
    inside a file is not part of the contract.

    The format is :func:`storage_format`'s — ``iceberg`` when the
    runtime jar is present, else ``parquet``. Both legs use dynamic
    partition overwrite so only the buckets present in THIS write are
    replaced; the audit append happens AFTER the data write commits, so
    a crash between the two re-runs the bucket (at-least-once,
    idempotent because the data write is per-bucket overwrite)."""
    fmt = storage_format(spark)
    n_tasks = min(spark.sparkContext.defaultParallelism, N_LINEAGE_BUCKETS)
    written = Observation()
    (
        scored.repartition(n_tasks, "lineage_bucket")
        .observe(
            written,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set("lineage_bucket").alias("buckets"),
        )
        .write.format(fmt).mode("overwrite")
        # only replace the buckets present in THIS write — completed
        # buckets from previous (partial) runs stay untouched
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lineage_bucket")
        .save(out_path)
    )
    seen = written.get
    if seen["rows"] == 0:
        return 0
    if metrics is None:
        metrics = metrics_table(
            spark.read.format(fmt)
            .load(out_path)
            .filter(F.col("lineage_bucket").isin(seen["buckets"]))
        )
    audit_rows = metrics.withColumn("stage", F.lit(stage)).withColumn(
        "completed_at", F.current_timestamp()
    )
    audit_rows.write.format(fmt).mode("append").save(audit_path)
    return seen["rows"]


def run_resumable(
    df_pages_scored: DataFrame,
    spark: SparkSession,
    out_path: str,
    audit_path: str,
    stage: str = STAGE,
) -> int:
    """Process only pending buckets; returns how many rows were newly
    processed (0 == nothing to do, fully resumed). One pass: the count
    is :func:`write_stage`'s observed row count, and the audit rows are
    its default ``metrics_table`` payload."""
    todo = pending(df_pages_scored, spark, audit_path, stage)
    return write_stage(todo, spark, out_path, audit_path, stage)
