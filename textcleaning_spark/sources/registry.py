"""Table loaders (SURVEY.md §2.1 S1-S8 re-expressed).

The reference reads Excel sheets (S1), pickles (S6/S7), tab-CSV (S5/S8)
and PostgreSQL (S4). Our engine's canonical source is columnar parquet
(Iceberg-layout-compatible); CSV and JDBC are thin passthroughs to
Spark's native readers, which already do predicate pushdown, column
pruning and partitioned parallel reads — everything the reference's
single-threaded readers could not.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the tables registry entries read; the oracle harness views each in DuckDB
TABLES = ("events", "documents")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (S1). Columnar, pushdown-capable, splittable."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_csv(
    spark: SparkSession, path: str, sep: str = "\t", header: bool = True
) -> DataFrame:
    """Quoted delimited text source (S5; reference utils.py:306-311)."""
    return spark.read.csv(path, sep=sep, header=header, quote='"', inferSchema=True)


def write_csv(df: DataFrame, path: str, sep: str = "\t") -> None:
    """Tab-separated sink (S8; reference text_process.py:269,352-353).

    Note: no ``coalesce(1)`` — at scale the sink stays parallel; readers
    that need one file can concatenate shards.
    """
    df.write.mode("overwrite").option("sep", sep).option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Stage-output sink (S7 checkpoint analogue; Iceberg-layout parquet)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source (S4; reference utils.py:278-295 psycopg2 fetchall).

    Exposed with explicit partitioned-read parameters: a single-stream
    JDBC read is a driver bottleneck at scale, so callers must supply a
    numeric ``partition_column`` + bounds to parallelize.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions or 8)
        )
    return reader.load()
