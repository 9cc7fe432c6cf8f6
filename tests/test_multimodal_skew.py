"""Skew helper semantics on the real ``documents`` table, plus the
length-bucket mapping. tests/test_skew.py covers the same helpers on
synthetic skewed inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from textcleaning_spark.operators.skew import (
    length_bucket,
    repartition_by_length,
    salted_group_count,
    salted_join_small_right,
)
from textcleaning_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE


def test_length_bucket_monotone(spark):
    df = spark.createDataFrame(
        [(0,), (999,), (1000,), (99_999,), (100_000,), (5_000_000,)], ["n"]
    )
    got = [r[0] for r in df.select(length_bucket("n")).collect()]
    assert got == [0, 0, 1, 2, 3, 4]


def test_repartition_by_length_preserves_rows(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    out = repartition_by_length(docs, "n_chars", 8)
    assert out.count() == docs.count()
    assert out.rdd.getNumPartitions() == 8


def test_salted_group_count_matches_plain(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    plain = {
        (r["lang"],): r["cnt"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    salted = {
        (r["lang"],): r["cnt"] for r in salted_group_count(docs, ["lang"]).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    dims = spark.createDataFrame(
        [("en", "latin"), ("de", "latin"), ("fr", "latin"), ("es", "latin"), ("zh", "cjk")],
        ["lang", "script"],
    )
    plain = docs.join(dims, "lang").count()
    salted = salted_join_small_right(docs, dims, "lang").count()
    assert salted == plain
