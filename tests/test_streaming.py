"""Structured Streaming: availableNow drain with checkpoint resume and
watermarked windowed aggregation."""

from __future__ import annotations

from textcleaning_spark.plans.pipeline import run_quality_pipeline
from textcleaning_spark.sources.pages import generate_pages
from textcleaning_spark.streaming.stream import (
    dedup_stream,
    read_pages_stream,
    run_quality_stream_once,
    windowed_lang_counts,
)


def test_stream_matches_batch(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / p) for p in ("src", "out", "ckpt"))
    pages = generate_pages(spark, 120, seed=21, partitions=4)
    pages.write.parquet(src)

    run_quality_stream_once(spark, src, out, ckpt)
    got = spark.read.parquet(out)
    want = run_quality_pipeline(spark.read.parquet(src))
    assert got.count() == 120
    assert int(got.filter("keep").count()) == int(want.filter("keep").count())

    # append more files: checkpoint resumes, only the delta is processed
    generate_pages(spark, 40, seed=22, partitions=2).write.mode("append").parquet(src)
    run_quality_stream_once(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 160


def test_windowed_lang_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    generate_pages(spark, 100, seed=23, partitions=4).write.parquet(src)
    stream = read_pages_stream(spark, src)
    agg = windowed_lang_counts(stream, window="30 days", watermark="1 day")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT sum(n_docs) AS n FROM wincounts").collect()[0]["n"]
    # complete mode emits every window incl. the one the watermark has
    # not closed yet (append mode would hold back the last window)
    assert out == 100


def test_dedup_stream_first_seen_wins(spark, tmp_path):
    """Streaming exact dedup: the same corpus written twice into the
    source dedups to one copy per distinct text (duplicates share the
    same event time, so they are inside every watermark window);
    watermark state keys are hashes, never text."""
    src = str(tmp_path / "src")
    pages = generate_pages(spark, 60, seed=31, partitions=2)
    pages.write.parquet(src)
    pages.write.mode("append").parquet(src)

    n_distinct = pages.select("text").distinct().count()
    deduped = dedup_stream(read_pages_stream(spark, src))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedupstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT text) AS nd FROM dedupstream"
    ).collect()[0]
    assert got["n"] == got["nd"] == n_distinct
