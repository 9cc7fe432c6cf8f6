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
from tests.conftest import no_data_batches_off


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


def test_near_dup_stream_flags_band_collisions(spark, tmp_path):
    """Streaming MinHash-LSH near-dup: exact-duplicate texts (Jaccard
    1.0 — the band ALWAYS collides) written across two micro-batch
    files collapse onto one first-seen id per bucket; distinct texts
    are their buckets' own firsts. State stores ids only."""
    from textcleaning_spark.streaming.stateful import near_dup_stream

    src = str(tmp_path / "src")
    pages = generate_pages(spark, 40, seed=17, partitions=2)
    pages.write.parquet(src)
    # recrawl the same texts under new urls: every recrawl must land in
    # its original's bucket and be flagged with the original's url
    recrawl = pages.selectExpr(
        "concat('http://recrawl/', url) AS url",
        "warc_ts + INTERVAL 1 DAY AS warc_ts",
        "html", "text", "lang",
    )
    recrawl.write.mode("append").parquet(src)

    flagged = near_dup_stream(read_pages_stream(spark, src))
    with no_data_batches_off(spark):
        q = (
            flagged.writeStream.format("memory")
            .queryName("neardupstream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM neardupstream").collect()
    n_texts = pages.select("text").distinct().count()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(rows) == pages.count() + pages.count()  # every page emitted once
    # one first per bucket; every non-first points at its bucket's first
    firsts = [r for r in rows if r["is_first"] == 1]
    assert len({r["band_key"] for r in firsts}) == len(firsts)
    # identical texts ALWAYS share a band, so buckets <= distinct texts;
    # a few distinct-text collisions are correct LSH behavior on this
    # deliberately dense corpus (median pairwise Jaccard 0.68), but a
    # collapse into a handful of buckets would mean a broken band key
    assert n_texts // 2 < len(firsts) <= n_texts
    for r in rows:
        if r["is_first"] == 0:
            assert by_id[r["first_id"]]["is_first"] == 1
            assert by_id[r["first_id"]]["band_key"] == r["band_key"]
    # every recrawled url is a non-first (its original arrived first or
    # same-batch-earlier by (ts, id) order ... originals have day-earlier ts)
    recrawl_rows = [r for r in rows if r["doc_id"].startswith("http://recrawl/")]
    assert recrawl_rows and all(r["is_first"] == 0 for r in recrawl_rows)
