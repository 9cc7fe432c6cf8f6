"""Bloom-prefilter + Count-Min behavior beyond the oracle equality:
real selectivity, no false negatives, the CMS ≥-exact guarantee on the
WHOLE vocabulary (the oracle query only gates the top-k)."""

from __future__ import annotations

from pyspark.sql import functions as F

from textcleaning_spark import queries as Q
from textcleaning_spark.functions import text as T
from textcleaning_spark.queries.dedup import (
    _SPAN_W,
    _bloom_bitmap_lit,
    _bloom_bits,
    _bloom_might_contain,
    _bloom_positions,
    _doc_word_spans,
)
from textcleaning_spark.sources.registry import load_table

SF = "/root/testdata/sf0.01"


def _bitmap_col(spark, ev, bits):
    pos = (
        ev.select(
            F.explode(F.array(*_bloom_positions(F.col("span"), bits))).alias("p")
        )
        .distinct()
        .toPandas()["p"]
    )
    words = [0] * (bits // 64)
    for p in pos:
        p = int(p)
        words[p >> 6] |= 1 << (p & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return _bloom_bitmap_lit(signed)


def test_bloom_no_false_negatives_and_selective(spark):
    docs = load_table(spark, SF, "documents")
    sp = _doc_word_spans(docs, _SPAN_W).localCheckpoint()
    ev = sp.filter(F.col("doc_id") % 7 == 0).select("span").distinct().localCheckpoint()
    bits = _bloom_bits(ev.count())
    bitmap = _bitmap_col(spark, ev, bits)
    train = sp.filter(F.col("doc_id") % 7 != 0)
    n_train = train.count()
    survivors = train.withColumn("__bm", bitmap).filter(
        _bloom_might_contain(F.col("span"), F.col("__bm"), bits)
    ).localCheckpoint()
    n_surv = survivors.count()
    true_hits = train.join(ev, "span", "left_semi").count()
    # no false negatives: every true hit survives the prefilter
    assert survivors.join(ev, "span", "left_semi").count() == true_hits
    # real selectivity: survivors ≈ true hits + fpp·train (fpp ≪ 1%)
    assert n_surv >= true_hits
    assert n_surv - true_hits <= max(10, n_train // 100), (n_surv, true_hits, n_train)


def test_bloom_query_equals_exact_query(spark):
    qs = Q.queries()
    exact = {
        r["doc_id"]: (r["n_spans"], r["n_eval_hits"], r["overlap"])
        for r in qs["benchmark_decontam"](spark, SF).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_spans"], r["n_eval_hits"], r["overlap"])
        for r in qs["decontam_bloom_prefilter"](spark, SF).collect()
    }
    assert exact == bloom and exact


def test_cms_guarantee_whole_vocab(spark):
    """est(word) ≥ exact(word) for EVERY word, not just the audited
    top-k — the structural CMS property the gate relies on."""
    from textcleaning_spark.queries.audits import _CMS_SEEDS

    docs = load_table(spark, SF, "documents").select("text")
    wc = (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint()
    )
    seeds = F.explode(F.array(*[F.lit(s) for s in _CMS_SEEDS])).alias("seed")
    bucket = F.substring(
        F.md5(F.concat(F.col("seed"), F.lit(":"), F.col("word"))), 1, 2
    )
    cms = (
        wc.select("word", "cnt", seeds)
        .select("cnt", "seed", bucket.alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("c"))
    )
    est = (
        wc.select("word", "cnt", seeds)
        .withColumn("bucket", bucket)
        .join(cms, ["seed", "bucket"])
        .groupBy("word", "cnt")
        .agg(F.min("c").alias("est"))
    )
    bad = est.filter(F.col("est") < F.col("cnt")).count()
    assert bad == 0
