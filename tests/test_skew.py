"""Skew-handling helpers (operators/skew.py): the north_rule names
salted repartitioning + length-bucketed partitions for giant documents
explicitly, so these are behavior-tested, not just shipped.

The differential assertions matter: each salted form must be
value-equal to its naive twin (salting must never change results),
and the length-bucket repartition must actually SPREAD the giants
(the naive bucket-only repartition provably does not — that is the
failure mode it exists to fix). The last four tests run the same
helpers on the real ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from textcleaning_spark.operators.skew import (
    DEFAULT_LENGTH_BOUNDS,
    length_bucket,
    repartition_by_length,
    salted_group_count,
    salted_join_small_right,
)
from textcleaning_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_length_bucket_boundaries(spark):
    vals = [0, 999, 1_000, 9_999, 10_000, 99_999, 100_000, 1_000_000, 5_000_000]
    df = spark.createDataFrame([(v,) for v in vals], "n_bytes: long")
    got = [
        r.b
        for r in df.select(length_bucket("n_bytes").alias("b"))
        .orderBy("n_bytes")
        .collect()
    ]
    # number of bounds <= value: 0=tiny ... 4=giant
    assert got == [0, 0, 1, 1, 2, 2, 3, 4, 4]
    assert len(DEFAULT_LENGTH_BOUNDS) == 4


def test_repartition_by_length_spreads_giants(spark):
    """8 giant docs + 200 tiny docs, all in ONE input partition. A
    bucket-only repartition sends every giant to the same partition
    (identical hash key — the straggler); the salted form spreads
    them while preserving every row."""
    rows = [(f"t{i}", 100) for i in range(200)] + [
        (f"g{i}", 2_000_000) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc: string, n_bytes: long").coalesce(1)

    naive = df.repartition(8, length_bucket("n_bytes"))
    naive_giants = (
        naive.withColumn("pid", F.spark_partition_id())
        .filter(F.col("n_bytes") > 1_000_000)
        .select("pid")
        .distinct()
        .count()
    )
    assert naive_giants == 1  # the failure mode: one straggler partition

    out = repartition_by_length(df, "n_bytes", 8)
    assert _sorted_rows(out) == _sorted_rows(df)  # pure repartition
    assert out.rdd.getNumPartitions() == 8
    salted_giants = (
        out.withColumn("pid", F.spark_partition_id())
        .filter(F.col("n_bytes") > 1_000_000)
        .select("pid")
        .distinct()
        .count()
    )
    assert salted_giants >= 3, (
        f"giants landed in only {salted_giants} partition(s)"
    )


def test_salted_group_count_equals_plain(spark):
    """Two-phase salted count must equal the plain groupBy count on a
    hot-key distribution (one key holds 90% of rows)."""
    rows = [("hot",)] * 900 + [(f"k{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "k: string")
    got = salted_group_count(df, ["k"], salt_mod=16)
    want = df.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    assert _sorted_rows(got) == _sorted_rows(want)
    # the salted form really is two aggregation phases on distinct keys
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4  # (partial+final) x 2 phases


def _shingle_sets(df):
    """(doc, toks) frame of distinct word-3-gram shingles, the same
    set encoding shingle_near_dup feeds to ppjoin_pairs."""
    toks = F.split("text", " ")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(3))),
        )
    )
    return df.select("doc", sh.alias("toks"))


def test_ppjoin_hot_shingle_bounded_candidates(spark):
    """Adversarial corpus for the dedup_keep_verdict candidate stage:
    every doc shares one boilerplate sentence (3 shingles with df=N);
    the rest of each doc is unique. The naive shared-shingle self-join
    pays C(N,2) pairs PER hot shingle — O(k²) in a single key at crawl
    scale. The PPJoin prefix order (df asc, shingle asc) sorts the hot
    shingles LAST in every doc, so they never enter a prefix: the
    candidate space is exactly empty, and the exact operator output is
    too (no pair reaches Jaccard 0.5)."""
    from decimal import Decimal

    from textcleaning_spark.operators.dedup import (
        _ppjoin_candidates,
        ppjoin_pairs,
    )

    n = 120
    rows = [
        (i, f"subscribe to our newsletter today u{i} v{i} w{i} x{i} y{i} z{i}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc: long, text: string")
    sets = _shingle_sets(df).withColumn("sz", F.size("toks"))

    exploded = sets.select("doc", F.explode("toks").alias("s"))
    naive_pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .count()
    )
    assert naive_pairs >= 3 * n * (n - 1) // 2  # the blowup being avoided

    cand = _ppjoin_candidates(sets, F.lit(Decimal("0.5")))
    assert cand.count() == 0
    assert ppjoin_pairs(_shingle_sets(df), "doc", "toks", 0.5).count() == 0


def test_ppjoin_shingle_pairs_equal_naive(spark):
    """ppjoin_pairs must be value-equal to the naive shared-shingle
    form on a corpus WITH true near-dups (pairs at and around the
    threshold, plus unrelated docs)."""
    from textcleaning_spark.operators.dedup import ppjoin_pairs

    base = "the quick brown fox jumps over the lazy dog near the old mill"
    rows = [
        (0, base),
        (1, base),                                        # exact dup
        (2, base + " tonight"),                           # near dup
        (3, "the quick brown fox sleeps under a warm sun by the river"),
        (4, "completely different words in this document body here now"),
        (5, "another unrelated page about spark shuffle partitions"),
    ] + [(10 + i, f"filler doc {i} with its own tokens a{i} b{i} c{i} d{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc: long, text: string")
    sets = _shingle_sets(df)

    got = _sorted_rows(ppjoin_pairs(sets, "doc", "toks", 0.5))

    sized = sets.withColumn("sz", F.size("toks"))
    ex = sized.select("doc", "sz", F.explode("toks").alias("s"))
    common = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("common")
    )
    want = _sorted_rows(
        common.filter(jac >= 0.5).select(
            "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
        )
    )
    assert got == want
    assert len(want) >= 2  # the corpus really contains near-dup pairs


def test_ppjoin_rs_equals_naive_cross_pairs(spark):
    """ppjoin_pairs_rs must return exactly the cross-corpus pairs the
    naive shared-shingle join finds (never left×left or right×right),
    and its candidate space must stay empty under a boilerplate
    shingle shared by EVERY doc on both sides."""
    from textcleaning_spark.operators.dedup import ppjoin_pairs_rs

    base = "the quick brown fox jumps over the lazy dog near the old mill"
    left_rows = [
        (101, base),                          # near-dups 0 and 2 on the right
        (103, base + " tonight and tomorrow"),
        (105, "completely different snapshot content body here now indeed"),
    ]
    right_rows = [
        (0, base),
        (2, base + " tonight"),
        (4, "unrelated corpus page about spark shuffle partitions today"),
        # same text as LEFT 105: a left-left/right-right leak would
        # surface as a (105, 105)-style pair — there is no such id pair,
        # but an identical-text pair across sides must be found
        (6, "completely different snapshot content body here now indeed"),
    ]
    left = _shingle_sets(
        spark.createDataFrame(left_rows, "doc: long, text: string")
    )
    right = _shingle_sets(
        spark.createDataFrame(right_rows, "doc: long, text: string")
    )
    got = _sorted_rows(ppjoin_pairs_rs(left, right, "doc", "toks", 0.5))

    lx = left.select(F.col("doc").alias("dl"), F.explode("toks").alias("s"))
    lsz = left.select(F.col("doc").alias("dl"), F.size("toks").alias("szl"))
    rx = right.select(F.col("doc").alias("dr"), F.explode("toks").alias("s"))
    rsz = right.select(F.col("doc").alias("dr"), F.size("toks").alias("szr"))
    common = (
        lx.join(rx, "s").groupBy("dl", "dr").agg(F.count(F.lit(1)).alias("c"))
        .join(lsz, "dl").join(rsz, "dr")
    )
    jac = F.col("c").cast("double") / (F.col("szl") + F.col("szr") - F.col("c"))
    want = _sorted_rows(
        common.filter(jac >= 0.5).select(
            F.col("dl").alias("doc_l"),
            F.col("dr").alias("doc_r"),
            F.round(jac, 6).alias("jaccard"),
        )
    )
    assert got == want
    assert len(want) >= 3  # (101,0), (101,2)/(103,...), (105,6)
    # exact cross-side copy found with jaccard 1.0
    assert any(r[0] == 105 and r[1] == 6 and r[2] == 1.0 for r in got)

    # hot shingle on BOTH sides, otherwise disjoint → zero pairs, and
    # the df-asc prefix order keeps the hot shingles out of every prefix
    n = 60
    hot_l = _shingle_sets(spark.createDataFrame(
        [(100 + i, f"subscribe to our newsletter today l{i} m{i} n{i} o{i} p{i} q{i}") for i in range(n)],
        "doc: long, text: string",
    ))
    hot_r = _shingle_sets(spark.createDataFrame(
        [(i, f"subscribe to our newsletter today r{i} s{i} t{i} u{i} v{i} w{i}") for i in range(n)],
        "doc: long, text: string",
    ))
    assert ppjoin_pairs_rs(hot_l, hot_r, "doc", "toks", 0.5).count() == 0


def test_cooccurrence_hot_key_guard_default_on(spark):
    """One word shared by EVERY actor is the co-occurrence blowup: the
    self-join pays k·(k-1) pairs for that single (ts, word) key. The
    default-on cap drops over-cap keys (function words the IDF cutoff
    kills anyway) before the join; below-cap keys are untouched, so a
    corpus with no hot keys is value-identical with and without the
    guard."""
    from textcleaning_spark.operators.cooccurrence import (
        actor_word_weights,
        cooccurrence_edges,
    )

    n = 60
    rows = [
        (2024, f"actor{i}", f"d{i}", f"the unique{i} brand{i % 7}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "ts: long, actor: string, doc: string, text: string")
    w = actor_word_weights(df, "ts", "actor", "text", "doc")

    uncapped = cooccurrence_edges(w, max_actors_per_key=None)
    capped = cooccurrence_edges(w, max_actors_per_key=10)
    # 'the' (df=60) alone contributes 60·59 = 3540 directed pair rows
    assert uncapped.count() >= n * (n - 1)
    # capped: only the brand{0..6} groups (~9 actors each, < cap) pair up
    got = _sorted_rows(capped)
    brands_only = cooccurrence_edges(
        w.filter(F.col("word").startswith("brand")), max_actors_per_key=None
    )
    assert got == _sorted_rows(brands_only)
    assert 0 < len(got) < n * (n - 1)

    # default (config cap 10_000) fires nowhere on this corpus
    assert _sorted_rows(cooccurrence_edges(w)) == _sorted_rows(uncapped)


def test_salted_join_small_right_equals_plain(spark):
    """Salt-replicated join must be value-equal to the plain inner
    join: hot big-side keys, duplicate small-side keys, and unmatched
    rows on both sides."""
    big_rows = [("hot", i) for i in range(500)] + [
        (f"k{i}", i) for i in range(50)
    ] + [("nomatch_big", 1)]
    small_rows = [("hot", "H"), ("k1", "A"), ("k1", "B"), ("nomatch_small", "Z")]
    big = spark.createDataFrame(big_rows, "k: string, v: long")
    small = spark.createDataFrame(small_rows, "k: string, tag: string")
    got = salted_join_small_right(big, small, "k", salt_mod=8)
    want = big.join(small, "k")
    assert got.columns == want.columns
    assert _sorted_rows(got) == _sorted_rows(want)


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
