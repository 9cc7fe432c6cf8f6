"""Skew guards that run in the package: the PPJoin candidate stage
(rare-first prefixes keep a shingle every document shares out of every
prefix) and the co-occurrence hot-key cap.

Each guard is differential-tested against its naive twin on an
adversarial corpus: the guarded form must be value-equal to the naive
one, and its candidate space must stay bounded where the naive join
blows up.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())








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
