"""Corpus-statistics operators (SURVEY.md §2.4 A4-A13, §2.5 W1-W2, §2.6 O3).

The reference computes TF/DF/IDF with an incremental Python dict scan
(text_process_v5.py:79-95, sna_analysis.py:69-116) because the dense
term-document matrix was O(N·V) ("매우 느릴듯", test.py:96-105). In
Spark the same statistics are ONE explode + hash aggregation with
automatic partial (map-side) combine — the shuffle moves only
(word, partial-count) pairs, never the corpus, so this scales linearly
to 10^12 documents.

Scale notes (100 TB design point):
* ``explode`` multiplies rows ~doc_len×, but stays pipeline-local (no
  shuffle) until the groupBy; partial aggregation collapses each
  partition to its vocabulary before shuffling.
* Vocabulary-sized outputs (≤ ~10^8 rows) are fine to shuffle on
  ``word``; a global window rank over vocabulary uses a range
  repartition, not a single partition.
* ``doc_count`` is computed once and folded in as a literal via
  crossJoin of a 1-row aggregate (scalar subquery), not collected per
  executor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from textcleaning_spark.functions.text import tokens


def explode_tokens(
    df: DataFrame,
    doc_col: str,
    text_col: str,
    word_alias: str = "word",
    upper: bool = False,
) -> DataFrame:
    """One row per (doc, token) — F13; the entry to every corpus stat.

    All input columns are preserved alongside the exploded ``word``.
    ``upper=True`` reproduces sna_analysis.py:74's upper-cased tokens.
    """
    w = F.explode(tokens(text_col)).alias(word_alias)
    out = df.select("*", w).drop(text_col)
    if upper:
        out = out.withColumn(word_alias, F.upper(F.col(word_alias)))
    return out


def tf_df(df_tokens: DataFrame, doc_col: str = "doc_id", word_col: str = "word") -> DataFrame:
    """Term frequency + document frequency in one aggregation (A6).

    The reference needs two full corpus passes with checkpointed dicts
    (sna_analysis.py:58-116); here it's a single shuffle on ``word``:
    tf = count(*), df = count(DISTINCT doc). The distinct count is
    per-word exact.
    """
    return df_tokens.groupBy(word_col).agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct(F.col(doc_col)).alias("df"),
    )


def average_rank(df: DataFrame, value_col: str, out_col: str = "idf_rank") -> Column | DataFrame:
    """pandas-style *average* rank over the whole table (W2).

    ``Series.rank()`` default assigns tied values the MEAN of their
    ordinal ranks (text_process_v5.py:157). SQL ``rank()`` gives the
    MIN. avg = min_rank + (ties - 1) / 2, with ties counted per value.
    SURVEY.md §7.4 risk 2: this must match exactly or keep/drop labels
    drift at rank boundaries.

    Scale shape: a naive global ``rank()`` window funnels the WHOLE
    table through one partition. Instead: aggregate counts per distinct
    value (parallel shuffle), run the tiny cumulative window over the
    |distinct values| rows only (for idf that's |distinct df counts| —
    thousands, not the full vocabulary), and broadcast-join the rank
    back. avg_rank(v) = #strictly-smaller + (ties + 1)/2 — identical
    doubles to the window form (integer counts, exact halves).

    PRECONDITION: ``value_col`` must be non-null. The rank-back join is
    an inner equi-join, so a NULL value would silently drop its row
    (the old window form kept NULLs, ordered first). idf — the only
    engine caller — is never null (log of a count ratio); generic
    callers with nullable values must filter or impute first.
    """
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__n"))
    w_before = Window.orderBy(F.col(value_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = counts.select(
        value_col,
        (
            F.coalesce(F.sum("__n").over(w_before), F.lit(0)).cast("double")
            + (F.col("__n") + 1).cast("double") / F.lit(2.0)
        ).alias(out_col),
    )
    return df.join(F.broadcast(ranked), value_col)


def average_rank_sql(value_col: str, out_col: str = "idf_rank") -> str:
    """DuckDB oracle fragment for :func:`average_rank` (SELECT-list item)."""
    return (
        f"rank() OVER (ORDER BY {value_col})::DOUBLE"
        f" + (count(*) OVER (PARTITION BY {value_col}) - 1)::DOUBLE / 2.0"
        f" AS {out_col}"
    )


def quantile_cutoff(df: DataFrame, value_col: str, q: float, alpha: float) -> DataFrame:
    """1-row DataFrame with the reference's stop-word cutoff (A11):
    exact linear-interpolated percentile(q) × alpha
    (sna_analysis.py:174-184). Uses exact ``percentile`` (not approx):
    the result feeds a keep/drop contract at F1≥0.99."""
    return df.agg(
        (F.expr(f"percentile({value_col}, {q})") * F.lit(alpha)).alias("cutoff")
    )


def vocabulary(
    word_stats: DataFrame,
    top_n: int = 50_000,
    min_freq: int = 3,
    freq_col: str = "tf",
    word_col: str = "word",
) -> DataFrame:
    """Top-k vocabulary with rank ids (O3; sna_analysis.py:119-143).

    Deterministic tie-break (freq desc, word asc) so results are stable
    across engines and partitionings. Spark plans this as
    TakeOrderedAndProject — a per-partition top-k then a k-merge, no
    full global sort.
    """
    ranked = (
        word_stats.filter(F.col(freq_col) >= F.lit(min_freq))
        .orderBy(F.col(freq_col).desc(), F.col(word_col).asc())
        .limit(top_n)
    )
    w = Window.orderBy(F.col(freq_col).desc(), F.col(word_col).asc())
    return ranked.withColumn("rank_id", F.row_number().over(w).cast("bigint"))


def major_tag(
    df_word_tag: DataFrame, word_col: str = "word", tag_col: str = "tag"
) -> DataFrame:
    """Argmax tag per word (A8/W1; text_process_v5.py:98-119).

    groupBy(word, tag).count → row_number over (word / count desc) →
    keep rn==1. Tie-break on tag asc for determinism (the reference
    relies on pandas stable-sort order, which is unspecified across
    engines). ``max_by`` would also work; row_number keeps the n-best
    generalization available.
    """
    counted = df_word_tag.groupBy(word_col, tag_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(word_col).orderBy(
        F.col("cnt").desc(), F.col(tag_col).asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(word_col), F.col(tag_col).alias("major_pos"), F.col("cnt"))
    )


def descriptive_stats(df: DataFrame, value_col: str, ndigits: int = 4) -> DataFrame:
    """min/max/mean/quantile(.25)/median/sum over a column (A10;
    test.py:44-57 golden stats)."""
    c = F.col(value_col)
    return df.agg(
        F.round(F.min(c), ndigits).alias("min_v"),
        F.round(F.max(c), ndigits).alias("max_v"),
        F.round(F.avg(c), ndigits).alias("mean_v"),
        F.round(F.expr(f"percentile({value_col}, 0.25)"), ndigits).alias("q25_v"),
        F.round(F.expr(f"percentile({value_col}, 0.5)"), ndigits).alias("median_v"),
        F.round(F.sum(c), ndigits).alias("sum_v"),
        F.count(F.lit(1)).alias("n_v"),
    )
