"""Document-level quality scoring + keep/drop verdict.

This is the engine's flagship stage: the reference's word-level
keep/drop machinery (idf_rank >= K ∧ major_pos ∈ pass set,
text_process_v5.py:164-169) generalized to Gopher/C4-style document
filtering, entirely with native expressions (no Python in the hot
path) so the whole stage is whole-stage-codegen'd and pushdown-able.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textcleaning_spark.config import QualityConfig
from textcleaning_spark.functions import text as T


def score_documents(
    df: DataFrame, text_col: str = "text", cfg: QualityConfig | None = None
) -> DataFrame:
    """Append per-document quality signals and the ``keep`` verdict.

    Performance-critical shape: ``tokens``/``lines`` are materialized
    ONCE into intermediate columns and every signal derives from them;
    ``keep`` derives from the signal columns. Catalyst does NOT inline
    a non-cheap expression used more than once (CollapseProject), so
    the text is split exactly once per row — measured ~5× faster than
    the naive re-derive-per-signal tree, and the whole stage stays one
    shuffle-free codegen'd project.
    """
    cfg = cfg or QualityConfig()
    c = text_col

    # __toks/__lines each materialized ONCE as a column — an expression
    # reused inside several signals would be BUILT duplicated (measured
    # 10× slower on the 200k-doc pipeline bench, round 2)
    toked = df.withColumn("__toks", T.tokens(c)).withColumn("__lines", T.lines(c))
    # Second materialization layer: every EXPENSIVE per-row count
    # (array scans, array_distinct, per-token regex) becomes a column,
    # evaluated exactly once. Each ratio below is needed twice — the
    # rounded published signal AND the unrounded keep verdict — and a
    # bare count expression would be built (and executed) once per use;
    # array_distinct twice per row measurably hurts 8→32-core scaling
    # (allocation/GC pressure grows faster than cores).
    counts = (
        toked.withColumn("__nw", F.size(F.col("__toks")).cast("bigint"))
        .withColumn("__nchars", T.char_count_no_spaces(c))
        .withColumn("__nlines", F.size(F.col("__lines")))
        .withColumn("__syms", T.substr_count(c, "#") + T.substr_count(c, "..."))
        .withColumn(
            "__stop",
            F.size(F.filter(F.col("__toks"), T.is_stop_word)).cast("bigint"),
        )
        # \p{L} (any Unicode letter) — [A-Za-z] would drop every clean
        # Hangul/Han document as "non-alpha"; identical semantics in
        # Java regex (here) and RE2 (DuckDB oracle)
        .withColumn(
            "__alpha",
            F.size(F.filter(F.col("__toks"), lambda x: x.rlike(r"\p{L}"))),
        )
        .withColumn("__ngrams", F.greatest(F.col("__nw") - 1, F.lit(0)))
        .withColumn(
            "__ndupg", F.size(F.array_distinct(T.word_2grams(F.col("__toks"))))
        )
        .withColumn("__nduplines", F.size(F.array_distinct(F.col("__lines"))))
        .withColumn(
            "__nell",
            F.size(F.filter(F.col("__lines"), lambda x: x.endswith("..."))),
        )
    )
    nw = F.col("__nw")
    n_lines = F.col("__nlines")
    n_grams = F.col("__ngrams")

    def per_word(count: Column) -> Column:
        return F.when(nw > 0, count.cast("double") / nw)

    def per_item(n: Column, count: Column) -> Column:
        return F.when(n > 0, count.cast("double") / n).otherwise(F.lit(0.0))

    # unrounded signals by config.QUALITY_RULES name, in published
    # column order
    signals = {
        "n_words": nw,
        "mean_word_len": per_word(F.col("__nchars")),
        "stop_word_count": F.col("__stop"),
        "symbol_ratio": per_word(F.col("__syms")),
        "alpha_word_frac": per_word(F.col("__alpha")),
        "dup_line_frac": per_item(n_lines, n_lines - F.col("__nduplines")),
        "dup_ngram_frac": per_item(n_grams, n_grams - F.col("__ndupg")),
        "ellipsis_line_frac": per_item(n_lines, F.col("__nell")),
    }
    scored = counts
    for name, sig in signals.items():
        scored = scored.withColumn(
            name, sig if name in T.COUNT_SIGNALS else F.round(sig, 6)
        )
    # verdict from UNROUNDED ratios (cheap divisions over the already-
    # computed counts) so boundary cases match the golden labels exactly
    checks = []
    for _, signal, lo, hi in cfg.rules():
        if lo is not None:
            checks.append(signals[signal] >= lo)
        if hi is not None:
            checks.append(signals[signal] <= hi)
    keep = reduce(operator.and_, checks)
    return scored.withColumn("keep", keep).drop(
        "__toks", "__lines", "__nw", "__nchars", "__nlines",
        "__syms", "__stop", "__alpha", "__ngrams", "__ndupg",
        "__nduplines", "__nell",
    )


def drop_reasons(df_scored: DataFrame, cfg: QualityConfig | None = None) -> DataFrame:
    """Append ``drop_reasons: array<string>`` naming every failed rule —
    the audit/metrics payload (north_rule per-partition rule-hit
    metrics are aggregations over this column)."""
    cfg = cfg or QualityConfig()
    failed = []
    for reason, signal, lo, hi in cfg.rules():
        outside = []
        if lo is not None:
            outside.append(F.col(signal) < lo)
        if hi is not None:
            outside.append(F.col(signal) > hi)
        failed.append(F.when(reduce(operator.or_, outside), F.lit(reason)))
    reasons = F.array_compact(F.array(*failed))
    return df_scored.withColumn("drop_reasons", reasons)
