"""Core text expressions, defined for BOTH engines.

Every helper here has a Spark form (returns a ``Column``) and a SQL form
(returns a DuckDB SQL fragment string). The driver's correctness gate
compares each Spark query against a DuckDB oracle on the same parquet —
generating both sides from one module guarantees identical semantics.

All of these are *native* expressions (whole-stage codegen'd JVM work,
no Python in the hot path) — the reference's row-wise ``Series.apply``
lambdas (text_process.py:259-267) re-expressed as array/higher-order
functions.

Tokenization contract: split on single spaces, drop empty strings.
This is exact and engine-portable (regex splits differ subtly across
engines); the synthetic corpora are single-space delimited, and the
richer NLP tokenizer (functions/nlp.py) handles real punctuation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from textcleaning_spark.config import STOP_WORDS, QualityConfig

# ---------------------------------------------------------------------------
# page bytes → text
# ---------------------------------------------------------------------------


def decode_utf8(col: Column) -> Column:
    """Page bytes → string. Invalid UTF-8 (a cp1252 page, a truncated
    multibyte sequence) becomes U+FFFD, as in :func:`decode_utf8_py`;
    Spark 4's ``decode`` raises instead and would fail the whole job
    for one page. Valid UTF-8 passes unchanged."""
    return F.make_valid_utf8(col.cast("string"))


def decode_utf8_py(page: bytes | str) -> str:
    """Python twin of :func:`decode_utf8`; ``str`` passes through."""
    if isinstance(page, (bytes, bytearray)):
        return page.decode("utf-8", "replace")
    return page


# ---------------------------------------------------------------------------
# tokens
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of ``col`` with empties removed (F2, P7 base)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " ", -1), lambda x: x != F.lit(""))


def tokens_sql(col: str) -> str:
    return f"list_filter(string_split({col}, ' '), x -> x <> '')"


def n_words(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def n_words_sql(col: str) -> str:
    return f"len({tokens_sql(col)})::BIGINT"


# ---------------------------------------------------------------------------
# per-document quality signals (all O(len) native expressions)
# ---------------------------------------------------------------------------


def char_count_no_spaces(col: Column | str) -> Column:
    """Total token characters = length with spaces removed.

    Computed as ``length - count(' ')`` with a native ``regexp_count``
    scan instead of ``length(replace(...))``: the replace form
    materializes a full copy of the document per row. Measured
    2026-08-18 (2M docs, with the other copy removals + the gated
    scrub chain): pipeline reps ~20% faster at 8 cores, ~8% faster
    native-only at 32 (the 32-core leg is DRAM-ceiling-bound, see
    BENCH/BASELINE.md saturation analysis). Value-identical to the
    replace form (the SQL twin keeps it), differential-tested.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.regexp_count(c, F.lit(" "))).cast("bigint")


def char_count_no_spaces_sql(col: str) -> str:
    return f"length(replace({col}, ' ', ''))::BIGINT"


def mean_word_len(col: Column | str) -> Column:
    nw = n_words(col)
    return F.when(nw > 0, char_count_no_spaces(col).cast("double") / nw)


def mean_word_len_sql(col: str) -> str:
    return (
        f"CASE WHEN {n_words_sql(col)} > 0 THEN "
        f"{char_count_no_spaces_sql(col)}::DOUBLE / {n_words_sql(col)} END"
    )


def _stop_words_sql_list() -> str:
    inner = ", ".join(f"'{w}'" for w in STOP_WORDS)
    return f"[{inner}]"


def is_stop_word(tok: Column) -> Column:
    """``lower(tok) IN (STOP_WORDS)``, usable inside higher-order
    function lambdas. Above 10 literals Catalyst's OptimizeIn plans it
    as an ``InSet`` hash probe; ``array_contains`` on a literal array
    would scan all 100 words per token."""
    return F.lower(tok).isin(*STOP_WORDS)


def stop_word_count(col: Column | str) -> Column:
    """Count of tokens (not distinct) that are stop words (P9 signal)."""
    return F.size(F.filter(tokens(col), is_stop_word)).cast("bigint")


def stop_word_count_sql(col: str) -> str:
    return (
        f"len(list_filter({tokens_sql(col)}, "
        f"x -> list_contains({_stop_words_sql_list()}, lower(x))))::BIGINT"
    )


def substr_count(col: Column | str, sub: str) -> Column:
    """Occurrences of literal ``sub`` in ``col`` (F14 semantics).

    Native ``regexp_count`` over a ``\\Q..\\E``-quoted literal — a
    zero-allocation scan, where the ``(length - length(replace))/k``
    form copies the whole document per row (see
    :func:`char_count_no_spaces`). Both count non-overlapping
    left-to-right occurrences, so values are identical (the SQL twin
    keeps the replace form; differential-tested).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("\\Q" + sub + "\\E")).cast("bigint")


def substr_count_sql(col: str, sub: str) -> str:
    q = sub.replace("'", "''")
    return (
        f"((length({col}) - length(replace({col}, '{q}', ''))) / {len(sub)})::BIGINT"
    )


def symbol_to_word_ratio(col: Column | str) -> Column:
    """Gopher rule: (# of '#' chars + '...' occurrences) / n_words."""
    nw = n_words(col)
    syms = substr_count(col, "#") + substr_count(col, "...")
    return F.when(nw > 0, syms.cast("double") / nw).otherwise(F.lit(None))


def symbol_to_word_ratio_sql(col: str) -> str:
    return (
        f"CASE WHEN {n_words_sql(col)} > 0 THEN "
        f"({substr_count_sql(col, '#')} + {substr_count_sql(col, '...')})::DOUBLE "
        f"/ {n_words_sql(col)} END"
    )


def alpha_word_frac(col: Column | str) -> Column:
    """Fraction of tokens containing at least one letter — \\p{L}, any
    Unicode script (ASCII-only [A-Za-z] would flag every clean
    Hangul/Han document as non-alpha). Same class in Java regex and
    DuckDB's RE2."""
    nw = n_words(col)
    alpha = F.size(F.filter(tokens(col), lambda x: x.rlike(r"\p{L}")))
    return F.when(nw > 0, alpha.cast("double") / nw).otherwise(F.lit(None))


def alpha_word_frac_sql(col: str) -> str:
    return (
        f"CASE WHEN {n_words_sql(col)} > 0 THEN "
        f"len(list_filter({tokens_sql(col)}, x -> regexp_matches(x, '\\p{{L}}')))::DOUBLE "
        f"/ {n_words_sql(col)} END"
    )


def lines(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, "\n", -1), lambda x: x != F.lit(""))


def lines_sql(col: str) -> str:
    return f"list_filter(string_split({col}, chr(10)), x -> x <> '')"


def dup_line_frac(col: Column | str) -> Column:
    """Fraction of non-unique lines — boilerplate-repetition rule."""
    ls = lines(col)
    n = F.size(ls)
    return F.when(
        n > 0,
        (n - F.size(F.array_distinct(ls))).cast("double") / n,
    ).otherwise(F.lit(0.0))


def dup_line_frac_sql(col: str) -> str:
    ls = lines_sql(col)
    return (
        f"CASE WHEN len({ls}) > 0 THEN "
        f"(len({ls}) - len(list_distinct({ls})))::DOUBLE / len({ls}) "
        f"ELSE 0.0 END"
    )


def ellipsis_line_frac(col: Column | str) -> Column:
    ls = lines(col)
    n = F.size(ls)
    ell = F.size(F.filter(ls, lambda x: x.endswith("...")))
    return F.when(n > 0, ell.cast("double") / n).otherwise(F.lit(0.0))


def ellipsis_line_frac_sql(col: str) -> str:
    ls = lines_sql(col)
    return (
        f"CASE WHEN len({ls}) > 0 THEN "
        f"len(list_filter({ls}, x -> suffix(x, '...')))::DOUBLE / len({ls}) "
        f"ELSE 0.0 END"
    )


def word_2grams(col: Column | str) -> Column:
    """Adjacent word-pair array (space-joined); empty below 2 tokens —
    the guard also avoids sequence()'s descending default."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(2))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_2gram_pairs(toks: Column) -> Column:
    """Adjacent token pairs as structs — TWO whole-array slices
    (``arrays_zip(toks[:-1], toks[1:])``), not n per-position slices
    with per-pair string building. Tokens cannot contain the space
    joiner (they come from a space split), so pair-struct distinct
    counts are exactly the space-joined 2-gram distinct counts — the
    SQL twin (:func:`dup_ngram_frac_sql`) keeps the string form.
    Measured ~6× on the pipeline's score stage at 200k docs."""
    n = F.size(toks)
    empty = F.arrays_zip(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    )
    return F.when(
        n >= 2, F.arrays_zip(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1))
    ).otherwise(empty)


def dup_ngram_frac(col: Column | str) -> Column:
    """Fraction of non-unique word 2-grams — the Gopher-style
    repetition rule (north_star: 'repetition n-gram ratio'). Catches
    phrase-level boilerplate that line-dedup misses (repeated slogans
    inside one line, templated spans)."""
    grams = word_2grams(col)
    n = F.size(grams)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(grams))).cast("double") / n
    ).otherwise(F.lit(0.0))


def dup_ngram_frac_sql(col: str) -> str:
    toks = tokens_sql(col)
    grams = (
        f"list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1])"
    )
    return (
        f"CASE WHEN len({grams}) > 0 THEN "
        f"(len({grams}) - len(list_distinct({grams})))::DOUBLE / len({grams}) "
        f"ELSE 0.0 END"
    )


# ---------------------------------------------------------------------------
# document keep/drop verdict (Gopher/C4-style; generalizes the reference's
# word-level idf_rank>=K ∧ pos∈pass rule to documents)
# ---------------------------------------------------------------------------


def keep_expr(col: Column | str, cfg: QualityConfig | None = None) -> Column:
    cfg = cfg or QualityConfig()
    nw = n_words(col)
    return (
        (nw >= cfg.min_words)
        & (nw <= cfg.max_words)
        & (mean_word_len(col) >= cfg.min_mean_word_len)
        & (mean_word_len(col) <= cfg.max_mean_word_len)
        & (symbol_to_word_ratio(col) <= cfg.max_symbol_to_word_ratio)
        & (stop_word_count(col) >= cfg.min_stop_word_count)
        & (dup_line_frac(col) <= cfg.max_dup_line_frac)
        & (dup_ngram_frac(col) <= cfg.max_dup_ngram_frac)
        & (alpha_word_frac(col) >= cfg.min_alpha_word_frac)
        & (ellipsis_line_frac(col) <= cfg.max_ellipsis_line_frac)
    )


def keep_expr_sql(col: str, cfg: QualityConfig | None = None) -> str:
    cfg = cfg or QualityConfig()
    nw = n_words_sql(col)
    return (
        f"({nw} >= {cfg.min_words} AND {nw} <= {cfg.max_words}"
        f" AND {mean_word_len_sql(col)} >= {cfg.min_mean_word_len}"
        f" AND {mean_word_len_sql(col)} <= {cfg.max_mean_word_len}"
        f" AND {symbol_to_word_ratio_sql(col)} <= {cfg.max_symbol_to_word_ratio}"
        f" AND {stop_word_count_sql(col)} >= {cfg.min_stop_word_count}"
        f" AND {dup_line_frac_sql(col)} <= {cfg.max_dup_line_frac}"
        f" AND {dup_ngram_frac_sql(col)} <= {cfg.max_dup_ngram_frac}"
        f" AND {alpha_word_frac_sql(col)} >= {cfg.min_alpha_word_frac}"
        f" AND {ellipsis_line_frac_sql(col)} <= {cfg.max_ellipsis_line_frac})"
    )
