"""Core text expressions, defined for BOTH engines.

The ``*_sql`` helpers return DuckDB SQL fragments: the oracle side of
the driver's correctness gate, which compares each Spark query against
DuckDB on the same parquet. The Spark forms here (each returns a
``Column``) are the shared building blocks: tokens, lines, counts and
word pairs. The per-document quality signals and the keep verdict are
computed in Spark by ``operators/quality.score_documents`` from one
tokenization; their SQL twins stay here, next to the building blocks
they mirror.

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

    Computed as ``length - regexp_count(' ')``. Spark plans
    ``regexp_count`` as ``size(regexp_extract_all(...))``: it converts
    the text to a Java string and builds an array holding one string
    per space, so this is not a zero-allocation scan. It still beat
    ``length(replace(...))`` (2M docs, 2026-08-18: ~20% faster at 8
    cores). On 16k benchmark pages (medians of 7, 4 cores) no
    alternative beat the ~0.19 s floor of a length-only projection:
    ``length - (size(split) - 1)`` took 0.201 s against 0.210 s, and
    gave 0 differing rows. Value-identical to the replace form (the
    SQL twin keeps it), differential-tested.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) - F.regexp_count(c, F.lit(" "))).cast("bigint")


def char_count_no_spaces_sql(col: str) -> str:
    return f"length(replace({col}, ' ', ''))::BIGINT"


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


def stop_word_count_sql(col: str) -> str:
    return (
        f"len(list_filter({tokens_sql(col)}, "
        f"x -> list_contains({_stop_words_sql_list()}, lower(x))))::BIGINT"
    )


def substr_count(col: Column | str, sub: str) -> Column:
    """Occurrences of literal ``sub`` in ``col`` (F14 semantics).

    ``regexp_count`` over a ``\\Q..\\E``-quoted literal, which Spark
    plans as ``size(regexp_extract_all(...))``: an array of one match
    string per occurrence (see :func:`char_count_no_spaces`). On 16k
    benchmark pages an ``instr`` gate on the ``#``/``...`` counts took
    0.161 s against 0.169 s ungated (medians of 7, 4 cores), small
    beside the ~0.19 s a length-only projection costs, so the plain
    form stays. Both this and the SQL twin's
    ``(length - length(replace))/k`` form count non-overlapping
    left-to-right occurrences, so values are identical
    (differential-tested).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("\\Q" + sub + "\\E")).cast("bigint")


def substr_count_sql(col: str, sub: str) -> str:
    q = sub.replace("'", "''")
    return (
        f"((length({col}) - length(replace({col}, '{q}', ''))) / {len(sub)})::BIGINT"
    )


def symbol_to_word_ratio_sql(col: str) -> str:
    return (
        f"CASE WHEN {n_words_sql(col)} > 0 THEN "
        f"({substr_count_sql(col, '#')} + {substr_count_sql(col, '...')})::DOUBLE "
        f"/ {n_words_sql(col)} END"
    )


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


def dup_line_frac_sql(col: str) -> str:
    ls = lines_sql(col)
    return (
        f"CASE WHEN len({ls}) > 0 THEN "
        f"(len({ls}) - len(list_distinct({ls})))::DOUBLE / len({ls}) "
        f"ELSE 0.0 END"
    )


def ellipsis_line_frac_sql(col: str) -> str:
    ls = lines_sql(col)
    return (
        f"CASE WHEN len({ls}) > 0 THEN "
        f"len(list_filter({ls}, x -> suffix(x, '...')))::DOUBLE / len({ls}) "
        f"ELSE 0.0 END"
    )


def word_2grams(toks: Column) -> Column:
    """Adjacent token pairs as ``array<string>`` keys, one per 2-gram,
    for a distinct count.

    The pairs come from TWO whole-array slices
    (``arrays_zip(toks[:-1], toks[1:])``), not n per-position slices
    with per-pair string building (measured ~6× on the score stage at
    200k docs). One codegen'd cast then turns each ``struct<a, b>``
    into the string ``"{a, b}"``: ``array_distinct`` hashes strings,
    but over structs it falls back to a nested loop, quadratic in the
    gram count (one 32,000-word document took 18 s to score).

    The key is injective, so distinct keys are exactly the distinct
    space-joined 2-grams of the SQL twin (:func:`dup_ngram_frac_sql`):
    a token never contains a space (it comes from a space split), so
    the key's first space sits right after ``a + ","``. That fixes
    ``a``, and the rest up to the closing brace is ``b``."""
    n = F.size(toks)
    pairs = F.arrays_zip(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1))
    empty = F.array().cast("array<string>")
    return F.when(n >= 2, pairs.cast("array<string>")).otherwise(empty)


def dup_ngram_frac_sql(col: str) -> str:
    # the token list is bound once through a one-element list_transform;
    # inlining it into the gram lambda re-splits the text per gram
    return (
        f"(list_transform([{tokens_sql(col)}], t -> CASE WHEN len(t) > 1 THEN "
        f"(len(t) - 1 - len(list_distinct(list_transform(range(1, len(t)), "
        f"i -> t[i] || ' ' || t[i + 1]))))::DOUBLE / (len(t) - 1) "
        f"ELSE 0.0 END))[1]"
    )


# ---------------------------------------------------------------------------
# document keep/drop verdict (Gopher/C4-style; generalizes the reference's
# word-level idf_rank>=K ∧ pos∈pass rule to documents), generated from
# config.QUALITY_RULES
# ---------------------------------------------------------------------------

# SQL twin of each quality signal, by its QUALITY_RULES name
SIGNAL_SQL = {
    "n_words": n_words_sql,
    "mean_word_len": mean_word_len_sql,
    "symbol_ratio": symbol_to_word_ratio_sql,
    "stop_word_count": stop_word_count_sql,
    "dup_line_frac": dup_line_frac_sql,
    "dup_ngram_frac": dup_ngram_frac_sql,
    "alpha_word_frac": alpha_word_frac_sql,
    "ellipsis_line_frac": ellipsis_line_frac_sql,
}
# Counts publish exact; every other signal is a ratio published rounded
# to 6 decimals. keep reads the unrounded ratios, drop_reasons the
# published ones.
COUNT_SIGNALS = frozenset({"n_words", "stop_word_count"})


def keep_expr_sql(col: str, cfg: QualityConfig | None = None) -> str:
    cfg = cfg or QualityConfig()
    checks = []
    for _, signal, lo, hi in cfg.rules():
        sig = SIGNAL_SQL[signal](col)
        if lo is not None:
            checks.append(f"{sig} >= {lo}")
        if hi is not None:
            checks.append(f"{sig} <= {hi}")
    return f"({' AND '.join(checks)})"


def signals_sql(col: str) -> str:
    """Select list of the published quality signals of ``col``, one
    ``<expr> AS <signal>`` each (what :func:`drop_reasons_sql` reads)."""
    return ", ".join(
        f"{frag(col) if s in COUNT_SIGNALS else f'round({frag(col)}, 6)'} AS {s}"
        for s, frag in SIGNAL_SQL.items()
    )


def drop_reasons_sql(cfg: QualityConfig | None = None) -> str:
    """List of every failed rule's reason over the published signal
    columns: the SQL twin of ``operators/quality.drop_reasons``."""
    cfg = cfg or QualityConfig()
    failed = []
    for reason, signal, lo, hi in cfg.rules():
        outside = []
        if lo is not None:
            outside.append(f"{signal} < {lo}")
        if hi is not None:
            outside.append(f"{signal} > {hi}")
        failed.append(f"CASE WHEN {' OR '.join(outside)} THEN '{reason}' END")
    return f"list_filter([{', '.join(failed)}], x -> x IS NOT NULL)"
