"""Rule-boundary differential test for the nine document quality rules.

Each rule gets documents that sit exactly on its bound, one unit inside
it and one unit outside it, and pass every other rule. Three sources
must agree on ``keep`` and on the reasons: Spark
``drop_reasons(score_documents(...))``, DuckDB ``keep_expr_sql`` plus
``drop_reasons_sql``, and the hand-written ``golden_keep``. The
synthetic corpora put no document on a threshold, so only documents like
these catch a generated ``<`` that should be ``<=``.
"""

from __future__ import annotations

import itertools
import string

import duckdb
import pytest

from textcleaning_spark.config import QUALITY_RULES, STOP_WORDS, QualityConfig
from textcleaning_spark.functions import text as T
from textcleaning_spark.operators.quality import drop_reasons, score_documents
from tests.test_pipeline_golden import golden_keep

CFG = QualityConfig()

# distinct 4-letter alphabetic non-stop words: aaaa, aaab, ...
_VOCAB = [
    w
    for w in ("".join(p) for p in itertools.product(string.ascii_lowercase, repeat=4))
    if w not in STOP_WORDS
]


def _words(n: int, start: int = 0) -> list[str]:
    return _VOCAB[start : start + n]


def _doc(n: int) -> str:
    """``n`` distinct words, the first one a stop word."""
    return " ".join(["the", *_words(n - 1)])


def _mean_len(total_chars: int) -> str:
    """Five words, ``total_chars`` letters: mean word length total/5."""
    rest = total_chars - 3
    lens = [rest // 4 + (i < rest % 4) for i in range(4)]
    return " ".join(["the", *(c * k for c, k in zip("bcdf", lens))])


def _symbols(n_hash: int) -> str:
    """20 words, ``n_hash`` of them starting with '#'."""
    toks = _doc(20).split(" ")
    return " ".join("#" + t if 0 < i <= n_hash else t for i, t in enumerate(toks))


def _dup_lines(n_dup: int) -> str:
    """10 lines, the last ``n_dup`` repeating the first ones."""
    lines = [f"the {' '.join(_words(3, 3 * i))}" for i in range(10 - n_dup)]
    return "\n".join(lines + lines[:n_dup])


def _dup_ngrams(k: int) -> str:
    """``k`` distinct words, then 'buy now' five times: 7 of the k + 9
    2-grams are repeats."""
    return " ".join(["the", *_words(k - 1), *["buy", "now"] * 5])


def _alpha(n_alpha: int) -> str:
    """Five tokens, ``n_alpha`` of them with a letter."""
    return " ".join(["the", *_words(n_alpha - 1), *["123"] * (5 - n_alpha)])


def _ellipsis(n_ell: int) -> str:
    """10 lines of five distinct words, ``n_ell`` ending in '...'."""
    lines = [" ".join(["the", *_words(4, 4 * i)]) for i in range(10)]
    return "\n".join(l + "..." if i < n_ell else l for i, l in enumerate(lines))


# (reason, bound, on the bound, one unit inside, one unit outside)
CASES = [
    ("too_short", "min", _doc(5), _doc(6), _doc(4)),
    ("too_long", "max", _doc(CFG.max_words), _doc(CFG.max_words - 1),
     _doc(CFG.max_words + 1)),
    ("word_len", "min", "of to in is on", "of to in is one", "of to in is a"),
    ("word_len", "max", _mean_len(60), _mean_len(59), _mean_len(61)),
    ("symbol_ratio", "max", _symbols(2), _symbols(1), _symbols(3)),
    ("no_stop_words", "min", _doc(5), "the of " + " ".join(_words(3)),
     " ".join(_words(5))),
    ("dup_lines", "max", _dup_lines(3), _dup_lines(2), _dup_lines(4)),
    ("dup_ngrams", "max", _dup_ngrams(5), _dup_ngrams(6), _dup_ngrams(4)),
    ("non_alpha", "min", _alpha(3), _alpha(4), _alpha(2)),
    ("ellipsis", "max", _ellipsis(3), _ellipsis(2), _ellipsis(4)),
]

# (id, text, reason expected to fire or None), one per document
DOCS = [
    (3 * i + j, text, reason if kind == "outside" else None)
    for i, (reason, _, *texts) in enumerate(CASES)
    for j, (kind, text) in enumerate(zip(("on", "inside", "outside"), texts))
]
IDS = [
    f"{reason}-{bound}-{kind}"
    for reason, bound, *_ in CASES
    for kind in ("on", "inside", "outside")
]


def test_every_rule_has_boundary_documents():
    assert {c[0] for c in CASES} == {r[0] for r in QUALITY_RULES}


@pytest.fixture(scope="module")
def spark_out(spark) -> dict[int, tuple[bool, list[str]]]:
    df = spark.createDataFrame([(i, t) for i, t, _ in DOCS], "id int, text string")
    out = drop_reasons(score_documents(df, "text", CFG), CFG)
    return {r["id"]: (r["keep"], list(r["drop_reasons"])) for r in out.collect()}


@pytest.fixture(scope="module")
def duckdb_out() -> dict[int, tuple[bool, list[str]]]:
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", [(i, t) for i, t, _ in DOCS])
    rows = con.execute(
        f"SELECT id, {T.keep_expr_sql('text', CFG)}, {T.drop_reasons_sql(CFG)} "
        f"FROM (SELECT id, text, {T.signals_sql('text')} FROM docs)"
    ).fetchall()
    return {i: (keep, reasons) for i, keep, reasons in rows}


@pytest.mark.parametrize("doc_id,text,reason", DOCS, ids=IDS)
def test_boundary_document(doc_id, text, reason, spark_out, duckdb_out):
    want = (reason is None, [] if reason is None else [reason])
    assert spark_out[doc_id] == want
    assert duckdb_out[doc_id] == want
    assert golden_keep(text, CFG) == want[0]
