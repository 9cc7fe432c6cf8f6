"""Differential and scaling test for the duplicate 2-gram signal.

Spark counts distinct 2-grams over ``"{a, b}"`` keys cast from the pair
structs; DuckDB and the golden Python form count space-joined grams.
The keys differ, so the inputs here are the tokens that could make a
key ambiguous (commas, braces, the literal ``null``), non-ASCII tokens
and the edge lengths. A 100,001-word document (one more than
``max_words``) guards against a distinct count that is quadratic in
document length.
"""

from __future__ import annotations

import time
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from textcleaning_spark.functions import text as T
from textcleaning_spark.operators.quality import score_documents

TEXTS = [
    None,
    "",
    "one",
    "two words",
    "  double  spaces  double  spaces  ",
    # ("x,", "y") against ("x", ",y"): a comma-joined key would collide
    "x, y x ,y",
    "{a, b} {a, b}",
    "a}, {b a}, {b",
    "} { } { ,, ,, ,",
    "null null null",
    "null, null ,null null, null",
    "日本語 テキスト 日本語 テキスト",
    "é é é é",
    "😀 😀 😀 ok",
    "a\nb a\nb a b",
    " ".join(["buy", "now"] * 1000),
    " ".join(f"w{i % 7}" for i in range(500)),
]


def golden_dup_ngram_frac(text: str | None) -> float:
    toks = [t for t in (text or "").split(" ") if t != ""]
    grams = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
    return (len(grams) - len(set(grams))) / len(grams) if grams else 0.0


def published(x: float) -> float:
    """The golden value as ``score_documents`` publishes it: rounded
    half-up to 6 decimals."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def spark_dup_ngram_frac(spark, texts: list[str | None]) -> list[float]:
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    rows = score_documents(df, "text").select("id", "dup_ngram_frac").collect()
    return [r["dup_ngram_frac"] for r in sorted(rows)]


def duckdb_dup_ngram_frac(texts: list[str | None]) -> list[float]:
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(texts)))
    sql = T.SIGNAL_SQL["dup_ngram_frac"]("text")
    return [v for (v,) in con.execute(f"SELECT {sql} FROM docs ORDER BY id").fetchall()]


def test_engines_agree_on_adversarial_tokens(spark):
    want = [golden_dup_ngram_frac(t) for t in TEXTS]
    assert duckdb_dup_ngram_frac(TEXTS) == want
    assert spark_dup_ngram_frac(spark, TEXTS) == [published(w) for w in want]
    # the colliding pairs are counted apart, the repeats are not
    assert want[TEXTS.index("x, y x ,y")] == 0.0
    assert want[TEXTS.index("null null null")] == 0.5


def test_giant_document_scores_in_linear_time(spark):
    """A nested-loop distinct took 18 s at 32,000 words on 4 cores; the
    hash-based count scores 100,001 words in under 1 s."""
    half = [f"w{i}" for i in range(50_000)]
    text = " ".join(half + half + ["end"])
    t0 = time.perf_counter()
    (got,) = spark_dup_ngram_frac(spark, [text])
    assert time.perf_counter() - t0 < 60
    want = golden_dup_ngram_frac(text)
    assert got == published(want)
    assert duckdb_dup_ngram_frac([text]) == [want]
