"""Literal-gated rule counts and the count-gated scrub chain.

Each rule count runs ``regexp_count`` only when the pattern's required
literal (:func:`required_literal`) is in the text. The gate must change
no value: Spark's gated counts equal Python's ``len(re.findall(...))``
and the gated chain equals the sequential ``scrub_py`` twin, on inputs
chosen to sit at the gate's edges."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from textcleaning_spark.config import ScrubConfig
from textcleaning_spark.functions.scrub import (
    required_literal,
    rule_hits,
    scrub_col,
    scrub_py,
)

CFG = ScrubConfig()
RULES = {name: pat for name, pat, _rep in CFG.rules}

TEXTS = [
    None,
    "",
    "no literal of any rule here at all",  # no '@', no '-'
    "mail me @ home - or at noon",  # both literals, no email or ssn
    "call 555-12 or a@b",  # '-' and '@' without a full match
    "badwords xbadword badword_ slur1x 2slur2",  # toxic terms glued
    "ébadword 日本badword café badword",  # non-ASCII neighbours
    "naïve@exämple.com ünï a.b@c-d.org 123-45-6789 日本",
    "ssn 123-45-6789, 987-65-4321; ip 10.0.0.1 phone +1 555-123-4567",
    "x@y.io x@y.io badword slur1 slur2 badword",
]


def _py_hits(text: str | None) -> dict:
    if text is None:
        return dict.fromkeys([*RULES, "toxic"])
    hits = {name: len(re.findall(pat, text)) for name, pat in RULES.items()}
    hits["toxic"] = sum(
        len(re.findall(rf"\b{re.escape(t)}\b", text)) for t in CFG.toxic_terms
    )
    return hits


@pytest.mark.parametrize(
    "pattern, literal",
    [
        (RULES["email"], "@"),
        (RULES["ssn"], "-"),
        (RULES["phone"], None),
        (RULES["ipv4"], None),
        (r"\bbadword\b", "badword"),
        (r"\bslur1\b", "slur1"),
        (r"(?i)\bbadword\b", None),  # case-folded: no exact substring
        (r"badword|slur1", None),  # top-level alternation
        (r"\+?[0-9]{3}", None),  # optional literal
        (r"(unclosed", None),  # parse failure
        (r"ab\vcd", "ab"),  # \v is a class under Java regex
    ],
)
def test_required_literal(pattern, literal):
    assert required_literal(pattern) == literal


def test_rule_hits_match_python_findall(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    got = {
        r["id"]: r["hits"].asDict()
        for r in df.select("id", rule_hits(F.col("text"), CFG).alias("hits")).collect()
    }
    for i, text in enumerate(TEXTS):
        assert got[i] == _py_hits(text), repr(text)


def test_gated_scrub_matches_twin(spark):
    """The gated chain, with counts computed inside ``scrub_col`` and
    with the caller's ``rule_hits`` struct, equals ``scrub_py``."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, text string")
    rows = (
        df.withColumn("hits", rule_hits(F.col("text"), CFG))
        .select(
            "id",
            scrub_col(F.col("text"), CFG).alias("own"),
            scrub_col(F.col("text"), CFG, F.col("hits")).alias("given"),
        )
        .collect()
    )
    for r in rows:
        text = TEXTS[r["id"]]
        want = None if text is None else scrub_py(text, CFG)
        assert r["own"] == want and r["given"] == want, repr(text)


@pytest.mark.xfail(
    strict=True,
    reason="word-boundary twins disagree next to a non-Nd digit: Java's "
    "\\b treats '½' as a non-word char, Python's re as a word char",
)
def test_toxic_boundary_next_to_other_digit(spark):
    text = "½slur1"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(rule_hits(F.col("text"), CFG).alias("h")).first()["h"]
    assert got.asDict() == _py_hits(text)


def test_duckdb_scrub_twin_escapes_toxic_terms(monkeypatch):
    """``scrub_parity``'s DuckDB chain takes each toxic pattern from the
    same builder as Spark and ``scrub_py``: a term with a regex
    metacharacter is matched literally, so ``a.b`` leaves ``axb``."""
    import duckdb

    from textcleaning_spark.queries import audits

    cfg = ScrubConfig(toxic_terms=("a.b",))
    monkeypatch.setattr(audits, "_SCRUB", cfg)
    text = "axb a.b"
    sql = f"SELECT {audits._scrub_sql('t')} FROM (SELECT '{text}' AS t)"
    got = duckdb.sql(sql).fetchone()[0]
    assert got == scrub_py(text, cfg)
    assert got.startswith("axb ")
