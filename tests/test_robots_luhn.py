"""robots.txt longest-prefix-match politeness + Luhn PII gating.

Three layers, same discipline as the links/scrub tests:
1. Luhn twin differential: the native HOF expression
   (functions/scrub.luhn_valid) vs the sequential Python twin, over
   known ISO/IEC 7812 test numbers AND a deterministic batch of
   digit runs at every length the extractor can emit;
2. robots semantics: an independent pure-Python RFC 9309
   longest-match reference over the SAME derived rule tables must
   reproduce the Spark query's per-language aggregate exactly, and
   the derived corpus must actually exercise every decision class
   (blanket block, one-digit block, allow carve-out, default allow);
3. cross-engine value equality for both registry entries is covered
   by tests/test_oracle_queries.py (parametrizes the whole registry).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import duckdb
import pytest

from pyspark.sql import functions as F

from textcleaning_spark.functions.scrub import luhn_valid, luhn_valid_py
from textcleaning_spark.queries import queries
from tests.conftest import SF_SMOKE

KNOWN = [
    ("4111111111111111", True),  # canonical Visa test PAN
    ("4111111111111112", False),  # check digit off by one
    ("378282246310005", True),  # Amex test PAN (15 digits)
    ("6011111111111117", True),  # Discover test PAN
    ("5555555555554444", True),  # Mastercard test PAN
    ("1234567890123", False),
    ("0000000000000000", True),  # degenerate but checksum-consistent
]


def test_luhn_py_known_numbers():
    for s, want in KNOWN:
        assert luhn_valid_py(s) == want, s


def _digit_run(seed: int, length: int) -> str:
    h = hashlib.md5(f"luhn:{seed}:{length}".encode()).hexdigest()
    return "".join(str(ord(c) % 10) for c in h[:length])


def test_luhn_spark_matches_python_twin(spark):
    rows = [(s,) for s, _ in KNOWN]
    rows += [(_digit_run(i, ln),) for i in range(40) for ln in range(13, 20)]
    df = spark.createDataFrame(rows, ["cand"])
    got = {
        r["cand"]: r["v"]
        for r in df.select("cand", luhn_valid(F.col("cand")).alias("v")).collect()
    }
    for (cand,) in rows:
        assert got[cand] == luhn_valid_py(cand), cand


# -- independent RFC 9309 reference ----------------------------------------


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _host_rules(host: str) -> list[tuple[str, bool]]:
    d1 = str(ord(_md5(host + ":r1")[0]) % 10)
    d2 = str(ord(_md5(host + ":r2")[0]) % 10)
    rules = [("/p/" + d1, False)]
    if ord(_md5(host + ":r3")[0]) % 2 == 0:
        rules.append(("/p/" + d1 + d2, True))
    if ord(_md5(host + ":r4")[0]) % 16 == 0:
        rules.append(("/p/", False))
    return rules


def _decide(path: str, rules: list[tuple[str, bool]]) -> tuple[bool, int]:
    """(allowed, matched_prefix_len); longest match wins, allow on tie."""
    matches = [(len(p), allow) for p, allow in rules if path.startswith(p)]
    if not matches:
        return True, 0
    ln, allow = max(matches)
    return allow, ln

def test_robots_reference_matches_spark(spark):
    docs = duckdb.sql(
        f"SELECT doc_id, lang FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    classes = set()
    for doc_id, lang in docs:
        host = "h" + _md5(f"{doc_id}:rh")[:2]
        allowed, ln = _decide(f"/p/{doc_id}", _host_rules(host))
        agg[lang][0] += 1
        agg[lang][1] += 0 if allowed else 1
        classes.add(
            {0: "default_allow", 3: "blanket_block", 4: "digit_block", 5: "allow_carveout"}[ln]
        )
    # the derived corpus must exercise every decision class, else the
    # longest-match machinery is untested
    assert {
        "default_allow",
        "blanket_block",
        "digit_block",
        "allow_carveout",
    } <= classes, classes
    out = {
        r["lang"]: r
        for r in queries()["robots_longest_match"](spark, SF_SMOKE).collect()
    }
    assert set(out) == set(agg)
    for lang, (n, b) in agg.items():
        r = out[lang]
        assert (r["n_pages"], r["n_blocked"], r["n_allowed"]) == (n, b, n - b), lang


def test_cc_audit_reference_matches_spark(spark):
    import re

    rows = duckdb.sql(
        f"SELECT doc_id, lang, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for doc_id, lang, text in rows:
        sel = ord(_md5(f"{doc_id}:cc")[0]) % 8
        if sel == 0:
            cn = _md5(f"{doc_id}:cn")
            text = text + "\ncard " + "".join(str(ord(c) % 10) for c in cn[:16]) + " on file"
        elif sel == 1:
            text = text + "\ncard 4111111111111111 on file"
        cands = re.findall(r"[0-9]{13,19}", text)
        nv = sum(1 for c in cands if luhn_valid_py(c))
        a = agg[lang]
        a[0] += 1
        a[1] += len(cands)
        a[2] += nv
        a[3] += 1 if nv > 0 else 0
    # the checksum gate must visibly reject candidates AND confirm some
    tot = [sum(a[i] for a in agg.values()) for i in range(4)]
    assert tot[1] > tot[2] > 0, tot
    out = {
        r["lang"]: r
        for r in queries()["cc_luhn_scrub_audit"](spark, SF_SMOKE).collect()
    }
    assert set(out) == set(agg)
    for lang, a in agg.items():
        r = out[lang]
        assert (r["n_docs"], r["n_cands"], r["n_luhn_valid"], r["n_docs_flagged"]) == tuple(a), lang
