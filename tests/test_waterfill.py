"""Water-filling token allocation vs a sequential twin, on adversarial
availability distributions the balanced corpus never produces."""

from __future__ import annotations

import math

import pytest

from textcleaning_spark.queries.selection import _waterfill


def waterfill_py(avail: dict[str, int]) -> dict[str, tuple[int, bool]]:
    """Sequential twin: identical integer arithmetic and tie-breaks.

    The weight is sqrt(sqrt(a)) — two correctly-rounded IEEE ops, so
    this twin is bit-identical to the Spark and DuckDB sides (pow's
    1-ulp slack is exactly what the sqrt chain exists to avoid); the
    half-up snap mirrors Spark's F.round/BigDecimal HALF_UP."""
    t = int(math.floor(sum(avail.values()) / 2))
    w = {
        l: int(math.floor(math.sqrt(math.sqrt(a)) * 1e6 + 0.5))
        for l, a in avail.items()
    }
    order = sorted(avail, key=lambda l: (avail[l] / w[l], l))
    total_w = sum(w.values())
    cum_a = cum_w = 0
    for k in range(len(order) + 1):
        num, den = t - cum_a, total_w - cum_w
        if num >= 0 and den > 0:
            ok_k = k == 0 or avail[order[k - 1]] * den <= num * w[order[k - 1]]
            ok_n = k == len(order) or avail[order[k]] * den > num * w[order[k]]
            if ok_k and ok_n:
                out = {}
                for i, l in enumerate(order):
                    if i < k:
                        out[l] = (avail[l], True)
                    else:
                        out[l] = (int(math.floor(num * w[l] / den)), False)
                return out
        if k < len(order):
            cum_a += avail[order[k]]
            cum_w += w[order[k]]
    raise AssertionError("no valid breakpoint")


DISTS = [
    {"en": 1_000_000, "tiny": 50},          # tiny source MUST cap
    {"en": 500_000, "de": 40_000, "ko": 3_000, "sw": 120},  # skew ladder
    {"a": 100, "b": 100, "c": 100},          # uniform (no caps)
    {"only": 12_345},                        # single source
    {"x": 10**9, "y": 10**6, "z": 10**3},    # extreme magnitudes
]


@pytest.mark.parametrize("avail", DISTS, ids=[str(i) for i in range(len(DISTS))])
def test_waterfill_matches_sequential_twin(spark, avail):
    df = spark.createDataFrame(list(avail.items()), "lang string, a bigint")
    got = {
        r["lang"]: (r["allocated_tokens"], r["capped"])
        for r in _waterfill(spark, df).collect()
    }
    assert got == waterfill_py(avail)


@pytest.mark.parametrize("avail", DISTS, ids=[str(i) for i in range(len(DISTS))])
def test_waterfill_invariants(spark, avail):
    df = spark.createDataFrame(list(avail.items()), "lang string, a bigint")
    rows = _waterfill(spark, df).collect()
    assert len(rows) == len(avail)  # the breakpoint is unique
    t = int(math.floor(sum(avail.values()) / 2))
    total = sum(r["allocated_tokens"] for r in rows)
    # budget hit exactly up to per-language floors; never exceeded
    assert t - len(avail) < total <= t
    for r in rows:
        assert 0 <= r["allocated_tokens"] <= r["available_tokens"]
        if r["capped"]:
            assert r["allocated_tokens"] == r["available_tokens"]


def test_waterfill_caps_the_tiny_source(spark):
    df = spark.createDataFrame(
        [("en", 1_000_000), ("tiny", 50)], "lang string, a bigint"
    )
    got = {r["lang"]: r for r in _waterfill(spark, df).collect()}
    assert got["tiny"]["capped"] and got["tiny"]["allocated_tokens"] == 50
    assert not got["en"]["capped"]
