"""Registry-wide plan-shape regression net.

tests/test_plans.py asserts load-bearing plan properties by hand for
the flagships; this compares EVERY registry query's physical-plan
operator counts (exchanges, join strategies, scans, windows, sorts,
Python stages) against the committed golden fingerprint. A failure
means the plan CHANGED — if the change is intentional, regenerate with
`python scripts/plan_fingerprints.py` and review the JSON diff; if
not, a shuffle/broadcast/scan regression just got caught before it
cost a factor at 100 TB.
"""

from __future__ import annotations

import json
import os

import pytest

from scripts.plan_fingerprints import fingerprint
from textcleaning_spark import queries as Q
from tests.conftest import SF_ORACLE

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "plan_fingerprints.json")

with open(FIX) as f:
    GOLDEN = json.load(f)


def test_fingerprints_cover_registry():
    assert set(GOLDEN) == set(Q.queries()), (
        "registry and plan_fingerprints.json disagree — regenerate with "
        "python scripts/plan_fingerprints.py"
    )


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_plan_shape_unchanged(spark, name):
    got = fingerprint(Q.queries()[name](spark, SF_ORACLE))
    assert got == GOLDEN[name], (
        f"{name}: plan shape drifted (golden={GOLDEN[name]}, got={got}); "
        "if intentional, regenerate scripts/plan_fingerprints.py"
    )
