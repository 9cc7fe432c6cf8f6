#!/usr/bin/env python
"""Regenerate tests/fixtures/plan_fingerprints.json: a per-query
physical-plan SHAPE fingerprint for the whole registry.

tests/test_plans.py asserts load-bearing properties for ~40 flagship
queries by hand; this net catches shape drift in ALL of them: an extra
Exchange, a broadcast join degrading to sort-merge, a second corpus
scan appearing, a window sneaking in. The fingerprint counts operators
in the INITIAL AdaptiveSparkPlan (pre-execution — deterministic; AQE
runtime re-plans are intentionally not pinned, plan-building runs no
jobs beyond the few queries that size themselves with a driver count).

Regen (after an intentional plan change):
    python scripts/plan_fingerprints.py
and review the diff like any other golden file.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from textcleaning_spark import queries as Q  # noqa: E402
from textcleaning_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
OUT = os.path.join(REPO, "tests", "fixtures", "plan_fingerprints.json")

# Operator tokens counted in the executedPlan string. Substring counts
# are deliberate: "Exchange" also matches BroadcastExchange, so the
# hash-exchange count is exchanges - broadcast_exchanges in readers.
# tests/test_plan_fingerprints.py checks with fingerprint() from here,
# so the golden file and its check count the same way.
TOKENS = {
    "exchange": "Exchange hashpartitioning",
    "broadcast_exchange": "BroadcastExchange",
    "smj": "SortMergeJoin",
    "bhj": "BroadcastHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "scan_parquet": "FileScan parquet",
    "window": "Window",
    "global_sort": "Sort [",  # any Sort node (global or SMJ-local)
    "python_eval": "Python",
}


def fingerprint(df) -> dict[str, int]:
    p = df._jdf.queryExecution().executedPlan().toString()
    return {k: p.count(tok) for k, tok in TOKENS.items()}


def main() -> None:
    spark = get_spark("fingerprints", cores=8)
    out: dict[str, dict[str, int]] = {}
    for name, fn in Q.queries().items():
        out[name] = fingerprint(fn(spark, SF))
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(out)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
