"""Every registry query vs its DuckDB oracle at sf0.01 — the local
replica of the driver's CORRECTNESS gate."""

from __future__ import annotations

import os
import runpy

import pytest

from textcleaning_spark import queries as Q
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duckdb_connect

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_ORACLE)
    yield c
    c.close()


_ORACLE = Q.oracle_sql()
_ALL = Q.queries()


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_query_matches_oracle(spark, con, name):
    df = _ALL[name](spark, SF_ORACLE)
    compare(df, con, _ORACLE[name], name)


@pytest.mark.parametrize("name", sorted(set(_ALL) - set(_ORACLE)))
def test_nonoracle_query_runs(spark, name):
    df = _ALL[name](spark, SF_ORACLE)
    assert df.count() >= 0


def test_queries_and_oracles_consistent():
    qs, osql = Q.queries(), Q.oracle_sql()
    # every oracle belongs to a registered query, same relative order
    assert set(osql) <= set(qs)
    q_order = [n for n in qs if n in osql]
    assert q_order == list(osql)
    # rows-only entries are the known approximations, nothing else
    # (frozen per VERDICT r4 item 8 — grow only with a documented
    # structural justification: Spark-internal hashing, GK sketches,
    # iterative training)
    rows_only = sorted(set(qs) - set(osql))
    assert rows_only == [
        "bpe_fertility",
        "bpe_merge_table",
        "ppl_cutoff_routing",
        "vocab_hll_audit",
    ]
    # the bench and plan-dump name lists only name registered queries
    import bench

    assert set(bench.HEADLINE) <= set(qs), sorted(set(bench.HEADLINE) - set(qs))
    dump_plans = runpy.run_path(os.path.join(REPO, "scripts", "dump_plans.py"))
    flagship = {name for name, _ in dump_plans["FLAGSHIP"]}
    assert flagship <= set(qs), sorted(flagship - set(qs))
