"""Every registry query vs its DuckDB oracle at sf0.01 — the local
replica of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from textcleaning_spark import queries as Q
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duckdb_connect


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
    # iterative training, numpy codecs)
    rows_only = sorted(set(qs) - set(osql))
    assert rows_only == [
        "ann_ivf_topk",
        "ann_lsh_topk",
        "ann_recall_vs_bruteforce",
        "bpe_fertility",
        "bpe_merge_table",
        "embedding_near_dup_fast",
        "hyperball_centrality_audit",
        "media_feature_profile",
        "ppl_cutoff_routing",
        "vocab_hll_audit",
    ]
