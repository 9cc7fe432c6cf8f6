"""Query registry: every implemented operator as a (Spark, oracle-SQL) pair.

Each entry is a named query ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) the equivalent DuckDB SQL over pre-registered
views. The oracle check compares row-count + schema +
order-insensitive value hash at sf=0.01 — so:

* every computed column is explicitly aliased identically on both sides;
* integer-derived values are cast to BIGINT on both sides;
* doubles are either exact-by-construction (integer ratios, halves) or
  produced by exact DECIMAL sums cast to double, or rounded;
* deterministic tie-breaks on every top-k / row_number.

Entries live in one module per family — ``textstats``, ``selection``,
``dedup``, ``graph``, ``audits`` and ``crawl`` — and recipes that more
than one family uses live in ``common``, once per engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLE[name] = sql
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)


# the family modules register their entries on import
from textcleaning_spark.queries import (  # noqa: E402,F401
    audits,
    crawl,
    dedup,
    graph,
    selection,
    textstats,
)
