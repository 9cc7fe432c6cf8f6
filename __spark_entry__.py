"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship document-quality query at
sf0.001. ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 as (Spark, DuckDB-SQL) pairs — see the
``textcleaning_spark/queries/`` package (one module per query family)
where both sides are generated from shared specs.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from textcleaning_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.queries()["doc_quality_profile"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
