"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet, then compares row count, column-name set, and an
order-insensitive exact value comparison (columns sorted by name, rows
sorted lexicographically) — strictly at least as strict as the
driver's value-hash, so a pass here predicts a driver pass.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from textcleaning_spark.sources.registry import TABLES

REL_TOL = 0.0  # exact by design; see the textcleaning_spark/queries/ notes


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        norm = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                norm.append("<NULL>")
            elif isinstance(v, float):
                norm.append(repr(float(v)))
            elif isinstance(v, (bool,)):
                norm.append(str(bool(v)))
            elif hasattr(v, "isoformat"):
                norm.append(pd.Timestamp(v).isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                norm.append(repr([repr(x) for x in list(v)]))
            else:
                norm.append(repr(v))
        rows.append(tuple(norm))
    return sorted(rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    got = spark_df.toPandas()
    want = con.execute(sql).fetchdf()
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} (spark) != {len(want)} (duckdb)"
    )
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    g, w = _normalize(got), _normalize(want)
    for i, (a, b) in enumerate(zip(g, w)):
        assert a == b, f"{name}: row {i} differs:\n  spark  {a}\n  duckdb {b}"
