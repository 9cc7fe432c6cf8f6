"""Event-time sliding windows (SURVEY.md §2.5 W3).

The reference's sliding 5-year animation windows
(text_process_v3.py:183-193) recompute the full pipeline once per
window — O(windows × corpus). Here each event expands to exactly the
windows containing it (``sequence`` + ``explode``), so one pass and one
shuffle produce every window — the batch twin of Structured Streaming's
sliding window aggregation (streaming/ has the readStream variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window_days: int = 7,
    value_col: str | None = None,
) -> DataFrame:
    """Sliding window (length ``window_days``, stride 1 day): counts +
    exact (decimal) value sums per window start."""
    win_start = F.explode(
        F.sequence(
            F.date_trunc("day", F.col(ts_col)) - F.expr(f"INTERVAL {window_days - 1} DAYS"),
            F.date_trunc("day", F.col(ts_col)),
            F.expr("INTERVAL 1 DAY"),
        )
    ).alias("win_start")
    exploded = df.select("*", win_start)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_events")]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value")
        )
    return exploded.groupBy("win_start").agg(*aggs)
