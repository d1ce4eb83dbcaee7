"""Event-time tumbling-window aggregation over batch DataFrames.

The engine is batch-only (SURVEY.md E16): late data is picked up by the
next run's snapshot anti-join, so no watermark or streaming state is kept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "event_type",
    window_len: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts/sums per key."""
    return (
        events.groupBy(F.window(F.col(ts_col), window_len).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.round(F.sum(value_col), 2).alias("sum_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            key_col,
            "n",
            "sum_value",
        )
    )
