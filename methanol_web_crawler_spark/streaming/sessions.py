"""Structured Streaming operators.

The crawl engine itself is a batch-incremental loop over snapshot
tables (the reference is itself a batch loop per session — SURVEY.md
§2.5); these are the streaming twins for continuous operation:

- ``sessionize_stream``: gap-based session windows over an event
  stream (session_window + watermark) — the live twin of the batch
  ``events_sessionize`` query;
- ``windowed_fetch_rates``: tumbling-window fetch-rate aggregation
  with late-data tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows over a streaming events DataFrame with columns
    (ts timestamp, user_id, ...). Late rows beyond the watermark are
    dropped; sessions close after ``gap`` of inactivity."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), gap).alias("session"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_fetch_rates(
    crawl_log: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window URLs-fetched-per-host rates with late-data
    handling — the streaming metrics view of the crawl log."""
    return (
        crawl_log.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col("host"),
        )
        .agg(F.count("*").alias("fetched"))
        .select(
            F.col("w.start").alias("window_start"),
            "host",
            "fetched",
        )
    )
