"""Streaming event-time window aggregations: the operators the registered
``stream_*`` window queries run (streaming/queries.py), each checked there
against the same DuckDB oracle as its batch form in operators/timeseries.py.

The reference discards event time entirely (processing-time @timestamp,
decorator/index.js:111); these operators use the true event time. The
caller owns the watermark: ``withWatermark`` on the input bounds state to
(watermark horizon x key cardinality), independent of stream length, and
lets append mode emit each window once. Complete-mode callers set none.

Each operator emits its window bounds (timestamps), its key, ``n_events``
and the raw ``total_value`` sum; callers project and round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _counts(events: DataFrame, window, *keys: str) -> DataFrame:
    return events.groupBy(window, *keys).agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )


def tumbling_counts_stream(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time counts per event_type."""
    return _counts(events, F.window("ts", width), "event_type").select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


def sliding_counts_stream(events: DataFrame, width: str = "1 hour",
                          slide: str = "30 minutes") -> DataFrame:
    """Sliding event-time counts (key-less): each event feeds every open
    window that covers it."""
    return _counts(events, F.window("ts", width, slide)).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_events",
        "total_value",
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows per user (dynamic-length, gap-merged) — the
    streaming form of ts_sessionize's lag+cumsum batch construction."""
    return _counts(events, F.session_window("ts", gap), "user_id").select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "user_id",
        "n_events",
        "total_value",
    )
