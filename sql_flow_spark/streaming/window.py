"""Windowed streaming aggregation.

The reference implements tumbling windows by hand (reference:
managers/window.py:20 + adrs/002): the handler upserts per-bucket
partials into a DuckDB table (INSERT ... ON CONFLICT DO UPDATE), a
manager thread polls for buckets older than now()-interval, emits them
to a sink and deletes them.

Structured Streaming has this machinery natively and *correctly* for
distributed state: ``groupBy(window(ts, d))`` keeps partial aggregates
in the state store (the managed table), the watermark decides when a
window is closed (the poll + delete), and append output mode emits each
window exactly once when it closes (the collect + publish). Late data
within the watermark updates the right window instead of being wrongly
bucketed — a correctness upgrade over wall-clock polling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_aggregate(
    stream: DataFrame,
    time_column: str,
    duration: str,
    aggs: list[Column] | None = None,
    group_by: list[str] | None = None,
    watermark_delay: str | None = "0 seconds",
) -> DataFrame:
    """Watermarked tumbling-window aggregation. Emits
    (window_start, window_end, *group_by, *aggs). Append-mode ready:
    rows appear only when the watermark passes window end.

    ``watermark_delay=None`` means the watermark is already defined
    upstream (e.g. by a dedupe stage — Spark disallows redefining it
    below another stateful operator); the window inherits it."""
    aggs = aggs or [F.count("*").alias("n")]
    if watermark_delay is not None:
        stream = stream.withWatermark(time_column, watermark_delay)
    out = stream.groupBy(
        F.window(time_column, duration).alias("w"), *(group_by or [])
    ).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"],
    )


def sliding_aggregate(
    stream: DataFrame,
    time_column: str,
    duration: str,
    slide: str,
    aggs: list[Column] | None = None,
    group_by: list[str] | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Hopping-window variant (each row lands in duration/slide
    windows)."""
    aggs = aggs or [F.count("*").alias("n")]
    out = (
        stream.withWatermark(time_column, watermark_delay)
        .groupBy(F.window(time_column, duration, slide).alias("w"), *(group_by or []))
        .agg(*aggs)
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[c for c in out.columns if c != "w"],
    )


def session_aggregate(
    stream: DataFrame,
    time_column: str,
    gap: str,
    aggs: list[Column] | None = None,
    group_by: list[str] | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Session windows (dynamic length, closed after `gap` of
    inactivity) — the streaming twin of the batch gaps-and-islands
    operator (operators/analytics.py events_sessionize)."""
    aggs = aggs or [F.count("*").alias("n")]
    out = (
        stream.withWatermark(time_column, watermark_delay)
        .groupBy(F.session_window(time_column, gap).alias("w"), *(group_by or []))
        .agg(*aggs)
    )
    return out.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *[c for c in out.columns if c != "w"],
    )

