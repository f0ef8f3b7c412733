"""Watermarked stream-stream interval join.

The remaining cell of the streaming capability matrix next to windowed/
sliding aggregation, stateful sessionization, watermarked dedup, and
stream-static enrichment: joining two STREAMS requires both sides to
buffer state, bounded by a watermark plus a time-interval join
condition — Spark evicts buffered rows once the watermark passes the
interval bound, so state is O(events within the interval) per key
range, not unbounded.

Reference analogue: pyPRIMA has no streaming, but its interval
matching (util.py:228-252) and the transmission interval-join are the
static cousins; this is the continuous form — e.g. attributing each
purchase to the clicks that preceded it within an hour.

The transform is batch/stream unified: on batch frames the watermark
is a no-op and the same join runs as a plain range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def purchase_click_pairs(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Each purchase paired with same-user clicks in the preceding
    ``lookback`` window (inclusive both ends, mirroring the batch
    oracle)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    return purchases.join(
        clicks,
        F.expr(
            f"user_id = c_uid AND c_ts >= p_ts - interval {lookback} "
            "AND c_ts <= p_ts"
        ),
    ).select("purchase_id", "user_id", "p_ts", "c_ts", "click_value")


def run_purchase_click_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stream-stream join to completion (availableNow) into a
    memory sink and return the materialized result."""
    from pyprima_spark.streaming.events import run_to_memory, stream_events

    return run_to_memory(purchase_click_pairs(stream_events(spark, sf_dir)), "append")


def purchase_click_pairs_outer(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase, with NULL click
    columns when no same-user click preceded it within ``lookback`` —
    the "un-attributed purchase" feed an attribution pipeline needs as
    its complement.

    Outer stream-stream joins require BOTH sides watermarked plus the
    interval condition: Spark can only emit the null-extended row once
    the watermark proves no matching click can still arrive, so
    unmatched results trail the stream by the watermark delay (rows
    whose eviction point the final watermark never passes are withheld
    — the documented engine semantics, asserted in the test). On batch
    frames the same transform is a plain left join.
    """
    wm = events.withWatermark("ts", watermark) if events.isStreaming else events
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    return purchases.join(
        clicks,
        F.expr(
            f"user_id = c_uid AND c_ts >= p_ts - interval {lookback} "
            "AND c_ts <= p_ts"
        ),
        "left_outer",
    ).select("purchase_id", "user_id", "p_ts", "c_ts", "click_value")


def run_purchase_click_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the left-outer stream-stream join to completion
    (availableNow) into a memory sink and return the result."""
    from pyprima_spark.streaming.events import run_to_memory, stream_events

    out = purchase_click_pairs_outer(stream_events(spark, sf_dir))
    return run_to_memory(out, "append")
