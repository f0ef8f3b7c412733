"""Structured Streaming over the events table.

The reference processes hourly load time series in batch
(generate_load_timeseries); a modern deployment of the same semantics
ingests events continuously. The transformation is written once against
a DataFrame and applied identically to batch and streaming inputs —
Spark's unified model. Late data is handled with a watermark; state is
bounded per (window, event_type).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyprima_spark.sources import fsio


def run_to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Run ``stream`` to completion (availableNow) into a memory sink
    and return the sink's rows.

    Every call takes a fresh query name, so two threads may run the
    same stream in one session at once, and its own checkpoint under
    ``fsio.scratch_dir``: a stateful stream's state must sit on a
    filesystem every executor reaches (``spark.pyprima.scratchDir`` on
    a cluster). The returned DataFrame holds the sink itself, so the
    checkpoint and the sink's view are removed once the run ends,
    whether it completed or failed."""
    spark = stream.sparkSession
    name = f"stream_{uuid.uuid4().hex}"
    checkpoint = fsio.scratch_dir(spark, "ckpt_")
    try:
        (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        fsio.remove_dir(checkpoint)


def hourly_event_stats(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Windowed hourly counts/sums per event type; watermarked when the
    input is a stream (watermark on a batch frame is a no-op)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "total",
        )
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, under the catalog's declared
    and footer-checked schema (same contract and nanos conversion as the
    batch catalog)."""
    from pyprima_spark.catalog import read_declared

    # FileStreamSource wants a directory: stream the sf dir, filtered to
    # the events file (works whether events.parquet is a file or a dir).
    return read_declared(
        spark,
        sf_dir,
        "events",
        lambda schema: spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
    )


def run_hourly_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stream to completion (availableNow) into a memory sink
    and return the materialized result."""
    return run_to_memory(hourly_event_stats(stream_events(spark, sf_dir)), "complete")


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Overlapping sliding-window counts per event type (each event lands
    in window/slide = 4 epoch-aligned windows). Same unified batch/
    stream transform shape as hourly_event_stats."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2).cast("double").alias("total"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


def run_foreach_batch_sink(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint: str,
) -> None:
    """foreachBatch parquet sink with BATCH-ID IDEMPOTENCE.

    Each micro-batch lands in its own `batch_id=N/` directory with
    mode=overwrite, so a retried batch (executor loss, driver restart
    between sink write and checkpoint commit) REPLACES its own output
    instead of appending a duplicate — the standard exactly-once layout
    for sinks without transactions. Re-running the query against the
    same checkpoint reprocesses nothing: the offset log already marks
    the input consumed.
    """
    import os

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact-dedup on (user_id, event_type, ts) with BOUNDED
    state: `dropDuplicatesWithinWatermark` evicts seen-keys older than
    the watermark, so state is O(keys per watermark window), not O(all
    keys ever) — the only viable layout for an unbounded stream.

    Batch equivalent of the kept set: plain dropDuplicates on the same
    keys (the batch branch below), which is what the test asserts
    against.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "ts"]
        )
    return events.dropDuplicates(["user_id", "event_type", "ts"])


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream joins
    the (broadcastable, slowly-changing) dimension snapshot — the
    streaming form of every dim enrichment in the batch catalog. The
    static side is re-read per trigger, so dim updates are picked up
    without restarting the query."""
    from pyspark.sql import functions as SF

    return events.join(
        SF.broadcast(dim), events.user_id % 25 == dim.n_nationkey
    ).select("event_id", "ts", "user_id", "event_type", "value", "n_name")


def run_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(sliding_event_counts(stream_events(spark, sf_dir)), "complete")
