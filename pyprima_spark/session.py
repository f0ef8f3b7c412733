"""SparkSession factory tuned for the local test harness.

On a real cluster the same settings apply except shuffle partitions,
which should scale with executor cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app_name: str = "pyprima_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # A TIMESTAMP(NANOS) parquet column is readable only as long
        # nanos (catalog.read_declared converts back to timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Static conf, default 100: a session that executes hundreds of
        # distinct plans (the full catalog is ~390) evicts generated
        # classes before they are reused, so tail queries pay a
        # recompile tax that grows with catalog size (measured in
        # SURVEY §6, training_manifest/q18 bisections). Sized to hold
        # every catalog plan's classes with headroom; generated classes
        # are KB-scale, so the cache stays far below executor memory.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # decode(col, 'UTF-8') on malformed bytes: Spark 4 raises
        # MALFORMED_CHARACTER_CODING by default, which would abort a
        # whole crawl-ingest job on one bad record (ADVICE r8, high).
        # The legacy action substitutes U+FFFD like every crawl
        # pipeline expects; pipeline.ingest_warc also sets it at call
        # time so driver-built sessions get the same behavior.
        .config("spark.sql.legacy.codingErrorAction", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
