"""Table catalog: load the driver-generated parquet tables for a scale
factor and register them as temp views.

Mirrors the reference's path-dictionary pattern (config.py builds a
``paths`` dict of every input table; initialization.py loads them) with a
lazy Spark scan per table — column pruning and predicate pushdown reach
the parquet reader because nothing is materialized here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
DIM_TABLES = frozenset({"region", "nation"})

# Tables whose consumers do heavy per-row compute (regex normalization,
# md5 shingling, vector math) — worth a widening shuffle when the scan
# is degenerate. Relational tables skip it: their first shuffle (join /
# agg exchange) already spreads the work, and an extra exchange costs
# more than the single-threaded scan saves.
WIDEN_TABLES = frozenset({"documents", "embeddings"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Memoized lazy plans per (session, sf_dir, table). A load_table call
# costs ~100ms (JVM read.parquet + schema + the widen split estimate);
# queries load 1-4 tables each, so an uncached catalog taxes every cold
# query run ~0.1-0.4s of pure overhead. DataFrames are immutable lazy
# plans, so reuse is safe; the key includes applicationId so a new
# SparkContext never sees another context's plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; normalizes nano-timestamp columns to TimestampType.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark can only read
    as long nanos under ``spark.sql.legacy.parquet.nanosAsLong`` — without
    it the scan throws PARQUET_TYPE_ILLEGAL. The conf is runtime-settable,
    so set it here defensively: callers (including external harnesses) may
    hand us a session built without it. Convert with exact integer
    division (``div``) — float division could land one microsecond off at
    epoch-nano magnitudes.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Defensive session confs (both runtime-settable): external harnesses
    # run these plans on their own session. Timestamp bucketing/formatting
    # (date_trunc, hour, date_format) follows the session time zone; the
    # oracles assume UTC, so a non-UTC caller session would shift every
    # formatted timestamp output.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) infers as TIMESTAMP_NTZ,
    # which unix_micros / withWatermark / window() reject. With the session
    # time zone pinned UTC above, NTZ -> TIMESTAMP is a lossless identity
    # on the wall clock, so normalize every NTZ column here instead of
    # making each operator handle both flavors. ONE select projection, not
    # chained withColumn: each withColumn is its own Project node to
    # analyze, and the chain measurably taxes plan construction on every
    # query that touches the table (sessionize first-run regression, r3).
    if any(isinstance(f.dataType, T.TimestampNTZType) for f in df.schema.fields):
        df = df.select(
            *[
                F.col(f.name).cast(T.TimestampType()).alias(f.name)
                if isinstance(f.dataType, T.TimestampNTZType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
    if name in WIDEN_TABLES:
        df = widen_scan(df)
    return df


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan whose parallelism is degenerate.

    The test parquet files are single-row-group, so Spark gives the whole
    scan to ONE task and every downstream map (regex normalization, md5,
    explode) runs on 1 of 32 cores. At cluster scale a fact-table scan
    yields thousands of splits and this is a no-op — the estimate below
    (ceil(file_size / maxPartitionBytes) summed over input files) mirrors
    Spark's own split computation without instantiating ``df.rdd`` (which
    forces a Python-side plan conversion on every table load). Filters and
    column pruning still push through the exchange to the parquet reader
    (PushDownPredicates handles Repartition nodes).
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if _estimated_scan_splits(spark, df) < n:
        return df.repartition(n)
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value like '134217728', '128m', '1g'."""
    s = str(v).strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _estimated_scan_splits(spark: SparkSession, df: DataFrame) -> int:
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = 0
    for uri in df.inputFiles():
        if uri.startswith("file:"):
            path = uri[len("file:"):]
            try:
                size = os.path.getsize(path)
            except OSError:
                size = 0
            splits += max(1, -(-size // max_bytes))
        else:
            # Remote filesystem: can't stat cheaply from Python; count the
            # file as one split (a lower bound, so we only over-repartition).
            splits += 1
    return splits


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table lazily and register temp views. Raises
    ``FileNotFoundError`` naming the tables ``sf_dir`` lacks, before any
    is loaded."""
    missing = [n for n in TABLES if not os.path.exists(table_path(sf_dir, n))]
    if missing:
        raise FileNotFoundError(
            f"{sf_dir} lacks table(s): {', '.join(missing)}"
        )
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
