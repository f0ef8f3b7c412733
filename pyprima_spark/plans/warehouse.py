"""Warehouse maintenance and governance: change data capture and SCD2,
incremental aggregates, skew handling, data layout (partitioning,
Z-order, compaction, encodings), integrity and contract audits,
replication and sharding audits, privacy audits, OLAP rollups, and the
Avro and fixed-width format round trips.
"""

from __future__ import annotations

from hashlib import md5 as _md5

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.catalog import widen_scan
from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import DEC, dec_avg, dec_sum
from pyprima_spark.functions.skew import salted_join
from pyprima_spark.operators.asof import asof_join as _asof
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.operators.scd import scd2_from_log
from pyprima_spark.plans.core import _t
from pyprima_spark.sources import fsio
from pyprima_spark.sources.avro_ocf import read_avro, write_avro_file
from pyprima_spark.sources.fixedwidth import read_fixed_width, write_fixed_width


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON column with a declared schema
    (from_json — JVM-side, no UDF) and aggregate by a derived bucket.
    The schema-on-read path for semi-structured event payloads.

    The parse is heavy per-row compute BEFORE the first shuffle, so a
    degenerate scan (one row group locally) would run it on one core —
    widen_scan spreads it; a no-op once the file has >= cores splits
    (measured: 3.5s -> 0.8s at sf0.1 local[32])."""

    ev = widen_scan(_t(spark, sf_dir, "events"))
    parsed = ev.withColumn(
        "k", F.from_json("props", "k int").getField("k")
    )
    return (
        parsed.withColumn("k_bucket", F.floor(F.col("k") / 10).cast("int"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_avg("value").alias("avg_value"),
            F.max("k").alias("max_k"),
        )
    )


QUERIES["json_props_stats"] = json_props_stats

ORACLES["json_props_stats"] = """
SELECT cast(floor(cast(json_extract(props, '$.k') AS INT) / 10.0) AS INT) AS k_bucket,
       count(*) AS n,
       round(sum(CAST(value AS DECIMAL(27,6)))::DOUBLE / count(value), 4) AS avg_value,
       max(cast(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY 1
ORDER BY 1
"""


def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: last-write-wins snapshot per (user, type) key
    (SURVEY §2 #45).

    Implemented as a `max_by` AGGREGATION, not a row_number window: the
    aggregate gets map-side partial combine (each task keeps one winner
    per key before the shuffle), where a window would shuffle and sort
    every raw event. At 100 TB of change-log this is the difference
    between shuffling the keyspace and shuffling the log.
    """
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max_by("event_id", ordk).alias("last_event_id"),
            F.round(F.max_by("value", ordk), 2).alias("last_value"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


QUERIES["latest_snapshot"] = latest_snapshot

ORACLES["latest_snapshot"] = """
SELECT user_id, event_type, event_id AS last_event_id,
       round(value, 2) AS last_value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type
"""


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: ROLLUP over (nation, order-year).

    OLAP cube surface (reference runs separate groupbys per level, e.g.
    generate_intermediate_files.py:469 then re-aggregation; ROLLUP
    computes all levels in one pass). Spark evaluates rollup with a
    single Expand + one shuffle — no per-level rescan of the fact side.
    """
    ord_ = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    joined = (
        ord_.join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
    )
    return (
        joined.rollup("n_name", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_year", F.lit(-1)).alias("o_year"),
            "n_orders",
            "total_price",
        )
    )


QUERIES["rollup_sales"] = rollup_sales

ORACLES["rollup_sales"] = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(cast(year(o_orderdate) AS INT), -1) AS o_year,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, year(o_orderdate))
ORDER BY 1, 2
"""


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, priority): all 4 grouping combinations in one
    Expand pass (SURVEY §2 #50) — completes the grouping-set matrix next
    to `rollup_sales` (which emits only the 3 hierarchical levels)."""
    ord_ = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = ord_.join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
    return (
        joined.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


QUERIES["cube_sales"] = cube_sales

ORACLES["cube_sales"] = """
SELECT coalesce(c_mktsegment, 'ALL') AS segment,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
ORDER BY 1, 2
"""


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient join demo (SURVEY §2 #57): orders keyed so one
    hot key holds most rows, joined to a priority dim through
    `salted_join` — the explicit fallback when AQE cannot split a
    heavy-hitter partition (post-join co-grouping pins the layout).
    Salting must not change semantics: the oracle is the plain join.
    """

    orders = _t(spark, sf_dir, "orders")
    # ~60% of rows land on hot_key 0 (URGENT+HIGH+MEDIUM collapse).
    fact = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"), 0)
        .otherwise(F.substring("o_orderpriority", 1, 1).cast("int"))
        .alias("hot_key"),
    )
    dim = spark.createDataFrame(
        [(0, "compressed"), (4, "deferred"), (5, "background")],
        "hot_key int, tier string",
    )
    return (
        salted_join(fact, dim, "hot_key")
        .groupBy("hot_key", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("revenue"),
        )
    )


QUERIES["salted_skew_join"] = salted_skew_join

ORACLES["salted_skew_join"] = """
WITH fact AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM') THEN 0
              ELSE substring(o_orderpriority, 1, 1)::INT END AS hot_key
  FROM orders
),
dim AS (
  SELECT * FROM (VALUES (0, 'compressed'), (4, 'deferred'), (5, 'background'))
    d(hot_key, tier)
)
SELECT hot_key, tier, count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM fact JOIN dim USING (hot_key)
GROUP BY 1, 2 ORDER BY 1
"""


def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build (SURVEY §2 #60): the events log compacted
    into versioned (user, event_type) validity ranges via
    `scd2_from_log` (operators/scd.py). Open rows close at a sentinel
    so the output stays one fully-typed string column per boundary.
    """

    ev = _t(spark, sf_dir, "events")
    scd = scd2_from_log(ev, "user_id", "event_type")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        scd.select(
            "user_id",
            "event_type",
            "version",
            F.date_format("valid_from", fmt).alias("valid_from"),
            F.coalesce(
                F.date_format("valid_to", fmt), F.lit("9999-12-31 00:00:00.000000")
            ).alias("valid_to"),
        )
    )


QUERIES["scd2_snapshot"] = scd2_snapshot

ORACLES["scd2_snapshot"] = """
WITH runs AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
starts AS (
  SELECT user_id, event_type, ts, event_id FROM runs
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type,
       row_number() OVER w AS version,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f'),
                '9999-12-31 00:00:00.000000') AS valid_to
FROM starts
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


# ---------------------------------------------------------------------------
# key_skew_profile — join-key distribution diagnostics
# ---------------------------------------------------------------------------

def _skew_stats(df: DataFrame, key: str, label: str) -> DataFrame:
    cnt = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    # mean written as exact-long sum / count (one correctly-rounded double
    # division) rather than avg(): engines disagree on double-avg
    # accumulation but not on integer sums.
    return cnt.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
        F.round(
            F.max("cnt")
            / (F.sum("cnt").cast("double") / F.count(F.lit(1))),
            4,
        ).alias("skew_ratio"),
    ).select(
        F.lit(label).alias("key"),
        "n_keys",
        "n_rows",
        "max_cnt",
        "p50_cnt",
        "p99_cnt",
        "skew_ratio",
    )


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: per-key count distribution for the
    two hottest join keys. This is the measurement that decides salting
    / AQE skew-join thresholds before a 100 TB run; each branch is one
    map-combined count plus a tiny second agg (percentile over ONE row
    per key, not per input row).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    a = _skew_stats(li, "l_suppkey", "lineitem.l_suppkey")
    b = _skew_stats(orders, "o_custkey", "orders.o_custkey")
    return a.unionByName(b)


QUERIES["key_skew_profile"] = key_skew_profile

ORACLES["key_skew_profile"] = """
WITH lc AS (SELECT count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
oc AS (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey),
a AS (
  SELECT 'lineitem.l_suppkey' AS key, count(*) AS n_keys,
         cast(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt,
         round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
         round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
         round(max(cnt) / (cast(sum(cnt) AS DOUBLE) / count(*)), 4) AS skew_ratio
  FROM lc
),
b AS (
  SELECT 'orders.o_custkey' AS key, count(*) AS n_keys,
         cast(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt,
         round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
         round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
         round(max(cnt) / (cast(sum(cnt) AS DOUBLE) / count(*)), 4) AS skew_ratio
  FROM oc
)
SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY key
"""


# ---------------------------------------------------------------------------
# churn_setops — EXCEPT / INTERSECT cohort movement
# ---------------------------------------------------------------------------

def churn_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer churn/retention between 1995 and 1996 via set operators
    (EXCEPT DISTINCT / INTERSECT DISTINCT), rolled up per nation.

    Spark compiles both set ops to hash aggregates on the full row — a
    single shuffle each on the already-distinct custkey projections.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01"))
            )
            .select("o_custkey")
            .distinct()
        )

    y94, y95 = year_keys(1995), year_keys(1996)
    churned = y94.subtract(y95).withColumn("op", F.lit("churned"))
    retained = y94.intersect(y95).withColumn("op", F.lit("retained"))
    moved = churned.unionByName(retained)
    return (
        moved.join(cust, moved.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "op")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


QUERIES["churn_setops"] = churn_setops

ORACLES["churn_setops"] = """
WITH y94 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1996-01-01'
),
y95 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
),
moved AS (
  SELECT o_custkey, 'churned' AS op FROM (SELECT * FROM y94 EXCEPT SELECT * FROM y95)
  UNION ALL
  SELECT o_custkey, 'retained' AS op
  FROM (SELECT * FROM y94 INTERSECT SELECT * FROM y95)
)
SELECT n_name, op, count(*) AS n_customers
FROM moved
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# morton_tiles — Z-order (Morton) locality layout over the raster grid
# ---------------------------------------------------------------------------

def _morton_expr(lat: str, lon: str, bits: int, spark_dialect: bool) -> str:
    """Interleaved-bit Morton code; identical arithmetic both dialects."""
    parts = []
    for b in range(bits):
        if spark_dialect:
            parts.append(f"shiftleft(shiftright({lat}, {b}) & 1, {2 * b + 1})")
            parts.append(f"shiftleft(shiftright({lon}, {b}) & 1, {2 * b})")
        else:
            parts.append(f"((({lat} >> {b}) & 1) << {2 * b + 1})")
            parts.append(f"((({lon} >> {b}) & 1) << {2 * b})")
    return " + ".join(parts)


def morton_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout demo: Morton-interleave the 160x360 raster
    grid coordinates, bucket into 1024 coarse tiles, and show each tile
    covers a COMPACT lat/lon box (the property that makes Z-order sort
    keys cluster multidimensional scans into prunable files).

    The grid is generated distributively from spark.range — the same
    convention as zonal_stats — and the whole plan is expression-only:
    one narrow pass plus one tile-keyed aggregation.
    """
    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .withColumn("val", (F.col("latidx") * 31 + F.col("lonidx") * 17) % 97)
    )
    morton = _morton_expr("latidx", "lonidx", 9, spark_dialect=True)
    return (
        pix.withColumn("tile", F.expr(f"({morton}) div 256"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_pix"),
            F.sum("val").alias("val_sum"),
            F.min("latidx").alias("lat_lo"),
            F.max("latidx").alias("lat_hi"),
            F.min("lonidx").alias("lon_lo"),
            F.max("lonidx").alias("lon_hi"),
        )
    )


QUERIES["morton_tiles"] = morton_tiles

ORACLES["morton_tiles"] = f"""
WITH pix AS (
  SELECT cast(i // 360 AS INT) AS latidx, cast(i % 360 AS INT) AS lonidx,
         (cast(i // 360 AS INT) * 31 + cast(i % 360 AS INT) * 17) % 97 AS val
  FROM (SELECT unnest(range(0, {160 * 360})) AS i)
)
SELECT ({_morton_expr('latidx', 'lonidx', 9, spark_dialect=False)}) // 256
         AS tile,
       count(*) AS n_pix, cast(sum(val) AS BIGINT) AS val_sum,
       min(latidx) AS lat_lo, max(latidx) AS lat_hi,
       min(lonidx) AS lon_lo, max(lonidx) AS lon_hi
FROM pix GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# table_profile — single-pass multi-column statistics (ANALYZE path)
# ---------------------------------------------------------------------------

def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics for the orders table: the four exact distincts
    come from one multi-distinct aggregate (Spark plans it via one
    Expand — 5x row multiplication, one pass over the parquet), the
    counts and min/max from a second plain keyless aggregate, and the
    two 1-row results cross-join before the stack() unpivot. The cost
    model / optimizer-statistics collection path of an engine.

    The split is load-bearing (optimization guide §2.3/§7.2): attaching
    min/max-of-STRING to the multi-distinct aggregate gives the keyed
    first-level aggregate string-typed buffers, which HashAggregate
    cannot hold — the WHOLE Expand output (5x the table) fell back to
    SortAggregate behind a full Sort (measured: the sort dominated the
    key, 1.9 s at sf0.1 on a 0.15 s-scan table; plan had Sort+
    SortAggregate x3). Split, the distinct side keeps long-only buffers
    (HashAggregate throughout) and the plain side is a single
    partial/final pass with no grouping keys, so no Sort is ever
    planned. Same values, same one-row shape, minus an O(N log N) sort
    of the expanded rows at every scale.

    Numeric min/max stay numeric and string min/max stay strings
    (separate nullable columns) — casting doubles to display strings is
    engine-divergent, so the schema keeps types honest instead.
    """
    orders = _t(spark, sf_dir, "orders")
    dist = orders.agg(
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_orderpriority").alias("d_prio"),
        F.countDistinct("o_custkey").alias("d_cust"),
        F.countDistinct("o_totalprice").alias("d_price"),
    )
    plain = orders.agg(
        F.count("o_orderstatus").alias("n_status"),
        F.min("o_orderstatus").alias("lo_status"),
        F.max("o_orderstatus").alias("hi_status"),
        F.count("o_orderpriority").alias("n_prio"),
        F.min("o_orderpriority").alias("lo_prio"),
        F.max("o_orderpriority").alias("hi_prio"),
        F.count("o_custkey").alias("n_cust"),
        F.min("o_custkey").cast("double").alias("lo_cust"),
        F.max("o_custkey").cast("double").alias("hi_cust"),
        F.count("o_totalprice").alias("n_price"),
        F.min("o_totalprice").alias("lo_price"),
        F.max("o_totalprice").alias("hi_price"),
    )
    wide = dist.crossJoin(plain)
    return wide.select(
        F.expr(
            "stack(4,"
            " 'o_orderstatus',   n_status, d_status, cast(null as double),"
            "   cast(null as double), lo_status, hi_status,"
            " 'o_orderpriority', n_prio,   d_prio,   cast(null as double),"
            "   cast(null as double), lo_prio,   hi_prio,"
            " 'o_custkey',       n_cust,   d_cust,   lo_cust,  hi_cust,"
            "   cast(null as string), cast(null as string),"
            " 'o_totalprice',    n_price,  d_price,  lo_price, hi_price,"
            "   cast(null as string), cast(null as string))"
            " AS (column_name, n_nonnull, n_distinct, min_num, max_num,"
            "     min_str, max_str)"
        )
    )


QUERIES["table_profile"] = table_profile

ORACLES["table_profile"] = """
SELECT 'o_custkey' AS column_name, count(o_custkey) AS n_nonnull,
       count(DISTINCT o_custkey) AS n_distinct,
       cast(min(o_custkey) AS DOUBLE) AS min_num,
       cast(max(o_custkey) AS DOUBLE) AS max_num,
       cast(NULL AS VARCHAR) AS min_str, cast(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(o_orderpriority),
       count(DISTINCT o_orderpriority), NULL, NULL,
       min(o_orderpriority), max(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(o_orderstatus),
       count(DISTINCT o_orderstatus), NULL, NULL,
       min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(o_totalprice), count(DISTINCT o_totalprice),
       min(o_totalprice), max(o_totalprice), NULL, NULL
FROM orders
ORDER BY column_name
"""


# ---------------------------------------------------------------------------
# range_partition_bounds — sort/range-partition planning from disc quantiles
# ---------------------------------------------------------------------------

_RPB_BUCKETS = 8


def range_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner boundary computation + balance proof (SURVEY §2
    #97) — what Spark's RangePartitioner (and every distributed sort /
    range-clustered write) does before shuffling: pick split points,
    then prove the buckets are balanced.

    Boundaries are DISCRETE percentiles (percentile_disc returns an
    actual data value — no interpolation float, so the bounds are
    bit-identical across engines; the cont variant would interpolate
    and drift) computed over a DETERMINISTIC 4% hash-gated sample —
    exactly Spark's RangePartitioner design (reservoir-sample then
    split), with the md5 gate making the sample engine-reproducible
    where a reservoir is not. Sampling is what keeps this scale-sane:
    exact percentiles buffer the full column on one reducer, while the
    sample bound is |table|/25 regardless of scale, and the resulting
    census SHOWS the sample bounds still split within a few percent of
    even. The 7-bound row is a 1-row broadcast; bucket assignment is a
    row-local CASE, and the census is one map-combined aggregation.
    """

    orders = _t(spark, sf_dir, "orders")
    qs = [i / _RPB_BUCKETS for i in range(1, _RPB_BUCKETS)]
    gate = F.expr(X.hash64_spark("cast(o_orderkey as string)")) % 100 < 4
    bounds = orders.filter(gate).agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias(f"b{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, _RPB_BUCKETS):
        bucket = bucket + (F.col("o_totalprice") > F.col(f"b{i}")).cast("int")
    return (
        orders.select("o_totalprice")
        .crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


QUERIES["range_partition_bounds"] = range_partition_bounds


def _rpb_oracle() -> str:
    qs = [i / _RPB_BUCKETS for i in range(1, _RPB_BUCKETS)]
    bound_cols = ", ".join(
        f"quantile_disc(o_totalprice, {q}) AS b{i}"
        for i, q in enumerate(qs, start=1)
    )
    bucket_expr = " + ".join(
        ["1"]
        + [
            f"CASE WHEN o_totalprice > b{i} THEN 1 ELSE 0 END"
            for i in range(1, _RPB_BUCKETS)
        ]
    )
    gate = X.hash64_duck("cast(o_orderkey as VARCHAR)")
    return f"""
WITH bounds AS (
  SELECT {bound_cols} FROM orders WHERE {gate} % 100 < 4
)
SELECT {bucket_expr} AS bucket,
       count(*) AS n_rows,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM orders CROSS JOIN bounds
GROUP BY 1 ORDER BY 1
"""

ORACLES["range_partition_bounds"] = _rpb_oracle()


# ---------------------------------------------------------------------------
# snapshot_diff — CDC-style keyed diff between two table snapshots
# ---------------------------------------------------------------------------

def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff of two table snapshots — the change-data-capture
    census every incremental pipeline runs before a merge (the
    reference re-derives whole intermediate files per run,
    e.g. generate_intermediate_files in initialization.py; a diff
    census is how a distributed engine decides what actually changed).

    Snapshot A = orders booked before 1997-07-01; snapshot B = orders
    before 1998-01-01 with a simulated price correction on keys
    divisible by 97.  One full-outer sort-merge join on the key
    classifies every row as added / removed / changed / unchanged and
    totals the price drift per class.

    Scale shape: a single shuffle of both snapshots on the primary key
    (Catalyst picks SMJ; with bucketed snapshot tables even that
    exchange disappears).  Column values are compared directly here;
    a wide production table would compare an md5 of the non-key columns
    computed in the scan projection — same plan, one column.
    """
    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1997-07-01").cast("date")).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price_a"),
        F.col("o_orderstatus").alias("status_a"),
    )
    new = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date")).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 97 == 0, F.lit(10.0)).otherwise(F.lit(0.0))
        ).alias("price_b"),
        F.col("o_orderstatus").alias("status_b"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("price_a").isNull(), F.lit("added"))
        .when(F.col("price_b").isNull(), F.lit("removed"))
        .when(
            (F.col("price_a") != F.col("price_b"))
            | (F.col("status_a") != F.col("status_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("price_b"), F.lit(0.0)) - F.coalesce(
        F.col("price_a"), F.lit(0.0)
    )
    return (
        j.select(change.alias("change_type"), delta.alias("delta"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("delta").cast(DEC)), 2)
            .cast("double")
            .alias("price_delta"),
        )
    )


QUERIES["snapshot_diff"] = snapshot_diff

ORACLES["snapshot_diff"] = """
WITH old AS (
  SELECT o_orderkey, o_totalprice AS price_a, o_orderstatus AS status_a
  FROM orders WHERE o_orderdate < DATE '1997-07-01'
),
new AS (
  SELECT o_orderkey,
         o_totalprice + CASE WHEN o_orderkey % 97 = 0 THEN 10.0 ELSE 0.0 END
           AS price_b,
         o_orderstatus AS status_b
  FROM orders WHERE o_orderdate < DATE '1998-01-01'
)
SELECT CASE WHEN price_a IS NULL THEN 'added'
            WHEN price_b IS NULL THEN 'removed'
            WHEN price_a <> price_b OR status_a <> status_b THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       count(*) AS n_rows,
       round(sum(CAST(coalesce(price_b, 0.0) - coalesce(price_a, 0.0)
                      AS DECIMAL(27,6))), 2)::DOUBLE AS price_delta
FROM old FULL OUTER JOIN new USING (o_orderkey)
GROUP BY 1
ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# partition_pruning_stats — zone-map / file-skipping census
# ---------------------------------------------------------------------------

_PRUNE_THRESHOLD = 400.0


def partition_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map effectiveness census: per (event_type, day) partition,
    min/max of ``value``; then per event type, how many partitions a
    ``value >= 400`` predicate could SKIP outright (max < threshold)
    and how many rows that skips — the data-layout question behind
    every file-skipping / partition-pruning design at 100 TB (a scan
    that cannot prune reads everything no matter how good the engine).

    Two dim-sized aggregations over one scan: the (type, day) zone
    stats are map-combined partials; the rollup is over the partition
    census itself.  All integer outputs.
    """
    ev = _t(spark, sf_dir, "events")
    zones = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("value").alias("vmax"),
        )
    )
    prunable = F.col("vmax") < F.lit(_PRUNE_THRESHOLD)
    return (
        zones.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum(F.when(prunable, 1).otherwise(0)).alias("n_prunable"),
            F.sum(F.when(prunable, F.col("n_rows")).otherwise(0)).alias(
                "rows_skipped"
            ),
            F.sum("n_rows").alias("rows_total"),
        )
        .select(
            "event_type",
            "n_partitions",
            "n_prunable",
            "rows_skipped",
            "rows_total",
            F.expr("cast(n_prunable * 10000 div n_partitions as int)").alias(
                "prunable_bp"
            ),
        )
    )


QUERIES["partition_pruning_stats"] = partition_pruning_stats

ORACLES["partition_pruning_stats"] = f"""
WITH zones AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         count(*) AS n_rows, max(value) AS vmax
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_partitions,
       CAST(sum(CASE WHEN vmax < {_PRUNE_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_prunable,
       CAST(sum(CASE WHEN vmax < {_PRUNE_THRESHOLD} THEN n_rows ELSE 0 END)
            AS BIGINT) AS rows_skipped,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN vmax < {_PRUNE_THRESHOLD} THEN 1 ELSE 0 END) * 10000
            // count(*) AS INT) AS prunable_bp
FROM zones
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# join_cardinality_estimate — optimizer-statistics validation
# ---------------------------------------------------------------------------

def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistics check: estimate the
    orders⋈lineitem output size from per-key frequency histograms
    (Σ c₁(k)·c₂(k) — the exact formula a CBO evaluates from its
    column histograms) and compare against the true join count.

    Both inputs are map-combined per-key counts; the estimate is a
    dim-against-dim join of the two histograms — the actual fact-table
    join never runs, which is the entire point of estimating.  The
    'actual' column here runs it anyway (that is what makes the check
    a check); est_over_actual_bp is one integer division.  Per order
    priority so the histogram skew shows.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_hist = orders.groupBy("o_orderpriority", "o_orderkey").agg(
        F.count(F.lit(1)).alias("c_o")
    )
    l_hist = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c_l"))
    est = (
        o_hist.join(
            l_hist, o_hist["o_orderkey"] == l_hist["l_orderkey"]
        )
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("c_o") * F.col("c_l")).alias("estimated"))
    )
    actual = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    return (
        est.join(actual, "o_orderpriority")
        .select(
            "o_orderpriority",
            "estimated",
            "actual",
            F.expr("cast(estimated * 10000 div actual as int)").alias(
                "est_over_actual_bp"
            ),
        )
    )


QUERIES["join_cardinality_estimate"] = join_cardinality_estimate

ORACLES["join_cardinality_estimate"] = """
WITH o_hist AS (
  SELECT o_orderpriority, o_orderkey, count(*) AS c_o
  FROM orders GROUP BY 1, 2
),
l_hist AS (
  SELECT l_orderkey, count(*) AS c_l FROM lineitem GROUP BY 1
),
est AS (
  SELECT o_orderpriority, CAST(sum(c_o * c_l) AS BIGINT) AS estimated
  FROM o_hist JOIN l_hist ON o_orderkey = l_orderkey
  GROUP BY 1
),
act AS (
  SELECT o_orderpriority, count(*) AS actual
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1
)
SELECT o_orderpriority, estimated, actual,
       CAST(estimated * 10000 // actual AS INT) AS est_over_actual_bp
FROM est JOIN act USING (o_orderpriority)
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# fk_orphan_audit — referential-integrity orphan census
# ---------------------------------------------------------------------------

def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan census — the referential-integrity audit an
    ETL runs after every load: child rows whose parent key is missing.
    To make the audit provably non-vacuous, the customer and part
    parents are read as SIMULATED PARTIAL SNAPSHOTS (keys divisible by
    1000/500 dropped — the 'parent partition not yet landed' failure
    mode); orders→lineitem is audited intact.

    Each relation is one left join against the DISTINCT parent-key dim
    with a map-combined null count — at 100 TB the parent-key dim is
    the broadcast/bloom side and the child table never shuffles (Spark
    chooses BHJ for the small parents here; the orders parent goes
    SMJ, which is the right call at its size).
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 1000 != 0)
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 500 != 0)

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
              name: str) -> DataFrame:
        p = parent.select(F.col(pkey).alias("k")).distinct().withColumn(
            "hit", F.lit(1)
        )
        return (
            child.select(F.col(ckey).alias("k"))
            .join(p, "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias(
                    "n_orphans"
                ),
            )
            .select(F.lit(name).alias("relation"), "n_rows", "n_orphans")
        )

    return (
        audit(orders, "o_custkey", cust, "c_custkey", "orders->customer")
        .unionByName(audit(li, "l_orderkey", orders, "o_orderkey",
                           "lineitem->orders"))
        .unionByName(audit(li, "l_partkey", part, "p_partkey",
                           "lineitem->part"))
    )


QUERIES["fk_orphan_audit"] = fk_orphan_audit

ORACLES["fk_orphan_audit"] = """
WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 1000 <> 0),
prt AS (SELECT p_partkey FROM part WHERE p_partkey % 500 <> 0)
SELECT 'lineitem->orders' AS relation,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem->part', count(*),
       CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM prt) p
  ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'orders->customer', count(*),
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM cust) c
  ON o.o_custkey = c.c_custkey
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# scd2_temporal_lookup — point-in-time dimension lookup (rewrite proof)
# ---------------------------------------------------------------------------

def scd2_temporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: for every
    purchase, the user's versioned state row valid AT that purchase's
    timestamp — the "what did the dimension say when the fact
    happened" join every type-2 warehouse runs.

    The naive form is an equi+range probe (valid_from <= ts <
    valid_to); this implementation REWRITES it as the union+window
    as-of join (operators/asof.py — one shuffle, no per-row range
    probing), and the oracle is the naive BETWEEN SQL, so the gate
    proves the rewrite equivalent.  Ties at equal valid_from resolve
    to the highest version on both sides.
    """

    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_log(ev, "user_id", "event_type").select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.col("version"),
        F.col("event_type").alias("state"),
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = _asof(probe, dim, "user_id", value_cols=["version", "state"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.col("version_asof").alias("version"),
        F.col("state_asof").alias("state"),
    )


QUERIES["scd2_temporal_lookup"] = scd2_temporal_lookup

ORACLES["scd2_temporal_lookup"] = """
WITH runs AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS version
  FROM runs WHERE prev IS NULL OR prev <> event_type
),
probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
matched AS (
  SELECT p.event_id, p.user_id, p.ts, d.version, d.state,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY d.version DESC) AS rn
  FROM probe p JOIN dim d
    ON d.user_id = p.user_id AND d.valid_from <= p.ts
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       version, state
FROM matched WHERE rn = 1
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# time_rollup_grouping_sets — multi-granularity time rollup
# ---------------------------------------------------------------------------

def time_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day/week/month rollups of event value in ONE pass via GROUPING
    SETS — the multi-granularity time-series materialization a metrics
    store refreshes (three separate aggregations would scan three
    times; the Expand-based plan scans once and partial-aggregates
    map-side).

    Granularity is recovered from GROUPING() flags; totals are
    order-insensitive DECIMAL sums.
    """
    ev = _t(spark, sf_dir, "events")
    ev.select(
        F.to_date("ts").alias("day"),
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date(F.date_trunc("month", "ts")).alias("month"),
        F.col("value").cast(DEC).alias("v"),
    ).createOrReplaceTempView("_ev_grains")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                    WHEN grouping(week) = 0 THEN 'week'
                    ELSE 'month' END AS grain,
               coalesce(day, week, month) AS period,
               count(*) AS n,
               cast(round(sum(v), 2) as double) AS total
        FROM _ev_grains
        GROUP BY GROUPING SETS ((day), (week), (month))
        """
    )


QUERIES["time_rollup_grouping_sets"] = time_rollup_grouping_sets

ORACLES["time_rollup_grouping_sets"] = """
WITH g AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(value AS DECIMAL(27,6)) AS v
  FROM events
)
SELECT CASE WHEN grouping(day) = 0 THEN 'day'
            WHEN grouping(week) = 0 THEN 'week'
            ELSE 'month' END AS grain,
       coalesce(day, week, month) AS period,
       count(*) AS n,
       round(sum(v), 2)::DOUBLE AS total
FROM g
GROUP BY GROUPING SETS ((day), (week), (month))
ORDER BY grain, period
"""


# ---------------------------------------------------------------------------
# key_gini — Gini coefficient of key-frequency skew
# ---------------------------------------------------------------------------

def key_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the key-frequency distribution for the
    shuffle keys that matter here (events.user_id, lineitem.l_partkey)
    — the single-number skew summary behind partition-sizing decisions
    (key_skew_profile reports the head; Gini reports the whole curve).

    Computed exactly from the sorted frequency table:
    G = (2·Σ i·cᵢ − (n+1)·Σ cᵢ) / (n·Σ cᵢ) with i the ascending
    frequency rank — all integer until the one division, reported in
    basis points.  The rank window runs over the AGGREGATED key table
    (dim-sized relative to the fact table); at 100 TB the same number
    comes from a sampled or bucketed frequency sketch.
    """
    def gini_of(df: DataFrame, key: str, label: str) -> DataFrame:
        freq = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        ranked = freq.select(
            F.col("c"),
            F.row_number().over(Window.orderBy(F.asc("c"), F.asc(key))).alias("i"),
        )
        return ranked.agg(
            F.lit(label).alias("key_name"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.expr(
                "cast((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000"
                " div (count(*) * sum(c)) as int)"
            ).alias("gini_bp"),
        ).select("key_name", "n_keys", "n_rows", "gini_bp")

    ev = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    return (
        gini_of(ev, "user_id", "events.user_id")
        .unionByName(gini_of(li, "l_partkey", "lineitem.l_partkey"))
    )


QUERIES["key_gini"] = key_gini

ORACLES["key_gini"] = """
WITH ef AS (
  SELECT count(*) AS c, user_id AS k FROM events GROUP BY user_id
),
er AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM ef
),
lf AS (
  SELECT count(*) AS c, l_partkey AS k FROM lineitem GROUP BY l_partkey
),
lr AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM lf
)
SELECT 'events.user_id' AS key_name, count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000
            // (count(*) * sum(c)) AS INT) AS gini_bp
FROM er
UNION ALL
SELECT 'lineitem.l_partkey', count(*), CAST(sum(c) AS BIGINT),
       CAST((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000
            // (count(*) * sum(c)) AS INT)
FROM lr
ORDER BY key_name
"""


# ---------------------------------------------------------------------------
# props_variant_stats — Spark 4 VARIANT path for semi-structured JSON
# ---------------------------------------------------------------------------

def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events.props payload through Spark 4's VARIANT type:
    ``parse_json`` once in the scan projection, typed
    ``variant_get`` extraction, then an ordinary aggregation — the
    schema-flexible cousin of json_props_stats (from_json with a
    declared schema).  VARIANT keeps the parsed binary form, so
    repeated path extractions don't re-parse the string — the path to
    prefer when payload schemas drift across a 100 TB log.
    """

    ev = widen_scan(_t(spark, sf_dir, "events"))
    parsed = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


QUERIES["props_variant_stats"] = props_variant_stats

ORACLES["props_variant_stats"] = """
SELECT event_type,
       count(*) AS n,
       count(k) AS n_with_k,
       CAST(min(k) AS INT) AS min_k,
       CAST(max(k) AS INT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# incremental_agg_maintenance — merge a delta batch into a materialized agg
# ---------------------------------------------------------------------------

_IVM_CUT = "2024-01-21 00:00:00"


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a daily rollup: the
    materialized base aggregate (days before the cut) is MERGED with
    the delta batch's partial aggregate (days from the cut) by a keyed
    full-outer combine — never recomputing the base — and the oracle
    recomputes from scratch, so the gate proves merged ≡ recomputed.
    The pattern that turns a 100 TB nightly rebuild into a
    delta-sized one; counts and DECIMAL sums are the mergeable
    aggregates (avg derives at read time).
    """
    ev = _t(spark, sf_dir, "events")
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.to_date("ts").alias("day"),
                "event_type",
                F.col("value").cast(DEC).alias("v"),
            )
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        )

    base = rollup(ev.filter(F.col("ts") < cut))
    delta = rollup(ev.filter(F.col("ts") >= cut))
    return (
        base.select("day", "event_type", F.col("n").alias("n_b"),
                    F.col("total").alias("t_b"))
        .join(
            delta.select("day", "event_type", F.col("n").alias("n_d"),
                         F.col("total").alias("t_d")),
            ["day", "event_type"],
            "full_outer",
        )
        .select(
            "day",
            "event_type",
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n"),
            F.round(
                F.coalesce(F.col("t_b"), F.lit(0).cast(DEC))
                + F.coalesce(F.col("t_d"), F.lit(0).cast(DEC)),
                2,
            )
            .cast("double")
            .alias("total"),
        )
    )


QUERIES["incremental_agg_maintenance"] = incremental_agg_maintenance

ORACLES["incremental_agg_maintenance"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n,
       round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# salted_aggregation — two-phase skew-resistant aggregate (rewrite proof)
# ---------------------------------------------------------------------------

_AGG_SALT = 8


def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by total event value, aggregated through an
    EXPLICIT two-phase salted plan: phase one groups on
    (user, salt=id-hash%8) — a hot key's rows spread over 8 reducers —
    phase two merges the partials on the user key alone.  The oracle
    is the direct single-phase SQL, so the gate proves the salted
    rewrite exact (counts and DECIMAL sums are the mergeable forms).

    Spark's own map-side partial aggregation makes this redundant for
    built-in aggs (and AQE handles join skew); the explicit form is
    the shape you reach for when a hot key overwhelms even a single
    reducer's FINAL aggregation — e.g. collect-like or sketch state —
    and it is the same two-phase contract incremental_agg_maintenance
    relies on.
    """
    ev = _t(spark, sf_dir, "events")
    salt = F.expr(X.hash64_spark("cast(event_id as string)")) % _AGG_SALT
    phase1 = (
        ev.select("user_id", salt.alias("salt"), F.col("value").cast(DEC).alias("v"))
        .groupBy("user_id", "salt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("t"))
    )
    phase2 = phase1.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("t"), 2).cast("double").alias("total_value"),
    )
    w = Window.orderBy(F.desc("total_value"), F.asc("user_id"))
    return (
        phase2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("rank", "user_id", "n_events", "total_value")
    )


QUERIES["salted_aggregation"] = salted_aggregation

ORACLES["salted_aggregation"] = """
WITH agg AS (
  SELECT user_id, count(*) AS n_events,
         round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
  FROM events GROUP BY user_id
)
SELECT rank, user_id, n_events, total_value FROM (
  SELECT *, row_number() OVER (ORDER BY total_value DESC, user_id ASC) AS rank
  FROM agg
)
WHERE rank <= 10
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# contract_violations — declarative data-contract validation census
# ---------------------------------------------------------------------------

_CONTRACT_TYPES = ("click", "view", "purchase", "signup", "error")


def contract_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation of the events feed: each declared rule
    (non-null user, value range, enum membership, timestamp window,
    well-formed JSON props) is evaluated as a row-local predicate in
    ONE scan, and the census reports violations per rule — the
    quality gate every ingestion contract runs before publishing a
    partition.

    A stack of conditional sums over a single pass; no shuffles beyond
    the final one-row-per-rule aggregate.  Adding a rule is adding a
    column expression — the contract stays declarative.
    """
    ev = _t(spark, sf_dir, "events")
    enum = ", ".join(f"'{t}'" for t in _CONTRACT_TYPES)
    rules = {
        "user_id_not_null": "user_id IS NULL",
        "value_in_range": "value IS NULL OR value < 0 OR value > 1000",
        "type_in_enum": f"event_type NOT IN ({enum})",
        "ts_in_window": "ts < timestamp'2024-01-01 00:00:00'"
                        " OR ts >= timestamp'2024-02-01 00:00:00'",
        "props_valid_json": "props IS NULL OR get_json_object(props, '$.k') IS NULL",
    }
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END")).alias(k)
            for k in rules
            for cond in [rules[k]]
        ],
    )
    stack = ", ".join(f"'{k}', {k}" for k in rules)
    return (
        agg.select(
            F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)"),
            "n_rows",
        )
        .select("rule", "n_violations", "n_rows")
    )


QUERIES["contract_violations"] = contract_violations

_CONTRACT_ENUM_SQL = ", ".join(f"'{t}'" for t in _CONTRACT_TYPES)

ORACLES["contract_violations"] = f"""
WITH agg AS (
  SELECT count(*) AS n_rows,
    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS user_id_not_null,
    sum(CASE WHEN value IS NULL OR value < 0 OR value > 1000
        THEN 1 ELSE 0 END) AS value_in_range,
    sum(CASE WHEN event_type NOT IN ({_CONTRACT_ENUM_SQL})
        THEN 1 ELSE 0 END) AS type_in_enum,
    sum(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
              OR ts >= TIMESTAMP '2024-02-01 00:00:00'
        THEN 1 ELSE 0 END) AS ts_in_window,
    sum(CASE WHEN props IS NULL OR json_extract(props, '$.k') IS NULL
        THEN 1 ELSE 0 END) AS props_valid_json
  FROM events
)
SELECT rule, n_violations, n_rows FROM (
  SELECT 'props_valid_json' AS rule,
         CAST(props_valid_json AS BIGINT) AS n_violations, n_rows FROM agg
  UNION ALL
  SELECT 'ts_in_window', CAST(ts_in_window AS BIGINT), n_rows FROM agg
  UNION ALL
  SELECT 'type_in_enum', CAST(type_in_enum AS BIGINT), n_rows FROM agg
  UNION ALL
  SELECT 'user_id_not_null', CAST(user_id_not_null AS BIGINT), n_rows FROM agg
  UNION ALL
  SELECT 'value_in_range', CAST(value_in_range AS BIGINT), n_rows FROM agg
)
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# nested_order_items — complex-type (struct array + map) roundtrip
# ---------------------------------------------------------------------------

def nested_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type assembly and consumption in one plan: each order's
    line items become a SORTED ARRAY OF STRUCTS (the denormalized
    shape document stores and event payloads arrive in), and the
    census consumes it back — first-item price by position, item
    counts, flag presence via a higher-order exists().

    array_sort on the struct's leading field makes collect_list's
    partition-order nondeterminism irrelevant (ordered_string_export's
    rule, applied to structs); all downstream access is row-local HOFs
    on the assembled array — no second shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nested = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_partkey").alias("part"),
                F.col("l_extendedprice").alias("price"),
                F.col("l_returnflag").alias("flag"),
            ).alias("item"),
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("item")).alias("items"))
    )
    consumed = nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.expr("items[0].price").alias("first_price"),
        F.expr("exists(items, x -> x.flag = 'R')").alias("any_returned"),
    )
    return (
        consumed.join(
            orders.select("o_orderkey", "o_orderpriority"),
            consumed["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_items").alias("total_items"),
            F.round(F.sum(F.col("first_price").cast(DEC)), 2)
            .cast("double")
            .alias("first_item_revenue"),
            F.sum(F.when(F.col("any_returned"), 1).otherwise(0)).alias(
                "n_with_returns"
            ),
        )
    )


QUERIES["nested_order_items"] = nested_order_items

ORACLES["nested_order_items"] = """
WITH nested AS (
  SELECT l_orderkey,
         list_sort(list({'ln': l_linenumber, 'part': l_partkey,
                         'price': l_extendedprice, 'flag': l_returnflag}))
           AS items
  FROM lineitem GROUP BY l_orderkey
),
consumed AS (
  SELECT l_orderkey,
         len(items) AS n_items,
         items[1]['price'] AS first_price,
         len(list_filter(items, x -> x['flag'] = 'R')) > 0 AS any_returned
  FROM nested
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(n_items) AS BIGINT) AS total_items,
       round(sum(CAST(first_price AS DECIMAL(27,6))), 2)::DOUBLE
         AS first_item_revenue,
       CAST(sum(CASE WHEN any_returned THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_returns
FROM consumed JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# price_reconciliation — header-vs-lines financial audit
# ---------------------------------------------------------------------------

def price_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: does each order HEADER total match the
    sum of its LINES (extprice·(1+tax)·(1−discount))?  The
    header/detail consistency audit every finance pipeline runs — and
    a deliberate synthetic-data honesty check: the census REPORTS the
    mismatch rate rather than assuming the generator enforced the
    invariant.

    Per-line amounts are row-local doubles (identical op order both
    engines), summed per order in DECIMAL; the header join is the
    natural key SMJ; tolerance compare at one cent.  Census per order
    priority: orders, mismatches, total absolute drift.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    line_tot = (
        li.select(
            "l_orderkey",
            (
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
            )
            .cast(DEC)
            .alias("amt"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("amt").alias("lines_total"))
    )
    j = orders.select("o_orderkey", "o_orderpriority", "o_totalprice").join(
        line_tot, orders["o_orderkey"] == line_tot["l_orderkey"]
    )
    diff = F.abs(F.col("o_totalprice").cast(DEC) - F.col("lines_total"))
    return (
        j.select("o_orderpriority", diff.alias("drift"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("drift") > 0.01, 1).otherwise(0)).alias(
                "n_mismatched"
            ),
            F.round(F.sum("drift"), 2).cast("double").alias("total_drift"),
        )
    )


QUERIES["price_reconciliation"] = price_reconciliation

ORACLES["price_reconciliation"] = """
WITH line_tot AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                  AS DECIMAL(27,6))) AS lines_total
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(27,6))
                              - lines_total) > 0.01
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       round(sum(abs(CAST(o_totalprice AS DECIMAL(27,6)) - lines_total)), 2)
         ::DOUBLE AS total_drift
FROM orders JOIN line_tot ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# pk_uniqueness_audit — natural-key uniqueness census
# ---------------------------------------------------------------------------

def pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary/natural-key uniqueness audit across the lake's
    load-bearing keys — the companion of fk_orphan_audit on the other
    side of referential integrity (a duplicated key silently doubles
    every downstream join).

    Each relation is one map-combined key count + one tiny aggregate
    of the duplicate census; lineitem is audited on its COMPOSITE
    natural key (orderkey, linenumber).
    """
    def audit(df: DataFrame, cols: list, name: str) -> DataFrame:
        per_key = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
        return per_key.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_keys"),
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c") - 1)), F.lit(0)
            ).alias("n_excess_rows"),
        ).select("relation", "n_keys", "n_rows", "n_dup_keys", "n_excess_rows")

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    docs = _t(spark, sf_dir, "documents")
    return (
        audit(orders, ["o_orderkey"], "orders.o_orderkey")
        .unionByName(audit(li, ["l_orderkey", "l_linenumber"],
                           "lineitem.(o,line)"))
        .unionByName(audit(cust, ["c_custkey"], "customer.c_custkey"))
        .unionByName(audit(docs, ["doc_id"], "documents.doc_id"))
    )


QUERIES["pk_uniqueness_audit"] = pk_uniqueness_audit

ORACLES["pk_uniqueness_audit"] = """
WITH o AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
),
l AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
),
c AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
),
d AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM documents GROUP BY doc_id)
)
SELECT 'customer.c_custkey' AS relation, * FROM c
UNION ALL
SELECT 'documents.doc_id', * FROM d
UNION ALL
SELECT 'lineitem.(o,line)', * FROM l
UNION ALL
SELECT 'orders.o_orderkey', * FROM o
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# compaction_plan — small-files / OPTIMIZE planner
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 64_000  # bytes per output file at test scale


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance planner (SURVEY §2 #178): for each (source,
    lang) partition of the documents table, compute how many
    target-size files a compaction (OPTIMIZE / rewriteDataFiles)
    should emit and how rows spread across them. The planning half of
    the small-files problem: at 100 TB a partition's byte census
    decides between bin-packing, splitting, and leaving it alone — and
    the census itself is one map-combined aggregation over metadata-
    sized columns (never the payload).

    Byte proxy: n_chars (the payload column's logical size). All
    outputs are exact integers (ceiling divisions in `div` space);
    `oversized_docs` counts rows that can never fit the target and
    would need their own file.
    """
    docs = _t(spark, sf_dir, "documents")
    t = _COMPACT_TARGET
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bytes"),
            F.sum((F.col("n_chars") > t).cast("int")).alias("oversized_docs"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "bytes",
            F.expr(f"cast((bytes + {t} - 1) div {t} as int)").alias("n_files"),
            F.expr(
                f"cast((n_docs + ((bytes + {t} - 1) div {t}) - 1) "
                f"div ((bytes + {t} - 1) div {t}) as int)"
            ).alias("rows_per_file"),
            "oversized_docs",
        )
    )


QUERIES["compaction_plan"] = compaction_plan

ORACLES["compaction_plan"] = f"""
WITH census AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS bytes,
         CAST(sum(CASE WHEN n_chars > {_COMPACT_TARGET} THEN 1 ELSE 0 END)
              AS BIGINT) AS oversized_docs
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, bytes,
       CAST((bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET} AS INT)
         AS n_files,
       CAST((n_docs + ((bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET}) - 1)
            // ((bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET}) AS INT)
         AS rows_per_file,
       oversized_docs
FROM census ORDER BY source, lang
"""


# ---------------------------------------------------------------------------
# k_anonymity_audit — privacy group-size census over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (SURVEY §2 #187): group the corpus by a
    quasi-identifier tuple (lang, source, 50-char size bucket) and
    report, per language, how many QI groups and rows fall below
    k = {k} — the privacy census run before releasing a dataset whose
    combination of innocuous attributes can re-identify members
    (complements pii_scan/pii_redact, which find EXPLICIT identifiers;
    k-anonymity measures IMPLICIT linkability).

    Scale shape: two exact groupBys, both map-side combinable; the QI
    census is bounded by the QI-space cardinality, the report by
    |langs|. No joins.
    """
    docs = _t(spark, sf_dir, "documents")
    groups = docs.groupBy(
        "lang",
        "source",
        F.expr("n_chars div 50").alias("size_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    below = F.col("n") < _KANON_K
    return (
        groups.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").alias("n_rows"),
            F.sum(below.cast("int")).alias("groups_below_k"),
            F.sum(F.when(below, F.col("n")).otherwise(0)).alias(
                "rows_below_k"
            ),
            F.min("n").alias("min_group_size"),
        )
    )


k_anonymity_audit.__doc__ = k_anonymity_audit.__doc__.format(k=_KANON_K)

QUERIES["k_anonymity_audit"] = k_anonymity_audit

ORACLES["k_anonymity_audit"] = f"""
WITH groups AS (
  SELECT lang, source, n_chars // 50 AS size_bucket, count(*) AS n
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_k,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(min(n) AS BIGINT) AS min_group_size
FROM groups GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# avro_roundtrip — house Avro OCF source/sink under the driver's oracle
# ---------------------------------------------------------------------------


def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-stdlib Avro OCF source/sink exercised through the
    correctness gate (VERDICT r7 item 2; the Avro counterpart of
    model_workbook_roundtrip's xlsx closure): a deterministic 5%
    orderkey slice of orders — bigint keys, a nullable string (every
    7th status nulled), a double, a derived boolean — written as ONE
    deflate OCF by sources/avro_ocf.py's single-file sink, re-read
    through binaryFile + the executor-side OCF decoder, and folded to
    a per-priority census (counts, distinct customers, exact cents,
    null and flag tallies). The oracle computes the same census from
    the parquet slice in pure SQL — any defect in the zig-zag/varint
    encoder, the deflate blocks, the union branches, or the decoder's
    field-by-name mapping changes a tally and breaks the hash.

    Determinism across the hop: integral columns cross the Arrow
    boundary as strings (exact at any magnitude, avro_ocf.py's >2^53
    contract); doubles cross as IEEE bytes; cents are summed as
    BIGINT so no double addition order matters.

    Deployment contract: the OCF hop rides fsio.scratch_dir — set
    ``spark.pyprima.scratchDir`` to a shared URI on a multi-node
    cluster (the model_workbook_roundtrip convention). The
    single-file sink is the format's contract, not a scale path;
    partitioned fan-out stays with the parquet sinks.
    """

    orders = _t(spark, sf_dir, "orders")
    sl = orders.filter(F.expr("o_orderkey % 100 < 5")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        F.expr(
            "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END"
        ).alias("status"),
        F.expr("o_totalprice > 150000").alias("big"),
    )
    path = fsio.join(
        fsio.scratch_dir(spark, "pyprima_avro_"), "orders_slice.avro"
    )
    write_avro_file(sl, path, order_by=["o_orderkey"]).count()  # force write

    back = read_avro(
        spark,
        path,
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string, "
        "o_totalprice double, status string, big boolean",
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias(
                "cents"
            ),
            F.sum(F.expr("CASE WHEN status IS NULL THEN 1 ELSE 0 END")).alias(
                "n_null_status"
            ),
            F.sum(F.expr("CASE WHEN big THEN 1 ELSE 0 END")).alias("n_big"),
        )
    )


QUERIES["avro_roundtrip"] = avro_roundtrip

ORACLES["avro_roundtrip"] = """
WITH sl AS (
  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END
           AS status,
         o_totalprice > 150000 AS big
  FROM orders WHERE o_orderkey % 100 < 5
)
SELECT o_orderpriority, count(*) AS n,
       count(DISTINCT o_custkey) AS n_cust,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(sum(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_status,
       CAST(sum(CASE WHEN big THEN 1 ELSE 0 END) AS BIGINT) AS n_big
FROM sl GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# l_diversity_audit — sensitive-value diversity within QI groups
# ---------------------------------------------------------------------------

_LDIV_L = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-DIVERSITY audit (SURVEY §2 #211): within each
    quasi-identifier group (lang, 50-char size bucket) count DISTINCT
    values of the sensitive attribute (source) and report, per lang,
    the groups whose diversity falls below l = {l} — the privacy gate
    k-anonymity cannot provide: a group can be large (k-anonymous) yet
    expose its members completely when every row shares ONE sensitive
    value (the homogeneity attack l-diversity was introduced against;
    Machanavajjhala et al., complements k_anonymity_audit's group-SIZE
    census on the same corpus).

    Scale shape: one exact two-level groupBy chain, every stage
    map-side combinable; the QI census is bounded by the QI-space
    cardinality, the report by |langs|. No joins, no windows.
    """
    docs = _t(spark, sf_dir, "documents")
    groups = docs.groupBy(
        "lang", F.expr("n_chars div 50").alias("size_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("source").alias("l_div"),
    )
    below = F.col("l_div") < _LDIV_L
    return (
        groups.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").alias("n_rows"),
            F.sum(below.cast("int")).alias("groups_below_l"),
            F.sum(F.when(below, F.col("n")).otherwise(0)).alias(
                "rows_below_l"
            ),
            F.min("l_div").alias("min_diversity"),
        )
    )


l_diversity_audit.__doc__ = l_diversity_audit.__doc__.format(l=_LDIV_L)

QUERIES["l_diversity_audit"] = l_diversity_audit

ORACLES["l_diversity_audit"] = f"""
WITH groups AS (
  SELECT lang, n_chars // 50 AS size_bucket, count(*) AS n,
         count(DISTINCT source) AS l_div
  FROM documents GROUP BY 1, 2
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_div < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_l,
       CAST(sum(CASE WHEN l_div < {_LDIV_L} THEN n ELSE 0 END) AS BIGINT)
         AS rows_below_l,
       CAST(min(l_div) AS BIGINT) AS min_diversity
FROM groups GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# zorder_layout_plan — bit-interleaved multi-dimensional data layout
# ---------------------------------------------------------------------------

_Z_BITS = 8          # 256 buckets per dimension -> 16-bit z-values
_Z_FILE_SHIFT = 10   # 2^16 z-space div 2^10 = 64 planned files


def _z_interleave(xb: str, yb: str, spark_syntax: bool) -> str:
    """Interleave the low 8 bits of two bucket columns into a z-value.
    Emitted as an explicit 16-term sum so BOTH engines evaluate the
    same integer expression (Spark: shiftleft/shiftright builtins;
    DuckDB: native shift operators)."""
    terms = []
    for i in range(_Z_BITS):
        if spark_syntax:
            terms.append(f"shiftleft(shiftright({xb}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({yb}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({xb} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data-layout planning over orders (SURVEY §2 #213) — the
    multi-dimensional clustering step behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY (custkey, orderdate)``: queries filter orders
    by customer OR by date, a single-column sort serves only one, and
    the space-filling curve serves both.  Each row's (custkey,
    order-day) is min-max scaled to 8-bit buckets (bounds from one
    broadcast 1-row aggregate), the buckets BIT-INTERLEAVED into a
    16-bit z-value — an explicit 16-term shift/mask sum, identical
    integer arithmetic on both engines — and rows assigned to 64
    planned files by z-range.  The report is the layout QUALITY
    census: per planned file, row count plus the custkey and day spans
    actually covered — tight spans on BOTH dimensions are precisely
    what makes file-level min/max skipping effective at 100 TB.
    (morton_tiles demos the same interleave primitive on a
    FIXED generated raster grid; this key is the OPTIMIZE step proper:
    data-derived min-max bucket scaling on real fact columns and the
    per-file span census that grades the layout.)

    Scale shape: bounds agg + map-side z computation + one
    map-combinable groupBy to the 64-row census; no sort, no window,
    no shuffle beyond the final tiny aggregation.
    """
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        F.expr("datediff(o_orderdate, date'1990-01-01')").alias("day"),
    )
    bounds = base.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("day").alias("mind"),
        F.max("day").alias("maxd"),
    )
    scaled = base.join(F.broadcast(bounds)).select(
        "o_custkey",
        "day",
        F.expr(
            "(o_custkey - minc) * 256 div (maxc - minc + 1)"
        ).alias("xb"),
        F.expr("(day - mind) * 256 div (maxd - mind + 1)").alias("yb"),
    )
    z = _z_interleave("xb", "yb", spark_syntax=True)
    return (
        scaled.select(
            "o_custkey",
            "day",
            F.expr(f"({z}) div {2 ** _Z_FILE_SHIFT}").alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("max(o_custkey) - min(o_custkey)").alias("cust_span"),
            F.expr("max(day) - min(day)").alias("day_span"),
        )
    )


QUERIES["zorder_layout_plan"] = zorder_layout_plan

ORACLES["zorder_layout_plan"] = f"""
WITH base AS (
  SELECT o_custkey, datediff('day', DATE '1990-01-01', o_orderdate) AS day
  FROM orders
),
bounds AS (
  SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
         min(day) AS mind, max(day) AS maxd
  FROM base
),
scaled AS (
  SELECT o_custkey, day,
         (o_custkey - minc) * 256 // (maxc - minc + 1) AS xb,
         (day - mind) * 256 // (maxd - mind + 1) AS yb
  FROM base, bounds
)
SELECT ({_z_interleave('xb', 'yb', spark_syntax=False)})
         // {2 ** _Z_FILE_SHIFT} AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(o_custkey) - min(o_custkey) AS BIGINT) AS cust_span,
       CAST(max(day) - min(day) AS BIGINT) AS day_span
FROM scaled
GROUP BY 1 ORDER BY file_id
"""


# ---------------------------------------------------------------------------
# randomized_response_audit — local differential privacy release
# ---------------------------------------------------------------------------


def randomized_response_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP RANDOMIZED RESPONSE release + debias audit (SURVEY §2
    #216) — Warner 1965, the mechanism local-DP telemetry systems
    (RAPPOR-class) build on, and the missing RELEASE leg of the
    privacy family: pii_scan/pii_redact find and remove explicit
    identifiers, k_anonymity/l_diversity audit implicit linkability,
    this key actually PRIVATIZES a sensitive bit and measures the
    utility cost.  Each document reports its sensitive bit (lang =
    'en') truthfully with p = 3/4, else a fair coin — eps = ln(3)
    local DP.  Both coins are md5-derived (deterministic, engine-
    identical).  The unbiased estimator (R - n/8)/(3/4) is kept in
    EXACT integer space as est_x6 = 8R - n (six times the estimate),
    and the audit reports the per-source absolute debias error
    err_x6 = |est_x6 - 6*true| — so the utility/privacy readout is
    exact on both engines, no float anywhere.

    Scale shape: one map-side coin flip per row + one map-combinable
    groupBy(source); no joins, no windows.
    """
    docs = _t(spark, sf_dir, "documents")
    keep = F.expr(X.hash64_spark("cast(doc_id as string) || ':rrkeep'")) % 4 < 3
    rnd = F.expr(X.hash64_spark("cast(doc_id as string) || ':rrbit'")) % 2
    s = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    reported = F.when(keep, s).otherwise(rnd)
    return (
        docs.select("source", s.alias("s"), reported.alias("r"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s").alias("true_cnt"),
            F.sum("r").alias("reported_cnt"),
        )
        .select(
            "source",
            "n",
            "true_cnt",
            "reported_cnt",
            (F.col("reported_cnt") * 8 - F.col("n")).alias("est_x6"),
            F.abs(
                F.col("reported_cnt") * 8 - F.col("n") - F.col("true_cnt") * 6
            ).alias("err_x6"),
        )
    )


QUERIES["randomized_response_audit"] = randomized_response_audit


_RR_BIT = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':rrbit'")


_RR_KEEP = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':rrkeep'")

ORACLES["randomized_response_audit"] = f"""
WITH flips AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS s,
         CASE WHEN ({_RR_KEEP}) % 4 < 3
              THEN CASE WHEN lang = 'en' THEN 1 ELSE 0 END
              ELSE ({_RR_BIT}) % 2 END AS r
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(s) AS BIGINT) AS true_cnt,
       CAST(sum(r) AS BIGINT) AS reported_cnt,
       CAST(sum(r) * 8 - count(*) AS BIGINT) AS est_x6,
       CAST(abs(sum(r) * 8 - count(*) - sum(s) * 6) AS BIGINT) AS err_x6
FROM flips
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# longest_prefix_route — hierarchical most-specific-match enrichment
# ---------------------------------------------------------------------------


def longest_prefix_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LONGEST-PREFIX-MATCH route enrichment (SURVEY §2 #221) — the
    IP-geolocation / CIDR-routing join: a point key matches routes at
    SEVERAL prefix granularities and the MOST SPECIFIC wins.  This is
    a different join semantic from flat interval overlap
    (incident_window_join): matches are nested, not merely
    overlapping, and resolution is argmax-by-prefix-length, not
    collect-all.  Synthetic-but-deterministic address space: each
    event gets a 16-bit address md5-derived from its user; the fine
    route table (first octet -> nation, 25 routes) and the coarse one
    (first nibble -> region, 5 routes) are derived from the dim
    tables.  dest = fine match, else coarse match, else 'default'.

    Scale shape: each prefix level is an EQUI-join on the truncated
    address (addr div 256 / addr div 4096) — never a range or nested-
    loop join; both route tables are dim-sized and broadcast.  At
    million-route scale the same plan holds per level (routes stay a
    broadcastable fraction of facts, or fall back to a shuffled
    equi-join per level + argmax groupBy); LPM never needs a cross
    join because prefix truncation manufactures the equi-key.
    """
    ev = _t(spark, sf_dir, "events")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    pts = ev.select(
        "event_id",
        "user_id",
        (
            F.expr(X.hash64_spark("cast(user_id as string) || ':ip'"))
            % 65536
        ).alias("addr"),
    )
    fine = nation.select(
        F.expr("(n_nationkey * 9 + 1) % 256").alias("octet"),
        F.col("n_name").alias("fine_dest"),
    )
    coarse = region.select(
        F.expr("(r_regionkey * 3 + 1) % 16").alias("nibble"),
        F.col("r_name").alias("coarse_dest"),
    )
    routed = (
        pts.withColumn("octet", F.expr("addr div 256"))
        .withColumn("nibble", F.expr("addr div 4096"))
        .join(F.broadcast(fine), "octet", "left")
        .join(F.broadcast(coarse), "nibble", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("fine_dest", "coarse_dest", F.lit("default")).alias(
                "dest"
            ),
            F.when(F.col("fine_dest").isNotNull(), 8)
            .when(F.col("coarse_dest").isNotNull(), 4)
            .otherwise(0)
            .alias("prefix_len"),
        )
    )
    return (
        routed.groupBy("dest", "prefix_len")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


QUERIES["longest_prefix_route"] = longest_prefix_route

_LPR_ADDR = X.hash64_duck("CAST(user_id AS VARCHAR) || ':ip'")

ORACLES["longest_prefix_route"] = f"""
WITH pts AS (
  SELECT event_id, user_id, ({_LPR_ADDR}) % 65536 AS addr FROM events
),
fine AS (
  SELECT (n_nationkey * 9 + 1) % 256 AS octet, n_name AS fine_dest
  FROM nation
),
coarse AS (
  SELECT (r_regionkey * 3 + 1) % 16 AS nibble, r_name AS coarse_dest
  FROM region
),
routed AS (
  SELECT p.event_id, p.user_id,
         coalesce(f.fine_dest, c.coarse_dest, 'default') AS dest,
         CASE WHEN f.fine_dest IS NOT NULL THEN 8
              WHEN c.coarse_dest IS NOT NULL THEN 4
              ELSE 0 END AS prefix_len
  FROM pts p
  LEFT JOIN fine f ON p.addr // 256 = f.octet
  LEFT JOIN coarse c ON p.addr // 4096 = c.nibble
)
SELECT dest,
       CAST(prefix_len AS INT) AS prefix_len,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM routed
GROUP BY dest, prefix_len ORDER BY dest
"""


# ---------------------------------------------------------------------------
# replica_checksum_audit — order-independent content signatures
# ---------------------------------------------------------------------------

_CK_MASK = (1 << 60) - 1  # keep the summed signature a positive BIGINT


def replica_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLICA RECONCILIATION via order-independent content checksums
    (SURVEY §2 #224) — the aggregate-signature pattern (Delta CRC
    files, Debezium incremental snapshots, DynamoDB global-table
    verification): two copies of a table are compared by per-partition
    COMMUTATIVE checksums (sum of row hashes mod 2^60), so divergence
    localizes to a partition WITHOUT a row-level diff — snapshot_diff
    is the row-level escalation once a partition flags.  The replica
    is the same corpus with a deterministic simulated drift (every
    97th doc re-edited), and each source row reports both signatures,
    the divergence flag, and the true diff count riding along as its
    own ground truth.

    Scale shape: two map-combinable groupBys (a sum is commutative and
    associative — exactly why the pattern exists) + one dim-sized
    join of 20-row signature tables.  No sort, no window, no
    fact-fact join.
    """
    docs = _t(spark, sf_dir, "documents")
    rowh = X.hash64_spark("cast(doc_id as string) || ':' || md5(text)")
    base = docs.select(
        "source", F.expr(f"({rowh}) & {_CK_MASK}").alias("rh")
    )
    replica_docs = docs.select(
        "source",
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    repl = replica_docs.select(
        "source", F.expr(f"({rowh}) & {_CK_MASK}").alias("rh")
    )
    # 60-bit row hashes summed in DECIMAL(38,0) — int64 would overflow
    # after ~8 rows; DuckDB's BIGINT sum widens to HUGEINT automatically.
    dec_mod = f"cast(sum(cast(rh as decimal(38,0))) % {_CK_MASK + 1} as bigint)"
    base_ck = base.groupBy("source").agg(
        F.expr(dec_mod).alias("base_ck"),
        F.count(F.lit(1)).alias("base_rows"),
    )
    repl_ck = repl.groupBy("source").agg(
        F.expr(dec_mod).alias("replica_ck")
    )
    diffs = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_diff_docs"))
    )
    return (
        base_ck.join(repl_ck, "source")
        .join(diffs, "source", "left")
        .select(
            "source",
            "base_rows",
            "base_ck",
            "replica_ck",
            F.when(F.col("base_ck") != F.col("replica_ck"), 1)
            .otherwise(0)
            .alias("divergent"),
            F.coalesce("n_diff_docs", F.lit(0)).alias("n_diff_docs"),
        )
    )


QUERIES["replica_checksum_audit"] = replica_checksum_audit

_CK_ROWH = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':' || md5(text)")
_CK_ROWH_V2 = X.hash64_duck(
    "CAST(doc_id AS VARCHAR) || ':' || "
    "md5(CASE WHEN doc_id % 97 = 0 THEN text || ' v2' ELSE text END)"
)

ORACLES["replica_checksum_audit"] = f"""
WITH base AS (
  SELECT source,
         sum(({_CK_ROWH}) & {_CK_MASK}) % {_CK_MASK + 1} AS base_ck,
         count(*) AS base_rows
  FROM documents GROUP BY source
),
repl AS (
  SELECT source,
         sum(({_CK_ROWH_V2}) & {_CK_MASK}) % {_CK_MASK + 1} AS replica_ck
  FROM documents GROUP BY source
),
diffs AS (
  SELECT source, count(*) AS n_diff_docs
  FROM documents WHERE doc_id % 97 = 0 GROUP BY source
)
SELECT b.source,
       CAST(b.base_rows AS BIGINT) AS base_rows,
       CAST(b.base_ck AS BIGINT) AS base_ck,
       CAST(r.replica_ck AS BIGINT) AS replica_ck,
       CAST(CASE WHEN b.base_ck <> r.replica_ck THEN 1 ELSE 0 END AS INT)
         AS divergent,
       CAST(coalesce(d.n_diff_docs, 0) AS BIGINT) AS n_diff_docs
FROM base b
JOIN repl r USING (source)
LEFT JOIN diffs d ON d.source = b.source
ORDER BY b.source
"""


# ---------------------------------------------------------------------------
# erasure_cascade — right-to-be-forgotten delete propagation
# ---------------------------------------------------------------------------


def erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR ERASURE CASCADE manifest (SURVEY §2 #225) — right-to-be-
    forgotten propagation: a deletion-request set (every 101st
    customer key) cascades through every table referencing the
    subject, directly (orders.o_custkey, events.user_id) or
    transitively (lineitem through its order), and the audit manifest
    reports per table the before / erased / after counts — the
    compliance artifact an erasure job must produce.  blocklist_filter
    is the content-keyed cousin; this key is SUBJECT-keyed with a
    transitive hop.

    Scale shape: the request set is a dim-bounded key list — joined
    BROADCAST to each fact (the deletion-vector pattern bitmap_
    flag_index demonstrates at the storage layer); the lineitem hop
    reuses the already-filtered orders keys (ids only, never rows);
    per-table counts are map-combinable; the manifest is 3 rows via
    unionByName of three tiny aggregates.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    requests = cust.filter(F.col("c_custkey") % 101 == 0).select("c_custkey")
    hit_orders = orders.join(
        F.broadcast(requests), orders.o_custkey == requests.c_custkey
    ).select("o_orderkey")
    n_orders = orders.agg(F.count(F.lit(1)).alias("before")).withColumn(
        "erased",
        F.lit(None).cast("long"),
    )

    def manifest(name, total_df, erased_df):
        t = total_df.agg(F.count(F.lit(1)).alias("before"))
        e = erased_df.agg(F.count(F.lit(1)).alias("erased"))
        return (
            t.join(e)
            .select(
                F.lit(name).alias("table_name"),
                "before",
                "erased",
                (F.col("before") - F.col("erased")).alias("after"),
            )
        )

    return (
        manifest("orders", orders, hit_orders)
        .unionByName(
            manifest(
                "lineitem",
                li,
                li.join(
                    F.broadcast(hit_orders),
                    li.l_orderkey == hit_orders.o_orderkey,
                ),
            )
        )
        .unionByName(
            manifest(
                "events",
                ev,
                ev.join(
                    F.broadcast(requests),
                    ev.user_id == requests.c_custkey,
                ),
            )
        )
    )


QUERIES["erasure_cascade"] = erasure_cascade

ORACLES["erasure_cascade"] = """
WITH requests AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 101 = 0
),
hit_orders AS (
  SELECT o_orderkey FROM orders JOIN requests ON o_custkey = c_custkey
)
SELECT * FROM (
  SELECT 'orders' AS table_name,
         CAST((SELECT count(*) FROM orders) AS BIGINT) AS before,
         CAST((SELECT count(*) FROM hit_orders) AS BIGINT) AS erased,
         CAST((SELECT count(*) FROM orders)
              - (SELECT count(*) FROM hit_orders) AS BIGINT) AS after
  UNION ALL
  SELECT 'lineitem',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem
               JOIN hit_orders ON l_orderkey = o_orderkey) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem)
              - (SELECT count(*) FROM lineitem
                 JOIN hit_orders ON l_orderkey = o_orderkey) AS BIGINT)
  UNION ALL
  SELECT 'events',
         CAST((SELECT count(*) FROM events) AS BIGINT),
         CAST((SELECT count(*) FROM events
               JOIN requests ON user_id = c_custkey) AS BIGINT),
         CAST((SELECT count(*) FROM events)
              - (SELECT count(*) FROM events
                 JOIN requests ON user_id = c_custkey) AS BIGINT)
)
ORDER BY table_name
"""


# ---------------------------------------------------------------------------
# rendezvous_sharding — HRW shard assignment + resize stability
# ---------------------------------------------------------------------------

_HRW_SHARDS = 8


def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) SHARDING stability audit
    (SURVEY §2 #226) — Thaler & Ravishankar 1996, the consistent-
    routing primitive behind cache rings and shard maps: each key
    goes to argmax over shards of hash(key, shard), so adding a shard
    moves only ~1/(n+1) of keys, never reshuffles everything (the
    property hash-mod sharding lacks: doc_id % n remaps nearly ALL
    keys on resize).  Documents are assigned under 8 and 9
    shards and the census reports per new-shard counts plus how many
    arrived (moved) vs stayed — the migration-cost readout a resize
    plan needs.  Both assignments are pure md5 integer argmaxes,
    engine-identical, ties impossible modulo md5 collisions on
    distinct strings.

    Scale shape: the per-key argmax is a map-side expression over a
    literal shard sequence (aggregate over an 8-element array — no
    explode, no join, no window); the census is one map-combinable
    groupBy.
    """
    docs = _t(spark, sf_dir, "documents")
    wh = X.hash64_spark("cast(doc_id as string) || '#' || cast(s as string)")

    def argmax_expr(n: int) -> str:
        return (
            f"aggregate(sequence(0, {n - 1}), "
            f"struct(cast(-1 as bigint) as s, cast(-1 as bigint) as w), "
            f"(acc, s) -> CASE WHEN ({wh}) > acc.w "
            f"THEN struct(cast(s as bigint) as s, ({wh}) as w) "
            f"ELSE acc END).s"
        )

    assigned = docs.select(
        "doc_id",
        F.expr(argmax_expr(_HRW_SHARDS)).alias("shard_old"),
        F.expr(argmax_expr(_HRW_SHARDS + 1)).alias("shard_new"),
    )
    return (
        assigned.groupBy("shard_new")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard_old") != F.col("shard_new"), 1).otherwise(
                    0
                )
            ).alias("n_moved"),
        )
    )


QUERIES["rendezvous_sharding"] = rendezvous_sharding

_HRW_DUCK = X.hash64_duck("CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)")


def _hrw_argmax_duck(n: int) -> str:
    return (
        f"(SELECT s FROM (SELECT unnest(range({n})) AS s) shards "
        f"ORDER BY ({_HRW_DUCK}) DESC LIMIT 1)"
    )

ORACLES["rendezvous_sharding"] = f"""
WITH assigned AS (
  SELECT doc_id,
         {_hrw_argmax_duck(_HRW_SHARDS)} AS shard_old,
         {_hrw_argmax_duck(_HRW_SHARDS + 1)} AS shard_new
  FROM documents
)
SELECT CAST(shard_new AS BIGINT) AS shard_new,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN shard_old <> shard_new THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM assigned
GROUP BY shard_new ORDER BY shard_new
"""


# ---------------------------------------------------------------------------
# fixed_width_roundtrip — the fwf format leg through the catalog
# ---------------------------------------------------------------------------

_FWF_SPECS = [("nation", 16, "l"), ("n_orders", 10, "r"), ("sum_cents", 16, "r")]


def fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH text format leg through the correctness gate
    (SURVEY §2 #227; the fwf counterpart of model_workbook_roundtrip's
    xlsx closure — pandas' read_fwf surface, the mainframe /
    statistical-agency interchange the reference's pandas ingest
    lineage covers): the per-nation order census is rendered as one
    fixed-width file (single-task write, sources/fixedwidth.py),
    re-read DISTRIBUTED via spark.read.text + JVM-side substring/trim
    casts (no Python in the read path — the parse pipelines into
    whole-stage codegen), and returned.  The oracle computes the same
    census in pure SQL straight from the relational lineage — a
    padding, alignment, offset, or cast defect anywhere in the format
    hop breaks the match.

    Determinism across the hop: money crosses as exact integer CENTS
    (DECIMAL-derived), never as formatted floats.  The file hop rides
    fsio.scratch_dir (``spark.pyprima.scratchDir`` on a cluster) and
    PyArrow's FileSystem API, like the xlsx/GeoTIFF roundtrips.
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    census = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr("cast(o_totalprice as decimal(18,2)) * 100")
            ).cast("bigint").alias("sum_cents"),
        )
    )
    path = fsio.join(fsio.scratch_dir(spark, "pyprima_fwf_"), "census.fwf")
    write_fixed_width(census, path, _FWF_SPECS, order_by=["nation"]).count()
    return read_fixed_width(
        spark,
        path,
        _FWF_SPECS,
        {"nation": "string", "n_orders": "bigint", "sum_cents": "bigint"},
    )


QUERIES["fixed_width_roundtrip"] = fixed_width_roundtrip

ORACLES["fixed_width_roundtrip"] = """
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS sum_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY nation
"""


# ---------------------------------------------------------------------------
# luhn_check_audit — check-digit format validation at scale
# ---------------------------------------------------------------------------


def _luhn_sum(idcol: str, div: str) -> str:
    """Luhn mod-10 sum over the 12 digits of ``idcol`` — digit i is
    ``(id div 10^i) % 10``, every ODD position (counting from the
    check digit at i=0) is doubled with the >9 fold-back. ``div`` is
    the engine's integer-division operator. Generated once here so
    both dialects evaluate the identical 12-term expression."""
    terms = []
    for i in range(12):
        d = f"(({idcol} {div} {10 ** i}) % 10)"
        if i % 2 == 1:
            terms.append(f"(CASE WHEN {d} > 4 THEN 2 * {d} - 9 ELSE 2 * {d} END)")
        else:
            terms.append(d)
    return " + ".join(terms)


def luhn_check_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-DIGIT (Luhn mod-10) format validation census (SURVEY §2
    #229) — the ingest-quality primitive behind card/IMEI/national-id
    validation, and the missing FORMAT leg of the constraint-audit
    family (pk_uniqueness = identity, fk_orphan = reference,
    contract_violations = domain; this key = checksum VALIDITY).
    Account ids are synthesized deterministically per customer: an
    11-digit md5-derived payload gets its true Luhn digit, and every
    customer whose corruption coin lands 0 mod 10 ships with the digit
    bumped (+1 mod 10 — provably always invalid, the sum shifts by
    ±1·... ≠ 0 mod 10), so the expected invalid count rides along as
    in-row ground truth next to what the validator actually caught.

    Scale shape: synthesis and the 12-term validation sum are pure
    map-side integer expressions; one broadcast dim join
    (customer→nation) and one map-combinable groupBy.
    """
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    pay = X.hash64_spark("cast(c_custkey as string) || ':acct'")
    coin = X.hash64_spark("cast(c_custkey as string) || ':corrupt'")
    # check digit c over payload p: Luhn requires sum(p*10 + c) ≡ 0
    psum = _luhn_sum(f"(({pay}) % {10 ** 11}) * 10", "div")
    ids = cust.select(
        "c_nationkey",
        F.expr(
            f"(({pay}) % {10 ** 11}) * 10"
            f" + (CASE WHEN ({coin}) % 10 = 0 THEN ((10 - (({psum}) % 10)) % 10 + 1) % 10"
            f" ELSE (10 - (({psum}) % 10)) % 10 END)"
        ).alias("acct_id"),
        F.when(F.expr(f"({coin}) % 10 = 0"), 1).otherwise(0).alias("corrupted"),
    )
    vsum = _luhn_sum("acct_id", "div")
    checked = ids.select(
        "c_nationkey",
        "corrupted",
        F.when(F.expr(f"({vsum}) % 10 = 0"), 0).otherwise(1).alias("invalid"),
    )
    return (
        checked.join(F.broadcast(nat), checked.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_ids"),
            F.sum("invalid").alias("n_invalid"),
            F.sum("corrupted").alias("expected_invalid"),
        )
        .select(
            "nation",
            "n_ids",
            "n_invalid",
            "expected_invalid",
            F.expr("(10000 * n_invalid) div n_ids").alias("invalid_bp"),
        )
    )


QUERIES["luhn_check_audit"] = luhn_check_audit


_LUHN_COIN = X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':corrupt'")


_LUHN_PAY = X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':acct'")


_LUHN_PSUM = _luhn_sum(f"(({_LUHN_PAY}) % {10 ** 11}) * 10", "//")
_LUHN_VSUM = _luhn_sum("acct_id", "//")

ORACLES["luhn_check_audit"] = f"""
WITH ids AS (
  SELECT c_nationkey,
         (({_LUHN_PAY}) % {10 ** 11}) * 10
           + (CASE WHEN ({_LUHN_COIN}) % 10 = 0
                   THEN ((10 - (({_LUHN_PSUM}) % 10)) % 10 + 1) % 10
                   ELSE (10 - (({_LUHN_PSUM}) % 10)) % 10 END) AS acct_id,
         CASE WHEN ({_LUHN_COIN}) % 10 = 0 THEN 1 ELSE 0 END AS corrupted
  FROM customer
),
checked AS (
  SELECT c_nationkey, corrupted,
         CASE WHEN ({_LUHN_VSUM}) % 10 = 0 THEN 0 ELSE 1 END AS invalid
  FROM ids
)
SELECT n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_ids,
       CAST(sum(invalid) AS BIGINT) AS n_invalid,
       CAST(sum(corrupted) AS BIGINT) AS expected_invalid,
       CAST((10000 * sum(invalid)) // count(*) AS BIGINT) AS invalid_bp
FROM checked
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY nation
"""


# ---------------------------------------------------------------------------
# encoding_advisor — columnar encoding suitability census
# ---------------------------------------------------------------------------


def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMNAR ENCODING ADVISOR (SURVEY §2 #239) — the storage-layout
    decision Parquet/ORC writers make per column (RLE vs dictionary vs
    plain), surfaced as a measurable census instead of a heuristic:
    for each profiled orders column, the distinct ratio and the RUN
    structure in storage order (runs counted with a lag window inside
    each order-date partition — runs only mean anything in the order
    rows are laid out, and the date partition is the layout unit
    compaction_plan/zorder_layout_plan manage).  avg run length and
    distinct share are exact integer rationals; the verdict thresholds
    are explicit literals, so the recommendation is reproducible —
    the input a table-maintenance job (OPTIMIZE ... ZORDER, rewrite
    with dictionary encoding) acts on.

    Scale shape: one unpivot projection (map-side ×4), one lag window
    PARTITIONED by (column, date) — bounded layout units, never a
    global sort — and two map-combinable rollups.
    """
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"]
    stack = ", ".join(f"'{c}', cast({c} as string)" for c in cols)
    long = orders.select(
        "o_orderkey",
        F.col("o_orderdate").alias("d"),
        F.expr(f"stack({len(cols)}, {stack}) as (col_name, val)"),
    )
    w = Window.partitionBy("col_name", "d").orderBy("o_orderkey")
    runs = long.select(
        "col_name",
        "val",
        F.when(
            F.lag("val").over(w).isNull()
            | (F.lag("val").over(w) != F.col("val")),
            1,
        )
        .otherwise(0)
        .alias("run_start"),
    )
    return (
        runs.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("val").alias("n_distinct"),
            F.sum("run_start").alias("n_runs"),
        )
        .select(
            "col_name",
            "n",
            "n_distinct",
            F.expr("(10000 * n_distinct) div n").alias("distinct_bp"),
            "n_runs",
            F.expr("(100 * n) div n_runs").alias("avg_run_x100"),
            F.expr(
                "CASE WHEN (100 * n) div n_runs >= 300 THEN 'RLE' "
                "WHEN (10000 * n_distinct) div n <= 200 THEN 'DICT' "
                "ELSE 'PLAIN' END"
            ).alias("recommend"),
        )
    )


QUERIES["encoding_advisor"] = encoding_advisor

ORACLES["encoding_advisor"] = """
WITH long AS (
  SELECT o_orderkey, o_orderdate AS d, col_name, val
  FROM orders,
       LATERAL (VALUES
         ('o_orderstatus', CAST(o_orderstatus AS VARCHAR)),
         ('o_orderpriority', CAST(o_orderpriority AS VARCHAR)),
         ('o_custkey', CAST(o_custkey AS VARCHAR)),
         ('o_totalprice', CAST(o_totalprice AS VARCHAR))
       ) AS t(col_name, val)
),
runs AS (
  SELECT col_name, val,
         CASE WHEN lag(val) OVER (PARTITION BY col_name, d
                                  ORDER BY o_orderkey) IS DISTINCT FROM val
              THEN 1 ELSE 0 END AS run_start
  FROM long
)
SELECT col_name,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
       CAST((10000 * count(DISTINCT val)) // count(*) AS BIGINT)
         AS distinct_bp,
       CAST(sum(run_start) AS BIGINT) AS n_runs,
       CAST((100 * count(*)) // sum(run_start) AS BIGINT) AS avg_run_x100,
       CASE WHEN (100 * count(*)) // sum(run_start) >= 300 THEN 'RLE'
            WHEN (10000 * count(DISTINCT val)) // count(*) <= 200
              THEN 'DICT'
            ELSE 'PLAIN' END AS recommend
FROM runs
GROUP BY col_name ORDER BY col_name
"""


# ---------------------------------------------------------------------------
# majority_vote_repair — quorum read-repair across three replicas
# ---------------------------------------------------------------------------


def majority_vote_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUORUM READ-REPAIR (SURVEY §2 #240) — the Dynamo/Cassandra
    anti-entropy step downstream of detection
    (replica_checksum_audit finds divergent partitions; this key
    RESOLVES rows): three replicas of the document payload hash are
    synthesized with independent deterministic corruption (replica i
    corrupts where its own md5 coin lands 0 mod 23), each row is
    repaired by 2-of-3 MAJORITY vote, and the census proves the
    mechanism — repaired counts equal planted-single-corruption
    counts, and the unrecoverable column (all three disagree) counts
    exactly the double corruptions.  Everything rides per-row
    map-side CASE arithmetic; no replica ever joins another (in a
    real topology each replica is a table and this is a 3-way keyed
    equi-join — the vote logic is identical).

    Scale shape: one projection + one map-combinable groupBy; exact
    integers only.
    """
    docs = _t(spark, sf_dir, "documents")
    truth = X.hash64_spark("cast(doc_id as string) || ':payload'")
    reps = []
    for i in range(3):
        coin = X.hash64_spark(f"cast(doc_id as string) || ':r{i}'")
        reps.append(
            f"CASE WHEN ({coin}) % 23 = 0 THEN ({truth}) + {i} + 1 "
            f"ELSE ({truth}) END"
        )
    r0, r1, r2 = reps
    voted = docs.select(
        "source",
        F.expr(
            f"CASE WHEN ({r0}) = ({r1}) OR ({r0}) = ({r2}) THEN ({r0}) "
            f"WHEN ({r1}) = ({r2}) THEN ({r1}) ELSE NULL END"
        ).alias("repaired_val"),
        F.expr(f"({truth})").alias("true_val"),
        F.expr(
            "cast(({c0}) % 23 = 0 as int) + cast(({c1}) % 23 = 0 as int)"
            " + cast(({c2}) % 23 = 0 as int)".format(
                c0=X.hash64_spark("cast(doc_id as string) || ':r0'"),
                c1=X.hash64_spark("cast(doc_id as string) || ':r1'"),
                c2=X.hash64_spark("cast(doc_id as string) || ':r2'"),
            )
        ).alias("n_corrupt"),
    )
    return (
        voted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("cast(n_corrupt >= 1 as int)")).alias(
                "n_divergent"
            ),
            F.sum(
                F.expr(
                    "cast(repaired_val is not null"
                    " and repaired_val = true_val as int)"
                )
            ).alias("n_repaired_correct"),
            F.sum(F.expr("cast(repaired_val is null as int)")).alias(
                "n_unrecoverable"
            ),
            F.sum(F.expr("cast(n_corrupt >= 2 as int)")).alias(
                "n_double_corrupt"
            ),
        )
    )


QUERIES["majority_vote_repair"] = majority_vote_repair


def _mvr_coin_duck(i: int) -> str:
    return X.hash64_duck(f"CAST(doc_id AS VARCHAR) || ':r{i}'")


_MVR_COINS = [f"({_mvr_coin_duck(i)}) % 23 = 0" for i in range(3)]


_MVR_TRUTH = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':payload'")


_MVR_REPS = [
    f"CASE WHEN ({_mvr_coin_duck(i)}) % 23 = 0 "
    f"THEN ({_MVR_TRUTH}) + {i} + 1 ELSE ({_MVR_TRUTH}) END"
    for i in range(3)
]

ORACLES["majority_vote_repair"] = f"""
WITH voted AS (
  SELECT source,
         CASE WHEN ({_MVR_REPS[0]}) = ({_MVR_REPS[1]})
                OR ({_MVR_REPS[0]}) = ({_MVR_REPS[2]}) THEN ({_MVR_REPS[0]})
              WHEN ({_MVR_REPS[1]}) = ({_MVR_REPS[2]}) THEN ({_MVR_REPS[1]})
              ELSE NULL END AS repaired_val,
         ({_MVR_TRUTH}) AS true_val,
         CAST({_MVR_COINS[0]} AS INT) + CAST({_MVR_COINS[1]} AS INT)
           + CAST({_MVR_COINS[2]} AS INT) AS n_corrupt
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(n_corrupt >= 1 AS INT)) AS BIGINT) AS n_divergent,
       CAST(sum(CAST(repaired_val IS NOT NULL
                AND repaired_val = true_val AS INT)) AS BIGINT)
         AS n_repaired_correct,
       CAST(sum(CAST(repaired_val IS NULL AS INT)) AS BIGINT)
         AS n_unrecoverable,
       CAST(sum(CAST(n_corrupt >= 2 AS INT)) AS BIGINT)
         AS n_double_corrupt
FROM voted
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# hybrid_skew_join — explicit hot/cold two-path join plan
# ---------------------------------------------------------------------------


def hybrid_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit HOT/COLD two-path skew join (SURVEY §2 #250) — the
    differentiated-join production pattern that complements
    salted_skew_join's salting (salting spreads ONE shuffle; the
    two-path plan removes the hot keys from the shuffle entirely):
    custkeys whose order count is ≥ 3× the mean (integer-form relative
    threshold, no top-k window) form the hot set; hot orders join
    their customer rows via BROADCAST (the hot dim slice is by
    construction ≤ |keys|/3 rows, here a handful), cold orders take
    the ordinary shuffle join, and the union must equal the plain join
    — the census publishes the hot share so the equivalence is
    auditable, per segment.  This is the static form of what AQE
    skew-join does at runtime; materializing it as a plan makes the
    strategy testable and hintable.

    Scale shape: hot-set derivation is one map-combined key census +
    a broadcast of the (tiny) hot key list; the hot path's build side
    is the hot slice of the dim, never the fact; the cold path's
    shuffle is the original join minus its heaviest keys — strictly
    better partition balance than the naive plan at any scale.
    """
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    census = orders.groupBy("cust").agg(F.count(F.lit(1)).alias("cnt"))
    tot = census.agg(
        F.sum("cnt").alias("tot"), F.count(F.lit(1)).alias("nk")
    )
    hot_keys = (
        census.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * F.col("nk") >= 3 * F.col("tot"))
        .select("cust")
    )
    orders_hot = orders.join(F.broadcast(hot_keys), "cust", "left_semi")
    orders_cold = orders.join(F.broadcast(hot_keys), "cust", "left_anti")
    hot_dim = cust.join(F.broadcast(hot_keys), "cust", "left_semi")
    joined_hot = orders_hot.join(F.broadcast(hot_dim), "cust").withColumn(
        "is_hot", F.lit(1)
    )
    joined_cold = orders_cold.join(cust, "cust").withColumn("is_hot", F.lit(0))
    return (
        joined_hot.unionByName(joined_cold)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
            F.sum("is_hot").alias("n_hot_orders"),
            F.countDistinct(F.when(F.col("is_hot") == 1, F.col("cust"))).alias(
                "n_hot_keys"
            ),
        )
        .withColumn("hot_share_bp", F.expr("(10000 * n_hot_orders) div n_orders"))
    )


QUERIES["hybrid_skew_join"] = hybrid_skew_join

ORACLES["hybrid_skew_join"] = """
WITH orders_c AS (
  SELECT o_custkey AS cust,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
census AS (
  SELECT cust, count(*) AS cnt FROM orders_c GROUP BY cust
),
tot AS (SELECT sum(cnt) AS tot, count(*) AS nk FROM census),
hot_keys AS (
  SELECT cust FROM census CROSS JOIN tot WHERE cnt * nk >= 3 * tot
),
joined AS (
  SELECT c.c_mktsegment AS segment, o.cust, o.cents,
         CASE WHEN h.cust IS NOT NULL THEN 1 ELSE 0 END AS is_hot
  FROM orders_c o
  JOIN customer c ON c.c_custkey = o.cust
  LEFT JOIN hot_keys h ON h.cust = o.cust
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS rev_cents,
       CAST(sum(is_hot) AS BIGINT) AS n_hot_orders,
       CAST(count(DISTINCT CASE WHEN is_hot = 1 THEN cust END) AS BIGINT)
         AS n_hot_keys,
       CAST((10000 * sum(is_hot)) // count(*) AS BIGINT) AS hot_share_bp
FROM joined
GROUP BY segment ORDER BY segment
"""


# ---------------------------------------------------------------------------
# fd_discovery — functional-dependency validation census
# ---------------------------------------------------------------------------

_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("part", "p_brand", "p_type"),
    ("part", "p_partkey", "p_brand"),
]


def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY validation census (SURVEY §2 #258) — the
    cross-COLUMN profiling leg the quality family lacked:
    table_profile is per-column stats, pk_uniqueness_audit is key
    multiplicity, contract_violations is row-local predicates — an FD
    A→B is a relationship BETWEEN columns (does every A value map to
    exactly one B?), the building block of schema normalization and
    of FD-discovery systems (Papenbrock et al. 2015's validation
    phase, run here over a declared candidate lattice slice spanning
    four tables, mixing known-true key FDs with expected violations).

    Scale shape: each candidate is ONE map-combined
    (lhs → count distinct rhs) agg followed by a tiny census of the
    violating groups; candidates are independent plans unioned at the
    8-row result — no joins, no windows, and each agg shuffles only
    its own key.  Violation mass (extra rhs values beyond the first
    per lhs) is published so "how broken" is visible, not just
    whether.
    """
    parts = []
    for table, lhs, rhs in _FD_CANDIDATES:
        per = (
            _t(spark, sf_dir, table)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
        )
        parts.append(
            per.agg(
                F.lit(f"{table}: {lhs} -> {rhs}").alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
                F.sum((F.col("nd") > 1).cast("int"))
                .cast("bigint")
                .alias("n_violating"),
                F.sum(F.expr("nd - 1")).cast("bigint").alias("extra_rhs"),
                F.max("nd").cast("bigint").alias("max_rhs"),
                (F.max("nd") == 1).cast("int").cast("bigint").alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["fd_discovery"] = fd_discovery

ORACLES["fd_discovery"] = "\nUNION ALL\n".join(
    f"""
SELECT '{t}: {l} -> {r}' AS fd,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(sum(nd - 1) AS BIGINT) AS extra_rhs,
       CAST(max(nd) AS BIGINT) AS max_rhs,
       CAST(CASE WHEN max(nd) = 1 THEN 1 ELSE 0 END AS BIGINT) AS holds
FROM (SELECT {l}, count(DISTINCT {r}) AS nd FROM {t} GROUP BY {l})
""" for t, l, r in _FD_CANDIDATES
) + "\nORDER BY fd"


# ---------------------------------------------------------------------------
# curve_locality_compare — Hilbert vs Morton vs row-major locality
# ---------------------------------------------------------------------------

_CLC_BITS = 8  # 256 x 256 grid


def _hilbert_stages(bits: int, spark_syntax: bool):
    """Unrolled xy→d Hilbert transform as per-dialect expression
    stages (the classic rotate-and-accumulate loop, one (s = 2^i)
    round per bit, highest first). Each round is two projections:
    derive the quadrant bits (rx, ry), then accumulate d and apply
    the reflection+swap rotation. Both dialects share every
    expression except the XOR spelling."""
    xor = (
        (lambda a, b: f"(({a}) ^ ({b}))")
        if spark_syntax
        else (lambda a, b: f"xor({a}, {b})")
    )
    stages = []
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        stages.append(
            {
                "x": "x",
                "y": "y",
                "d": "d",
                "rx": f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END",
                "ry": f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END",
            }
        )
        stages.append(
            {
                "d": f"d + {s * s} * ({xor('3 * rx', 'ry')})",
                "x": f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1"
                f" THEN {s - 1} - y ELSE y END) ELSE x END",
                "y": f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1"
                f" THEN {s - 1} - x ELSE x END) ELSE y END",
            }
        )
    return stages


def curve_locality_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPACE-FILLING-CURVE locality comparison (SURVEY §2 #276) — the
    measurement that closes the layout family's open question:
    zorder_layout_plan PLANS a Morton layout and morton_tiles
    demonstrates the interleave, but neither says how much better
    Hilbert's rotation actually is.  Here the same occupied 256×256
    cell set is linearized four ways — row-major, Morton
    (_z_interleave, shared with zorder_layout_plan), HILBERT (the
    unrolled rotate-and-accumulate transform, 8 exact integer rounds,
    no recursion), and a hash-order baseline (the no-layout worst
    case) — and each curve publishes the average L1 jump between
    rank-consecutive cells in milli-cells: the locality number that
    predicts range-scan I/O clustering (Moon et al. 2001's classic
    result: Hilbert < Morton < row-major << random).

    Scale shape: the cell census is one distinct agg (bounded by the
    grid constant, 65536) — the only data-sized work; the census is
    collected once and all four linearizations, the rank sorts, and
    the consecutive-jump folds run driver-side in exact integers
    (the previous form paid four partitioned windows over a
    quadruplicated census).  Nothing data-sized is ever sorted.
    """
    orders = _t(spark, sf_dir, "orders")
    cells = (
        orders.select(
            (
                F.expr(X.hash64_spark("cast(o_orderkey as string) || ':x'"))
                % 256
            ).alias("cx"),
            (
                F.expr(X.hash64_spark("cast(o_orderkey as string) || ':y'"))
                % 256
            ).alias("cy"),
        )
        .distinct()
    )
    cell_rows = [
        (r["cx"], r["cy"])
        for r in bounded_collect(
            cells, 65536, "curve_locality_compare: 256×256 grid census"
        )
    ]  # grid-bounded census (<= 65536 cells)

    def _hilbert(cx: int, cy: int) -> int:
        # the same unrolled rotate-and-accumulate rounds the staged
        # expression form ran (highest bit first; simultaneous swap)
        x, y, d = cx, cy, 0
        for i in range(_CLC_BITS - 1, -1, -1):
            s = 1 << i
            rx = 1 if x & s else 0
            ry = 1 if y & s else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                x, y = (s - 1 - y if rx else y), (s - 1 - x if rx else x)
        return d

    def _morton(cx: int, cy: int) -> int:
        z = 0
        for i in range(_CLC_BITS):
            z += ((cx >> i) & 1) << (2 * i)
            z += ((cy >> i) & 1) << (2 * i + 1)
        return z

    codes = {
        "1_hilbert": lambda cx, cy: _hilbert(cx, cy),
        "2_morton": lambda cx, cy: _morton(cx, cy),
        "3_rowmajor": lambda cx, cy: cx * 256 + cy,
        "4_hashorder": lambda cx, cy: int(
            _md5(f"{cx}:{cy}".encode()).hexdigest()[:15], 16
        ),
    }
    out = []
    for name in sorted(codes):
        code = codes[name]
        ranked = sorted(
            cell_rows, key=lambda c: (code(c[0], c[1]), c[0], c[1])
        )
        l1s = [
            abs(a[0] - b[0]) + abs(a[1] - b[1])
            for a, b in zip(ranked, ranked[1:])
        ]
        if not l1s:
            continue  # the lag-filter drops single-cell curves
        total = sum(l1s)
        out.append((
            name,
            len(l1s),
            int(total),
            int(_tdiv(1000 * total, len(l1s))),
        ))
    return spark.createDataFrame(
        out,
        schema=(
            "curve string, n_steps bigint, total_l1 bigint,"
            " avg_l1_milli bigint"
        ),
    )


QUERIES["curve_locality_compare"] = curve_locality_compare


def _clc_oracle() -> str:
    q = f"""SELECT cx, cy, cx AS x, cy AS y, CAST(0 AS BIGINT) AS d FROM (
  SELECT DISTINCT
    ({X.hash64_duck("CAST(o_orderkey AS VARCHAR) || ':x'")}) % 256 AS cx,
    ({X.hash64_duck("CAST(o_orderkey AS VARCHAR) || ':y'")}) % 256 AS cy
  FROM orders)"""
    for stage in _hilbert_stages(_CLC_BITS, spark_syntax=False):
        cols = ", ".join(f"{expr} AS {col}" for col, expr in stage.items())
        q = f"SELECT cx, cy, {cols} FROM ({q})"
    z = _z_interleave("cx", "cy", spark_syntax=False)
    h = X.hash64_duck("cx || ':' || cy")
    return f"""
WITH coded AS (
  SELECT cx, cy, d AS code_hilbert,
         cx::BIGINT * 256 + cy AS code_rowmajor,
         CAST({z} AS BIGINT) AS code_morton,
         {h} AS code_hash
  FROM ({q})
),
curves AS (
  SELECT '1_hilbert' AS curve, code_hilbert AS code, cx, cy FROM coded
  UNION ALL
  SELECT '2_morton', code_morton, cx, cy FROM coded
  UNION ALL
  SELECT '3_rowmajor', code_rowmajor, cx, cy FROM coded
  UNION ALL
  SELECT '4_hashorder', code_hash, cx, cy FROM coded
),
jumps AS (
  SELECT curve,
         abs(cx - lag(cx) OVER w) + abs(cy - lag(cy) OVER w) AS l1
  FROM curves
  WINDOW w AS (PARTITION BY curve ORDER BY code, cx, cy)
)
SELECT curve,
       CAST(count(*) AS BIGINT) AS n_steps,
       CAST(sum(l1) AS BIGINT) AS total_l1,
       CAST((1000 * sum(l1)) // count(*) AS BIGINT) AS avg_l1_milli
FROM jumps WHERE l1 IS NOT NULL
GROUP BY curve ORDER BY curve
"""

ORACLES["curve_locality_compare"] = _clc_oracle()


# ---------------------------------------------------------------------------
# consistent_hash_ring — ring placement vs mod-rehash churn census
# ---------------------------------------------------------------------------

# 8 -> 9 nodes, 32 virtual nodes per physical node (Karger 1997 /
# DynamoDB-style). Ring positions are pure hash literals of
# (node, vnode) — no data ever builds the ring.
_RING_NODES = 8
_RING_VNODES = 32


def consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT-HASHING ring placement audit (SURVEY §2 #281) — the
    classic Karger ring with virtual nodes, the OTHER canonical
    distributed placement scheme next to rendezvous_sharding's HRW
    argmax: assign every customer key to its clockwise-successor
    vnode on an 8-node/32-vnode ring, add a 9th node, and publish the
    per-node churn — consistent hashing moves ~1/9 of keys (all INTO
    the new node), while the naive mod-rehash baseline column moves
    ~8/9.  The ring is PURE LITERALS (md5 of 'node:i:j' constants), so
    the sorted position/owner arrays fold at plan time and successor
    lookup is a BRANCHLESS BINARY SEARCH over the literal array — a
    ~9-step aggregate() fold per ring instead of the former per-row
    O(|ring|) filter + array_min suffix scan (256+288 interpreted
    lambda evals per key; guide §1.2 step 2, per-task work) — and the
    owner node reads straight out of a parallel node array, replacing
    both former broadcast pos→node equi-joins.

    Scale shape: keys take one map-side assignment pass (two ~9-step
    folds), one explode to (role, node) pairs, and one map-combined
    9x4-group aggregate.  No joins, no windows, no fact-sized shuffle
    beyond the combine.  At 100 TB the ring stays 288 entries; only
    the key scan grows.
    """
    import hashlib

    total_v = (_RING_NODES + 1) * _RING_VNODES
    vn = sorted(
        (
            int(
                hashlib.md5(
                    f"node:{i // _RING_VNODES}:{i % _RING_VNODES}".encode()
                ).hexdigest()[:15],
                16,
            ),
            i // _RING_VNODES,
        )
        for i in range(total_v)
    )
    if len({p for p, _ in vn}) != total_v:
        # duplicate ring positions would fan keys out in the join form
        # this replaces; refuse rather than silently pick one owner
        raise ValueError("consistent_hash_ring: vnode position collision")

    def _owner(ring: list, kcol: str) -> str:
        # Branchless lower_bound over the sorted literal position
        # array: cnt = |positions < k| via an aggregate() fold of
        # halving steps (invariant: cnt + remaining <= m, so every
        # element_at index is in range), owner = node at index
        # (cnt mod m) + 1 — the mod folds the wrap-to-ring-minimum
        # case (cnt == m) into one element_at and references the fold
        # expression ONCE (no duplicate evaluation under
        # CollapseProject).
        m = len(ring)
        halves, sz = [], m
        while sz > 1:
            h = sz >> 1
            halves.append(h)
            sz -= h
        halves.append(1)  # the sz==1 final probe, same step shape
        pos_arr = "array(" + ",".join(f"{p}L" for p, _ in ring) + ")"
        node_arr = "array(" + ",".join(str(n) for _, n in ring) + ")"
        steps = ",".join(str(h) for h in halves)
        cnt = (
            f"aggregate(array({steps}), 0, (lo, h) -> "
            f"lo + IF(element_at({pos_arr}, lo + h) < {kcol}, h, 0))"
        )
        return f"element_at({node_arr}, pmod({cnt}, {m}) + 1)"

    ring8 = [pn for pn in vn if pn[1] < _RING_NODES]
    assigned = (
        _t(spark, sf_dir, "customer")
        .select(
            F.expr(
                X.hash64_spark("'ring:' || cast(c_custkey as string)")
            ).alias("kpos")
        )
        .select(
            F.expr(_owner(ring8, "kpos")).alias("node8"),
            F.expr(_owner(vn, "kpos")).alias("node9"),
            F.expr(f"cast(kpos % {_RING_NODES} as int)").alias("mod8"),
            F.expr(f"cast(kpos % {_RING_NODES + 1} as int)").alias("mod9"),
        )
    )
    pairs = assigned.select(
        F.explode(
            F.expr(
                "array(named_struct('role', 'load8', 'node', node8),"
                " named_struct('role', 'load9', 'node', node9),"
                " named_struct('role', 'ring_gained', 'node',"
                "   CASE WHEN node9 != node8 THEN node9 END),"
                " named_struct('role', 'mod_gained', 'node',"
                "   CASE WHEN mod9 != mod8 THEN mod9 END))"
            )
        ).alias("pr")
    ).select("pr.role", "pr.node").filter(F.col("node").isNotNull())
    return (
        pairs.groupBy("node")
        .agg(
            F.sum(F.expr("CASE WHEN role = 'load8' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("load8"),
            F.sum(F.expr("CASE WHEN role = 'load9' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("load9"),
            F.sum(F.expr("CASE WHEN role = 'ring_gained' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("ring_gained"),
            F.sum(F.expr("CASE WHEN role = 'mod_gained' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("mod_gained"),
        )
        .select(
            F.col("node").cast("bigint").alias("node"),
            "load8",
            "load9",
            "ring_gained",
            "mod_gained",
        )
    )


QUERIES["consistent_hash_ring"] = consistent_hash_ring

_ring_pos_duck = X.hash64_duck(
    f"'node:' || CAST(i // {_RING_VNODES} AS VARCHAR)"
    f" || ':' || CAST(i % {_RING_VNODES} AS VARCHAR)"
)

ORACLES["consistent_hash_ring"] = f"""
WITH vnodes AS (
  SELECT CAST(i // {_RING_VNODES} AS INT) AS node,
         {_ring_pos_duck} AS pos
  FROM unnest(generate_series(0, {(_RING_NODES + 1) * _RING_VNODES - 1}))
       AS t(i)
),
rings AS (
  SELECT (SELECT list_sort(list(pos)) FROM vnodes
          WHERE node < {_RING_NODES}) AS ring8,
         (SELECT list_sort(list(pos)) FROM vnodes) AS ring9
),
keys AS (
  SELECT {X.hash64_duck("'ring:' || CAST(c_custkey AS VARCHAR)")} AS kpos
  FROM customer
),
owned AS (
  SELECT kpos,
         coalesce(list_min(list_filter(ring8, p -> p >= kpos)),
                  list_min(ring8)) AS own8_pos,
         coalesce(list_min(list_filter(ring9, p -> p >= kpos)),
                  list_min(ring9)) AS own9_pos
  FROM keys CROSS JOIN rings
),
assigned AS (
  SELECT v8.node AS node8, v9.node AS node9,
         CAST(kpos % {_RING_NODES} AS INT) AS mod8,
         CAST(kpos % {_RING_NODES + 1} AS INT) AS mod9
  FROM owned
  JOIN vnodes v8 ON v8.pos = own8_pos
  JOIN vnodes v9 ON v9.pos = own9_pos
),
pairs AS (
  SELECT 'load8' AS role, node8 AS node FROM assigned
  UNION ALL SELECT 'load9', node9 FROM assigned
  UNION ALL SELECT 'ring_gained', node9 FROM assigned WHERE node9 != node8
  UNION ALL SELECT 'mod_gained', mod9 FROM assigned WHERE mod9 != mod8
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(sum(CASE WHEN role = 'load8' THEN 1 ELSE 0 END) AS BIGINT)
         AS load8,
       CAST(sum(CASE WHEN role = 'load9' THEN 1 ELSE 0 END) AS BIGINT)
         AS load9,
       CAST(sum(CASE WHEN role = 'ring_gained' THEN 1 ELSE 0 END) AS BIGINT)
         AS ring_gained,
       CAST(sum(CASE WHEN role = 'mod_gained' THEN 1 ELSE 0 END) AS BIGINT)
         AS mod_gained
FROM pairs
GROUP BY node ORDER BY node
"""


# ---------------------------------------------------------------------------
# merkle_tree_diff — anti-entropy hash-tree divergence walk
# ---------------------------------------------------------------------------

# 3-level tree over the customer key space: 1024-key leaves, fanout 16.
_MKL_LEAF = 1024
_MKL_FAN = 16


def merkle_tree_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERKLE-TREE anti-entropy diff (SURVEY §2 #291) — the
    Dynamo/Cassandra replica-repair walk, localizing WHERE two
    replicas diverge where replica_checksum_audit only says THAT they
    do: row hashes xor-folded into 1024-key leaves, leaves folded 16:1
    into two more levels, and the diff descends ONLY under differing
    parents — the published per-level compare counts show the
    bandwidth story (compare 16 roots' children, not a million rows).
    Replica B is replica A with deterministic planted divergence
    (hash-selected ~0.2% of keys mutated, ~0.1% dropped — the
    luhn/blocklist planted-truth pattern).  bit_xor is commutative and
    associative, so every fold is map-side combinable and
    order-independent — no sort anywhere.

    Scale shape: two map-combined xor aggs build all levels (leaf agg,
    then census-sized folds); the walk is three census joins.  Output:
    divergent leaves with both sides' counts, plus the per-level
    compare/diff censuses as audit columns.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(
            "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
        ).alias("bal_c"),
    )
    sel = X.hash64_spark("cast(c_custkey as string) || ':corrupt'")
    rows_a = cust.select(
        "c_custkey",
        F.expr(
            X.hash64_spark("cast(c_custkey as string) || ':' || bal_c")
        ).alias("rh"),
    )
    rows_b = (
        cust.filter(F.expr(f"({sel}) % 1000 != 2"))
        .select(
            "c_custkey",
            F.expr("bal_c"),
            F.expr(f"({sel}) % 1000").alias("m"),
        )
        .select(
            "c_custkey",
            F.expr(
                X.hash64_spark(
                    "cast(c_custkey as string) || ':' ||"
                    " (CASE WHEN m < 2 THEN bal_c + 1 ELSE bal_c END)"
                )
            ).alias("rh"),
        )
    )

    def levels(rows: DataFrame, tag: str) -> DataFrame:
        # no boundary here: each side feeds exactly ONE consumer (the
        # full join inside `leaves`, itself materialized) — the former
        # per-side materialize was one extra eager job each with no
        # reuse to buy (guide §5: checkpoint only what is re-read).
        return rows.groupBy(
            F.expr(f"c_custkey div {_MKL_LEAF}").alias("leaf")
        ).agg(
            F.expr("bit_xor(rh)").alias(f"h_{tag}"),
            F.count(F.lit(1)).alias(f"n_{tag}"),
        )

    la, lb = levels(rows_a, "a"), levels(rows_b, "b")
    leaves = materialize(
        la.join(lb, "leaf", "full")
        .select(
            "leaf",
            F.coalesce("h_a", F.lit(0)).alias("h_a"),
            F.coalesce("h_b", F.lit(0)).alias("h_b"),
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    l1 = materialize(
        leaves.groupBy(F.expr(f"leaf div {_MKL_FAN}").alias("p1")).agg(
            F.expr("bit_xor(h_a)").alias("h1a"),
            F.expr("bit_xor(h_b)").alias("h1b"),
        )
    )
    l2 = l1.groupBy(F.expr(f"p1 div {_MKL_FAN}").alias("p2")).agg(
        F.expr("bit_xor(h1a)").alias("h2a"),
        F.expr("bit_xor(h1b)").alias("h2b"),
    )
    stats = (
        l2.agg(
            F.count(F.lit(1)).alias("l2_compared"),
            F.sum(F.expr("CASE WHEN h2a != h2b THEN 1 ELSE 0 END")).alias(
                "l2_diff"
            ),
        )
        .crossJoin(
            l1.join(
                F.broadcast(
                    l2.filter("h2a != h2b").select(F.col("p2").alias("d2"))
                ),
                F.expr(f"p1 div {_MKL_FAN} = d2"),
            )
            .agg(
                F.count(F.lit(1)).alias("l1_compared"),
                F.sum(
                    F.expr("CASE WHEN h1a != h1b THEN 1 ELSE 0 END")
                ).alias("l1_diff"),
            )
        )
    )
    bad_l1 = l1.filter("h1a != h1b").select(F.col("p1").alias("d1"))
    return (
        leaves.join(F.broadcast(bad_l1), F.expr(f"leaf div {_MKL_FAN} = d1"))
        .filter("h_a != h_b")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("leaf").cast("bigint").alias("leaf"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("l2_compared").cast("bigint").alias("l2_compared"),
            F.col("l2_diff").cast("bigint").alias("l2_diff"),
            F.col("l1_compared").cast("bigint").alias("l1_compared"),
            F.col("l1_diff").cast("bigint").alias("l1_diff"),
        )
    )


QUERIES["merkle_tree_diff"] = merkle_tree_diff

_mkl_sel_duck = X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':corrupt'")

ORACLES["merkle_tree_diff"] = f"""
WITH base AS MATERIALIZED (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_c,
         ({_mkl_sel_duck}) % 1000 AS m
  FROM customer
),
rows_a AS (
  SELECT c_custkey,
         {X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':' || bal_c")} AS rh
  FROM base
),
rows_b AS (
  SELECT c_custkey,
         {X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':' || (CASE WHEN m < 2 THEN bal_c + 1 ELSE bal_c END)")}
           AS rh
  FROM base WHERE m != 2
),
la AS MATERIALIZED (
  SELECT c_custkey // {_MKL_LEAF} AS leaf, bit_xor(rh) AS h_a,
         count(*) AS n_a
  FROM rows_a GROUP BY 1
),
lb AS MATERIALIZED (
  SELECT c_custkey // {_MKL_LEAF} AS leaf, bit_xor(rh) AS h_b,
         count(*) AS n_b
  FROM rows_b GROUP BY 1
),
leaves AS MATERIALIZED (
  SELECT coalesce(la.leaf, lb.leaf) AS leaf,
         coalesce(h_a, 0) AS h_a, coalesce(h_b, 0) AS h_b,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM la FULL JOIN lb ON la.leaf = lb.leaf
),
l1 AS MATERIALIZED (
  SELECT leaf // {_MKL_FAN} AS p1,
         bit_xor(h_a) AS h1a, bit_xor(h_b) AS h1b
  FROM leaves GROUP BY 1
),
l2 AS MATERIALIZED (
  SELECT p1 // {_MKL_FAN} AS p2,
         bit_xor(h1a) AS h2a, bit_xor(h1b) AS h2b
  FROM l1 GROUP BY 1
),
stats AS MATERIALIZED (
  SELECT (SELECT count(*) FROM l2) AS l2_compared,
         (SELECT count(*) FROM l2 WHERE h2a != h2b) AS l2_diff,
         (SELECT count(*) FROM l1
           WHERE p1 // {_MKL_FAN} IN (SELECT p2 FROM l2 WHERE h2a != h2b))
           AS l1_compared,
         (SELECT count(*) FROM l1
           WHERE h1a != h1b
             AND p1 // {_MKL_FAN} IN (SELECT p2 FROM l2 WHERE h2a != h2b))
           AS l1_diff
)
SELECT CAST(leaf AS BIGINT) AS leaf,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(l2_compared AS BIGINT) AS l2_compared,
       CAST(l2_diff AS BIGINT) AS l2_diff,
       CAST(l1_compared AS BIGINT) AS l1_compared,
       CAST(l1_diff AS BIGINT) AS l1_diff
FROM leaves CROSS JOIN stats
WHERE h_a != h_b
  AND leaf // {_MKL_FAN} IN (SELECT p1 FROM l1 WHERE h1a != h1b)
ORDER BY leaf
"""


# ---------------------------------------------------------------------------
# t_closeness_audit — ordered-EMD distance of group vs global distributions
# ---------------------------------------------------------------------------

# 10 fixed acctbal buckets (literal cuts over the [-999.99, 9999.99]
# domain) and the published t threshold (0.20 => 200 milli).
_TCL_BUCKETS = 10
_TCL_T_MILLI = 200


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit (SURVEY §2 #292) — the third rung of the
    anonymization ladder the catalog already climbs twice
    (k_anonymity_audit: groups too small; l_diversity_audit: sensitive
    values too uniform): Li-Li-Venkatasubramanian 2007's requirement
    that each quasi-identifier group's SENSITIVE-value distribution
    sit within EMD t of the global one — l-diversity passes a group
    whose 10 distinct balances are all in the top decile; t-closeness
    is what catches that skew.  For the ORDERED balance attribute the
    EMD has the closed prefix form (1/(m-1))·Σ|cum(P−Q)|, computed
    exactly in cross-multiplied integers: cum_i = Σ_{j<=i}(n_gj·N −
    N_j·n_g), emd_milli = (1000·Σ|cum_i|) div ((m−1)·n_g·N) — one
    trailing division, DECIMAL(38,0) headroom to ~1e12 rows per side.

    Scale shape: one fact agg to the (segment, nation, bucket) census;
    global bucket census broadcast back; the prefix sum runs over the
    ≤10-row bucket axis PARTITIONED by group.  Windowless below the
    census; the quasi-ID group count bounds everything.
    """
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
        F.expr(
            "least(greatest(cast((cast(cast(c_acctbal as decimal(12,2))"
            f" * 100 as bigint) + 100000) div 110000 as int), 0),"
            f" {_TCL_BUCKETS - 1})"
        ).alias("bucket"),
    )
    census = materialize(
        cust.groupBy("segment", "nation", "bucket").agg(
            F.count(F.lit(1)).alias("n_gj")
        )
    )
    groups = census.groupBy("segment", "nation").agg(
        F.sum("n_gj").alias("n_g")
    )
    glob = census.groupBy("bucket").agg(F.sum("n_gj").alias("n_j"))
    total = census.agg(F.sum("n_gj").alias("nn"))
    # dense (group x bucket) frame so empty buckets still contribute
    # their cumulative deficit
    buckets = spark.range(_TCL_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    )
    dense = (
        groups.crossJoin(F.broadcast(buckets))
        .join(census, ["segment", "nation", "bucket"], "left")
        .join(F.broadcast(glob), "bucket")
        .crossJoin(F.broadcast(total))
        .select(
            "segment",
            "nation",
            "bucket",
            "n_g",
            "nn",
            F.expr(
                "cast(coalesce(n_gj, 0) as decimal(38,0)) * nn"
                " - cast(n_j as decimal(38,0)) * n_g"
            ).alias("diff"),
        )
    )
    w = (
        Window.partitionBy("segment", "nation")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = dense.withColumn("cum", F.sum("diff").over(w))
    return (
        cums.groupBy("segment", "nation", "n_g", "nn")
        .agg(F.sum(F.expr("abs(cum)")).alias("sum_abs"))
        .select(
            "segment",
            "nation",
            F.col("n_g").cast("bigint").alias("n"),
            F.expr(
                f"cast((1000 * sum_abs) div ({_TCL_BUCKETS - 1}"
                " * cast(n_g as decimal(38,0)) * nn) as bigint)"
            ).alias("emd_milli"),
            F.expr(
                f"cast(CASE WHEN (1000 * sum_abs) div ({_TCL_BUCKETS - 1}"
                " * cast(n_g as decimal(38,0)) * nn)"
                f" <= {_TCL_T_MILLI} THEN 1 ELSE 0 END as bigint)"
            ).alias("t_close_ok"),
        )
    )


QUERIES["t_closeness_audit"] = t_closeness_audit

ORACLES["t_closeness_audit"] = f"""
WITH cust AS MATERIALIZED (
  SELECT c_mktsegment AS segment, n_name AS nation,
         least(greatest(CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                              AS BIGINT) + 100000) // 110000 AS INT), 0),
               {_TCL_BUCKETS - 1}) AS bucket
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
census AS MATERIALIZED (
  SELECT segment, nation, bucket, count(*) AS n_gj
  FROM cust GROUP BY 1, 2, 3
),
groups AS (
  SELECT segment, nation, sum(n_gj) AS n_g FROM census GROUP BY 1, 2
),
gbl AS (SELECT bucket, sum(n_gj) AS n_j FROM census GROUP BY bucket),
total AS (SELECT sum(n_gj) AS nn FROM census),
buckets AS (
  SELECT CAST(b AS INT) AS bucket
  FROM unnest(generate_series(0, {_TCL_BUCKETS - 1})) AS t(b)
),
dense AS (
  SELECT g.segment, g.nation, b.bucket, g.n_g, t.nn,
         coalesce(c.n_gj, 0)::HUGEINT * t.nn
           - gl.n_j::HUGEINT * g.n_g AS diff
  FROM groups g
  CROSS JOIN buckets b
  LEFT JOIN census c ON c.segment = g.segment AND c.nation = g.nation
                    AND c.bucket = b.bucket
  JOIN gbl gl ON gl.bucket = b.bucket
  CROSS JOIN total t
),
cums AS (
  SELECT segment, nation, n_g, nn,
         sum(diff) OVER (PARTITION BY segment, nation ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM dense
)
SELECT segment, nation,
       CAST(n_g AS BIGINT) AS n,
       CAST((1000 * sum(abs(cum)))
            // ({_TCL_BUCKETS - 1} * n_g::HUGEINT * nn) AS BIGINT)
         AS emd_milli,
       CAST(CASE WHEN (1000 * sum(abs(cum)))
                      // ({_TCL_BUCKETS - 1} * n_g::HUGEINT * nn)
                      <= {_TCL_T_MILLI}
                 THEN 1 ELSE 0 END AS BIGINT) AS t_close_ok
FROM cums
GROUP BY segment, nation, n_g, nn
ORDER BY segment, nation
"""


# ---------------------------------------------------------------------------
# cell_suppression_audit — small-cell + complementary suppression census
# ---------------------------------------------------------------------------

_SUP_THRESHOLD = 5


def cell_suppression_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATISTICAL-DISCLOSURE cell suppression (SURVEY §2 #332) — the
    census-bureau release rule (Cox 1980; the k-anonymity family's
    TABULAR ancestor): cells with 1-4 units are primary-suppressed,
    and any margin group left with EXACTLY ONE suppressed cell needs
    a COMPLEMENTARY suppression (the margin total would reveal the
    primary by subtraction) — the subtlety naive anonymizers miss and
    k_anonymity_audit (microdata) cannot see.  Cells are (segment,
    nation, balance-decile) customer counts with (segment, nation)
    margins; one round of complementary suppression picks the
    smallest surviving cell per exposed margin (deterministic
    tiebreak).  Published per margin: cell/suppression censuses and
    the weight of data lost.

    Scale shape: one fact agg to the ≤1250-cell census; margin folds
    and the complementary election are census group-bys (the election
    via partitioned rank over suppression-eligible cells).
    """
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
        F.expr(
            "least(greatest(cast((cast(cast(c_acctbal as decimal(12,2))"
            " * 100 as bigint) + 100000) div 110000 as int), 0), 9)"
        ).alias("decile"),
    )
    cells = materialize(
        cust.groupBy("segment", "nation", "decile").agg(
            F.count(F.lit(1)).alias("n")
        ).withColumn(
            "primary_sup",
            F.expr(
                f"CASE WHEN n >= 1 AND n < {_SUP_THRESHOLD} THEN 1"
                " ELSE 0 END"
            ),
        )
    )
    margins = cells.groupBy("segment", "nation").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("total"),
        F.sum("primary_sup").alias("n_primary"),
        F.sum(F.expr("n * primary_sup")).alias("suppressed_weight"),
    )
    wmin = Window.partitionBy("segment", "nation").orderBy(
        "n", "decile"
    )
    secondary = (
        cells.filter("primary_sup = 0")
        .withColumn("rk", F.row_number().over(wmin))
        .filter("rk = 1")
        .select(
            "segment",
            "nation",
            F.col("n").alias("sec_n"),
        )
    )
    return (
        margins.join(secondary, ["segment", "nation"], "left")
        .select(
            "segment",
            "nation",
            F.col("n_cells").cast("bigint").alias("n_cells"),
            F.col("total").cast("bigint").alias("n_units"),
            F.col("n_primary").cast("bigint").alias("n_primary"),
            F.expr(
                "cast(CASE WHEN n_primary = 1 AND sec_n IS NOT NULL"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("n_secondary"),
            F.expr(
                "cast(suppressed_weight + CASE WHEN n_primary = 1"
                " AND sec_n IS NOT NULL THEN sec_n ELSE 0 END"
                " as bigint)"
            ).alias("units_suppressed"),
            F.expr(
                "cast((10000 * (suppressed_weight + CASE WHEN"
                " n_primary = 1 AND sec_n IS NOT NULL THEN sec_n"
                " ELSE 0 END)) div total as bigint)"
            ).alias("loss_bp"),
        )
    )


QUERIES["cell_suppression_audit"] = cell_suppression_audit

ORACLES["cell_suppression_audit"] = f"""
WITH cust AS (
  SELECT c_mktsegment AS segment, n_name AS nation,
         least(greatest(CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                              AS BIGINT) + 100000) // 110000 AS INT), 0), 9)
           AS decile
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
cells AS MATERIALIZED (
  SELECT segment, nation, decile, count(*) AS n,
         CASE WHEN count(*) >= 1 AND count(*) < {_SUP_THRESHOLD}
              THEN 1 ELSE 0 END AS primary_sup
  FROM cust GROUP BY 1, 2, 3
),
margins AS (
  SELECT segment, nation, count(*) AS n_cells, sum(n) AS total,
         sum(primary_sup) AS n_primary,
         sum(n * primary_sup) AS suppressed_weight
  FROM cells GROUP BY segment, nation
),
secondary AS (
  SELECT segment, nation, n AS sec_n FROM cells
  WHERE primary_sup = 0
  QUALIFY row_number() OVER (PARTITION BY segment, nation
                             ORDER BY n, decile) = 1
)
SELECT m.segment, m.nation,
       CAST(m.n_cells AS BIGINT) AS n_cells,
       CAST(m.total AS BIGINT) AS n_units,
       CAST(m.n_primary AS BIGINT) AS n_primary,
       CAST(CASE WHEN m.n_primary = 1 AND s.sec_n IS NOT NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS n_secondary,
       CAST(m.suppressed_weight
            + CASE WHEN m.n_primary = 1 AND s.sec_n IS NOT NULL
                   THEN s.sec_n ELSE 0 END AS BIGINT) AS units_suppressed,
       CAST((10000 * (m.suppressed_weight
                      + CASE WHEN m.n_primary = 1 AND s.sec_n IS NOT NULL
                             THEN s.sec_n ELSE 0 END)) // m.total
            AS BIGINT) AS loss_bp
FROM margins m
LEFT JOIN secondary s ON s.segment = m.segment AND s.nation = m.nation
ORDER BY m.segment, m.nation
"""
