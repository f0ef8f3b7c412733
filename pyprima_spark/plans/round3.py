"""Round-3 operators: training-corpus signals, sequence analytics, and
data-layout / ops tooling.

Each query has an exact-match DuckDB oracle in ``ORACLES``.
Determinism rules follow functions/agg.py: integer arithmetic wherever
possible, DECIMAL sums for doubles, single correctly-rounded double
divisions (identical across engines), rounding only at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import DEC
from pyprima_spark.functions.text import (
    hash64_duck,
    hash64_spark,
    normtext_duck,
    normtext_spark,
    tokens_duck,
    tokens_spark,
)
from pyprima_spark.plans.core import _t


ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# doc_repetition — Gopher-style repetition signals per document
# ---------------------------------------------------------------------------

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals for corpus filtering: duplicate
    trigram fraction and most-common-token share (the Gopher/C4 class
    of quality gates; complements quality_score's length/punct gates).

    Scale shape: the trigram stats are ROW-LOCAL array expressions (no
    explode — nothing is materialized per-gram); only the top-token
    branch explodes, and its two aggregations both key on doc_id /
    (doc_id, tok), so the corpus shuffles once. The final join is
    doc_id-keyed on both sides.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.expr(tokens_spark("text")).alias("t"))
    a = base.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.expr(
            "CASE WHEN size(t) < 3 THEN 0 ELSE "
            "size(t) - 2 - size(array_distinct(transform(sequence(0, size(t) - 3), "
            "i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) END"
        ).alias("dup3"),
    )
    b = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("max_cnt"))
    )
    return (
        a.join(b, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.round(
                F.when(F.col("n_tok") < 3, F.lit(0.0)).otherwise(
                    F.col("dup3") / (F.col("n_tok") - 2)
                ),
                4,
            ).alias("dup_3gram_frac"),
            F.round(
                F.when(F.col("n_tok") == 0, F.lit(0.0)).otherwise(
                    F.coalesce(F.col("max_cnt"), F.lit(0)) / F.col("n_tok")
                ),
                4,
            ).alias("top_token_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_3gram_frac") <= 0.2) & (F.col("top_token_frac") <= 0.3),
        )
        .orderBy("doc_id")
    )


ORACLES["doc_repetition"] = f"""
WITH base AS (SELECT doc_id, {tokens_duck('text')} AS t FROM documents),
a AS (
  SELECT doc_id, len(t) AS n_tok,
    CASE WHEN len(t) < 3 THEN 0 ELSE
      len(t) - 2 - len(list_distinct(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) END AS dup3
  FROM base
),
b AS (
  SELECT doc_id, max(cnt) AS max_cnt FROM (
    SELECT doc_id, tok, count(*) AS cnt
    FROM (SELECT doc_id, unnest(t) AS tok FROM base) GROUP BY 1, 2
  ) GROUP BY 1
),
j AS (
  SELECT a.doc_id, n_tok,
    round(CASE WHEN n_tok < 3 THEN 0.0 ELSE dup3 / (n_tok - 2) END, 4)
      AS dup_3gram_frac,
    round(CASE WHEN n_tok = 0 THEN 0.0
               ELSE coalesce(max_cnt, 0) / n_tok END, 4) AS top_token_frac
  FROM a LEFT JOIN b ON a.doc_id = b.doc_id
)
SELECT *, (dup_3gram_frac <= 0.2 AND top_token_frac <= 0.3) AS keep
FROM j ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# event_transitions — first-order Markov transition matrix
# ---------------------------------------------------------------------------

def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts and probabilities per user sequence.

    One shuffle on user_id orders each user's history (lead window);
    the count matrix aggregation is tiny (|event_type|^2 keys) so its
    exchange is negligible. The probability divides two exact integers
    — a single correctly-rounded double op, identical across engines.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    return (
        pairs.groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "prob",
            F.round(F.col("n") / F.sum("n").over(Window.partitionBy("src")), 4),
        )
        .orderBy("src", "dst")
    )


ORACLES["event_transitions"] = """
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst
  FROM events
)
SELECT src, dst, count(*) AS n,
       round(count(*) / sum(count(*)) OVER (PARTITION BY src), 4) AS prob
FROM pairs WHERE dst IS NOT NULL
GROUP BY src, dst ORDER BY src, dst
"""


# ---------------------------------------------------------------------------
# sliding_7d_actives — trailing 7-day distinct users per day
# ---------------------------------------------------------------------------

def sliding_7d_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day.

    Distinct-over-sliding-window has no shuffle-free form; the scalable
    layout is contribute-then-count: dedup to (user, day) first (the
    big shrink), explode each survivor into the <=7 window days it
    feeds, then one countDistinct per day. The explode factor is a
    constant 7 on the ALREADY-deduped set — at 100 TB the raw events
    never fan out. Bound comes from a 1-row broadcast, not a sort.
    """
    ev = _t(spark, sf_dir, "events")
    du = (
        ev.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .distinct()
    )
    bounds = du.agg(F.max("day").alias("max_day"))
    return (
        du.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, date_add(day, 6), interval 1 day)")
            ).alias("day"),
        )
        .join(F.broadcast(bounds), F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("actives_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "actives_7d")
        .orderBy("day")
    )


ORACLES["sliding_7d_actives"] = """
WITH du AS (
  SELECT DISTINCT user_id, cast(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
fan AS (
  SELECT user_id, unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS day
  FROM du
)
SELECT strftime(cast(day AS DATE), '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS actives_7d
FROM fan WHERE cast(day AS DATE) <= (SELECT max(day) FROM du)
GROUP BY 1 ORDER BY 1
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
    return a.unionByName(b).orderBy("key")


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
# ntile_features — decile feature binning per segment
# ---------------------------------------------------------------------------

_NTILE_BUCKETS = 10


def ntile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment order-value deciles (near-equal-frequency binning
    for feature engineering) via broadcast percentile cuts.

    VERDICT r7 rewrite: the original plan ran ntile(10) over a window
    partitioned by c_mktsegment — FIVE distinct values, so five
    reducers each sorted 20% of the orders⋈customer fact table (the
    same low-parallelism shape the r5 verdict had already rewritten
    out of equidepth_histogram, round5.py:4886, and rfm_segments).
    Now the 9 per-segment cut values come from percentile_disc over
    the deterministic 4% md5-gated sample (percentile_disc returns an
    actual data value — bit-identical across engines), the 5×9 cut
    table is BROADCAST, bucket assignment is a row-local comparison
    chain, and the rollup is one map-combined aggregation. Bucket
    counts are near-equal rather than exactly equal — what a sampled
    equi-depth binning IS (Spark's own RangePartitioner accepts the
    same tolerance); n doubles as the balance proof.

    Small-segment safety (round-8 review finding): a segment whose 4%
    sample came up empty would have no cut row, and an inner join
    would silently DROP the whole segment. Two guards, both mirrored
    in the oracle: segments under 250 rows contribute ALL their rows
    to the cut aggregate (their full set is census-sized, so this
    costs nothing), and bucket assignment LEFT-joins the cut table
    with null-safe comparisons, so even a cutless segment
    (P < 0.96^250 per segment) degrades to one bucket instead of
    vanishing.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "o_totalprice", "o_orderkey"
    )
    return ntile_features_census(j)


def ntile_features_census(j: DataFrame) -> DataFrame:
    """Census core of ntile_features over an arbitrary (c_mktsegment,
    o_totalprice, o_orderkey) frame — separated so
    tools/stress_probe.py can measure the broadcast percentile-cut
    plan on replicated orders."""

    qs = [i / _NTILE_BUCKETS for i in range(1, _NTILE_BUCKETS)]
    gate = F.expr(X.hash64_spark("cast(o_orderkey as string)")) % 100 < 4
    seg_n = j.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("seg_n"))
    cuts = (
        j.join(F.broadcast(seg_n), "c_mktsegment")
        .filter(gate | (F.col("seg_n") < 250))
        .groupBy("c_mktsegment")
        .agg(
            *[
                F.expr(
                    f"percentile_disc({q}) WITHIN GROUP (ORDER BY o_totalprice)"
                ).alias(f"b{i}")
                for i, q in enumerate(qs, start=1)
            ]
        )
    )
    bucket = F.lit(1)
    for i in range(1, _NTILE_BUCKETS):
        # coalesce: a cutless segment (left join below) lands whole in
        # bucket 1 — DuckDB's CASE WHEN yields the same 0 on null
        bucket = bucket + F.coalesce(
            (F.col("o_totalprice") > F.col(f"b{i}")).cast("int"), F.lit(0)
        )
    return (
        j.join(F.broadcast(cuts), "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            bucket.alias("decile"),
            F.col("o_totalprice").cast("decimal(27,6)").alias("v"),
        )
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v"), 2).cast("double").alias("lo"),
            F.round(F.max("v"), 2).cast("double").alias("hi"),
            F.round(F.sum("v"), 2).cast("double").alias("total"),
        )
        .orderBy("c_mktsegment", "decile")
    )


def _ntile_features_oracle() -> str:
    qs = [i / _NTILE_BUCKETS for i in range(1, _NTILE_BUCKETS)]
    bound_cols = ", ".join(
        f"quantile_disc(o_totalprice, {q}) AS b{i}"
        for i, q in enumerate(qs, start=1)
    )
    bucket_expr = " + ".join(
        ["1"]
        + [
            f"CASE WHEN o_totalprice > b{i} THEN 1 ELSE 0 END"
            for i in range(1, _NTILE_BUCKETS)
        ]
    )
    gate = X.hash64_duck("cast(o_orderkey as VARCHAR)")
    return f"""
WITH j AS (
  SELECT c_mktsegment, o_totalprice, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (
  SELECT c_mktsegment, count(*) AS seg_n FROM j GROUP BY 1
),
cuts AS (
  SELECT c_mktsegment, {bound_cols}
  FROM j JOIN seg USING (c_mktsegment)
  WHERE ({gate} % 100 < 4) OR seg_n < 250
  GROUP BY c_mktsegment
),
bucketed AS (
  SELECT j.c_mktsegment, {bucket_expr} AS decile,
         CAST(o_totalprice AS DECIMAL(27,6)) AS v
  FROM j LEFT JOIN cuts USING (c_mktsegment)
)
SELECT c_mktsegment, decile, count(*) AS n,
       round(min(v), 2)::DOUBLE AS lo,
       round(max(v), 2)::DOUBLE AS hi,
       round(sum(v), 2)::DOUBLE AS total
FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2
"""


ORACLES["ntile_features"] = _ntile_features_oracle()


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
        .orderBy("n_name", "op")
    )


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
        .orderBy("tile")
    )


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
# ewma_user_value — exponentially weighted moving average, exact dyadic
# ---------------------------------------------------------------------------

def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-20-event EWMA of purchase value per user (alpha = 1/2).

    Exactness: values become integer cents, and 1/2-decay weights are
    dyadic rationals — every product and the bounded sum are exact in
    binary floating point, so Spark and DuckDB agree bit-for-bit with
    no decimal detour. Layout: one user-keyed window computes row
    numbers, a second pass keeps only each user's last 20 rows, and the
    weighted fold is a row-local array aggregate over <=20 elements (no
    per-row collect_list across full history).
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id",
        F.col("ts"),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("rn", F.row_number().over(w))
    last20 = (
        ranked.withColumn(
            "max_rn", F.max("rn").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("rn") > F.col("max_rn") - 20)
    )
    return (
        last20.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "aggregate("
                "  transform(array_sort(collect_list(struct(rn, cents))), x -> x.cents),"
                "  cast(0.0 as double),"
                "  (acc, v) -> acc / 2.0 + v)"
            ).alias("raw"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("raw") / 100.0, 4).alias("ewma_value"),
        )
        .orderBy("user_id")
    )


ORACLES["ewma_user_value"] = """
WITH p AS (
  SELECT user_id, ts, event_id,
         cast(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS max_rn
  FROM events WHERE event_type = 'purchase'
),
last20 AS (SELECT * FROM p WHERE rn > max_rn - 20),
folded AS (
  SELECT user_id, count(*) AS n_events,
         list_reduce(
           list_prepend(cast(0 AS DOUBLE),
                        list_transform(list(cents ORDER BY rn), c -> cast(c AS DOUBLE))),
           (acc, v) -> acc / 2.0 + v) AS raw
  FROM last20 GROUP BY user_id
)
SELECT user_id, n_events, round(raw / 100.0, 4) AS ewma_value
FROM folded ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# grouped_regression — per-group OLS from exact sufficient statistics
# ---------------------------------------------------------------------------

def grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time, computed
    from the five sufficient statistics (Sx, Sy, Sxy, Sxx, Syy) as
    exact DECIMAL sums — the distributed form of regr_slope/regr_r2:
    one shuffle produces every regression, and the closed-form solve is
    a handful of scalar double ops on exact totals (bit-identical
    across engines, unlike a parallel double accumulation).

    x is seconds since the group's first event (window min shares the
    groupBy's exchange), keeping x^2 within DECIMAL(27,6) headroom.
    """

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    base = ev.select(
        "event_type",
        F.col("value").alias("y"),
        (
            (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(w))
            / 1_000_000.0
        ).alias("x"),
    )
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(DEC)).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "event_type",
        "n",
        F.round(num / den, 8).alias("slope"),
        F.round((F.col("sy") - (num / den) * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round((num * num) / (den * deny), 6).alias("r2"),
    ).orderBy("event_type")


ORACLES["grouped_regression"] = """
WITH base AS (
  SELECT event_type, value AS y,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type))
           / 1000000.0 AS x
  FROM events
),
agg AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(x AS DECIMAL(27,6)))::DOUBLE AS sx,
         sum(CAST(y AS DECIMAL(27,6)))::DOUBLE AS sy,
         sum(CAST(x * y AS DECIMAL(27,6)))::DOUBLE AS sxy,
         sum(CAST(x * x AS DECIMAL(27,6)))::DOUBLE AS sxx,
         sum(CAST(y * y AS DECIMAL(27,6)))::DOUBLE AS syy
  FROM base GROUP BY event_type
)
SELECT event_type, n,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope,
  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
    AS intercept,
  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# seasonal_profile — hour-of-day x day-of-week load profile
# ---------------------------------------------------------------------------

def seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week mean-value profile per event type — the
    reference's day-type load-profile decomposition
    (generate_load_timeseries / profile shaping) as one map-combined
    aggregation; 7×24×|types| output cells regardless of input scale.

    Engine note: Spark dayofweek() is 1=Sunday; DuckDB's is 0=Sunday
    (oracle adds 1). The mean is rounded HALF-UP in exact integer-cent
    space — round(double, 4) itself diverges between engines when the
    true mean sits within double noise of a .00005 boundary (observed:
    2/840 cells at sf0.01), so no double is ever rounded here.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sc"),
        )
        .select(
            "event_type",
            "dow",
            "hod",
            "n",
            # Half-up-rounded mean in integer space. The +n offset gives
            # half-UP only for nonnegative numerators (events.value >= 0
            # by data contract; sc is a sum of nonneg cents). Cross-engine
            # safety does not depend on the sign either way: Spark `div`
            # and DuckDB `//` BOTH truncate toward zero (-7//2 = -3 in
            # DuckDB, verified), so the two sides agree bit-for-bit even
            # if a negative slipped in — it would merely round half-down.
            (
                F.expr("(200 * sc + n) div (2 * n)") / 10000.0
            ).alias("mean_value"),
        )
        .orderBy("event_type", "dow", "hod")
    )


ORACLES["seasonal_profile"] = """
WITH g AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
         count(*) AS n,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type, dow, hod, n,
       ((200 * sc + n) // (2 * n)) / 10000.0 AS mean_value
FROM g ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# daily_anomaly — z-score outlier days from exact moments
# ---------------------------------------------------------------------------

def daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose total value is > 2 sigma from that event type's mean
    daily total. Daily totals are exact DECIMAL sums; mean/std come
    from second-moment totals over the (tiny) daily series via a
    window, so the whole screen is two shuffles: one on (type, day),
    one on type. The z comparison happens on deterministic doubles.
    """

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.round(F.sum(F.col("value").cast(DEC)), 6).cast("double").alias("total"))
    )
    w = Window.partitionBy("event_type")
    stats = (
        daily.withColumn("n_days", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum(F.col("total").cast(DEC)).over(w).cast("double"))
        .withColumn(
            "sxx", F.sum((F.col("total") * F.col("total")).cast(DEC)).over(w).cast("double")
        )
    )
    mean = F.col("sx") / F.col("n_days")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_days")) / (
        F.col("n_days") - 1
    )
    return (
        stats.withColumn("z", (F.col("total") - mean) / F.sqrt(var))
        .filter(F.abs(F.col("z")) > 2.0)
        .select("event_type", "day", "total", F.round("z", 4).alias("z"))
        .orderBy("event_type", "day")
    )


ORACLES["daily_anomaly"] = """
WITH daily AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         round(sum(CAST(value AS DECIMAL(27,6))), 6)::DOUBLE AS total
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT *, count(*) OVER (PARTITION BY event_type) AS n_days,
         sum(CAST(total AS DECIMAL(27,6))) OVER (PARTITION BY event_type)::DOUBLE AS sx,
         sum(CAST(total * total AS DECIMAL(27,6))) OVER (PARTITION BY event_type)::DOUBLE AS sxx
  FROM daily
),
z AS (
  SELECT event_type, day, total,
         (total - sx / n_days)
           / sqrt((sxx - sx * sx / n_days) / (n_days - 1)) AS z
  FROM stats
)
SELECT event_type, day, total, round(z, 4) AS z
FROM z WHERE abs(z) > 2.0 ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# sample_split — deterministic hash train/val/test split
# ---------------------------------------------------------------------------

def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-free
    md5(doc_id) bucketing — reproducible across engines, runs, and
    cluster sizes (no sampling RNG, no shuffle beyond the final small
    agg). The split every training pipeline needs to be stable under
    re-ingestion.
    """

    docs = _t(spark, sf_dir, "documents")
    h = F.expr(hash64_spark("cast(doc_id as string) || ':split'")) % 100
    return (
        docs.withColumn(
            "split",
            F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("source", "split")
    )


def _hash64_duck_split() -> str:
    return hash64_duck("cast(doc_id as varchar) || ':split'")


ORACLES["sample_split"] = f"""
WITH s AS (
  SELECT *, CASE WHEN {_hash64_duck_split()} % 100 < 80 THEN 'train'
                 WHEN {_hash64_duck_split()} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
  FROM documents
)
SELECT source, split, count(*) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# corpus_novelty — per-ingestion-batch new-fingerprint rate
# ---------------------------------------------------------------------------

def corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve over ingestion batches: what fraction of each
    batch's distinct fingerprints was never seen in ANY earlier batch.
    The monitoring signal every growing corpus needs (diminishing
    novelty = the crawl is saturating).

    No cumulative self-join: a fingerprint's first batch is min(batch)
    per fingerprint (one agg), and a batch's novelty is then a count
    over that tiny table — two map-combined aggregations total,
    regardless of corpus size. doc_id div 100 stands in for the
    ingestion-batch id of the test corpus.
    """

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        (F.col("doc_id") / 100).cast("int").alias("batch"),
        F.md5(F.expr(normtext_spark("text"))).alias("fp"),
    ).distinct()
    per_batch = fp.groupBy("batch").agg(F.count(F.lit(1)).alias("n_fps"))
    first_seen = (
        fp.groupBy("fp")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    return (
        per_batch.join(first_seen, "batch", "left")
        .select(
            "batch",
            "n_fps",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.round(
                F.coalesce("n_new", F.lit(0)) / F.col("n_fps"), 4
            ).alias("novelty_rate"),
        )
        .orderBy("batch")
    )


def _novelty_oracle() -> str:
    return f"""
WITH fp AS (
  SELECT DISTINCT cast(doc_id // 100 AS INT) AS batch,
         md5({normtext_duck('text')}) AS fp
  FROM documents
),
per_batch AS (SELECT batch, count(*) AS n_fps FROM fp GROUP BY batch),
first_seen AS (
  SELECT batch, count(*) AS n_new FROM (
    SELECT fp, min(batch) AS batch FROM fp GROUP BY fp
  ) GROUP BY batch
)
SELECT p.batch, n_fps, coalesce(n_new, 0) AS n_new,
       round(coalesce(n_new, 0) / n_fps, 4) AS novelty_rate
FROM per_batch p LEFT JOIN first_seen f ON p.batch = f.batch
ORDER BY p.batch
"""


ORACLES["corpus_novelty"] = _novelty_oracle()


# ---------------------------------------------------------------------------
# quantile_normalize — within-group percent-rank feature scaling
# ---------------------------------------------------------------------------

def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based feature normalization: each event's value mapped to
    its within-type percent_rank — the outlier-immune scaling used on
    heavy-tailed features before training. percent_rank is integer
    arithmetic ((rank-1)/(n-1), ties share a rank), so it is exact on
    both engines; one shuffle per group. Output restricted to a
    deterministic user slice to keep the compare set small.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return (
        ev.withColumn("pr", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("user_id") % 50 == 0)
        .select("event_id", "event_type", "value", "pr")
        .orderBy("event_id")
    )


ORACLES["quantile_normalize"] = """
SELECT event_id, event_type, value,
       round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6)
         AS pr
FROM events
QUALIFY user_id % 50 = 0
ORDER BY event_id
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
    ).orderBy("column_name")


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
# grid_upsample_bilinear — interpolating raster enlarge (gather-join form)
# ---------------------------------------------------------------------------

_BI_H, _BI_W, _BI_R = 40, 90, 4  # source grid and enlargement factor
_BI_OH, _BI_OW = _BI_H * _BI_R, _BI_W * _BI_R
_BI_DY, _BI_DX = _BI_OH - 1, _BI_OW - 1  # align-corners denominators
_BI_D = _BI_DY * _BI_DX


def grid_upsample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear (align-corners) raster enlarge — the interpolating
    counterpart of grid_upsample's nearest-neighbor path (util.py
    resizem interpolates profile rasters on refinement).

    Distributed gather form: each output pixel emits its <=4 source
    neighbors with integer weights (explode), gathered by ONE (y, x)
    equi-join against the source grid and summed — the plan that works
    when the raster is a table, not a formula. All weights and the
    weighted sum are exact integers; the final half-up rounding to 4
    decimals happens in integer space (never rounding a double), and
    the single division by the constant denominator is the only float
    op.
    """
    # Fully parenthesized: these fragments are spliced into larger
    # expressions and % shares precedence with *.
    fy = f"((oi * {_BI_H - 1}) % {_BI_DY})"
    fx = f"((oj * {_BI_W - 1}) % {_BI_DX})"
    y0 = f"((oi * {_BI_H - 1}) div {_BI_DY})"
    x0 = f"((oj * {_BI_W - 1}) div {_BI_DX})"
    src = (
        spark.range(_BI_H * _BI_W)
        .select(
            (F.col("id") / _BI_W).cast("int").alias("y"),
            (F.col("id") % _BI_W).cast("int").alias("x"),
        )
        .withColumn("v", (F.col("y") * 31 + F.col("x") * 17) % 97)
    )
    nb = (
        spark.range(_BI_OH * _BI_OW)
        .select(
            (F.col("id") / _BI_OW).cast("int").alias("oi"),
            (F.col("id") % _BI_OW).cast("int").alias("oj"),
        )
        .select(
            "oi",
            "oj",
            F.explode(
                F.expr(
                    f"array("
                    f" named_struct('y', {y0}, 'x', {x0},"
                    f"   'w', ({_BI_DY} - {fy}) * ({_BI_DX} - {fx})),"
                    f" named_struct('y', {y0}, 'x', least({x0} + 1, {_BI_W - 1}),"
                    f"   'w', ({_BI_DY} - {fy}) * {fx}),"
                    f" named_struct('y', least({y0} + 1, {_BI_H - 1}), 'x', {x0},"
                    f"   'w', {fy} * ({_BI_DX} - {fx})),"
                    f" named_struct('y', least({y0} + 1, {_BI_H - 1}),"
                    f"   'x', least({x0} + 1, {_BI_W - 1}), 'w', {fy} * {fx}))"
                )
            ).alias("nb"),
        )
        .select("oi", "oj", "nb.y", "nb.x", "nb.w")
    )
    return (
        nb.join(src, ["y", "x"])
        .groupBy("oi", "oj")
        .agg(F.sum(F.col("w") * F.col("v")).alias("num"))
        .select(
            "oi",
            "oj",
            # Half-up for nonnegative numerators only (pixval is
            # 0..99 by construction, so num >= 0); and Spark `div` /
            # DuckDB `//` both truncate toward zero (verified), so the
            # engines agree regardless — see seasonal_profile.
            (
                F.expr(f"(20000 * num + {_BI_D}) div (2 * {_BI_D})") / 10000.0
            ).alias("val"),
        )
        .orderBy("oi", "oj")
    )


ORACLES["grid_upsample_bilinear"] = f"""
WITH src AS (
  SELECT cast(i // {_BI_W} AS INT) AS y, cast(i % {_BI_W} AS INT) AS x,
         (cast(i // {_BI_W} AS INT) * 31 + cast(i % {_BI_W} AS INT) * 17) % 97 AS v
  FROM (SELECT unnest(range(0, {_BI_H * _BI_W})) AS i)
),
geom AS (
  SELECT cast(i // {_BI_OW} AS INT) AS oi, cast(i % {_BI_OW} AS INT) AS oj,
         (cast(i // {_BI_OW} AS INT) * {_BI_H - 1}) // {_BI_DY} AS y0,
         (cast(i // {_BI_OW} AS INT) * {_BI_H - 1}) % {_BI_DY} AS fy,
         (cast(i % {_BI_OW} AS INT) * {_BI_W - 1}) // {_BI_DX} AS x0,
         (cast(i % {_BI_OW} AS INT) * {_BI_W - 1}) % {_BI_DX} AS fx
  FROM (SELECT unnest(range(0, {_BI_OH * _BI_OW})) AS i)
),
nb AS (
  SELECT oi, oj, y0 AS y, x0 AS x, ({_BI_DY} - fy) * ({_BI_DX} - fx) AS w FROM geom
  UNION ALL
  SELECT oi, oj, y0, least(x0 + 1, {_BI_W - 1}), ({_BI_DY} - fy) * fx FROM geom
  UNION ALL
  SELECT oi, oj, least(y0 + 1, {_BI_H - 1}), x0, fy * ({_BI_DX} - fx) FROM geom
  UNION ALL
  SELECT oi, oj, least(y0 + 1, {_BI_H - 1}), least(x0 + 1, {_BI_W - 1}), fy * fx
  FROM geom
),
agg AS (
  SELECT oi, oj, sum(w * v) AS num
  FROM nb JOIN src USING (y, x) GROUP BY 1, 2
)
SELECT oi, oj,
       ((20000 * num + {_BI_D}) // (2 * {_BI_D})) / 10000.0 AS val
FROM agg ORDER BY oi, oj
"""


QUERIES = {
    "doc_repetition": doc_repetition,
    "event_transitions": event_transitions,
    "sliding_7d_actives": sliding_7d_actives,
    "key_skew_profile": key_skew_profile,
    "ntile_features": ntile_features,
    "churn_setops": churn_setops,
    "morton_tiles": morton_tiles,
    "ewma_user_value": ewma_user_value,
    "grouped_regression": grouped_regression,
    "seasonal_profile": seasonal_profile,
    "daily_anomaly": daily_anomaly,
    "sample_split": sample_split,
    "table_profile": table_profile,
    "corpus_novelty": corpus_novelty,
    "quantile_normalize": quantile_normalize,
    "grid_upsample_bilinear": grid_upsample_bilinear,
}
