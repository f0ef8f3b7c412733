"""Cleaning operators: the clean-raw-data phase of the reference's
``runme.py`` (``pipeline.CLEANING``) — dictionary recodes, share
normalisation, imputation and gap fills, name cleanup and dedup,
interval binning — plus the multi-value expansion, indicator pivot and
linear gap interpolation that the same correction code performs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import dec_avg, dec_sum
from pyprima_spark.functions.binning import interval_bin, interval_bin_sql
from pyprima_spark.functions.strings import clean_name, clean_name_sql
from pyprima_spark.operators.dedup_names import dedup_names as dd
from pyprima_spark.operators.expand import expand_multivalue as expand
from pyprima_spark.operators.gapfill import (
    forward_fill,
    trend_fill_day_before,
    trend_fill_sql,
)
from pyprima_spark.operators.impute import mode_impute as mi
from pyprima_spark.operators.normalize import group_share
from pyprima_spark.operators.recode import mapping_values_sql, recode_column
from pyprima_spark.plans.constants import NATION_RECODE, SIZE_BINS, SIZE_DEFAULT
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def recode_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict-recode nation names into merged countries, regroup.

    Reference: clean_load_data_ENTSOE renames ENTSO-E country codes via
    dict_countries then groups columns with the same new name
    (correction_functions.py:298-313). Broadcast map join, no fact-side
    shuffle until the final group.
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    recoded = recode_column(spark, nation, "n_name", NATION_RECODE, "country")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(recoded), cust.c_nationkey == recoded.n_nationkey)
        .groupBy("country")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("revenue"),
        )
    )


QUERIES["recode_group"] = recode_group

ORACLES["recode_group"] = f"""
SELECT
  coalesce(__recode_val, n_name) AS country,
  count(*)                       AS n_orders,
  round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE    AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN {mapping_values_sql(NATION_RECODE)} ON n_name = __recode_key
GROUP BY 1
ORDER BY 1
"""


def shares_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group share-of-total normalization.

    Reference: sector shares normalized by country total
    (correction_functions.py:370-378). Window sum over the group key.
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    grouped = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.sum("o_totalprice").alias("__val"))
    )
    return group_share(grouped, ["c_mktsegment"], "__val", "share").select(
        "c_mktsegment", "o_orderpriority", "share"
    )


QUERIES["shares_normalize"] = shares_normalize

ORACLES["shares_normalize"] = """
WITH grouped AS (
  SELECT c_mktsegment, o_orderpriority, sum(o_totalprice) AS val
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT
  c_mktsegment,
  o_orderpriority,
  round(
    CASE WHEN sum(val) OVER (PARTITION BY c_mktsegment) = 0 THEN 0
         ELSE val / sum(val) OVER (PARTITION BY c_mktsegment) END, 6
  ) AS share
FROM grouped
"""


def expand_multivalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split multi-token cells and explode one row per token.

    Reference: expand_dataframe on GridKit voltage/wires/cables cells
    (util.py:158-203). split+explode is a narrow op — no shuffle.
    """

    part = _t(spark, sf_dir, "part")
    words = expand(part, "p_name", " ", "word")
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dec_avg("p_size").alias("avg_size"),
        )
    )


QUERIES["expand_multivalue"] = expand_multivalue

ORACLES["expand_multivalue"] = """
WITH words AS (
  SELECT unnest(string_split(p_name, ' ')) AS word, p_size FROM part
)
SELECT word, count(*) AS n_parts, round(sum(CAST(p_size AS DECIMAL(27,6)))::DOUBLE / count(p_size), 4) AS avg_size
FROM words GROUP BY word ORDER BY word
"""


def dedup_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumcount-suffix name dedup (first occurrence unsuffixed).

    Reference: correction_functions.py:474.
    """

    part = _t(spark, sf_dir, "part")
    return dd(part, "p_brand", "p_partkey").select(
        "p_partkey", "p_brand", "name_dedup"
    )


QUERIES["dedup_names"] = dedup_names

ORACLES["dedup_names"] = """
SELECT
  p_partkey,
  p_brand,
  p_brand || CASE WHEN rn = 1 THEN '' ELSE cast(rn - 1 AS varchar) END AS name_dedup
FROM (
  SELECT p_partkey, p_brand,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
  FROM part
)
"""


def interval_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify a continuous column into labelled ranges.

    Reference: assign_values_based_on_series (util.py:228-252) mapping
    voltage/length to discrete classes. Chained CASE, fully codegen'd.
    """

    part = _t(spark, sf_dir, "part")
    return (
        part.withColumn(
            "size_class", interval_bin(F.col("p_size"), SIZE_BINS, SIZE_DEFAULT)
        )
        .groupBy("size_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_avg("p_retailprice").alias("avg_price"),
        )
    )


QUERIES["interval_binning"] = interval_binning

ORACLES["interval_binning"] = f"""
SELECT
  {interval_bin_sql('p_size', SIZE_BINS, SIZE_DEFAULT)} AS size_class,
  count(*) AS n,
  round(sum(CAST(p_retailprice AS DECIMAL(27,6)))::DOUBLE / count(p_retailprice), 4) AS avg_price
FROM part
GROUP BY 1 ORDER BY 1
"""


def mode_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill missing values with the per-column mode.

    Reference: GridKit fills NaN voltage/wires/cables/frequency with
    value_counts().index[0] (correction_functions.py:617-623). Rows with
    event_type='error' play the role of missing entries.
    """

    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r"(\d+)", 1).cast("int")
    ev = ev.withColumn("__k", k)
    missing = F.col("event_type") == "error"
    filled = mi(ev, F.col("__k"), missing, "k_filled")
    return (
        filled.groupBy("k_filled")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


QUERIES["mode_impute"] = mode_impute

ORACLES["mode_impute"] = """
WITH ks AS (
  SELECT event_type,
         cast(regexp_extract(props, '(\\d+)', 1) AS int) AS k
  FROM events
),
mode AS (
  SELECT k AS mode_k FROM ks WHERE event_type <> 'error'
  GROUP BY k ORDER BY count(*) DESC, k ASC LIMIT 1
)
SELECT
  CASE WHEN event_type = 'error' THEN mode_k ELSE k END AS k_filled,
  count(*) AS cnt
FROM ks, mode
GROUP BY 1 ORDER BY 1
"""


def ffill_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill nulls in an ordered sequence per key.

    Reference: IRENA summary forward-fills country/technology from the
    previous row (correction_functions.py:704-708). Orders with status
    'P' play the role of missing entries.
    """

    orders = _t(spark, sf_dir, "orders")
    withnull = orders.withColumn(
        "__prio",
        F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ),
    )
    filled = forward_fill(
        withnull, "__prio", ["o_custkey"], ["o_orderdate", "o_orderkey"], "filled_priority"
    )
    return filled.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("filled_priority", F.lit("NONE")).alias("filled_priority"),
    )


QUERIES["ffill_impute"] = ffill_impute

ORACLES["ffill_impute"] = """
SELECT
  o_orderkey,
  o_custkey,
  coalesce(
    last_value(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderpriority END
               IGNORE NULLS)
      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    'NONE'
  ) AS filled_priority
FROM orders
"""


def gap_fill_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend-adjusted previous-day gap fill on a dense hourly grid.

    Reference: ENTSO-E load fills zero hours from the previous day,
    scaled by the last-5-hour trend (correction_functions.py:315-318).
    The dense grid (hour × series) is built with sequence+explode; the
    fill is three window frames per series — state bounded per key.
    """

    ev = _t(spark, sf_dir, "events").withColumn(
        "h", F.date_trunc("hour", F.col("ts"))
    )
    bounds = ev.agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    hours = bounds.select(
        F.explode(F.expr("sequence(hmin, hmax, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    sums = ev.groupBy("h", "event_type").agg(dec_sum("value").alias("v"))
    dense = (
        hours.crossJoin(F.broadcast(types))
        .join(sums, ["h", "event_type"], "left")
        .withColumn("v", F.coalesce(F.col("v"), F.lit(0.0)))
    )
    filled = trend_fill_day_before(dense, "v", ["event_type"], "h")
    return filled.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("h"),
        "event_type",
        "filled",
    )


QUERIES["gap_fill_trend"] = gap_fill_trend


_GAP_FILL_EXPR = trend_fill_sql("v", "event_type", "h")

ORACLES["gap_fill_trend"] = f"""
WITH ev AS (
  SELECT date_trunc('hour', ts) AS h, event_type, value FROM events
),
bounds AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
hours AS (
  SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 hour)) AS h FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
sums AS (
  SELECT h, event_type, round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS v FROM ev GROUP BY 1, 2
),
dense AS (
  SELECT hours.h, types.event_type, coalesce(sums.v, 0) AS v
  FROM hours CROSS JOIN types
  LEFT JOIN sums ON sums.h = hours.h AND sums.event_type = types.event_type
)
SELECT
  strftime(h, '%Y-%m-%d %H:%M:%S') AS h,
  event_type,
  {_GAP_FILL_EXPR} AS filled
FROM dense
"""


def clean_names_ascii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip non-ASCII chars and truncate to 63 — clean_names
    (correction_functions.py:809-822) over document text.
    """

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        clean_name(F.col("text")).alias("name_clean"),
        F.length(clean_name(F.col("text"))).alias("n_ascii"),
    )


QUERIES["clean_names_ascii"] = clean_names_ascii

ORACLES["clean_names_ascii"] = f"""
SELECT
  doc_id,
  {clean_name_sql('text')} AS name_clean,
  length({clean_name_sql('text')}) AS n_ascii
FROM documents
"""


def flh_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot indicator rows to columns and compute their ratio (FLH).

    Reference: IRENA 'Electricity capacity' / 'Electricity generation'
    indicators pivoted per (country, technology), FLH = gen / cap
    (correction_functions.py:717-743). Conditional aggregation — one
    pass, no join of the table with itself.
    """
    ev = _t(spark, sf_dir, "events")
    cap = F.sum(F.when(F.col("event_type") == "purchase", F.col("value")))
    gen = F.count(F.when(F.col("event_type") == "view", F.lit(1)))
    return (
        ev.groupBy("user_id")
        .agg(
            F.round(F.coalesce(cap, F.lit(0.0)), 2).alias("purchase_value"),
            gen.alias("view_count"),
        )
        .withColumn(
            "flh",
            F.when(F.col("purchase_value") == 0, F.lit(0.0)).otherwise(
                F.round(F.col("view_count") / F.col("purchase_value"), 4)
            ),
        )
    )


QUERIES["flh_pivot"] = flh_pivot

ORACLES["flh_pivot"] = """
WITH agg AS (
  SELECT
    user_id,
    round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase_value,
    count(*) FILTER (event_type = 'view') AS view_count
  FROM events GROUP BY user_id
)
SELECT user_id, purchase_value, view_count,
       CASE WHEN purchase_value = 0 THEN 0
            ELSE round(view_count / purchase_value, 4) END AS flh
FROM agg ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# interpolate_linear — bracketing linear interpolation of series gaps
# ---------------------------------------------------------------------------

_INTERP_BUCKET_S = 900  # 15-minute grid


def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on a dense 15-minute grid per
    event_type (SURVEY §2 #206) — pandas ``interpolate(method=
    'linear')`` parity, the imputation semantics gap_fill_trend
    (previous-day trend fill, the ENTSO-E recipe) deliberately does
    NOT provide: each missing bucket takes the value linearly between
    its BRACKETING observations; leading/trailing gaps (no bracket)
    stay unfilled. Reported as a per-series census so the output is
    |series|-sized.

    Determinism: bucket values are integer cents; the interpolation
    ``(prev·(nᵢ−i) + next·(i−pᵢ)) div (nᵢ−pᵢ)`` floors in exact
    integer space. Scale shape: the dense grid is sequence+explode on
    executors, brackets come from four IGNORE NULLS window columns
    over the SAME per-series exchange+sort (one shuffle, state
    bounded per key — no self-join of observations), and the census
    is map-combined.
    """
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        F.expr(
            f"cast(unix_timestamp(ts) as bigint) div {_INTERP_BUCKET_S}"
        ).alias("i"),
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("c")
    )
    bounds = obs.agg(F.min("i").alias("imin"), F.max("i").alias("imax"))
    grid = bounds.select(
        F.explode(F.expr("sequence(imin, imax)")).alias("i")
    ).crossJoin(F.broadcast(obs.select("event_type").distinct()))
    dense = grid.join(obs, ["event_type", "i"], "left")

    w_before = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_after = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_i = F.when(F.col("c").isNotNull(), F.col("i"))
    staged = dense.select(
        "event_type",
        "i",
        "c",
        F.last("c", ignorenulls=True).over(w_before).alias("pc"),
        F.last(obs_i, ignorenulls=True).over(w_before).alias("pi"),
        F.first("c", ignorenulls=True).over(w_after).alias("nc"),
        F.first(obs_i, ignorenulls=True).over(w_after).alias("ni"),
    )
    fillable = (
        F.col("c").isNull()
        & F.col("pc").isNotNull()
        & F.col("nc").isNotNull()
    )
    filled = F.when(
        fillable,
        F.expr("(pc * (ni - i) + nc * (i - pi)) div (ni - pi)"),
    )
    return (
        staged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.col("c").isNotNull().cast("int")).alias("n_observed"),
            F.sum(F.col("c").isNull().cast("int")).alias("n_gaps"),
            F.sum(fillable.cast("int")).alias("n_filled"),
            F.sum("c").alias("observed_cents"),
            F.sum(filled).alias("filled_cents"),
        )
    )


QUERIES["interpolate_linear"] = interpolate_linear

ORACLES["interpolate_linear"] = f"""
WITH obs AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // {_INTERP_BUCKET_S} AS i,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(i) AS imin, max(i) AS imax FROM obs),
grid AS (
  SELECT t.event_type, g.i
  FROM (SELECT DISTINCT event_type FROM obs) t,
       (SELECT unnest(generate_series((SELECT imin FROM bounds),
                                      (SELECT imax FROM bounds))) AS i) g
),
dense AS (
  SELECT grid.event_type, grid.i, obs.c
  FROM grid LEFT JOIN obs USING (event_type, i)
),
staged AS (
  SELECT event_type, i, c,
         last_value(c IGNORE NULLS) OVER w_before AS pc,
         last_value(CASE WHEN c IS NOT NULL THEN i END IGNORE NULLS)
           OVER w_before AS pi,
         first_value(c IGNORE NULLS) OVER w_after AS nc,
         first_value(CASE WHEN c IS NOT NULL THEN i END IGNORE NULLS)
           OVER w_after AS ni
  FROM dense
  WINDOW
    w_before AS (PARTITION BY event_type ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_after AS (PARTITION BY event_type ORDER BY i
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       count(*) AS n_buckets,
       CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_observed,
       CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       CAST(sum(CASE WHEN c IS NULL AND pc IS NOT NULL AND nc IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(c) AS BIGINT) AS observed_cents,
       CAST(sum(CASE WHEN c IS NULL AND pc IS NOT NULL AND nc IS NOT NULL
                THEN (pc * (ni - i) + nc * (i - pi)) // (ni - pi)
                END) AS BIGINT) AS filled_cents
FROM staged
GROUP BY event_type ORDER BY event_type
"""
