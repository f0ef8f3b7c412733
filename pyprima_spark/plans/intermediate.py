"""Intermediate-file operators: the generate-intermediate-files phase
of ``runme.py`` (``pipeline.INTERMEDIATE``) — calendar enrichment,
profile normalisation, resampling, weighted disaggregation, the
trade-graph edge files, cohorts and expansion grids — plus the
supply time-series assembly, capped allocation and wide pivot that
feed them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import DEC, dec_sum
from pyprima_spark.functions.binning import interval_bin, interval_bin_sql
from pyprima_spark.functions.calendar import daytype, daytype_sql, season, season_sql
from pyprima_spark.functions.geo import (
    SYNTH_LAT_SQL,
    SYNTH_LON_SQL,
    haversine_km,
    haversine_km_sql,
    synth_lat,
    synth_lon,
)
from pyprima_spark.operators.allocate import capped_allocate
from pyprima_spark.operators.cohorts import cohort_of
from pyprima_spark.operators.disaggregate import disaggregate
from pyprima_spark.operators.grids import expansion_grid as grid_op
from pyprima_spark.operators.normalize import group_share
from pyprima_spark.operators.resample import resample
from pyprima_spark.plans.constants import (
    COHORT_WIDTH,
    EFF_PER_1000KM,
    INV_COST_FIX,
    INV_COST_LENGTH,
    LENGTH_BINS,
    LENGTH_DEFAULT,
)
from pyprima_spark.plans.core import _EDGE_AGG_CTE, _edge_aggregate, _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot of revenue per (segment, priority).

    Reference: sector shares pivoted Country×Sector
    (correction_functions.py:381). Explicit pivot values keep the plan
    single-pass (no value-discovery job).
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    piv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", PRIORITIES)
        .agg(F.sum(F.col("o_totalprice").cast(DEC)))
    )
    cols = [F.col("c_mktsegment")]
    for p in PRIORITIES:
        alias = "prio_" + p.split("-")[0]
        cols.append(F.round(F.coalesce(F.col(f"`{p}`"), F.lit(0.0)), 2).alias(alias))
    return piv.select(*cols)


QUERIES["pivot_wide"] = pivot_wide

ORACLES["pivot_wide"] = """
SELECT
  c_mktsegment,
  round(coalesce(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 0), 2)        AS prio_1,
  round(coalesce(sum(o_totalprice) FILTER (o_orderpriority = '2-HIGH'), 0), 2)          AS prio_2,
  round(coalesce(sum(o_totalprice) FILTER (o_orderpriority = '3-MEDIUM'), 0), 2)        AS prio_3,
  round(coalesce(sum(o_totalprice) FILTER (o_orderpriority = '4-NOT SPECIFIED'), 0), 2) AS prio_4,
  round(coalesce(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 0), 2)           AS prio_5
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def calendar_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich dates with season + daytype dictionaries, aggregate.

    Reference: dict_season / dict_daytype enrichment of the 365-day
    frame (correction_functions.py:29-32).
    """

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("season", season(F.col("o_orderdate")))
        .withColumn("daytype", daytype(F.col("o_orderdate")))
        .groupBy("season", "daytype")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("revenue"),
        )
    )


QUERIES["calendar_enrich"] = calendar_enrich

ORACLES["calendar_enrich"] = f"""
SELECT
  {season_sql('o_orderdate')} AS season,
  {daytype_sql('o_orderdate')} AS daytype,
  count(*) AS n_orders,
  round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM orders
GROUP BY 1, 2 ORDER BY 1, 2
"""


def profile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize each series so its values sum to 1 per entity.

    Reference: load profiles normalized to integral 1
    (correction_functions.py:46-47), per sector. Here per user.
    """

    ev = _t(spark, sf_dir, "events")
    return group_share(ev, ["user_id"], "value", "share").select(
        "event_id", "user_id", "share"
    )


QUERIES["profile_normalize"] = profile_normalize

ORACLES["profile_normalize"] = """
SELECT
  event_id,
  user_id,
  round(
    CASE WHEN sum(value) OVER (PARTITION BY user_id) = 0 THEN 0
         ELSE value / sum(value) OVER (PARTITION BY user_id) END, 6
  ) AS share
FROM events
"""


def resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-min → hourly-style resample: truncate + aggregate.

    Reference: correction_functions.py:133-139 (commercial profile
    15-min → hourly groupby).
    """

    ev = _t(spark, sf_dir, "events")
    out = resample(
        ev,
        "ts",
        "hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("total"),
        ],
        bucket_col="h",
    )
    return out.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("h"),
        "event_type",
        "n",
        "total",
    )


QUERIES["resample_hourly"] = resample_hourly

ORACLES["resample_hourly"] = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
  event_type,
  count(*) AS n,
  round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def weighted_disaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate group totals to members by weight, re-aggregate elsewhere.

    Reference: generate_load_timeseries splits country loads onto
    pixels by land-use/population weights, then re-aggregates pixel
    loads into subregions (generate_intermediate_files.py:204-397).
    Here: nation order revenue → customers by |acctbal| → market segment.
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    totals = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("o_totalprice").alias("nation_total"))
    )
    alloc = disaggregate(
        cust, totals, ["c_nationkey"], F.abs(F.col("c_acctbal")), "nation_total"
    )
    return (
        alloc.groupBy("c_mktsegment")
        .agg(dec_sum("allocated").alias("alloc_revenue"))
    )


QUERIES["weighted_disaggregate"] = weighted_disaggregate

ORACLES["weighted_disaggregate"] = """
WITH totals AS (
  SELECT c_nationkey, sum(o_totalprice) AS nation_total
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
alloc AS (
  SELECT
    c.c_mktsegment,
    CASE WHEN sum(abs(c.c_acctbal)) OVER (PARTITION BY c.c_nationkey) = 0
         THEN 0
         ELSE abs(c.c_acctbal)
              / sum(abs(c.c_acctbal)) OVER (PARTITION BY c.c_nationkey)
    END * t.nation_total AS allocated
  FROM customer c JOIN totals t ON c.c_nationkey = t.c_nationkey
)
SELECT c_mktsegment, round(sum(CAST(allocated AS DECIMAL(27,6))), 2)::DOUBLE AS alloc_revenue
FROM alloc GROUP BY 1 ORDER BY 1
"""


def canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge canonicalization + symmetric aggregation.

    Reference: reverse_lines (util.py:139-155) + the grouped line
    aggregation (generate_intermediate_files.py:463-469), dropping
    intra-regional (loop) edges.
    """
    return _edge_aggregate(spark, sf_dir)


QUERIES["canonical_edges"] = canonical_edges

# MATERIALIZED: edges is a <=625-row nation-pair census over the
# lineitem 4-way join; pagerank's unrolled rounds (and any other
# multi-reference consumer) must not re-inline that join per
# reference — the graph_modularity oracle lesson (SURVEY §6 r10 d).

ORACLES["canonical_edges"] = f"""
WITH {_EDGE_AGG_CTE}
SELECT edge_a, edge_b, n_lines, cap FROM edges ORDER BY edge_a, edge_b
"""


def neighbor_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order neighbor pair grid outer-joined with existing edges.

    Reference: Queen-contiguity neighbor pairs joined with existing
    lines, capacity filled with 0 (generate_intermediate_files.py:
    476-490). Neighborhood = same region here.
    """
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("edge_a"), F.col("n_regionkey").alias("rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("edge_b"), F.col("n_regionkey").alias("rk2")
    )
    pairs = n1.join(
        n2, (F.col("rk") == F.col("rk2")) & (F.col("edge_a") < F.col("edge_b"))
    ).join(F.broadcast(region), F.col("rk") == region.r_regionkey)
    edges = _edge_aggregate(spark, sf_dir)
    return (
        pairs.select("r_name", "edge_a", "edge_b")
        .join(edges, ["edge_a", "edge_b"], "left")
        .select(
            "r_name",
            "edge_a",
            "edge_b",
            F.coalesce(F.col("cap"), F.lit(0.0)).alias("cap"),
        )
    )


QUERIES["neighbor_expansion"] = neighbor_expansion

ORACLES["neighbor_expansion"] = f"""
WITH {_EDGE_AGG_CTE},
nbrs AS (
  SELECT r_name, n1.n_nationkey AS edge_a, n2.n_nationkey AS edge_b
  FROM nation n1
  JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
                AND n1.n_nationkey < n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
)
SELECT r_name, edge_a, edge_b, coalesce(cap, 0) AS cap
FROM nbrs LEFT JOIN edges USING (edge_a, edge_b)
ORDER BY r_name, edge_a, edge_b
"""


def transmission_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge length via haversine centroids, range-classified, with
    efficiency/cost formulas.

    Reference: generate_transmission length/eff/cost derivation
    (generate_intermediate_files.py:492-533): length from centroid
    distance, eff = eff_per_1000km ** (length/1000),
    inv-cost = inv-cost-length * length + inv-cost-fix.
    """

    edges = _edge_aggregate(spark, sf_dir)
    with_len = edges.withColumn(
        "length_km",
        F.round(
            haversine_km(
                synth_lat(F.col("edge_a")),
                synth_lon(F.col("edge_a")),
                synth_lat(F.col("edge_b")),
                synth_lon(F.col("edge_b")),
            ),
            2,
        ),
    )
    return with_len.select(
        "edge_a",
        "edge_b",
        "length_km",
        interval_bin(F.col("length_km"), LENGTH_BINS, LENGTH_DEFAULT).alias(
            "length_class"
        ),
        F.round(
            F.pow(F.lit(EFF_PER_1000KM), F.col("length_km") / 1000), 6
        ).alias("eff"),
        F.round(
            F.lit(INV_COST_LENGTH) * F.col("length_km") + F.lit(INV_COST_FIX), 2
        ).alias("inv_cost"),
    )


QUERIES["transmission_attrs"] = transmission_attrs


_HAVERSINE = haversine_km_sql(
    SYNTH_LAT_SQL.format(k="edge_a"),
    SYNTH_LON_SQL.format(k="edge_a"),
    SYNTH_LAT_SQL.format(k="edge_b"),
    SYNTH_LON_SQL.format(k="edge_b"),
)

ORACLES["transmission_attrs"] = f"""
WITH {_EDGE_AGG_CTE},
with_len AS (
  SELECT edge_a, edge_b, round({_HAVERSINE}, 2) AS length_km FROM edges
)
SELECT
  edge_a,
  edge_b,
  length_km,
  {interval_bin_sql('length_km', LENGTH_BINS, LENGTH_DEFAULT)} AS length_class,
  round(pow({EFF_PER_1000KM}, length_km / 1000), 6) AS eff,
  round({INV_COST_LENGTH} * length_km + {INV_COST_FIX}, 2) AS inv_cost
FROM with_len ORDER BY edge_a, edge_b
"""


def cohort_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket entities into year cohorts and aggregate.

    Reference: Cohort = (Year // cohorts) * cohorts then group-sum
    (generate_intermediate_files.py:675-683).
    """

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "cohort", cohort_of(F.year("o_orderdate"), COHORT_WIDTH)
        )
        .groupBy("cohort", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("revenue"),
        )
    )


QUERIES["cohort_rollup"] = cohort_rollup

ORACLES["cohort_rollup"] = f"""
SELECT
  cast(floor(year(o_orderdate) / {COHORT_WIDTH}) * {COHORT_WIDTH} AS int) AS cohort,
  o_orderstatus,
  count(*) AS n_orders,
  round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


def expansion_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-join dimension grid left-joined with existing facts, 0-fill.

    Reference: site × technology expansion combinations with
    inst-cap = 0 appended to existing capacity
    (generate_intermediate_files.py:692-711).
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    existing = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(dec_sum("o_totalprice").alias("inst_cap"))
    )
    sites = nation.select("n_name")
    techs = orders.select("o_orderpriority").distinct()
    return grid_op([sites, techs], existing, ["n_name", "o_orderpriority"], {"inst_cap": 0.0})


QUERIES["expansion_grid"] = expansion_grid

ORACLES["expansion_grid"] = """
WITH existing AS (
  SELECT n_name, o_orderpriority, round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS inst_cap
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
grid AS (
  SELECT n_name, o_orderpriority
  FROM (SELECT n_name FROM nation)
  CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
)
SELECT g.n_name, g.o_orderpriority, coalesce(e.inst_cap, 0) AS inst_cap
FROM grid g LEFT JOIN existing e
  ON g.n_name = e.n_name AND g.o_orderpriority = e.o_orderpriority
ORDER BY 1, 2
"""


def supply_ts_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intermittent-supply time-series assembly (SURVEY §2 #56).

    Reference: ``generate_intermittent_supply_timeseries``
    (generate_intermediate_files.py:115-201) assembles per-(subregion,
    tech) supply series from regional series × capacity shares, filling
    absent series with zero. Here: daily regional series per event type
    (the "tech") × each nation's capacity share within its region, made
    dense over the full (day × tech × nation) grid with zero fill.

    Scale shape: the series table aggregates once (shuffle on day×tech×
    region); the share matrix is dimension-sized and broadcast; the
    dense grid is a broadcast cross join of three small dims left-joined
    with the real series — the fact table never shuffles for the grid.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    nation = _t(spark, sf_dir, "nation")

    ts_regional = (
        ev.select(
            F.date_trunc("day", "ts").alias("d"),
            F.col("event_type").alias("tech"),
            (F.col("user_id") % 5).alias("rk"),
            "value",
        )
        .groupBy("d", "tech", "rk")
        .agg(dec_sum("value").alias("ts_val"))
    )
    wreg = Window.partitionBy("n_regionkey")
    share = nation.select(
        F.col("n_nationkey").alias("nk"),
        "n_name",
        F.col("n_regionkey").alias("rk"),
        (
            (F.col("n_nationkey") % 7 + 1).cast("double")
            / F.sum(F.col("n_nationkey") % 7 + 1).over(wreg).cast("double")
        ).alias("cap_share"),
    )

    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("dmin"),
        F.date_trunc("day", F.max("ts")).alias("dmax"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("d")
    )
    techs = ev.select(F.col("event_type").alias("tech")).distinct()
    grid = days.crossJoin(F.broadcast(techs)).crossJoin(F.broadcast(share))

    return (
        grid.join(ts_regional, ["d", "tech", "rk"], "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "tech",
            "n_name",
            # no rounding: ts_val (exact 2dp) x cap_share (same bits both
            # engines) multiplies to identical doubles, while a 4dp round
            # hits exact .5 ties (dyadic shares) that HALF_UP/HALF_EVEN
            # engines break differently
            F.coalesce(F.col("ts_val") * F.col("cap_share"), F.lit(0.0)).alias(
                "supply"
            ),
        )
    )


QUERIES["supply_ts_assembly"] = supply_ts_assembly

ORACLES["supply_ts_assembly"] = """
WITH ts AS (
  SELECT date_trunc('day', ts) AS d, event_type AS tech, user_id % 5 AS rk,
         round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS ts_val
  FROM events GROUP BY 1, 2, 3
),
share AS (
  SELECT n_name, n_regionkey AS rk,
         (n_nationkey % 7 + 1)::DOUBLE /
         (sum(n_nationkey % 7 + 1) OVER (PARTITION BY n_regionkey))::DOUBLE
           AS cap_share
  FROM nation
),
bounds AS (
  SELECT date_trunc('day', min(ts)) AS dmin,
         date_trunc('day', max(ts)) AS dmax
  FROM events
),
days AS (
  SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 day)) AS d FROM bounds
),
techs AS (SELECT DISTINCT event_type AS tech FROM events),
grid AS (
  SELECT d, tech, n_name, rk, cap_share
  FROM days CROSS JOIN techs CROSS JOIN share
)
SELECT strftime(g.d, '%Y-%m-%d') AS day, g.tech AS tech, g.n_name,
       coalesce(ts_val * cap_share, 0)::DOUBLE AS supply
FROM grid g
LEFT JOIN ts ON ts.d = g.d AND ts.tech = g.tech AND ts.rk = g.rk
ORDER BY day, g.tech, g.n_name
"""


def capped_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative capped proportional allocation (SURVEY §2 #55).

    Reference: ``distribute_renewable_capacities_IRENA``
    (lib/correction_functions.py:749-806) — a country total spread over
    sites proportional to potential, clipped at per-site caps, residual
    re-distributed iteratively (water-filling). Sites are customers;
    weights/caps are deterministic integers off the key; each nation
    distributes 60% of its aggregate cap.
    """

    cust = _t(spark, sf_dir, "customer")
    sites = cust.select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_custkey") % 19 + 1).alias("w"),
        (F.col("c_custkey") % 50 + 10).alias("cap"),
    )
    totals = sites.groupBy("c_nationkey").agg(
        (F.sum("cap").cast("double") * F.lit(0.6)).alias("total")
    )
    out = capped_allocate(
        sites, totals, ["c_nationkey"], "w", "cap", "total", rounds=4
    )
    return out.select(
        "c_custkey",
        "c_nationkey",
        "w",
        "cap",
        F.round("alloc", 4).alias("alloc"),
    )


QUERIES["capped_distribution"] = capped_distribution


def _capped_round(prev: str, nxt: str) -> str:
    """One unrolled water-filling round (mirrors operators/allocate.py)."""
    return f"""
{nxt} AS (
  SELECT c_custkey, c_nationkey, w, cap, total,
         alloc + CASE WHEN cap - alloc > 1e-09 AND sumw > 0 AND rem > 1e-09
                      THEN least(rem * w / sumw, cap - alloc)
                      ELSE 0.0 END AS alloc
  FROM (
    SELECT *,
           (sum(CASE WHEN cap - alloc > 1e-09 THEN w ELSE 0 END)
              OVER (PARTITION BY c_nationkey))::DOUBLE AS sumw,
           total - (sum(CAST(alloc AS DECIMAL(27,6)))
              OVER (PARTITION BY c_nationkey))::DOUBLE AS rem
    FROM {prev}
  ) t
)"""


_CAPPED_ROUNDS = ",".join(
    _capped_round(f"r{i}", f"r{i + 1}") for i in range(4)
)

ORACLES["capped_distribution"] = f"""
WITH sites AS (
  SELECT c_custkey, c_nationkey,
         c_custkey % 19 + 1 AS w,
         c_custkey % 50 + 10 AS cap
  FROM customer
),
tot AS (
  SELECT c_nationkey, sum(cap)::DOUBLE * 0.6::DOUBLE AS total
  FROM sites GROUP BY 1
),
r0 AS (
  SELECT s.c_custkey, s.c_nationkey, s.w, s.cap, t.total, 0.0::DOUBLE AS alloc
  FROM sites s JOIN tot t USING (c_nationkey)
),{_CAPPED_ROUNDS}
SELECT c_custkey, c_nationkey, w, cap, round(alloc, 4) AS alloc
FROM r4
ORDER BY c_custkey
"""
