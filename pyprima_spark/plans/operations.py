"""Operations research and economics: fair allocation, knapsack and
assignment, apportionment and voting power, stopping and sizing rules,
inventory classification and stocking, queueing, elasticity and price
indices, Pareto skylines, and order and customer analytics.
"""

from __future__ import annotations

from itertools import permutations as _permutations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import DEC
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.operators.skyline import pareto_skyline
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# running_inventory — cumulative balance + peak per part
# ---------------------------------------------------------------------------

def running_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running net-inventory balance per part (SURVEY §2 #103): returns
    ('R' lines) add stock back, shipments draw it down; the report is
    each part's final balance and the peak drawdown the warehouse must
    provision for — the classic running-balance kernel (same window
    family as the reference's cumulative capacity cohorts,
    generate_intermediate_files.py:675-683).

    ONE shuffle on l_partkey serves both the cumulative window and the
    final per-part rollup (the agg inherits the window's hash
    partitioning). The cumulative sum runs in DECIMAL — a running
    double sum would drift order-dependently at exactly the row where a
    peak is decided. Deterministic total order within a part via the
    (shipdate, orderkey, linenumber) natural key.
    """
    li = _t(spark, sf_dir, "lineitem")
    signed = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
        .otherwise(-F.col("l_quantity"))
        .cast("decimal(27,6)")
        .alias("dq"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = signed.withColumn("bal", F.sum("dq").over(w))
    return (
        run.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_moves"),
            F.round(F.sum("dq"), 2).cast("double").alias("final_balance"),
            F.round(F.max("bal"), 2).cast("double").alias("peak_balance"),
            F.round(F.min("bal"), 2).cast("double").alias("trough_balance"),
        )
    )


QUERIES["running_inventory"] = running_inventory

ORACLES["running_inventory"] = """
WITH signed AS (
  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
         CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity
                   ELSE -l_quantity END AS DECIMAL(27,6)) AS dq
  FROM lineitem
), run AS (
  SELECT l_partkey, dq,
         sum(dq) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS bal
  FROM signed
)
SELECT l_partkey, count(*) AS n_moves,
       round(sum(dq), 2)::DOUBLE AS final_balance,
       round(max(bal), 2)::DOUBLE AS peak_balance,
       round(min(bal), 2)::DOUBLE AS trough_balance
FROM run GROUP BY l_partkey ORDER BY l_partkey
"""


# ---------------------------------------------------------------------------
# order_cycle_time — order-to-last-shipment latency distribution
# ---------------------------------------------------------------------------

def order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-final-shipment cycle time per priority class (SURVEY §2
    #104) — the fulfillment-latency SLA report: per order, days from
    order date to its LAST shipped line; per priority, the count / mean
    / p50 / p95 of that distribution.

    The per-order max is a map-combined agg on the join key the
    lineitem-orders join already shuffled on; day deltas are exact
    integers, so the discrete percentiles are engine-exact and the mean
    is one rounded division of a BIGINT sum.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderpriority",
            F.datediff("last_ship", "o_orderdate").alias("cycle_days"),
        )
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum("cycle_days").cast("double") / F.count(F.lit(1)), 3
            ).alias("mean_days"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY cycle_days)"
            ).cast("int").alias("p50_days"),
            F.expr(
                "percentile_disc(0.95) WITHIN GROUP (ORDER BY cycle_days)"
            ).cast("int").alias("p95_days"),
        )
    )


QUERIES["order_cycle_time"] = order_cycle_time

ORACLES["order_cycle_time"] = """
WITH per_order AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(max(l_shipdate) AS DATE)) AS cycle_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderpriority, o_orderdate
)
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(cycle_days)::DOUBLE / count(*), 3) AS mean_days,
       CAST(quantile_disc(cycle_days, 0.5) AS INT) AS p50_days,
       CAST(quantile_disc(cycle_days, 0.95) AS INT) AS p95_days
FROM per_order GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# skyline_pareto — Pareto frontier (cheapest price vs largest size)
# ---------------------------------------------------------------------------

def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of parts — minimize retail price, maximize
    size (SURVEY §2 #106): the multi-objective shortlist query (best
    cost/capacity tradeoffs) the reference's technology screening runs
    informally over its assumption tables.

    Distributed form: a LOCAL skyline per hash partition (window keyed
    by a salt — fully parallel), then the exact global skyline over the
    union of local survivors. Correct because dominance is transitive:
    any global dominator survives its own partition, so pruning locally
    never loses a frontier point. The global pass sees only the (tiny)
    candidate union, so its single-partition window is bounded — the
    sort-and-running-max formulation keeps everything expression-level,
    no per-row Python. Ties: equal (price, size) keep the lowest key.
    """
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    local = pareto_skyline(
        part.withColumn("salt", F.pmod(F.col("p_partkey"), F.lit(32))),
        "p_retailprice",
        "p_size",
        "p_partkey",
        "salt",
    ).drop("salt")
    return pareto_skyline(local, "p_retailprice", "p_size", "p_partkey")


QUERIES["skyline_pareto"] = skyline_pareto

ORACLES["skyline_pareto"] = """
WITH ranked AS (
  SELECT p_partkey, p_name, p_retailprice, p_size,
         max(p_size) OVER (
           ORDER BY p_retailprice, p_size DESC, p_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max
  FROM part
)
SELECT p_partkey, p_name, p_retailprice, p_size
FROM ranked
WHERE prev_max IS NULL OR p_size > prev_max
ORDER BY p_retailprice, p_partkey
"""


# ---------------------------------------------------------------------------
# pareto_revenue — 80/20 concentration analysis
# ---------------------------------------------------------------------------

def pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of part revenue: how many parts carry 80%
    of revenue, and what share the top 1% of parts holds — the 80/20
    readout behind assortment and caching decisions.

    Per-part revenue is one map-combined DECIMAL aggregation of
    lineitem; the concentration scan is a cumulative window over the
    PART dimension (sublinear in the fact table), with the 80% cut
    found by integer cross-multiplication (5·cum ≥ 4·total — no
    percentage floats).
    """
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast(DEC)
            .alias("r"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("r").alias("rev"))
    )
    w = Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
    ranked = rev.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("rev").over(Window.partitionBy()).alias("tot"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min(
            F.when(F.col("cum") * 5 >= F.col("tot") * 4, F.col("i"))
        ).alias("n_parts_80pct"),
        F.round(F.sum("rev"), 2).cast("double").alias("revenue_total"),
    ).select(
        "n_parts",
        "n_parts_80pct",
        "revenue_total",
        F.expr("cast(n_parts_80pct * 10000 div n_parts as int)").alias(
            "parts_for_80pct_bp"
        ),
    )


QUERIES["pareto_revenue"] = pareto_revenue

ORACLES["pareto_revenue"] = """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS rev
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, l_partkey ASC) AS i,
         sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(rev) OVER () AS tot
  FROM rev
)
SELECT count(*) AS n_parts,
       min(CASE WHEN cum * 5 >= tot * 4 THEN i END) AS n_parts_80pct,
       round(sum(rev), 2)::DOUBLE AS revenue_total,
       CAST(min(CASE WHEN cum * 5 >= tot * 4 THEN i END) * 10000 // count(*)
            AS INT) AS parts_for_80pct_bp
FROM ranked
"""


# ---------------------------------------------------------------------------
# rfm_segments — recency/frequency/monetary customer segmentation
# ---------------------------------------------------------------------------

_RFM_ASOF = "2024-01-31 00:00:00"


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of users from the purchase log: recency
    (days since last purchase at the as-of date), frequency (purchase
    count), monetary (DECIMAL revenue), each cut into terciles by
    ntile, and the 27 (r, f, m) cells rolled into the classic
    champion / loyal / at-risk / other quadrants.

    One shuffle on user_id for the per-user profile.  VERDICT r5
    rewrite: the terciles were three UNPARTITIONED ntile(3) windows —
    each a single-partition sort of the whole user profile (unbounded
    at 100 TB).  Now the six tercile cut values (1/3 and 2/3 per
    dimension) come from one exact percentile_disc aggregation over
    the profile (a partial-merge aggregate, not a sort window;
    percentile_disc returns an actual data value so the cuts are
    bit-identical across engines), the 1-row cut set is broadcast,
    and tercile assignment is a row-local CASE — value ties share a
    tercile, which is the stable, order-free semantics a distributed
    segmentation wants.  Census output: segment, n_users, revenue
    share in basis points.
    """
    ev = _t(spark, sf_dir, "events")
    prof = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(F.lit(_RFM_ASOF[:10]).cast("date"),
                       F.to_date(F.max("ts"))).alias("recency_days"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("value").cast(DEC)).alias("monetary"),
        )
    )
    cuts = prof.agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY {col})"
            ).alias(f"{name}{i}")
            for col, name in (
                ("recency_days", "cr"), ("freq", "cf"), ("monetary", "cm")
            )
            for i, q in ((1, 1 / 3), (2, 2 / 3))
        ]
    )
    # Ascending cuts; recency tercile 1 = most recent (small values),
    # freq/monetary tercile 1 = top third (large values).
    prof = prof.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "recency_days",
        "freq",
        "monetary",
        (
            F.lit(1)
            + (F.col("recency_days") > F.col("cr1")).cast("int")
            + (F.col("recency_days") > F.col("cr2")).cast("int")
        ).alias("r"),
        (
            F.lit(1)
            + (F.col("freq") < F.col("cf2")).cast("int")
            + (F.col("freq") < F.col("cf1")).cast("int")
        ).alias("f"),
        (
            F.lit(1)
            + (F.col("monetary") < F.col("cm2")).cast("int")
            + (F.col("monetary") < F.col("cm1")).cast("int")
        ).alias("m"),
    )
    seg = (
        F.when((F.col("r") == 1) & (F.col("f") == 1) & (F.col("m") == 1), "champion")
        .when((F.col("f") == 1), "loyal")
        .when((F.col("r") == 3), "at_risk")
        .otherwise("other")
    )
    tot = prof.agg(F.sum("monetary").alias("tot"))
    return (
        prof.select(seg.alias("segment"), "monetary")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("monetary").alias("rev"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n_users",
            F.round("rev", 2).cast("double").alias("revenue"),
            F.expr(
                "cast(cast(round(rev * 100) as bigint) * 10000"
                " div cast(round(tot * 100) as bigint) as int)"
            ).alias("rev_share_bp"),
        )
    )


QUERIES["rfm_segments"] = rfm_segments

ORACLES["rfm_segments"] = f"""
WITH prof AS (
  SELECT user_id,
         datediff('day', CAST(max(ts) AS DATE), DATE '{_RFM_ASOF[:10]}')
           AS recency_days,
         count(*) AS freq,
         sum(CAST(value AS DECIMAL(27,6))) AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
cuts AS (
  SELECT quantile_disc(recency_days, 1.0/3) AS cr1,
         quantile_disc(recency_days, 2.0/3) AS cr2,
         quantile_disc(freq, 1.0/3) AS cf1,
         quantile_disc(freq, 2.0/3) AS cf2,
         quantile_disc(monetary, 1.0/3) AS cm1,
         quantile_disc(monetary, 2.0/3) AS cm2
  FROM prof
),
cut AS (
  SELECT prof.*,
         1 + CASE WHEN recency_days > cr1 THEN 1 ELSE 0 END
           + CASE WHEN recency_days > cr2 THEN 1 ELSE 0 END AS r,
         1 + CASE WHEN freq < cf2 THEN 1 ELSE 0 END
           + CASE WHEN freq < cf1 THEN 1 ELSE 0 END AS f,
         1 + CASE WHEN monetary < cm2 THEN 1 ELSE 0 END
           + CASE WHEN monetary < cm1 THEN 1 ELSE 0 END AS m
  FROM prof CROSS JOIN cuts
),
seg AS (
  SELECT CASE WHEN r = 1 AND f = 1 AND m = 1 THEN 'champion'
              WHEN f = 1 THEN 'loyal'
              WHEN r = 3 THEN 'at_risk'
              ELSE 'other' END AS segment,
         monetary
  FROM cut
),
tot AS (SELECT sum(monetary) AS tot FROM seg)
SELECT segment, count(*) AS n_users,
       round(sum(monetary), 2)::DOUBLE AS revenue,
       CAST(CAST(round(sum(monetary) * 100) AS BIGINT) * 10000
            // CAST(round(tot * 100) AS BIGINT) AS INT) AS rev_share_bp
FROM seg CROSS JOIN tot
GROUP BY segment, tot
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# order_aging — open-order backlog aging buckets
# ---------------------------------------------------------------------------

_AGING_ASOF = "2001-09-01"


def order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging report: non-finalized orders (status O/P) bucketed
    by age at the as-of date (30/90/365-day bands) with DECIMAL value
    at risk — the receivables/ops aging census every order system
    reports.

    Row-local age banding over one scan, map-combined rollup per
    (status, band).  The as-of date is a pinned literal (derivable
    from max(o_orderdate) in production — kept literal so the oracle
    is pure SQL).
    """
    orders = _t(spark, sf_dir, "orders")
    age = F.datediff(F.lit(_AGING_ASOF).cast("date"), F.col("o_orderdate"))
    band = (
        F.when(age <= 30, "a_0_30d")
        .when(age <= 90, "b_31_90d")
        .when(age <= 365, "c_91_365d")
        .otherwise("d_over_1y")
    )
    return (
        orders.filter(F.col("o_orderstatus") != "F")
        .select("o_orderstatus", band.alias("age_band"),
                F.col("o_totalprice").cast(DEC).alias("v"))
        .groupBy("o_orderstatus", "age_band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("v"), 2).cast("double").alias("value_at_risk"),
        )
    )


QUERIES["order_aging"] = order_aging

ORACLES["order_aging"] = f"""
WITH aged AS (
  SELECT o_orderstatus,
         CASE WHEN datediff('day', o_orderdate, DATE '{_AGING_ASOF}') <= 30
              THEN 'a_0_30d'
              WHEN datediff('day', o_orderdate, DATE '{_AGING_ASOF}') <= 90
              THEN 'b_31_90d'
              WHEN datediff('day', o_orderdate, DATE '{_AGING_ASOF}') <= 365
              THEN 'c_91_365d'
              ELSE 'd_over_1y' END AS age_band,
         CAST(o_totalprice AS DECIMAL(27,6)) AS v
  FROM orders WHERE o_orderstatus <> 'F'
)
SELECT o_orderstatus, age_band, count(*) AS n_orders,
       round(sum(v), 2)::DOUBLE AS value_at_risk
FROM aged
GROUP BY o_orderstatus, age_band
ORDER BY o_orderstatus, age_band
"""


# ---------------------------------------------------------------------------
# skyline_2d — dominance skyline via a distributed two-level prefix scan
# ---------------------------------------------------------------------------

_SKY_BUCKET_CENTS = 512  # ~$5.12 price stripes; domain-bounded census


def skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D dominance SKYLINE (pareto-optimal frontier) over parts —
    minimize (retail price, size) jointly (SURVEY §2 #208): a part is
    on the skyline iff no other part is ≤ in BOTH dimensions and < in
    at least one.  The multi-objective query plain top-k/percentile
    ops cannot express (pareto_revenue is a 1-D concentration curve;
    this is the frontier itself).

    NOT the quadratic NOT EXISTS: the frontier is a price-ordered
    staircase, so dominance reduces to "min size over all strictly
    cheaper prices" — a prefix-min.  That prefix-min is computed as a
    DISTRIBUTED two-level scan (the pattern that survives 100 TB where
    a global ordered window cannot): (1) per-price pre-agg (map-
    combined); (2) WITHIN price-stripe running min — window PARTITIONED
    by stripe, all stripes in parallel; (3) ACROSS-stripe cumulative
    min over the stripe census (single-partition window over the
    ~20-row domain-bounded stripe table only — the accepted
    aggregated-census bound); (4) broadcast the census back, effective
    prefix = least(across-stripe, within-stripe).  Same-price ties:
    only the per-price min size survives; equal (price, size)
    duplicates are all non-dominated and all returned via the final
    equi-join back to the fact rows.
    """
    part = _t(spark, sf_dir, "part")
    base = part.select(
        "p_partkey",
        F.expr("cast(round(p_retailprice * 100) as bigint)").alias("cents"),
        F.col("p_size").alias("size"),
    )
    g = base.groupBy("cents").agg(F.min("size").alias("msize"))
    g = g.withColumn("stripe", F.expr(f"cents div {_SKY_BUCKET_CENTS}"))
    w_in = (
        Window.partitionBy("stripe")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = g.withColumn("prev_in", F.min("msize").over(w_in))
    census = g.groupBy("stripe").agg(F.min("msize").alias("smin"))
    w_across = (
        Window.orderBy("stripe").rowsBetween(Window.unboundedPreceding, -1)
    )
    census = census.select(
        "stripe", F.min("smin").over(w_across).alias("prev_across")
    )
    staged = g.join(F.broadcast(census), "stripe")
    frontier = staged.filter(
        F.expr("least(coalesce(prev_in, 2147483647),"
               " coalesce(prev_across, 2147483647)) > msize")
    ).select("cents", F.col("msize").alias("size"))
    return (
        base.join(F.broadcast(frontier), ["cents", "size"])
        .select("p_partkey", F.col("cents").alias("price_cents"), "size")
    )


QUERIES["skyline_2d"] = skyline_2d

ORACLES["skyline_2d"] = """
WITH base AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         p_size AS size
  FROM part
),
g AS (
  SELECT cents, min(size) AS msize FROM base GROUP BY cents
),
staged AS (
  SELECT cents, msize,
         min(msize) OVER (ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev
  FROM g
)
SELECT b.p_partkey, b.cents AS price_cents, CAST(b.size AS INT) AS size
FROM base b
JOIN staged s ON b.cents = s.cents AND b.size = s.msize
WHERE s.prev IS NULL OR s.prev > s.msize
ORDER BY price_cents, p_partkey
"""


# ---------------------------------------------------------------------------
# newsvendor_stock_level — critical-fractile stocking from weekly demand
# ---------------------------------------------------------------------------


def newsvendor_stock_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR critical-fractile stocking per brand (SURVEY §2
    #288) — the classic single-period inventory quantile (Arrow-
    Harris-Marschak 1951): stock the q-th demand quantile where
    q = cu/(cu+co).  Underage cost is the forgone margin (the 30%
    list markup minus the brand's observed mean discount), overage is
    a 10%-of-price holding cost, so the fractile
    (3000 - d_bp)/(4000 - d_bp) genuinely varies per brand with its
    discount culture — deep-discount brands rationally stock LOWER
    quantiles.  The quantile itself is an exact order statistic
    selected by rank k = ceil(q * n_weeks) over the weekly-demand
    census — percentile_disc cannot take a PER-GROUP fraction, the
    rank-selection form can, and it is engine-exact by construction
    (an actual demand value, never interpolated).

    Scale shape: one map-combined agg to the (brand, week) census
    (|brands| x |weeks| — both dim/time-bounded), the discount census
    by a parallel agg broadcast back, ranks via windows PARTITIONED by
    brand over the weekly census.  The fact table never rides a
    window.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    joined = li.join(F.broadcast(part), "l_partkey").select(
        "brand",
        F.expr("cast(weekofyear(l_shipdate) as int)").alias("wk"),
        F.expr("year(l_shipdate)").alias("yr"),
        F.expr("cast(l_quantity as bigint)").alias("qty"),
        F.expr("cast(cast(l_discount as decimal(4,2)) * 10000 as bigint)")
        .alias("disc_bp"),
    )
    # The old plan ran THREE fact joins+aggregations over lineitem⋈part
    # (weekly for the rank window, weekly again for the counts, the raw
    # rows again for the fractile). ONE combined weekly aggregate now
    # carries demand, the discount sum and the row count per (brand,
    # year, week) cell — the fractile inputs are exact sums over the
    # cells (Σ_cells sum(disc_bp) ≡ sum(disc_bp) over raw rows) — and a
    # materialize boundary on that census (25 brands × |years| × 53
    # weeks, dim/time-bounded) leaves a single fact pass; the window,
    # counts and fractile all derive from the checkpoint (guide §2.4).
    # A full driver-side collapse was A/B'd and measured SLOWER than
    # this form at bench scale (eager executeTake vs one pipelined job).
    census = materialize(
        joined.groupBy("brand", "yr", "wk").agg(
            F.sum("qty").alias("demand"),
            F.sum("disc_bp").alias("sdisc"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    weekly = census.select("brand", "yr", "wk", "demand")
    fract = census.groupBy("brand").agg(
        F.expr(
            "cast((10000 * (3000 - sum(sdisc) div sum(cnt)))"
            " div (4000 - sum(sdisc) div sum(cnt)) as bigint)"
        ).alias("q_bp")
    )
    w = Window.partitionBy("brand").orderBy("demand", "yr", "wk")
    ranked = weekly.withColumn("rk", F.row_number().over(w))
    counts = weekly.groupBy("brand").agg(F.count(F.lit(1)).alias("n_weeks"))
    return (
        ranked.join(F.broadcast(counts), "brand")
        .join(F.broadcast(fract), "brand")
        .filter(F.expr("rk = (q_bp * n_weeks + 9999) div 10000"))
        .select(
            "brand",
            F.col("n_weeks").cast("bigint").alias("n_weeks"),
            F.col("q_bp").cast("bigint").alias("fractile_bp"),
            F.col("demand").cast("bigint").alias("stock_level"),
        )
    )


QUERIES["newsvendor_stock_level"] = newsvendor_stock_level

ORACLES["newsvendor_stock_level"] = """
WITH joined AS (
  SELECT p.p_brand AS brand,
         CAST(weekofyear(l_shipdate) AS INT) AS wk,
         year(l_shipdate) AS yr,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT) AS disc_bp
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
weekly AS (
  SELECT brand, yr, wk, sum(qty) AS demand
  FROM joined GROUP BY brand, yr, wk
),
fract AS (
  SELECT brand,
         CAST((10000 * (3000 - sum(disc_bp) // count(*)))
              // (4000 - sum(disc_bp) // count(*)) AS BIGINT) AS q_bp
  FROM joined GROUP BY brand
),
ranked AS (
  SELECT brand, yr, wk, demand,
         row_number() OVER (PARTITION BY brand
                            ORDER BY demand, yr, wk) AS rk
  FROM weekly
),
counts AS (
  SELECT brand, count(*) AS n_weeks FROM weekly GROUP BY brand
)
SELECT r.brand,
       CAST(c.n_weeks AS BIGINT) AS n_weeks,
       CAST(f.q_bp AS BIGINT) AS fractile_bp,
       CAST(r.demand AS BIGINT) AS stock_level
FROM ranked r
JOIN counts c ON c.brand = r.brand
JOIN fract f ON f.brand = r.brand
WHERE r.rk = (f.q_bp * c.n_weeks + 9999) // 10000
ORDER BY r.brand
"""


# ---------------------------------------------------------------------------
# abc_xyz_inventory — revenue-importance x demand-variability matrix
# ---------------------------------------------------------------------------


def abc_xyz_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification (SURVEY §2 #294) — the
    standard two-axis stocking policy matrix (Dickie 1951's ABC
    Pareto cut crossed with the demand-variability XYZ cut): ABC
    classes parts by cumulative revenue share (A ≤ 80%, B ≤ 95%,
    C rest — the pareto_revenue machinery turned into a label), XYZ
    by the squared coefficient of variation of weekly demand in exact
    bp (X ≤ 2500, Y ≤ 10000, Z above — cv² = (nΣq²−(Σq)²)/(Σq)²,
    cross-multiplied so no mean is ever floored before the compare).
    newsvendor_stock_level prices ONE part's quantile; this says which
    parts deserve that treatment at all (AX: automate; CZ: make to
    order).  Published as the 3×3 census with part counts and revenue
    share.

    Scale shape: two map-combined aggs to the part census (revenue +
    weekly moments); the cumulative-share window runs over the
    DIM-BOUNDED part census (the pareto_revenue/key_gini allowlisted
    class); the output is 9 rows.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
        ).alias("cents"),
        F.expr("cast(l_quantity as bigint)").alias("qty"),
        F.expr("year(l_shipdate)").alias("yr"),
        F.expr("cast(weekofyear(l_shipdate) as int)").alias("wk"),
    )
    # ONE lineitem pass: revenue cents ride the weekly aggregate and
    # re-sum to the part census (bigint sums are associative, so the
    # two-level regroup is exact) — the former separate rev_census
    # branch re-scanned lineitem and paid its own part-keyed exchange
    # plus a part-census join (guide §2.4: the weekly and revenue
    # censuses are keyed the same way; one exchange chain serves both).
    weekly = li.groupBy("l_partkey", "yr", "wk").agg(
        F.sum("qty").alias("demand"), F.sum("cents").alias("wcents")
    )
    census = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum("demand").alias("sq"),
        F.sum(F.expr("cast(demand as decimal(38,0)) * demand")).alias("sqq"),
        F.sum("wcents").alias("rev"),
    )
    # The revenue total rides as a whole-partition window sum on the
    # SAME single-partition exchange the cumulative window already
    # establishes (guide §2.4) — the former separate agg + two
    # broadcast crossJoins re-evaluated the whole census subtree a
    # second time (no materialization boundary), doubling the lineitem
    # aggregate chain. Integer sum over identical operands, so every
    # published division is unchanged.
    w = Window.orderBy(F.desc("rev"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    classed = (
        census.withColumn("cum", F.sum("rev").over(w))
        .withColumn("tot", F.sum("rev").over(Window.partitionBy()))
        .select(
            "l_partkey",
            "rev",
            "tot",
            F.expr(
                "CASE WHEN (10000 * cum) div tot <= 8000 THEN 'A'"
                " WHEN (10000 * cum) div tot <= 9500 THEN 'B'"
                " ELSE 'C' END"
            ).alias("abc"),
            F.expr(
                "CASE WHEN 10000 * (nw * sqq - cast(sq as decimal(38,0))"
                " * sq) <= 2500 * cast(sq as decimal(38,0)) * sq THEN 'X'"
                " WHEN 10000 * (nw * sqq - cast(sq as decimal(38,0))"
                " * sq) <= 10000 * cast(sq as decimal(38,0)) * sq THEN 'Y'"
                " ELSE 'Z' END"
            ).alias("xyz"),
        )
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.expr(
                "cast((10000 * sum(rev)) div any_value(tot) as bigint)"
            ).alias("revenue_share_bp"),
        )
    )


QUERIES["abc_xyz_inventory"] = abc_xyz_inventory

ORACLES["abc_xyz_inventory"] = """
WITH li AS MATERIALIZED (
  SELECT l_partkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST(l_quantity AS BIGINT) AS qty,
         year(l_shipdate) AS yr,
         CAST(weekofyear(l_shipdate) AS INT) AS wk
  FROM lineitem
),
weekly AS (
  SELECT l_partkey, yr, wk, sum(qty) AS demand
  FROM li GROUP BY 1, 2, 3
),
var_census AS MATERIALIZED (
  SELECT l_partkey, count(*) AS nw, sum(demand) AS sq,
         sum(demand::HUGEINT * demand) AS sqq
  FROM weekly GROUP BY 1
),
rev_census AS MATERIALIZED (
  SELECT l_partkey, sum(cents) AS rev FROM li GROUP BY 1
),
total AS (SELECT sum(rev) AS tot FROM rev_census),
classed AS (
  SELECT r.l_partkey, r.rev,
         CASE WHEN (10000 * sum(r.rev) OVER (ORDER BY r.rev DESC,
                    r.l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW)) // t.tot <= 8000 THEN 'A'
              WHEN (10000 * sum(r.rev) OVER (ORDER BY r.rev DESC,
                    r.l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW)) // t.tot <= 9500 THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN 10000 * (v.nw * v.sqq - v.sq::HUGEINT * v.sq)
                   <= 2500 * v.sq::HUGEINT * v.sq THEN 'X'
              WHEN 10000 * (v.nw * v.sqq - v.sq::HUGEINT * v.sq)
                   <= 10000 * v.sq::HUGEINT * v.sq THEN 'Y'
              ELSE 'Z' END AS xyz,
         t.tot
  FROM rev_census r
  JOIN var_census v USING (l_partkey)
  CROSS JOIN total t
)
SELECT abc, xyz,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST((10000 * sum(rev)) // any_value(tot) AS BIGINT)
         AS revenue_share_bp
FROM classed
GROUP BY abc, xyz ORDER BY abc, xyz
"""


# ---------------------------------------------------------------------------
# maxmin_fair_allocation — water-filling capacity split across demands
# ---------------------------------------------------------------------------

_MMF_CAP_BP = 6000  # capacity = 60% of total demand


def maxmin_fair_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX-MIN FAIR (water-filling) allocation (SURVEY §2 #311) — the
    canonical fair-division rule of networking and capacity planning
    (Bertsekas-Gallager): when demand exceeds supply, every demand is
    satisfied up to a common water level t, and nobody who asked for
    less than t is cut — the allocation data_mixture_plan's
    temperature weights approximate from the sampling side.  Demands
    are per-brand 1997-H2 ship quantities, capacity is 60% of their
    total; the threshold solves sum(min(d_i, t)) = C exactly on the
    sorted demand census (prefix sums locate the piecewise-linear
    segment, one integer division finds t, the slack C - sum(min) < n
    is published rather than smeared).

    Scale shape: one fact agg to the ~25-brand demand census (the only
    fact-sized stage, still distributed); the prefix scan, threshold
    election and allocation run DRIVER-SIDE on the bounded_collect'ed
    census in exact Python integers — a census-collect-then-iterate
    key (SURVEY §7.24a; the former windows + five broadcast stages
    were ~12 jobs on <= 25-row state).  SQL edge semantics preserved
    exactly: div-by-zero -> NULL water level, least() skipping NULLs,
    sum() skipping NULL allocations.
    """

    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate >= date'1997-07-01'")
        & F.expr("l_shipdate < date'1998-01-01'")
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    ds = sorted(
        (int(r["d"]), r["brand"])
        for r in bounded_collect(
            li.join(F.broadcast(part), "l_partkey")
            .groupBy("brand")
            .agg(F.expr("cast(sum(l_quantity) as bigint)").alias("d")),
            128,
            "maxmin_fair_allocation: brand demand census",
        )
    )
    schema = (
        "brand string, demand bigint, allocation bigint, capped bigint,"
        " water_level bigint, unallocated_slack bigint"
    )
    if not ds:
        return spark.createDataFrame([], schema=schema)
    n = len(ds)
    total = sum(d for d, _ in ds)
    cap = (total * _MMF_CAP_BP) // 10000
    # j = last rank whose full satisfaction still fits: prefix_j +
    # (n - j) * d_j <= C; t = (C - prefix_j) div (n - j)
    j = None
    pj = 0
    prefix = 0
    for rk, (d, _) in enumerate(ds, start=1):
        prefix += d
        if prefix + (n - rk) * d <= cap:
            j, pj = rk, prefix
    if j is None:
        t = cap // n
    elif j == n:
        t = None  # SQL div by zero -> NULL (everyone fully satisfied)
    else:
        t = (cap - pj) // (n - j)
    # least(d, NULL) = d in Spark (least skips NULLs); CASE on a NULL
    # compare is false -> capped 0; sum() skips nothing here since
    # alloc is then always non-NULL.
    allocs = {
        brand: (d if t is None else min(d, t)) for d, brand in ds
    }
    slack = cap - sum(allocs.values())
    out = sorted(
        (
            brand,
            d,
            allocs[brand],
            1 if (t is not None and d > t) else 0,
            t,
            slack,
        )
        for d, brand in ds
    )
    return spark.createDataFrame(out, schema=schema)


QUERIES["maxmin_fair_allocation"] = maxmin_fair_allocation

ORACLES["maxmin_fair_allocation"] = f"""
WITH demands AS MATERIALIZED (
  SELECT p.p_brand AS brand, CAST(sum(l_quantity) AS BIGINT) AS d
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l_shipdate >= DATE '1997-07-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY 1
),
scanned AS (
  SELECT brand, d,
         sum(d) OVER (ORDER BY d, brand ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS prefix,
         row_number() OVER (ORDER BY d, brand) AS rk
  FROM demands
),
totals AS (
  SELECT sum(d) AS total, count(*) AS n,
         (sum(d) * {_MMF_CAP_BP}) // 10000 AS cap
  FROM demands
),
j AS (
  SELECT max(rk) AS j FROM scanned CROSS JOIN totals
  WHERE prefix + (n - rk) * d <= cap
),
trow AS MATERIALIZED (
  SELECT (t.cap - s.prefix) // (t.n - s.rk) AS tt, t.cap
  FROM scanned s CROSS JOIN totals t CROSS JOIN j
  WHERE s.rk = coalesce(j.j, 0)
  UNION ALL
  SELECT t.cap // t.n, t.cap
  FROM scanned s CROSS JOIN totals t CROSS JOIN j
  WHERE j.j IS NULL AND s.rk = 1
),
alloc AS (
  SELECT brand, d, least(d, tt) AS alloc, tt, cap
  FROM demands CROSS JOIN trow
),
slack AS (SELECT max(cap) - sum(alloc) AS slack FROM alloc)
SELECT brand,
       CAST(d AS BIGINT) AS demand,
       CAST(alloc AS BIGINT) AS allocation,
       CAST(CASE WHEN d > tt THEN 1 ELSE 0 END AS BIGINT) AS capped,
       CAST(tt AS BIGINT) AS water_level,
       CAST(slack AS BIGINT) AS unallocated_slack
FROM alloc CROSS JOIN slack
ORDER BY brand
"""


# ---------------------------------------------------------------------------
# knapsack_density_bound — greedy selection with its LP certificate
# ---------------------------------------------------------------------------

_KNAP_BUDGET_BP = 3000  # budget = 30% of total weight


def knapsack_density_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUDGETED SELECTION with an optimality certificate (SURVEY §2
    #312) — greedy-by-density knapsack plus Dantzig's fractional LP
    bound, the pattern every budgeted data-curation decision reduces
    to ("which parts fill 30% of shipping capacity with maximum
    revenue" here; "which corpora fill the token budget with maximum
    quality" in the curation keys): sort by value/weight density
    (integer micro-density key, ties by part), take the maximal
    prefix within budget, and publish the LP upper bound = prefix
    value + the straddler's fractional value — the greedy/LP gap in
    bp IS the certificate that greedy was near-optimal, computable
    without ever solving the ILP.

    Scale shape: one fact agg to the part census; the density rank
    and prefix sums ride the DIM-BOUNDED part census (the
    pareto/abc_xyz allowlisted class); output is one summary row.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate >= date'1997-07-01'")
        & F.expr("l_shipdate < date'1998-01-01'")
    )
    items = materialize(
        li.groupBy("l_partkey").agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2)) * 100)"
                " as bigint)"
            ).alias("v"),
            F.expr("cast(sum(l_quantity) as bigint)").alias("wt"),
        ).filter("wt > 0")
    )
    w = Window.orderBy(
        F.desc(F.expr("(1000000 * v) div wt")), F.asc("l_partkey")
    )
    ranked = items.withColumn(
        "cum_w",
        F.sum("wt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        "cum_v",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    budget = items.agg(
        F.expr(f"(sum(wt) * {_KNAP_BUDGET_BP}) div 10000").alias("budget"),
        F.sum("wt").alias("total_w"),
        F.sum("v").alias("total_v"),
    )
    taken = (
        ranked.crossJoin(F.broadcast(budget))
        .filter("cum_w <= budget")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.max("cum_w").alias("sel_weight"),
            F.max("cum_v").alias("sel_value"),
        )
    )
    straddler = (
        ranked.crossJoin(F.broadcast(budget))
        .filter("cum_w > budget AND cum_w - wt <= budget")
        .select(
            F.expr(
                "((budget - (cum_w - wt)) * cast(v as decimal(38,0)))"
                " div wt"
            ).alias("frac_v")
        )
    )
    frac = straddler.agg(
        F.coalesce(F.sum("frac_v"), F.lit(0)).alias("frac_v")
    )
    return (
        taken.crossJoin(F.broadcast(frac))
        .crossJoin(F.broadcast(budget))
        .select(
            F.col("n_selected").cast("bigint").alias("n_selected"),
            F.col("sel_weight").cast("bigint").alias("selected_weight"),
            F.col("budget").cast("bigint").alias("budget_weight"),
            F.col("sel_value").cast("bigint").alias("greedy_value"),
            F.expr("cast(sel_value + frac_v as bigint)").alias(
                "lp_upper_bound"
            ),
            F.expr(
                "cast((10000 * cast(sel_value as decimal(38,0)))"
                " div (sel_value + frac_v) as bigint)"
            ).alias("greedy_vs_bound_bp"),
        )
    )


QUERIES["knapsack_density_bound"] = knapsack_density_bound

ORACLES["knapsack_density_bound"] = f"""
WITH items AS MATERIALIZED (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS v,
         CAST(sum(l_quantity) AS BIGINT) AS wt
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-07-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY 1
  HAVING CAST(sum(l_quantity) AS BIGINT) > 0
),
ranked AS MATERIALIZED (
  SELECT *,
         sum(wt) OVER w AS cum_w,
         sum(v) OVER w AS cum_v
  FROM items
  WINDOW w AS (ORDER BY (1000000 * v) // wt DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
budget AS (
  SELECT (sum(wt) * {_KNAP_BUDGET_BP}) // 10000 AS budget FROM items
),
taken AS (
  SELECT count(*) AS n_selected, max(cum_w) AS sel_weight,
         max(cum_v) AS sel_value
  FROM ranked CROSS JOIN budget WHERE cum_w <= budget
),
frac AS (
  SELECT coalesce(sum(((budget - (cum_w - wt)) * v::HUGEINT) // wt), 0)
           AS frac_v
  FROM ranked CROSS JOIN budget
  WHERE cum_w > budget AND cum_w - wt <= budget
)
SELECT CAST(n_selected AS BIGINT) AS n_selected,
       CAST(sel_weight AS BIGINT) AS selected_weight,
       CAST(budget AS BIGINT) AS budget_weight,
       CAST(sel_value AS BIGINT) AS greedy_value,
       CAST(sel_value + frac_v AS BIGINT) AS lp_upper_bound,
       CAST((10000 * sel_value::HUGEINT) // (sel_value + frac_v)
            AS BIGINT) AS greedy_vs_bound_bp
FROM taken CROSS JOIN frac CROSS JOIN budget
"""


# ---------------------------------------------------------------------------
# drf_allocation — dominant-resource-fair task allocation
# ---------------------------------------------------------------------------

# capacity per resource, in bp of the observed aggregate demand
_DRF_CAP_BP = 4000


def drf_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMINANT-RESOURCE FAIRNESS (SURVEY §2 #316) — Ghodsi et al.
    NSDI'11, the allocation rule inside YARN/Mesos/Kubernetes
    schedulers and the multi-resource generalization of
    maxmin_fair_allocation's water level: each segment's workload
    demands TWO resources per task (orders = scheduler slots, spend =
    budget), the cluster offers 40% of aggregate demand on each, and
    DRF equalizes the DOMINANT share s: before any user saturates,
    the optimum is the largest s with sum_u s * d_ur / dom_u <= C_r
    on both resources — linear in s, so s* = min_r C_r /
    sum_u(d_ur / dom_u), one exact rational (cross-multiplied min, no
    float).  The closed form is the UNSATURATED regime (s* < every
    user's dominant demand share — true by construction here: 5 users,
    capacity at 40% of aggregate demand); the progressive-filling
    general case would iterate this key's single step.

    Scale shape: one fact agg to the 5-segment demand census; the
    rational s* is a census fold broadcast back; allocations are a
    projection.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    demand = materialize(
        orders.join(cust, F.col("o_custkey") == F.col("cust"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("d_slots"),
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100000"
            ).alias("d_budget"),
        )
    )
    caps = demand.agg(
        F.expr(f"(sum(d_slots) * {_DRF_CAP_BP}) div 10000").alias("c_slots"),
        F.expr(f"(sum(d_budget) * {_DRF_CAP_BP}) div 10000").alias(
            "c_budget"
        ),
    )
    # dominant share denominators: dom_u = max(d_slots/C_slots,
    # d_budget/C_budget) compared cross-multiplied; per-user weight on
    # resource r is d_ur / dom_u — kept rational via a common scale.
    with_dom = demand.crossJoin(F.broadcast(caps)).select(
        "segment",
        "d_slots",
        "d_budget",
        "c_slots",
        "c_budget",
        F.expr(
            "CASE WHEN cast(d_slots as decimal(38,0)) * c_budget"
            " >= cast(d_budget as decimal(38,0)) * c_slots"
            " THEN 'slots' ELSE 'budget' END"
        ).alias("dominant"),
    )
    # s* = min_r C_r / sum_u d_ur/dom_u. Scale s by 1e6 (ppm of full
    # demand satisfaction). dom_u as a FRACTION of capacity:
    # dom_u = d_dom/C_dom, so d_ur/dom_u = d_ur * C_dom / d_dom.
    weights = with_dom.select(
        "segment",
        "d_slots",
        "d_budget",
        "dominant",
        F.expr(
            "CASE WHEN dominant = 'slots' THEN"
            " (1000000 * cast(d_slots as decimal(38,0)) * c_slots)"
            " div (d_slots) ELSE"
            " (1000000 * cast(d_slots as decimal(38,0)) * c_budget)"
            " div (d_budget) END"
        ).alias("w_slots_e6"),
        F.expr(
            "CASE WHEN dominant = 'slots' THEN"
            " (1000000 * cast(d_budget as decimal(38,0)) * c_slots)"
            " div (d_slots) ELSE"
            " (1000000 * cast(d_budget as decimal(38,0)) * c_budget)"
            " div (d_budget) END"
        ).alias("w_budget_e6"),
    )
    star = weights.crossJoin(F.broadcast(caps)).agg(
        F.expr(
            "least((1000000 * cast(max(c_slots) as decimal(38,0)))"
            " div (sum(w_slots_e6) div 1000000),"
            " (1000000 * cast(max(c_budget) as decimal(38,0)))"
            " div (sum(w_budget_e6) div 1000000))"
        ).alias("s_ppm")
    )
    return (
        with_dom.join(F.broadcast(star))
        .select(
            "segment",
            F.col("d_slots").cast("bigint").alias("demand_slots"),
            F.col("d_budget").cast("bigint").alias("demand_budget_k"),
            "dominant",
            F.col("s_ppm").cast("bigint").alias("dominant_share_ppm"),
            # a user at dominant share s consumes s of its DOMINANT
            # resource's capacity; the other resource scales by the
            # demand ratio (alloc_r = s * d_ur / dom_u)
            F.expr(
                "cast(CASE WHEN dominant = 'slots' THEN"
                " (s_ppm * cast(c_slots as decimal(38,0))) div 1000000"
                " ELSE ((s_ppm * cast(d_slots as decimal(38,0)))"
                " * c_budget) div (1000000 * d_budget) END as bigint)"
            ).alias("alloc_slots"),
            F.expr(
                "cast(CASE WHEN dominant = 'budget' THEN"
                " (s_ppm * cast(c_budget as decimal(38,0))) div 1000000"
                " ELSE ((s_ppm * cast(d_budget as decimal(38,0)))"
                " * c_slots) div (1000000 * d_slots) END as bigint)"
            ).alias("alloc_budget_k"),
        )
    )


QUERIES["drf_allocation"] = drf_allocation

ORACLES["drf_allocation"] = f"""
WITH demand AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment,
         count(*) AS d_slots,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS d_budget
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
),
caps AS (
  SELECT (sum(d_slots) * {_DRF_CAP_BP}) // 10000 AS c_slots,
         (sum(d_budget) * {_DRF_CAP_BP}) // 10000 AS c_budget
  FROM demand
),
with_dom AS MATERIALIZED (
  SELECT segment, d_slots, d_budget, c_slots, c_budget,
         CASE WHEN d_slots::HUGEINT * c_budget
                   >= d_budget::HUGEINT * c_slots
              THEN 'slots' ELSE 'budget' END AS dominant
  FROM demand CROSS JOIN caps
),
weights AS (
  SELECT segment, d_slots, d_budget, dominant,
         CASE WHEN dominant = 'slots' THEN
           (1000000 * d_slots::HUGEINT * c_slots) // d_slots
         ELSE
           (1000000 * d_slots::HUGEINT * c_budget) // d_budget
         END AS w_slots_e6,
         CASE WHEN dominant = 'slots' THEN
           (1000000 * d_budget::HUGEINT * c_slots) // d_slots
         ELSE
           (1000000 * d_budget::HUGEINT * c_budget) // d_budget
         END AS w_budget_e6
  FROM with_dom
),
star AS (
  SELECT least((1000000 * max(c.c_slots)::HUGEINT)
                 // (sum(w.w_slots_e6) // 1000000),
               (1000000 * max(c.c_budget)::HUGEINT)
                 // (sum(w.w_budget_e6) // 1000000)) AS s_ppm
  FROM weights w CROSS JOIN caps c
)
SELECT d.segment,
       CAST(d.d_slots AS BIGINT) AS demand_slots,
       CAST(d.d_budget AS BIGINT) AS demand_budget_k,
       d.dominant,
       CAST(s.s_ppm AS BIGINT) AS dominant_share_ppm,
       CAST(CASE WHEN d.dominant = 'slots' THEN
              (s.s_ppm * d.c_slots::HUGEINT) // 1000000
            ELSE ((s.s_ppm * d.d_slots::HUGEINT) * d.c_budget)
                 // (1000000 * d.d_budget) END AS BIGINT) AS alloc_slots,
       CAST(CASE WHEN d.dominant = 'budget' THEN
              (s.s_ppm * d.c_budget::HUGEINT) // 1000000
            ELSE ((s.s_ppm * d.d_budget::HUGEINT) * d.c_slots)
                 // (1000000 * d.d_slots) END AS BIGINT) AS alloc_budget_k
FROM with_dom d CROSS JOIN star s
ORDER BY d.segment
"""


_ASSIGN_N = 5
_ASSIGN_PERMS = list(_permutations(range(_ASSIGN_N)))  # 120 literal rows


def assignment_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMAL ASSIGNMENT, exhaustively solved (SURVEY §2 #317) — the
    assignment problem (Kuhn's Hungarian method's target) on the
    5 supplier-regions × 5 customer-regions mean-unit-price cost
    matrix (milli-cents per unit shipped): which sourcing region
    should serve which market cheapest.  At a
    5×5 design size the permutation space is 120 rows, so instead of
    the sequential Hungarian algorithm the optimum is an EXHAUSTIVE
    literal-table join (the voptimal_histogram contract: closed-form
    enumeration beats DP when the census bounds it), published
    against the row-greedy baseline so the output shows what
    optimality buys.  Costs are exact milli-day means (cross-
    multiplied; one floor per cell).

    Scale shape: one fact agg to the 25-cell cost census — the only
    fact-sized work; the census is collected once and both the
    120-permutation enumeration and the 5 greedy argmin elections run
    driver-side in exact integers (the previous literal-table form
    paid a 5-deep join chain plus 5 sequential TakeOrdered jobs on
    design-sized state).
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("s_suppkey").alias("l_suppkey"),
            F.col("n_regionkey").alias("src"),
        )
    )
    cust_region = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("cust"),
            F.col("n_regionkey").alias("dst"),
        )
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_custkey").alias("cust"),
    )
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    cost = (
        li.join(F.broadcast(supp), "l_suppkey")
        .join(orders, "l_orderkey")
        .join(cust_region, "cust")
        .groupBy("src", "dst")
        .agg(
            F.expr(
                "cast((1000 * sum(cast(l_extendedprice as decimal(18,2))"
                " * 100)) div sum(cast(l_quantity as bigint))"
                " as bigint)"
            ).alias("c_milli")
        )
    )
    cells = {
        (r["src"], r["dst"]): r["c_milli"]
        for r in bounded_collect(
            cost, 25, "assignment_exhaustive: region-pair cost census"
        )
    }  # the 25-cell cost census — design-size, collected once
    # exhaustive optimum: permutations referencing a MISSING cell are
    # dropped (the inner-join semantics of the literal-table form);
    # ties break on pid, the permutation's literal index
    best_pid, best_total, best_perm = None, None, None
    for pid, p in enumerate(_ASSIGN_PERMS):
        if any((i, p[i]) not in cells for i in range(_ASSIGN_N)):
            continue
        total = sum(cells[(i, p[i])] for i in range(_ASSIGN_N))
        if best_total is None or (total, pid) < (best_total, best_pid):
            best_pid, best_total, best_perm = pid, total, p
    cols = ", ".join(f"dst_for_src{i} bigint" for i in range(_ASSIGN_N))
    schema = (
        f"{cols}, optimal_cost_milli bigint,"
        " greedy_cost_milli bigint, optimal_vs_greedy_bp bigint"
    )
    if best_perm is None:
        # no feasible permutation — the literal-join oracle's CROSS JOIN
        # against an empty `best` publishes zero rows, not an error
        # (ADVICE r9).
        return spark.createDataFrame([], schema=schema)
    # row-greedy baseline: source regions in order pick their cheapest
    # unclaimed destination (min by (cost, dst) among unclaimed cells);
    # a row with no unclaimed cell left is SKIPPED, mirroring the
    # oracle's empty g{i} round contributing nothing to the sum
    taken: set = set()
    greedy_total = 0
    for i in range(_ASSIGN_N):
        cand = [
            (c, d) for (s, d), c in cells.items()
            if s == i and d not in taken
        ]
        if not cand:
            continue
        c, d = min(cand)
        taken.add(d)
        greedy_total += c
    # `(10000*total) // nullif(greedy, 0)` — NULL, never a raise
    bp = _tdiv(10000 * best_total, greedy_total if greedy_total else None)
    out = [tuple(
        [int(best_perm[i]) for i in range(_ASSIGN_N)]
        + [
            int(best_total),
            int(greedy_total),
            int(bp) if bp is not None else None,
        ]
    )]
    return spark.createDataFrame(out, schema=schema)


QUERIES["assignment_exhaustive"] = assignment_exhaustive


def _assign_oracle() -> str:
    perm_values = ", ".join(
        "({}, {})".format(pid, ", ".join(str(v) for v in p))
        for pid, p in enumerate(_ASSIGN_PERMS)
    )
    acols = ", ".join(f"a{i}" for i in range(_ASSIGN_N))
    joins = "".join(
        f"\n  JOIN cost c{i} ON c{i}.src = {i} AND c{i}.dst = p.a{i}"
        for i in range(_ASSIGN_N)
    )
    total = " + ".join(f"c{i}.c_milli" for i in range(_ASSIGN_N))
    greedy_rounds = []
    prev_taken = "(SELECT -1 AS dst WHERE FALSE)"
    for i in range(_ASSIGN_N):
        greedy_rounds.append(f"""
g{i} AS MATERIALIZED (
  SELECT src, dst, c_milli FROM cost
  WHERE src = {i} AND dst NOT IN (SELECT dst FROM taken{i})
  QUALIFY row_number() OVER (ORDER BY c_milli, dst) = 1
),
taken{i + 1} AS MATERIALIZED (
  SELECT dst FROM taken{i} UNION ALL SELECT dst FROM g{i}
)""")
    greedy_sql = ",".join(greedy_rounds)
    gsum = " UNION ALL ".join(
        f"SELECT c_milli FROM g{i}" for i in range(_ASSIGN_N)
    )
    sel_assign = ", ".join(
        f"CAST(a{i} AS BIGINT) AS dst_for_src{i}" for i in range(_ASSIGN_N)
    )
    return f"""
WITH cost AS MATERIALIZED (
  SELECT sn.n_regionkey AS src, cn.n_regionkey AS dst,
         CAST(1000 * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                               * 100) AS HUGEINT)
              // sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c_milli
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
perms(pid, {acols}) AS (VALUES {perm_values}),
scored AS MATERIALIZED (
  SELECT p.pid, {", ".join(f"p.a{i}" for i in range(_ASSIGN_N))},
         {total} AS total_milli
  FROM perms p{joins}
),
best AS MATERIALIZED (
  SELECT * FROM scored
  QUALIFY row_number() OVER (ORDER BY total_milli, pid) = 1
),
taken0 AS MATERIALIZED {prev_taken},{greedy_sql},
greedy AS (SELECT sum(c_milli) AS greedy_total FROM ({gsum}))
SELECT {sel_assign},
       CAST(total_milli AS BIGINT) AS optimal_cost_milli,
       CAST(greedy_total AS BIGINT) AS greedy_cost_milli,
       CAST((10000 * total_milli) // greedy_total AS BIGINT)
         AS optimal_vs_greedy_bp
FROM best CROSS JOIN greedy
"""

ORACLES["assignment_exhaustive"] = _assign_oracle()


# ---------------------------------------------------------------------------
# seat_apportionment — Hamilton vs D'Hondt vs Webster allocation
# ---------------------------------------------------------------------------

_APP_SEATS = 40


def seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEAT APPORTIONMENT, three classical methods side by side
    (SURVEY §2 #329) — allocating an indivisible budget of 40 "slots"
    across segments by order volume, the problem every quota system
    (executor slots, sampling quotas, shelf space) re-solves:
    Hamilton's largest remainders (the method with the Alabama
    paradox), D'Hondt's highest averages (divisors 1,2,3,... —
    favors large parties), and Webster/Sainte-Laguë (odd divisors —
    near-unbiased).  The divisor methods rank the 5x40 quotient
    census on exact 1e6-scaled integer quotients (deterministic
    floor, ties broken by segment then divisor — both engines agree
    by construction); Hamilton takes exact floors + largest exact
    integer remainders.  Divergences between the three columns are the
    apportionment-paradox literature in one table.

    Scale shape: one fact agg to the 5-segment demand census (the only
    fact-sized stage, still distributed); the 5x40 divisor lattice and
    all three rankings run DRIVER-SIDE on the bounded_collect'ed
    census in exact Python integers — a census-collect-then-iterate
    key (SURVEY §7.24a): the former lattice crossJoin + three global
    rank windows were ~10 jobs / ~14 exchanges on <= 200-row state.
    All quotients/floors/remainders are truncating integer ops on
    positive operands, so the collapse is bit-identical.
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    demand = sorted(
        (r["segment"], int(r["d"]))
        for r in bounded_collect(
            orders.join(cust, F.col("o_custkey") == F.col("cust"))
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("d")),
            32,
            "seat_apportionment: segment demand census",
        )
    )
    td = sum(d for _, d in demand)

    # D'Hondt: top-S quotients d/k; Webster: d/(2k-1)
    def divisor_seats(den) -> dict:
        quo = [
            ((d * 1000000) // den(k), seg, k)
            for seg, d in demand
            for k in range(1, _APP_SEATS + 1)
        ]
        quo.sort(key=lambda t: (-t[0], t[1], t[2]))
        seats: dict = {}
        for _, seg, _k in quo[:_APP_SEATS]:
            seats[seg] = seats.get(seg, 0) + 1
        return seats

    dh = divisor_seats(lambda k: k)
    wb = divisor_seats(lambda k: 2 * k - 1)
    # Hamilton: floor(S*d/td) + largest remainders
    fl = {seg: (_APP_SEATS * d) // td for seg, d in demand}
    rem = {seg: (_APP_SEATS * d) % td for seg, d in demand}
    extra = _APP_SEATS - sum(fl.values())
    by_rem = sorted(demand, key=lambda t: (-rem[t[0]], t[0]))
    ham = dict(fl)
    for seg, _ in by_rem[:extra]:
        ham[seg] += 1
    out = [
        (seg, d, ham[seg], dh.get(seg, 0), wb.get(seg, 0))
        for seg, d in demand
    ]
    return spark.createDataFrame(
        out,
        schema="segment string, n_orders bigint, hamilton bigint,"
        " dhondt bigint, webster bigint",
    )


QUERIES["seat_apportionment"] = seat_apportionment

ORACLES["seat_apportionment"] = f"""
WITH demand AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, count(*) AS d
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
),
total AS (SELECT sum(d) AS td FROM demand),
quo AS MATERIALIZED (
  SELECT segment, d, k,
         d::HUGEINT * 1000000 // k AS q_dh,
         d::HUGEINT * 1000000 // (2 * k - 1) AS q_wb
  FROM demand, unnest(generate_series(1, {_APP_SEATS})) AS t(k)
),
dh AS (
  SELECT segment, count(*) AS dhondt FROM (
    SELECT segment FROM quo
    QUALIFY row_number() OVER (ORDER BY q_dh DESC, segment, k)
            <= {_APP_SEATS}
  ) GROUP BY segment
),
wb AS (
  SELECT segment, count(*) AS webster FROM (
    SELECT segment FROM quo
    QUALIFY row_number() OVER (ORDER BY q_wb DESC, segment, k)
            <= {_APP_SEATS}
  ) GROUP BY segment
),
ham_base AS MATERIALIZED (
  SELECT segment, d,
         ({_APP_SEATS} * d::HUGEINT) // td AS fl,
         ({_APP_SEATS} * d::HUGEINT) % td AS rem
  FROM demand CROSS JOIN total
),
short AS (SELECT {_APP_SEATS} - sum(fl) AS extra FROM ham_base),
ham AS (
  SELECT segment,
         fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, segment)
                        <= extra THEN 1 ELSE 0 END AS hamilton
  FROM ham_base CROSS JOIN short
)
SELECT d.segment,
       CAST(d.d AS BIGINT) AS n_orders,
       CAST(h.hamilton AS BIGINT) AS hamilton,
       CAST(coalesce(dh.dhondt, 0) AS BIGINT) AS dhondt,
       CAST(coalesce(wb.webster, 0) AS BIGINT) AS webster
FROM demand d
JOIN ham h ON h.segment = d.segment
LEFT JOIN dh ON dh.segment = d.segment
LEFT JOIN wb ON wb.segment = d.segment
ORDER BY d.segment
"""


# ---------------------------------------------------------------------------
# voting_methods_compare — Borda vs Condorcet vs plurality over criteria
# ---------------------------------------------------------------------------

_VOTE_TOPK = 8  # electorate = the top-8 brands by revenue (ballot length)


def voting_methods_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOCIAL-CHOICE comparison (SURVEY §2 #330) — Borda count vs
    Condorcet pairwise majority vs plurality over the same three
    "voters" (revenue rank, quantity rank, mean-discount rank of the
    top-8 brands): Arrow's theorem guarantees these CAN disagree, and
    multi-criteria leaderboards (model evals scored by three metrics,
    vendor scorecards) hit exactly this — rrf_fusion MERGES rankings
    assuming agreement is fine; this key measures what the merge
    glosses over.  All three rules run on the 8x3 rank census:
    plurality counts first places, Borda sums (k - rank), Condorcet
    counts pairwise majority wins (a Condorcet winner beats all 7 —
    its absence, the Condorcet paradox, is visible as max wins < 7).

    Scale shape: one fact agg to the 25-brand census — the only
    fact-sized work; the census is collected once and the three
    rank-by-criterion sorts, the Borda/plurality scores, and the
    8x8x3 Condorcet pairwise fold all run driver-side on the
    design-sized electorate (the previous all-DataFrame form paid
    three global windows plus a self-join on a 25-row state).
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    stats = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("brand")
        .agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2)) * 100)"
                " as bigint)"
            ).alias("rev"),
            F.expr("cast(sum(l_quantity) as bigint)").alias("qty"),
            F.expr(
                "cast((1000000 * sum(cast(l_discount as decimal(4,2))"
                " * 100)) div count(*) as bigint)"
            ).alias("disc_micro"),
        )
    )
    rows = bounded_collect(
        stats, 25, "voting_methods_compare: brand census"
    )  # 25-brand census — design-size
    k = _VOTE_TOPK
    by_rev = sorted(rows, key=lambda r: (-r["rev"], r["brand"]))
    top = by_rev[:k]
    r_rev = {r["brand"]: i + 1 for i, r in enumerate(by_rev[:k])}
    by_qty = sorted(top, key=lambda r: (-r["qty"], r["brand"]))
    r_qty = {r["brand"]: i + 1 for i, r in enumerate(by_qty)}
    by_disc = sorted(top, key=lambda r: (-r["disc_micro"], r["brand"]))
    r_disc = {r["brand"]: i + 1 for i, r in enumerate(by_disc)}
    out = []
    for r in top:
        b = r["brand"]
        ranks = (r_rev[b], r_qty[b], r_disc[b])
        borda = sum(k - x for x in ranks)
        plurality = sum(1 for x in ranks if x == 1)
        wins = sum(
            1
            for o in top
            if o["brand"] != b
            and (
                (ranks[0] < r_rev[o["brand"]])
                + (ranks[1] < r_qty[o["brand"]])
                + (ranks[2] < r_disc[o["brand"]])
            )
            >= 2
        )
        out.append((
            b, ranks[0], ranks[1], ranks[2], plurality, borda, wins,
            1 if wins == k - 1 else 0,
        ))
    out.sort(key=lambda t: (-t[5], t[0]))
    return spark.createDataFrame(
        out,
        schema=(
            "brand string, rank_revenue bigint, rank_quantity bigint,"
            " rank_discount bigint, plurality_firsts bigint,"
            " borda_score bigint, condorcet_wins bigint,"
            " is_condorcet_winner bigint"
        ),
    )


QUERIES["voting_methods_compare"] = voting_methods_compare

ORACLES["voting_methods_compare"] = f"""
WITH stats AS MATERIALIZED (
  SELECT p.p_brand AS brand,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS rev,
         CAST(sum(l_quantity) AS BIGINT) AS qty,
         CAST((1000000 * sum(CAST(l_discount AS DECIMAL(4,2)) * 100))
              // count(*) AS BIGINT) AS disc_micro
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
top AS MATERIALIZED (
  SELECT *, row_number() OVER (ORDER BY rev DESC, brand) AS r_rev
  FROM stats
  QUALIFY r_rev <= {_VOTE_TOPK}
),
ranked AS MATERIALIZED (
  SELECT brand, r_rev,
         row_number() OVER (ORDER BY qty DESC, brand) AS r_qty,
         row_number() OVER (ORDER BY disc_micro DESC, brand) AS r_disc
  FROM top
),
cond AS (
  SELECT a.brand,
         sum(CASE WHEN (CASE WHEN a.r_rev < b.r_rev THEN 1 ELSE 0 END
                        + CASE WHEN a.r_qty < b.r_qty THEN 1 ELSE 0 END
                        + CASE WHEN a.r_disc < b.r_disc THEN 1 ELSE 0 END)
                       >= 2 THEN 1 ELSE 0 END) AS condorcet_wins
  FROM ranked a JOIN ranked b ON a.brand != b.brand
  GROUP BY a.brand
)
SELECT r.brand,
       CAST(r.r_rev AS BIGINT) AS rank_revenue,
       CAST(r.r_qty AS BIGINT) AS rank_quantity,
       CAST(r.r_disc AS BIGINT) AS rank_discount,
       CAST(CASE WHEN r.r_rev = 1 THEN 1 ELSE 0 END
            + CASE WHEN r.r_qty = 1 THEN 1 ELSE 0 END
            + CASE WHEN r.r_disc = 1 THEN 1 ELSE 0 END AS BIGINT)
         AS plurality_firsts,
       CAST(({_VOTE_TOPK} - r.r_rev) + ({_VOTE_TOPK} - r.r_qty)
            + ({_VOTE_TOPK} - r.r_disc) AS BIGINT) AS borda_score,
       CAST(c.condorcet_wins AS BIGINT) AS condorcet_wins,
       CAST(CASE WHEN c.condorcet_wins = {_VOTE_TOPK - 1} THEN 1
                 ELSE 0 END AS BIGINT) AS is_condorcet_winner
FROM ranked r JOIN cond c ON c.brand = r.brand
ORDER BY borda_score DESC, r.brand
"""


# ---------------------------------------------------------------------------
# littles_law_audit — L = lambda * W conservation check
# ---------------------------------------------------------------------------

_LL_START = "date'1996-01-01'"
_LL_DAYS = 365


def littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit (SURVEY §2 #331) — the queueing conservation
    law L = lambda*W (Little 1961), the sanity identity every ops
    dashboard should assert and almost none does: if average WIP,
    arrival rate, and cycle time are measured CORRECTLY over the same
    window they must reconcile; a ratio far from 1000 milli means the
    instrumentation disagrees with itself (wrong window handling,
    survivorship bias in W, or boundary leakage — the straddler share
    is published so the reader can see the edge effect).  Orders are
    "in system" from order date to first ship date over calendar
    1996: L = sum of in-window open-days / 365 (exact integer day
    overlaps), lambda = in-window arrivals / 365, W = mean
    time-in-system of in-window arrivals — all milli integers, the
    ratio one trailing cross-multiplied division.

    Scale shape: one orderkey join (the RMST shape), one map-combined
    fold; the overlap arithmetic is per-row projection.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship")
    )
    spans = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        F.expr(f"datediff(cast(o_orderdate as date), {_LL_START})").alias(
            "a"
        ),
        F.expr(f"datediff(cast(ship as date), {_LL_START})").alias("b"),
    )
    folded = spans.agg(
        # L numerator: sum of overlap days with [0, 365)
        F.sum(
            F.expr(
                f"greatest(least(b, {_LL_DAYS}) - greatest(a, 0), 0)"
            )
        ).alias("open_days"),
        # arrivals in window and their total time-in-system
        F.sum(
            F.expr(
                f"CASE WHEN a >= 0 AND a < {_LL_DAYS} THEN 1 ELSE 0 END"
            )
        ).alias("arrivals"),
        F.sum(
            F.expr(
                f"CASE WHEN a >= 0 AND a < {_LL_DAYS} THEN b - a"
                " ELSE 0 END"
            )
        ).alias("tis_days"),
        F.sum(
            F.expr(
                f"CASE WHEN a < {_LL_DAYS} AND b > {_LL_DAYS}"
                " THEN 1 WHEN a < 0 AND b > 0 THEN 1 ELSE 0 END"
            )
        ).alias("straddlers"),
    )
    return folded.select(
        F.col("arrivals").cast("bigint").alias("arrivals"),
        F.expr(f"cast((1000 * open_days) div {_LL_DAYS} as bigint)").alias(
            "l_milli"
        ),
        F.expr(
            f"cast((1000 * arrivals) div {_LL_DAYS} as bigint)"
        ).alias("lambda_milli_per_day"),
        F.expr(
            "cast((1000 * tis_days) div nullif(arrivals, 0) as bigint)"
        ).alias("w_millidays"),
        # ratio = L / (lambda * W) = open_days * 365 * arrivals
        #         / (365 * arrivals * ... ) -> cross-multiplied:
        # L*1000 / (lambda*W/1e6) = (1000 * open_days * arrivals)
        #         div (arrivals * tis_days) ... simplifies to
        # open_days / tis_days scaled
        F.expr(
            "cast((1000 * cast(open_days as decimal(38,0)))"
            " div nullif(tis_days, 0) as bigint)"
        ).alias("littles_ratio_milli"),
        F.expr(
            "cast((10000 * straddlers) div nullif(arrivals, 0)"
            " as bigint)"
        ).alias("straddler_share_bp"),
    )


QUERIES["littles_law_audit"] = littles_law_audit

ORACLES["littles_law_audit"] = f"""
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
),
spans AS (
  SELECT datediff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE)) AS a,
         datediff('day', DATE '1996-01-01', CAST(ship AS DATE)) AS b
  FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
),
folded AS (
  SELECT sum(greatest(least(b, {_LL_DAYS}) - greatest(a, 0), 0))
           AS open_days,
         sum(CASE WHEN a >= 0 AND a < {_LL_DAYS} THEN 1 ELSE 0 END)
           AS arrivals,
         sum(CASE WHEN a >= 0 AND a < {_LL_DAYS} THEN b - a ELSE 0 END)
           AS tis_days,
         sum(CASE WHEN a < {_LL_DAYS} AND b > {_LL_DAYS} THEN 1
                  WHEN a < 0 AND b > 0 THEN 1 ELSE 0 END) AS straddlers
  FROM spans
)
SELECT CAST(arrivals AS BIGINT) AS arrivals,
       CAST((1000 * open_days) // {_LL_DAYS} AS BIGINT) AS l_milli,
       CAST((1000 * arrivals) // {_LL_DAYS} AS BIGINT)
         AS lambda_milli_per_day,
       CAST((1000 * tis_days) // nullif(arrivals, 0) AS BIGINT)
         AS w_millidays,
       CAST((1000 * open_days::HUGEINT) // nullif(tis_days, 0) AS BIGINT)
         AS littles_ratio_milli,
       CAST((10000 * straddlers) // nullif(arrivals, 0) AS BIGINT)
         AS straddler_share_bp
FROM folded
"""


# ---------------------------------------------------------------------------
# secretary_stopping_replay — the 1/e optimal-stopping rule, replayed
# ---------------------------------------------------------------------------

_SEC_INV_E_MICRO = 367879  # 1/e in micro units


def secretary_stopping_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECRETARY-PROBLEM replay (SURVEY §2 #339) — the 1/e optimal
    stopping rule (Lindley 1961; Dynkin 1963) evaluated against real
    sequences: observe 1997's daily revenues per segment in date
    order, reject the first n/e, then accept the first new maximum —
    the policy guarantees picking the single best day with
    probability >= 1/e under random arrival, and this key REPLAYS it
    to publish what it actually caught (the chosen day's true rank,
    its value as a share of the best).  Optimal stopping is the
    hiring/peak-load/spot-pricing decision pattern; every quantity
    here is an exact integer (threshold k = floor(n/e) from the micro
    literal, ranks by census window).

    Scale shape: fact -> (segment, day) census; the learning-phase
    maximum, the first-acceptance election, and the final ranks all
    run on the census PARTITIONED by segment.  Windowless below it.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1997-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    daily = (
        orders.join(cust, F.col("o_custkey") == F.col("cust"))
        .groupBy("segment", F.expr("cast(o_orderdate as date)").alias("day"))
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100 as cents"
            ).alias("y")
        )
    )
    # The replay below the (segment, day) census (<= 5 x 365 rows) is a
    # census-collect-then-iterate collapse (SURVEY §7.24a): the former
    # two windows + three broadcast joins + pick window were ~12 jobs
    # on dim-bounded state.  Exact integers; SQL edge semantics kept
    # (k = 0 -> no learning row -> no pick, div-by-zero -> NULL -> -1).

    rows = bounded_collect(
        daily, 8192, "secretary_stopping_replay: segment-day census"
    )
    segs: dict = {}
    for r in rows:
        segs.setdefault(r["segment"], []).append((r["day"], int(r["y"])))
    out = []
    for segment in sorted(segs):
        series = sorted(segs[segment])  # date order -> position i
        n = len(series)
        best_y = max(y for _, y in series)
        k = (n * _SEC_INV_E_MICRO) // 1000000
        ranked = sorted(series, key=lambda t: (-t[1], t[0]))
        true_rank = {day: i + 1 for i, (day, _) in enumerate(ranked)}
        chosen = None
        if k >= 1:
            bar = max(y for _, y in series[:k])
            for i in range(k, n):
                day, y = series[i]
                if y > bar:
                    chosen = (i + 1, true_rank[day], y)
                    break
        share = (
            _tdiv(10000 * chosen[2], best_y or None)
            if chosen is not None
            else None
        )
        out.append(
            (
                segment,
                n,
                k,
                chosen[0] if chosen else -1,
                chosen[1] if chosen else -1,
                -1 if share is None else share,
            )
        )
    return spark.createDataFrame(
        out,
        schema="segment string, n_days bigint, learning_phase bigint,"
        " chosen_position bigint, chosen_true_rank bigint,"
        " chosen_vs_best_bp bigint",
    )


QUERIES["secretary_stopping_replay"] = secretary_stopping_replay

ORACLES["secretary_stopping_replay"] = f"""
WITH daily AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100 AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
seq AS MATERIALIZED (
  SELECT segment, day, y,
         row_number() OVER (PARTITION BY segment ORDER BY day) AS i,
         row_number() OVER (PARTITION BY segment ORDER BY y DESC, day)
           AS true_rank
  FROM daily
),
counts AS MATERIALIZED (
  SELECT segment, count(*) AS n, max(y) AS best_y,
         CAST((count(*) * {_SEC_INV_E_MICRO}) // 1000000 AS INT) AS k
  FROM seq GROUP BY segment
),
learn_max AS (
  SELECT s.segment, max(s.y) AS bar
  FROM seq s JOIN counts c USING (segment)
  WHERE s.i <= c.k GROUP BY s.segment
),
chosen AS (
  SELECT s.segment, s.i AS chosen_position, s.true_rank AS chosen_true_rank,
         s.y AS chosen_y
  FROM seq s
  JOIN counts c USING (segment)
  JOIN learn_max l USING (segment)
  WHERE s.i > c.k AND s.y > l.bar
  QUALIFY row_number() OVER (PARTITION BY s.segment ORDER BY s.i) = 1
)
SELECT c.segment,
       CAST(c.n AS BIGINT) AS n_days,
       CAST(c.k AS BIGINT) AS learning_phase,
       CAST(coalesce(ch.chosen_position, -1) AS BIGINT) AS chosen_position,
       CAST(coalesce(ch.chosen_true_rank, -1) AS BIGINT)
         AS chosen_true_rank,
       CAST(coalesce((10000 * ch.chosen_y) // c.best_y, -1) AS BIGINT)
         AS chosen_vs_best_bp
FROM counts c LEFT JOIN chosen ch ON ch.segment = c.segment
ORDER BY c.segment
"""


# ---------------------------------------------------------------------------
# kelly_fraction_sizing — Kelly criterion from the daily return census
# ---------------------------------------------------------------------------


def kelly_fraction_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KELLY CRITERION position sizing (SURVEY §2 #340) — Kelly
    1956's log-optimal fraction f* = (p·(b+1) − 1)/b, the
    growth-optimal answer to "how much to stake on a repeated
    favorable bet" (budget allocation under multiplicative dynamics —
    inventory buys, ad spend, capacity pre-booking): per segment,
    treat day-over-day revenue moves as the bet — p = share of up
    days, b = mean up-move / mean down-move (the win/loss odds), both
    exact rationals from the day census — and publish f* in milli by
    one cross-multiplied division: f*·b = p·(b+1) − 1 →
    f*_milli = (1000·(up_sum·(n_up+n_dn)·... assembled so no
    intermediate mean is ever floored; negative f* (no edge: stake
    nothing) published as is.  Half-Kelly — the practitioner's
    variance hedge — rides along.

    Scale shape: day census per segment; moves via a lag window
    PARTITIONED by segment over the census; one 5-row fold.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1996-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    daily = orders.join(cust, F.col("o_custkey") == F.col("cust")).groupBy(
        "segment", F.expr("cast(o_orderdate as date)").alias("day")
    ).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " as decimal(38,0)) div 100000"
        ).alias("y")
    )
    wlag = Window.partitionBy("segment").orderBy("day")
    moves = daily.withColumn(
        "prev", F.lag("y").over(wlag)
    ).filter("prev IS NOT NULL").select(
        "segment", F.expr("y - prev").alias("d")
    )
    folded = moves.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CASE WHEN d > 0 THEN 1 ELSE 0 END")).alias("n_up"),
        F.sum(F.expr("CASE WHEN d < 0 THEN 1 ELSE 0 END")).alias("n_dn"),
        F.sum(F.expr("CASE WHEN d > 0 THEN d ELSE 0 END")).alias("up_sum"),
        F.sum(F.expr("CASE WHEN d < 0 THEN -d ELSE 0 END")).alias("dn_sum"),
    )
    # b = (up_sum/n_up)/(dn_sum/n_dn) = up_sum*n_dn / (dn_sum*n_up)
    # p = n_up/(n_up+n_dn)   (flat days excluded, the standard form)
    # f* = (p(b+1) - 1)/b; cross-multiplied with U = up_sum*n_dn,
    # D = dn_sum*n_up, m = n_up+n_dn:
    # f* = (n_up*(U+D) - m*D) / (m*U)
    return folded.select(
        "segment",
        F.col("n").cast("bigint").alias("n_moves"),
        F.expr(
            "cast((10000 * n_up) div (n_up + n_dn) as bigint)"
        ).alias("p_up_bp"),
        F.expr(
            "cast((1000 * cast(up_sum as decimal(38,0)) * n_dn)"
            " div (cast(dn_sum as decimal(38,0)) * n_up) as bigint)"
        ).alias("odds_b_milli"),
        F.expr(
            "cast((1000 * (cast(n_up as decimal(38,0))"
            " * (cast(up_sum as decimal(38,0)) * n_dn"
            " + cast(dn_sum as decimal(38,0)) * n_up)"
            " - (n_up + n_dn) * cast(dn_sum as decimal(38,0)) * n_up))"
            " div ((n_up + n_dn) * cast(up_sum as decimal(38,0)) * n_dn)"
            " as bigint)"
        ).alias("kelly_milli"),
        F.expr(
            "cast(((1000 * (cast(n_up as decimal(38,0))"
            " * (cast(up_sum as decimal(38,0)) * n_dn"
            " + cast(dn_sum as decimal(38,0)) * n_up)"
            " - (n_up + n_dn) * cast(dn_sum as decimal(38,0)) * n_up))"
            " div ((n_up + n_dn) * cast(up_sum as decimal(38,0)) * n_dn))"
            " div 2 as bigint)"
        ).alias("half_kelly_milli"),
    )


QUERIES["kelly_fraction_sizing"] = kelly_fraction_sizing


_kelly_den = "((n_up + n_dn) * up_sum::HUGEINT * n_dn)"


_kelly_num = (
    "(1000 * (n_up::HUGEINT * (up_sum::HUGEINT * n_dn"
    " + dn_sum::HUGEINT * n_up)"
    " - (n_up + n_dn) * dn_sum::HUGEINT * n_up))"
)

ORACLES["kelly_fraction_sizing"] = f"""
WITH daily AS (
  SELECT c.c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
moves AS (
  SELECT segment, y - lag(y) OVER (PARTITION BY segment ORDER BY day) AS d
  FROM daily
  QUALIFY d IS NOT NULL
),
folded AS (
  SELECT segment, count(*) AS n,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS n_up,
         sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS n_dn,
         sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS up_sum,
         sum(CASE WHEN d < 0 THEN -d ELSE 0 END) AS dn_sum
  FROM moves GROUP BY segment
)
SELECT segment,
       CAST(n AS BIGINT) AS n_moves,
       CAST((10000 * n_up) // (n_up + n_dn) AS BIGINT) AS p_up_bp,
       CAST((1000 * up_sum::HUGEINT * n_dn)
            // (dn_sum::HUGEINT * n_up) AS BIGINT) AS odds_b_milli,
       CAST({_kelly_num} // {_kelly_den} AS BIGINT) AS kelly_milli,
       CAST(({_kelly_num} // {_kelly_den}) // 2 AS BIGINT)
         AS half_kelly_milli
FROM folded
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# arc_elasticity — demand response to discount depth, per brand
# ---------------------------------------------------------------------------

_ELA_DISC_CUT = 5  # deep-discount threshold, percent


def arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARC PRICE ELASTICITY of demand (SURVEY §2 #350) — the midpoint
    formula (Allen 1934, the econ-101 workhorse): between a brand's
    shallow-discount (< 5%) and deep-discount (>= 5%) line items,
    elasticity = (dq/q-bar)/(dp/p-bar) with effective unit price p =
    extendedprice*(1-discount)/quantity — negative and large when
    discounting genuinely moves quantity.  The midpoint form is the
    standard fix for the asymmetry of simple percent changes; both
    ratios assemble CROSS-MULTIPLIED so the published milli value
    divides once: e = (dq*(p1+p2)) * 1000 / (dp*(q1+q2)).  The cleared
    denominators peak ~1e33 at catalog scale; at larger scales
    quantize revenue to k$ first (the documented DECIMAL(38,0)
    lever used across the catalog).

    Scale shape: ONE fact agg straight to the 25-brand census with
    BOTH depth sides as conditional sums (the previous two-row-per-
    brand form paid a materialize and a two-branch self-join to
    reassemble what one pass produces directly); brands missing a
    side drop via the n1/n2 guard — the old inner join's semantics.
    Windowless.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    deep = (
        "cast(cast(l_discount as decimal(4,2)) * 100 as int)"
        f" >= {_ELA_DISC_CUT}"
    )
    rev_term = (
        "cast(cast(l_extendedprice as decimal(18,2)) * 100"
        " as decimal(38,0)) * (100 - cast(cast(l_discount"
        " as decimal(4,2)) * 100 as int)) div 100"
    )
    sides = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("brand")
        .agg(
            F.sum(F.expr(f"CASE WHEN {deep} THEN 0 ELSE 1 END")).alias("n1"),
            F.sum(
                F.expr(
                    f"CASE WHEN {deep} THEN 0"
                    " ELSE cast(l_quantity as bigint) END"
                )
            ).alias("sq1"),
            F.sum(
                F.expr(f"CASE WHEN {deep} THEN NULL ELSE {rev_term} END")
            ).alias("rv1"),
            F.sum(F.expr(f"CASE WHEN {deep} THEN 1 ELSE 0 END")).alias("n2"),
            F.sum(
                F.expr(
                    f"CASE WHEN {deep} THEN cast(l_quantity as bigint)"
                    " ELSE 0 END"
                )
            ).alias("sq2"),
            F.sum(
                F.expr(f"CASE WHEN {deep} THEN {rev_term} ELSE NULL END")
            ).alias("rv2"),
        )
        .filter("n1 > 0 AND n2 > 0")
    )
    # mean qty per line q = sq/n; unit price p = rev/sq (cents).
    # e = ((q2-q1)/(q1+q2)) / ((p2-p1)/(p1+p2))
    #   = (q2-q1)(p1+p2) / ((p2-p1)(q1+q2)) — all cross-multiplied:
    # q2-q1 ∝ sq2*n1 - sq1*n2 (denominator n1*n2 cancels in the ratio
    # only partially; keep exact by clearing both denominators)
    return (
        sides
        .select(
            "brand",
            F.expr("cast(n1 + n2 as bigint)").alias("n_lines"),
            F.expr("cast((1000 * sq1) div n1 as bigint)").alias(
                "qty_milli_shallow"
            ),
            F.expr("cast((1000 * sq2) div n2 as bigint)").alias(
                "qty_milli_deep"
            ),
            F.expr("cast(rv1 div sq1 as bigint)").alias(
                "unit_price_c_shallow"
            ),
            F.expr("cast(rv2 div sq2 as bigint)").alias(
                "unit_price_c_deep"
            ),
            # e_milli with q = sq/n and p = rv/sq, denominators cleared:
            # num = (sq2 n1 - sq1 n2) * (rv1 sq2 + rv2 sq1) * 1000
            # den = (rv2 sq1 - rv1 sq2) * (sq1 n2 + sq2 n1)
            F.expr(
                "cast(coalesce((1000 * (cast(sq2 as decimal(38,0)) * n1"
                " - cast(sq1 as decimal(38,0)) * n2)"
                " * (rv1 * cast(sq2 as decimal(38,0))"
                " + rv2 * cast(sq1 as decimal(38,0))))"
                " div nullif((rv2 * cast(sq1 as decimal(38,0))"
                " - rv1 * cast(sq2 as decimal(38,0)))"
                " * (cast(sq1 as decimal(38,0)) * n2"
                " + cast(sq2 as decimal(38,0)) * n1), 0), 0) as bigint)"
            ).alias("elasticity_milli"),
        )
    )


QUERIES["arc_elasticity"] = arc_elasticity

ORACLES["arc_elasticity"] = f"""
WITH sides AS MATERIALIZED (
  SELECT p.p_brand AS brand,
         CASE WHEN CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INT)
                   >= {_ELA_DISC_CUT} THEN 1 ELSE 0 END AS deep,
         count(*) AS n_lines,
         sum(CAST(l_quantity AS BIGINT)) AS sq,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS HUGEINT)
             * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                           AS INT)) // 100) AS rev_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
)
SELECT a.brand,
       CAST(a.n_lines + b.n_lines AS BIGINT) AS n_lines,
       CAST((1000 * a.sq) // a.n_lines AS BIGINT) AS qty_milli_shallow,
       CAST((1000 * b.sq) // b.n_lines AS BIGINT) AS qty_milli_deep,
       CAST(a.rev_c // a.sq AS BIGINT) AS unit_price_c_shallow,
       CAST(b.rev_c // b.sq AS BIGINT) AS unit_price_c_deep,
       CAST(coalesce((1000 * (b.sq::HUGEINT * a.n_lines
                              - a.sq::HUGEINT * b.n_lines)
                      * (a.rev_c * b.sq::HUGEINT
                         + b.rev_c * a.sq::HUGEINT))
                     // nullif((b.rev_c * a.sq::HUGEINT
                                - a.rev_c * b.sq::HUGEINT)
                               * (a.sq::HUGEINT * b.n_lines
                                  + b.sq::HUGEINT * a.n_lines), 0), 0)
            AS BIGINT) AS elasticity_milli
FROM (SELECT * FROM sides WHERE deep = 0) a
JOIN (SELECT * FROM sides WHERE deep = 1) b USING (brand)
ORDER BY a.brand
"""


# ---------------------------------------------------------------------------
# price_index_bias — Laspeyres vs Paasche substitution-bias census
# ---------------------------------------------------------------------------


def price_index_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE-INDEX substitution bias (SURVEY §2 #353) — index-number
    theory's oldest live controversy (Laspeyres 1871 vs Paasche 1874;
    the Boskin-commission CPI debate): a base-weighted index
    OVERSTATES inflation and a current-weighted one UNDERSTATES it
    whenever buyers substitute away from price risers, and the L/P
    gap MEASURES that substitution.  Per brand between 1996 and 1997:
    unit values as exact integer cents, L_bp = 10000*sum(p1 q0)/
    sum(p0 q0) and P_bp = 10000*sum(p1 q1)/sum(p0 q1) fully
    cross-multiplied (quantity-weighted unit-value form), the
    Fisher-squared product published instead of its square root
    (fisher_sq_bp2 = L*P — the ideal index without any sqrt).

    Scale shape: one fact agg to the (brand, year) unit-value census;
    per-brand two-year join; one global fold.  Windowless.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    yearly = materialize(
        li.filter(
            F.expr(
                "l_shipdate >= date'1996-01-01'"
                " AND l_shipdate < date'1998-01-01'"
            )
        )
        .join(F.broadcast(part), "l_partkey")
        .groupBy("brand", F.expr("year(l_shipdate)").alias("yr"))
        .agg(
            F.expr("cast(sum(l_quantity) as bigint)").alias("q"),
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2)) * 100)"
                " as bigint)"
            ).alias("rev_c"),
        )
    )
    y0 = yearly.filter("yr = 1996").select(
        "brand", F.col("q").alias("q0"), F.col("rev_c").alias("r0")
    )
    y1 = yearly.filter("yr = 1997").select(
        "brand", F.col("q").alias("q1"), F.col("rev_c").alias("r1")
    )
    # unit values p = r/q; index terms cleared of divisions:
    # p1*q0 = r1*q0/q1, p0*q0 = r0; p1*q1 = r1, p0*q1 = r0*q1/q0
    joined = materialize(
        y0.join(y1, "brand").select(
            "brand",
            "q0",
            "q1",
            "r0",
            "r1",
            F.expr(
                "(cast(r1 as decimal(38,0)) * q0) div q1"
            ).alias("p1q0_c"),
            F.expr(
                "(cast(r0 as decimal(38,0)) * q1) div q0"
            ).alias("p0q1_c"),
        )
    )
    folded = joined.agg(
        F.count(F.lit(1)).alias("n_brands"),
        F.sum("p1q0_c").alias("sl_num"),
        F.sum("r0").alias("sl_den"),
        F.sum("r1").alias("sp_num"),
        F.sum("p0q1_c").alias("sp_den"),
    )
    return folded.select(
        F.col("n_brands").cast("bigint").alias("n_brands"),
        F.expr(
            "cast((10000 * sl_num) div sl_den as bigint)"
        ).alias("laspeyres_bp"),
        F.expr(
            "cast((10000 * cast(sp_num as decimal(38,0))) div sp_den"
            " as bigint)"
        ).alias("paasche_bp"),
        F.expr(
            "cast(((10000 * sl_num) div sl_den)"
            " * ((10000 * cast(sp_num as decimal(38,0))) div sp_den)"
            " div 10000 as bigint)"
        ).alias("fisher_sq_bp"),
        F.expr(
            "cast((10000 * sl_num) div sl_den"
            " - (10000 * cast(sp_num as decimal(38,0))) div sp_den"
            " as bigint)"
        ).alias("substitution_gap_bp"),
    )


QUERIES["price_index_bias"] = price_index_bias

ORACLES["price_index_bias"] = """
WITH yearly AS MATERIALIZED (
  SELECT p.p_brand AS brand, year(l_shipdate) AS yr,
         CAST(sum(l_quantity) AS BIGINT) AS q,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS rev_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
joined AS MATERIALIZED (
  SELECT a.brand, a.q AS q0, b.q AS q1, a.rev_c AS r0, b.rev_c AS r1,
         (b.rev_c::HUGEINT * a.q) // b.q AS p1q0_c,
         (a.rev_c::HUGEINT * b.q) // a.q AS p0q1_c
  FROM (SELECT * FROM yearly WHERE yr = 1996) a
  JOIN (SELECT * FROM yearly WHERE yr = 1997) b USING (brand)
),
folded AS (
  SELECT count(*) AS n_brands,
         sum(p1q0_c) AS sl_num, sum(r0) AS sl_den,
         sum(r1) AS sp_num, sum(p0q1_c) AS sp_den
  FROM joined
)
SELECT CAST(n_brands AS BIGINT) AS n_brands,
       CAST((10000 * sl_num) // sl_den AS BIGINT) AS laspeyres_bp,
       CAST((10000 * sp_num::HUGEINT) // sp_den AS BIGINT) AS paasche_bp,
       CAST(((10000 * sl_num) // sl_den)
            * ((10000 * sp_num::HUGEINT) // sp_den) // 10000 AS BIGINT)
         AS fisher_sq_bp,
       CAST((10000 * sl_num) // sl_den
            - (10000 * sp_num::HUGEINT) // sp_den AS BIGINT)
         AS substitution_gap_bp
FROM folded
"""


# ---------------------------------------------------------------------------
# erlang_b_blocking — exact blocking probabilities via the unrolled recursion
# ---------------------------------------------------------------------------

_ERL_SERVERS = 10


def erlang_b_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERLANG-B blocking curve (SURVEY §2 #354) — the 1917 result the
    whole of queueing theory grew from, answering the capacity
    question littles_law_audit measures around: given the OBSERVED
    offered load E = lambda*W erlangs (arrival rate x mean
    time-in-system, both from the 1996 window — the Little's-law
    quantities reused), what fraction of arrivals would be BLOCKED
    with m = 1..10 servers and no queue?  The recursion B_m =
    E*B_{m-1} / (m + E*B_{m-1}) unrolls exactly (the HITS contract):
    E is one milli-rational scalar, each step is one cross-multiplied
    milli division, so the published curve is deterministic on both
    engines — and the m where blocking first drops under 5% is the
    sizing answer.

    Scale shape: one orderkey join + fold computes E; the 10-step
    recursion is pure scalar arithmetic unrolled in the projection.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship")
    )
    spans = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).filter(
        F.expr(
            "o_orderdate >= date'1996-01-01'"
            " AND o_orderdate < date'1997-01-01'"
        )
    ).select(
        F.datediff("ship", "o_orderdate").alias("t")
    )
    # E = lambda * W = (arrivals/365) * mean(t) = sum(t)/365 erlangs;
    # published as DECI-erlangs: e_deci = (10 * sum(t)) div 365 = 10*E.
    # (ADVICE r6: the previous 'e_centi' name and 'scaled by 1000'
    # narrative did not match this arithmetic — corrected throughout.)
    e_row = spans.agg(
        F.expr("cast((10 * sum(t)) div 365 as bigint)").alias("e_deci")
    )
    # NOTE: E here is huge (thousands of erlangs at sf0.01+), so the
    # published curve feeds the recursion E scaled DOWN by 10,000 — a
    # one-in-ten-thousand sampling of the stream, the standard way to
    # read the curve shape at a workable server count. The scaling is
    # part of the operator definition and identical on both engines.
    # Exact milli recursion with L = (E/10000)*1000 = E/10 the
    # effective load in MILLI-erlangs (L = e_c div 1000 below, where
    # e_c = 10*e_deci = 100*E centi-erlangs):
    #   b_m = (1000 * L * b_{m-1}) div (m * 1e6 + L * b_{m-1})
    df = e_row.selectExpr(
        "e_deci", "cast(e_deci * 10 as decimal(38,0)) as e_c"
    )
    df = df.selectExpr("*", "cast(1000 as decimal(38,0)) as b0")
    for m in range(1, _ERL_SERVERS + 1):
        df = df.selectExpr(
            "*",
            f"(1000 * (e_c div 1000) * b{m - 1})"
            f" div ({m} * 1000000 + (e_c div 1000) * b{m - 1}) as b{m}",
        )
    rows = ", ".join(
        f"named_struct('m', {m}, 'b_milli', cast(b{m} as bigint))"
        for m in range(1, _ERL_SERVERS + 1)
    )
    return df.select(
        F.col("e_deci").cast("bigint").alias("offered_load_deci"),
        F.explode(F.expr(f"array({rows})")).alias("s"),
    ).select(
        "offered_load_deci",
        F.expr("cast(s.m as bigint)").alias("n_servers"),
        F.expr("cast(s.b_milli as bigint)").alias("blocking_milli"),
    )


QUERIES["erlang_b_blocking"] = erlang_b_blocking


def _erlang_oracle() -> str:
    # Mirrors the Spark body exactly: e_deci = 10*E, e_c = 100*E,
    # effective recursion load L = e_c // 1000 = E/10 milli-erlangs.
    inner = """
SELECT CAST((10 * sum(datediff('day', CAST(o_orderdate AS DATE),
                                CAST(ship AS DATE)))) // 365 AS BIGINT)
         AS e_deci
FROM orders o
JOIN (SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem
      GROUP BY 1) f ON f.l_orderkey = o.o_orderkey
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
"""
    sql = f"WITH e0 AS MATERIALIZED ({inner}),\n"
    sql += "s0 AS (SELECT e_deci, e_deci::HUGEINT * 10 AS e_c,"
    sql += " 1000::HUGEINT AS b0 FROM e0)"
    prev = "s0"
    for m in range(1, _ERL_SERVERS + 1):
        sql += f""",
s{m} AS (SELECT *, (1000 * (e_c // 1000) * b{m - 1})
  // ({m} * 1000000 + (e_c // 1000) * b{m - 1}) AS b{m} FROM {prev})"""
        prev = f"s{m}"
    unions = " UNION ALL ".join(
        f"SELECT e_deci, {m} AS m, b{m} AS b FROM {prev}"
        for m in range(1, _ERL_SERVERS + 1)
    )
    sql += f"""
SELECT CAST(e_deci AS BIGINT) AS offered_load_deci,
       CAST(m AS BIGINT) AS n_servers,
       CAST(b AS BIGINT) AS blocking_milli
FROM ({unions})
ORDER BY n_servers
"""
    return sql

ORACLES["erlang_b_blocking"] = _erlang_oracle()


# ---------------------------------------------------------------------------
# banzhaf_power_index — swing-coalition voting power
# ---------------------------------------------------------------------------


def banzhaf_power_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANZHAF POWER INDEX (SURVEY §2 #355) — voting power is NOT
    vote share (Banzhaf 1965's Nassau County suit: a 16%-weight
    member can hold 0% of the power): with the five segments'
    order counts as weights and a simple majority quota, a player's
    power is the share of coalitions where they are the SWING —
    exhaustively enumerable over the 2^5 lattice (the
    shapley_attribution machinery on a REAL weighted-majority game).
    Published per segment: weight share vs normalized Banzhaf share
    in bp — the wedge between them is the whole point.

    Scale shape: one fact agg to the 5-weight census (the only
    fact-sized stage, still distributed); the 2^5 lattice walk runs
    DRIVER-SIDE on the bounded_collect'ed census in exact Python
    integers — a census-collect-then-iterate key (SURVEY §7.24a): the
    former coalition/swing stages were ~8 jobs / ~17 exchanges of
    bitmask joins over <= 32-row state.  Truncating divisions with a
    None guard mirror SQL `div` + NULL exactly.
    """

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    wrows = sorted(
        (
            (r["segment"], int(r["w"]))
            for r in bounded_collect(
                orders.join(cust, F.col("o_custkey") == F.col("cust"))
                .groupBy("segment")
                .agg(F.count(F.lit(1)).alias("w")),
                32,
                "banzhaf_power_index: segment weight census",
            )
        ),
    )
    n = len(wrows)
    tw = sum(w for _, w in wrows)
    quota = tw // 2 + 1
    wsum = [
        sum(w for i, (_, w) in enumerate(wrows) if (s >> i) & 1)
        for s in range(1 << n)
    ]
    # player i swings coalition S (i not in S) iff S loses but S+i wins;
    # a zero-power segment still publishes its 0-bp row (ADVICE r6).
    swings = [
        sum(
            1
            for s in range(1 << n)
            if not (s >> i) & 1 and wsum[s] < quota and wsum[s] + w >= quota
        )
        for i, (_, w) in enumerate(wrows)
    ]
    tot_swings = sum(swings)
    out = [
        (
            seg,
            w,
            _tdiv(10000 * w, tw if tw != 0 else None),
            ns,
            _tdiv(10000 * ns, tot_swings if tot_swings != 0 else None),
        )
        for (seg, w), ns in zip(wrows, swings)
    ]
    return spark.createDataFrame(
        out,
        schema="segment string, weight bigint, weight_share_bp bigint,"
        " n_swings bigint, banzhaf_share_bp bigint",
    )


QUERIES["banzhaf_power_index"] = banzhaf_power_index

ORACLES["banzhaf_power_index"] = """
WITH weights AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, count(*) AS w
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
),
wi AS MATERIALIZED (
  SELECT segment, w, row_number() OVER (ORDER BY segment) - 1 AS i
  FROM weights
),
coalitions AS (
  SELECT CAST(s AS INT) AS s FROM unnest(generate_series(0, 31)) AS t(s)
),
csums AS MATERIALIZED (
  SELECT s, coalesce(sum(w), 0) AS wsum
  FROM coalitions LEFT JOIN wi ON (s // CAST(pow(2, i) AS INT)) % 2 = 1
  GROUP BY s
),
quota AS (SELECT CAST(sum(w) // 2 + 1 AS BIGINT) AS q FROM weights),
swings AS MATERIALIZED (
  SELECT wi.segment, count(*) AS n_swings
  FROM wi
  JOIN csums ON (csums.s // CAST(pow(2, wi.i) AS INT)) % 2 = 0
  CROSS JOIN quota
  WHERE csums.wsum < q AND csums.wsum + wi.w >= q
  GROUP BY wi.segment
),
census AS MATERIALIZED (
  SELECT wt.segment, wt.w, coalesce(s.n_swings, 0) AS n_swings
  FROM weights wt LEFT JOIN swings s ON s.segment = wt.segment
),
tot AS (SELECT sum(n_swings) AS tot_swings, sum(w) AS tw FROM census)
SELECT segment,
       CAST(w AS BIGINT) AS weight,
       CAST((10000 * w) // tw AS BIGINT) AS weight_share_bp,
       CAST(n_swings AS BIGINT) AS n_swings,
       CAST((10000 * n_swings) // tot_swings AS BIGINT)
         AS banzhaf_share_bp
FROM census CROSS JOIN tot
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# shapley_shubik_index — pivotal-ordering voting power
# ---------------------------------------------------------------------------


def shapley_shubik_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-SHUBIK POWER INDEX (SURVEY §2 #356) — the OTHER
    canonical power measure (Shapley-Shubik 1954), and the reason to
    publish both: Banzhaf counts swing COALITIONS (all equally
    likely), Shapley-Shubik counts PIVOTAL POSITIONS in orderings —
    and on real weighted games the two can rank players differently
    (the classic normative argument in measurement-of-power
    literature).  Exhaustive over the 120-permutation literal (the
    assignment_exhaustive machinery): the pivot of each ordering is
    the player whose arrival pushes the running weight past the
    majority quota; the index is pivots/120 in bp, published against
    the Banzhaf-style weight share so both wedges are visible.

    Scale shape: 5-weight census; the 120x5 permutation literal joins
    it; prefix sums run per permutation over 5 rows.  Windowless
    below the weight census.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    weights = materialize(
        orders.join(cust, F.col("o_custkey") == F.col("cust"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    widx = Window.orderBy("segment")
    wi = materialize(
        weights.withColumn("i", F.row_number().over(widx) - 1)
    )
    perm_rows = ", ".join(
        "named_struct('pid', {}, {})".format(
            pid,
            ", ".join(f"'p{j}', {p[j]}" for j in range(5)),
        )
        for pid, p in enumerate(_permutations(range(5)))
    )
    perms = spark.range(1).select(
        F.explode(F.expr(f"array({perm_rows})")).alias("p")
    ).select("p.*")
    slots = perms.select(
        "pid",
        F.explode(
            F.expr(
                "array(named_struct('pos', 0, 'i', p0),"
                " named_struct('pos', 1, 'i', p1),"
                " named_struct('pos', 2, 'i', p2),"
                " named_struct('pos', 3, 'i', p3),"
                " named_struct('pos', 4, 'i', p4))"
            )
        ).alias("s"),
    ).select("pid", "s.pos", "s.i")
    wcum = (
        Window.partitionBy("pid")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    quota = weights.agg(
        F.expr("cast(sum(w) div 2 + 1 as bigint)").alias("q")
    )
    running = (
        slots.join(F.broadcast(wi), "i")
        .withColumn("cum", F.sum("w").over(wcum))
        .crossJoin(F.broadcast(quota))
    )
    pivots = (
        running.filter(F.expr("cum >= q AND cum - w < q"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_pivots"))
    )
    # ADVICE r6: publish zero-pivot segments too (see banzhaf) — the
    # census left-join keeps every weight row in the table.
    census = weights.join(pivots, "segment", "left").select(
        "segment",
        "w",
        F.coalesce("n_pivots", F.lit(0)).alias("n_pivots"),
    )
    tw = weights.agg(F.sum("w").alias("tw"))
    return (
        census.crossJoin(F.broadcast(tw))
        .select(
            "segment",
            F.col("w").cast("bigint").alias("weight"),
            F.expr("cast((10000 * w) div tw as bigint)").alias(
                "weight_share_bp"
            ),
            F.col("n_pivots").cast("bigint").alias("n_pivots"),
            F.expr("cast((10000 * n_pivots) div 120 as bigint)").alias(
                "shapley_shubik_bp"
            ),
        )
    )


QUERIES["shapley_shubik_index"] = shapley_shubik_index

_ss_perm_values = ", ".join(
    "({}, {})".format(pid, ", ".join(str(v) for v in p))
    for pid, p in enumerate(_permutations(range(5)))
)

ORACLES["shapley_shubik_index"] = f"""
WITH weights AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, count(*) AS w
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
),
wi AS MATERIALIZED (
  SELECT segment, w, row_number() OVER (ORDER BY segment) - 1 AS i
  FROM weights
),
perms(pid, p0, p1, p2, p3, p4) AS (VALUES {_ss_perm_values}),
slots AS (
  SELECT pid, 0 AS pos, p0 AS i FROM perms
  UNION ALL SELECT pid, 1, p1 FROM perms
  UNION ALL SELECT pid, 2, p2 FROM perms
  UNION ALL SELECT pid, 3, p3 FROM perms
  UNION ALL SELECT pid, 4, p4 FROM perms
),
quota AS (SELECT CAST(sum(w) // 2 + 1 AS BIGINT) AS q FROM weights),
running AS (
  SELECT s.pid, s.pos, wi.segment, wi.w,
         sum(wi.w) OVER (PARTITION BY s.pid ORDER BY s.pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM slots s JOIN wi ON wi.i = s.i
),
pivots AS (
  SELECT segment, count(*) AS n_pivots
  FROM running CROSS JOIN quota
  WHERE cum >= q AND cum - w < q
  GROUP BY segment
),
census AS MATERIALIZED (
  SELECT wt.segment, wt.w, coalesce(p.n_pivots, 0) AS n_pivots
  FROM weights wt LEFT JOIN pivots p ON p.segment = wt.segment
),
tw AS (SELECT sum(w) AS tw FROM weights)
SELECT segment,
       CAST(w AS BIGINT) AS weight,
       CAST((10000 * w) // tw AS BIGINT) AS weight_share_bp,
       CAST(n_pivots AS BIGINT) AS n_pivots,
       CAST((10000 * n_pivots) // 120 AS BIGINT) AS shapley_shubik_bp
FROM census CROSS JOIN tw
ORDER BY segment
"""
