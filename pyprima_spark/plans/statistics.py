"""Statistical tests and estimators: robust location and spread,
distribution drift, two-sample and repeated-measures tests, trend
tests, shrinkage and population estimators, survival analysis,
concentration and segregation indices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import dec_avg
from pyprima_spark.functions.text import tokens_spark
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per event type.

    Uses the exact `percentile` aggregate (single pass, per-group sort
    inside the agg) because the oracle demands bit-equality; at 100 TB
    the drop-in scale path is `percentile_approx` (mergeable KLL-style
    sketch, no per-group materialization) at the cost of bounded error.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
            dec_avg("value").alias("mean_value"),
        )
    )


QUERIES["value_percentiles"] = value_percentiles

ORACLES["value_percentiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(sum(CAST(value AS DECIMAL(27,6)))::DOUBLE / count(value), 4) AS mean_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen (SURVEY §2 #65): flag values more than
    3×MAD from their group median — the rescaling-tolerant outlier rule
    the reference's sanity checks approximate with hard bounds
    (correction_functions.py clip paths). Exact interpolated medians.

    Both medians run as WINDOW aggregates over the same event_type
    partitioning: one shuffle total, values never leave their
    partition. The groupBy-join layout would scan the fact table three
    times.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    d = ev.withColumn("m", F.expr("percentile(value, 0.5)").over(w))
    d = d.withColumn("mad", F.expr("percentile(abs(value - m), 0.5)").over(w))
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.abs(F.col("value") - F.col("m")) > 3 * F.col("mad"), 1)
            ).alias("n_outliers"),
            F.round(F.min("m"), 4).alias("median_value"),
            F.round(F.min("mad"), 4).alias("mad"),
        )
    )


QUERIES["outlier_mad"] = outlier_mad

# Both medians are exact interpolated percentiles — DuckDB median() and
# Spark percentile(…, 0.5) share the same definition on doubles, and
# the inner median's double is bit-identical input to the outer one.
ORACLES["outlier_mad"] = """
WITH w1 AS (
  SELECT event_type, value,
         median(value) OVER (PARTITION BY event_type) AS m
  FROM events
),
w2 AS (
  SELECT event_type, value, m,
         median(abs(value - m)) OVER (PARTITION BY event_type) AS mad
  FROM w1
)
SELECT event_type, count(*) AS n,
       count(CASE WHEN abs(value - m) > 3 * mad THEN 1 END) AS n_outliers,
       round(min(m), 4) AS median_value,
       round(min(mad), 4) AS mad
FROM w2 GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# drift_tv_distance — two-period histogram drift (total variation)
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "2024-01-16 00:00:00"


def drift_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two halves of the event log, per
    event type: total-variation distance over a fixed 25-bin histogram
    of ``value`` — the drift gate a feature pipeline runs before
    retraining on a new data window.

    One map-combined (type, bin) aggregation over a single scan (the
    period flag is a scan-level projection); TV is then computed on the
    dim-sized histogram with INTEGER cross-products
    (|c_a*N_b - c_b*N_a|, one division at the very end), so the result
    is exact and engine-independent. At petabyte counts the
    cross-products move to DECIMAL — same plan, wider type.
    """
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("p"),
        F.least(F.lit(24), F.floor(F.col("value") / 20).cast("int")).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("p") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0)).alias("c_b"),
    )
    w = Window.partitionBy("event_type")
    with_tot = counts.select(
        "event_type",
        "c_a",
        "c_b",
        F.sum("c_a").over(w).alias("n_a"),
        F.sum("c_b").over(w).alias("n_b"),
    )
    return (
        with_tot.groupBy("event_type")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))).alias(
                "tv_num"
            ),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.expr("cast(tv_num * 10000 div (2 * n_a * n_b) as int)").alias("tv_bp"),
        )
    )


QUERIES["drift_tv_distance"] = drift_tv_distance

ORACLES["drift_tv_distance"] = f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT}' THEN 0 ELSE 1 END AS p,
         least(24, CAST(floor(value / 20) AS INT)) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS c_b
  FROM binned GROUP BY event_type, bin
),
with_tot AS (
  SELECT event_type, c_a, c_b,
         sum(c_a) OVER (PARTITION BY event_type) AS n_a,
         sum(c_b) OVER (PARTITION BY event_type) AS n_b
  FROM counts
)
SELECT event_type,
       CAST(max(n_a) AS BIGINT) AS n_a,
       CAST(max(n_b) AS BIGINT) AS n_b,
       CAST(sum(abs(c_a * n_b - c_b * n_a)) * 10000
            // (2 * max(n_a) * max(n_b)) AS INT) AS tv_bp
FROM with_tot
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# ks_drift — exact binned Kolmogorov–Smirnov two-period statistic
# ---------------------------------------------------------------------------

def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift statistic between the same two periods,
    per event type, over a 1000-bin ECDF of ``value`` — the
    supremum-of-ECDF-gap companion to the TV histogram distance
    (sensitive to location shifts TV underweights).

    D = max |F_a - F_b| is computed as max |cum_a*N_b - cum_b*N_a| in
    INTEGER arithmetic with one trailing division.  The cumulative
    sums run per-event-type (partitioned window over the dim-sized bin
    table — never over raw events), so nothing here is single-
    partition at any scale; binning to a fixed grid is what makes the
    distinct-value table bounded (the standard large-scale KS
    approximation, exact for the binned ECDF).
    """
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("p"),
        F.least(F.lit(999), F.floor(F.col("value") * 2).cast("int")).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("p") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0)).alias("c_b"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    scored = counts.select(
        "event_type",
        F.sum("c_a").over(wcum).alias("cum_a"),
        F.sum("c_b").over(wcum).alias("cum_b"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("d_num"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.expr("cast(d_num * 10000 div (n_a * n_b) as int)").alias("ks_bp"),
        )
    )


QUERIES["ks_drift"] = ks_drift

ORACLES["ks_drift"] = f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT}' THEN 0 ELSE 1 END AS p,
         least(999, CAST(floor(value * 2) AS INT)) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS c_b
  FROM binned GROUP BY event_type, bin
),
scored AS (
  SELECT event_type,
         sum(c_a) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(c_b) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum_b,
         sum(c_a) OVER (PARTITION BY event_type) AS n_a,
         sum(c_b) OVER (PARTITION BY event_type) AS n_b
  FROM counts
)
SELECT event_type,
       CAST(max(n_a) AS BIGINT) AS n_a,
       CAST(max(n_b) AS BIGINT) AS n_b,
       CAST(max(abs(cum_a * n_b - cum_b * n_a)) * 10000
            // (max(n_a) * max(n_b)) AS INT) AS ks_bp
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# weighted_median — exact weighted median per group
# ---------------------------------------------------------------------------

def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag — the
    weighted-percentile aggregate (no Spark built-in): sort each group
    by value, take the first value whose running weight reaches half
    the total (lower weighted median — a deterministic, interpolation-
    free tie rule both engines express identically).

    One shuffle+sort on the group key serves the cumulative-weight
    window AND the total-weight window; the winner is a conditional
    min over rows past the half-point.  All comparisons are integer
    (2·cum ≥ total on bigint weights), so group parallelism is the
    only thing that grows at 100 TB.
    """
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    flagged = base.select(
        "l_returnflag",
        "l_extendedprice",
        "w",
        F.sum("w").over(wcum).alias("cum"),
        F.sum("w").over(wall).alias("tot"),
    )
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.max("tot").alias("total_weight"),
            F.round(
                F.min(
                    F.when(
                        F.col("cum") * 2 >= F.col("tot"), F.col("l_extendedprice")
                    )
                ),
                2,
            ).alias("weighted_median_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


QUERIES["weighted_median"] = weighted_median

ORACLES["weighted_median"] = """
WITH flagged AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag ORDER BY l_extendedprice
           ROWS UNBOUNDED PRECEDING) AS cum,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag,
       CAST(max(tot) AS BIGINT) AS total_weight,
       round(min(CASE WHEN cum * 2 >= tot THEN l_extendedprice END), 2)
         AS weighted_median_price,
       count(*) AS n_rows
FROM flagged
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# winsorized_mean — robust mean with exact percentile clamps
# ---------------------------------------------------------------------------

def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clamped) mean of event value per type — the
    robust-mean alternative to outlier deletion (outlier_mad screens;
    this corrects).

    Pass one computes the exact interpolated P5/P95 per type (dim-sized
    aggregate, same `percentile`↔`quantile_cont` bridge as
    value_percentiles); pass two broadcasts the clamp bounds back and
    takes the order-insensitive DECIMAL mean of the clamped column.
    At 100 TB pass one becomes `approx_percentile` (mergeable sketch)
    with the approx_quantile_bands error contract.
    """

    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.greatest("lo", F.least("hi", F.col("value"))).alias("v"),
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_avg("v").alias("winsorized_mean"),
        )
    )


QUERIES["winsorized_mean"] = winsorized_mean

ORACLES["winsorized_mean"] = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
),
clamped AS (
  SELECT e.event_type, greatest(lo, least(hi, value)) AS v
  FROM events e JOIN bounds USING (event_type)
)
SELECT event_type, count(*) AS n,
       round(sum(CAST(v AS DECIMAL(27,6)))::DOUBLE / count(v), 4)
         AS winsorized_mean
FROM clamped
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# psi_drift — population stability index per event_type
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_BIN_WIDTH = 10  # value in [0, ~100); floor(value/10) capped to 0..9


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift (SURVEY §2 #180) — completes
    the drift family (TV distance, KS, CUSUM): per event_type, compare
    the value distribution of the first half of each month (day ≤ 15)
    against the second half over fixed-width bins, PSI = Σ (pA − pB) ·
    ln(pA / pB) with add-one smoothing so empty bins stay finite.

    Cross-engine determinism follows the bigram_lm_score precedent:
    bin counts are exact integers, each probability is ONE division of
    exact integers (correctly rounded, bit-identical), and each PSI
    term is truncated to DECIMAL(18,12) BEFORE the sum — so the sum is
    exact decimal addition, immune to both libm tail bits and
    float-sum order.
    """
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        (F.dayofmonth("ts") <= 15).alias("is_a"),
        F.least(
            F.greatest(
                F.expr(f"cast(floor(value / {_PSI_BIN_WIDTH}) as int)"), F.lit(0)
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    # counts feeds both the per-type totals and the term table — the
    # boundary keeps the events scan single-pass (counts is |types|×10
    # rows, the checkpoint is free).
    counts = materialize(
        binned.groupBy("event_type", "bin").agg(
            F.sum(F.col("is_a").cast("int")).alias("c_a"),
            F.sum((~F.col("is_a")).cast("int")).alias("c_b"),
        )
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    terms = counts.join(totals, "event_type").select(
        "event_type",
        F.expr(
            f"""cast(
              ((c_a + 1) / cast(n_a + {_PSI_BINS} as double)
               - (c_b + 1) / cast(n_b + {_PSI_BINS} as double))
              * ln(((c_a + 1) / cast(n_a + {_PSI_BINS} as double))
                   / ((c_b + 1) / cast(n_b + {_PSI_BINS} as double)))
              as decimal(18,12))""",
        ).alias("term"),
    )
    # Exact decimal sum, then ONE cast to double at the output edge —
    # a decimal column's trailing-zero repr differs between engines.
    return (
        terms.groupBy("event_type")
        .agg(F.sum("term").cast("double").alias("psi"))
    )


QUERIES["psi_drift"] = psi_drift

ORACLES["psi_drift"] = f"""
WITH binned AS (
  SELECT event_type, day(ts) <= 15 AS is_a,
         least(greatest(CAST(floor(value / {_PSI_BIN_WIDTH}) AS INT), 0),
               {_PSI_BINS - 1}) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
  FROM binned GROUP BY event_type, bin
),
totals AS (
  SELECT event_type, CAST(sum(c_a) AS BIGINT) AS n_a,
         CAST(sum(c_b) AS BIGINT) AS n_b
  FROM counts GROUP BY event_type
),
terms AS (
  SELECT c.event_type,
         CAST(
           ((c_a + 1) / CAST(n_a + {_PSI_BINS} AS DOUBLE)
            - (c_b + 1) / CAST(n_b + {_PSI_BINS} AS DOUBLE))
           * ln(((c_a + 1) / CAST(n_a + {_PSI_BINS} AS DOUBLE))
                / ((c_b + 1) / CAST(n_b + {_PSI_BINS} AS DOUBLE)))
           AS DECIMAL(18,12)) AS term
  FROM counts c JOIN totals t ON c.event_type = t.event_type
)
SELECT event_type, CAST(sum(term) AS DOUBLE) AS psi
FROM terms GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# kaplan_meier_fulfillment — survival analysis of order fulfillment
# ---------------------------------------------------------------------------

_KM_CUTOFF = 60  # days; durations beyond are right-censored


def kaplan_meier_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimation of order fulfillment time per
    priority (SURVEY §2 #198): duration = days from order to first
    line shipment, right-censored at ``_KM_CUTOFF`` days; per
    (priority, day) the at-risk count, events, and the cumulative
    LOG-survival — the survival-analysis staple (time-to-event with
    censoring) the catalog's distribution ops (histograms,
    percentiles) cannot express because censored subjects leave the
    risk set without an event.

    Determinism: at-risk and event counts are exact integers; each
    hazard term ln((n_t − d_t)/n_t) is ln of an exact integer rational
    truncated to DECIMAL(18,12) (bigram_lm_score precedent) and the
    cumulative sum is EXACT decimal addition via a rows-window — one
    double cast at the output edge. Survival itself is exp(log_surv);
    the log form is reported because decimal-summed logs are
    engine-exact where a running product of doubles is not.

    Scale shape: one join orders←min-ship-per-order (both sides
    shuffle on orderkey once), a per-(priority, day) census bounded by
    |priorities|·cutoff, and the at-risk/cumulative windows run over
    that CENSUS partitioned by priority — never over the fact table.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship")
    )
    dur = (
        orders.join(first_ship, orders.o_orderkey == first_ship.l_orderkey)
        .select(
            "o_orderpriority",
            F.datediff("ship", "o_orderdate").alias("t"),
        )
    )
    per_t = (
        dur.withColumn(
            "t_obs",
            F.when(F.col("t") <= _KM_CUTOFF, F.col("t")).otherwise(
                F.lit(_KM_CUTOFF)
            ),
        )
        .withColumn("event", (F.col("t") <= _KM_CUTOFF).cast("int"))
        .groupBy("o_orderpriority", "t_obs")
        .agg(
            F.sum("event").alias("d"),
            F.count(F.lit(1)).alias("leaving"),
        )
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("t_obs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    at_risk = per_t.select(
        "o_orderpriority",
        "t_obs",
        "d",
        (
            F.sum("leaving").over(
                Window.partitionBy("o_orderpriority").orderBy("t_obs").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            - F.coalesce(F.sum("leaving").over(w_cum), F.lit(0))
        ).alias("n_risk"),
    ).filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d")))
    # n_risk == d (everyone still at risk exits with an event — only
    # possible in the terminal bucket) would make the hazard term
    # ln(0) = -inf; that row means S(t) = 0 and is dropped on BOTH
    # engines rather than ridden through a non-finite decimal.
    hazard = at_risk.select(
        "o_orderpriority",
        "t_obs",
        "n_risk",
        "d",
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        )
        .cast("decimal(18,12)")
        .alias("lh"),
    )
    w_surv = (
        Window.partitionBy("o_orderpriority")
        .orderBy("t_obs")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hazard.select(
            "o_orderpriority",
            "t_obs",
            "n_risk",
            "d",
            F.sum("lh").over(w_surv).cast("double").alias("log_surv"),
        )
    )


QUERIES["kaplan_meier_fulfillment"] = kaplan_meier_fulfillment

ORACLES["kaplan_meier_fulfillment"] = f"""
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
),
dur AS (
  SELECT o_orderpriority,
         datediff('day', o_orderdate, ship) AS t
  FROM orders JOIN first_ship ON o_orderkey = l_orderkey
),
per_t AS (
  SELECT o_orderpriority,
         CASE WHEN t <= {_KM_CUTOFF} THEN t ELSE {_KM_CUTOFF} END AS t_obs,
         CAST(sum(CASE WHEN t <= {_KM_CUTOFF} THEN 1 ELSE 0 END) AS BIGINT)
           AS d,
         count(*) AS leaving
  FROM dur GROUP BY 1, 2
),
at_risk AS (
  SELECT o_orderpriority, t_obs, d,
         sum(leaving) OVER (PARTITION BY o_orderpriority)
           - coalesce(sum(leaving) OVER (
               PARTITION BY o_orderpriority ORDER BY t_obs
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM per_t
),
hazard AS (
  SELECT o_orderpriority, t_obs, n_risk, d,
         CAST(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
              AS DECIMAL(18,12)) AS lh
  FROM at_risk WHERE d > 0 AND n_risk > d
)
SELECT o_orderpriority, t_obs, CAST(n_risk AS BIGINT) AS n_risk, d,
       CAST(sum(lh) OVER (
         PARTITION BY o_orderpriority ORDER BY t_obs
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS log_surv
FROM hazard
ORDER BY o_orderpriority, t_obs
"""


# ---------------------------------------------------------------------------
# benford_digit_audit — first-digit fraud screen
# ---------------------------------------------------------------------------


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals (SURVEY §2
    #201) — the forensic-accounting screen: natural financial amounts
    follow P(d) = log10(1 + 1/d); fabricated ones rarely do. Reports
    per leading digit the observed count, observed share (bp), the
    Benford expectation (bp), and the absolute deviation — the
    audit-flag layout.

    Determinism: the leading digit comes from the INTEGER cents value
    via string length math (``x div 10^(len-1)`` — double formatting
    never touches the digit), shares are exact integer basis points,
    and the nine Benford expectations are PINNED integer constants
    (log10 evaluated once, here, not per engine). One map-combined
    aggregation; output is 9 rows.
    """
    import math

    orders = _t(spark, sf_dir, "orders")
    expect = {
        d: int(math.log10(1 + 1 / d) * 10000 + 0.5) for d in range(1, 10)
    }
    cents = "cast(round(o_totalprice * 100) as bigint)"
    digit = F.expr(
        f"cast({cents} div cast(pow(10, length(cast({cents} as string)) - 1)"
        " as bigint) as int)"
    )
    per_digit = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = per_digit.agg(F.sum("n").alias("t"))
    expect_expr = "CASE digit " + " ".join(
        f"WHEN {d} THEN {bp}" for d, bp in expect.items()
    ) + " END"
    return (
        per_digit.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr("cast(n * 10000 div t as int)").alias("obs_bp"),
            F.expr(expect_expr).cast("int").alias("benford_bp"),
            F.expr(
                f"cast(abs(n * 10000 div t - ({expect_expr})) as int)"
            ).alias("abs_dev_bp"),
        )
    )


QUERIES["benford_digit_audit"] = benford_digit_audit


def _benford_oracle() -> str:
    import math

    expect = {
        d: int(math.log10(1 + 1 / d) * 10000 + 0.5) for d in range(1, 10)
    }
    expect_expr = "CASE digit " + " ".join(
        f"WHEN {d} THEN {bp}" for d, bp in expect.items()
    ) + " END"
    return f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
digits AS (
  SELECT CAST(c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT)
              AS INT) AS digit
  FROM cents
),
per_digit AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per_digit)
SELECT digit, n,
       CAST(n * 10000 // t AS INT) AS obs_bp,
       CAST({expect_expr} AS INT) AS benford_bp,
       CAST(abs(n * 10000 // t - ({expect_expr})) AS INT) AS abs_dev_bp
FROM per_digit CROSS JOIN tot
ORDER BY digit
"""

ORACLES["benford_digit_audit"] = _benford_oracle()


# ---------------------------------------------------------------------------
# hhi_concentration — Herfindahl–Hirschman market concentration
# ---------------------------------------------------------------------------


def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per region (SURVEY §2
    #202): sum of squared supplier market shares of part-supply value
    — the antitrust/market-structure census (HHI > 2500 on the
    0–10000 scale reads as highly concentrated). Complements key_gini
    (inequality of a key census) with the economics-standard squared-
    share form over a REAL value dimension.

    Determinism: shares are integer basis points (value in cents,
    ``s_bp = v*10000 div total``), HHI = Σ s_bp² div 10⁴ — exact
    integers end to end. Scale shape: one join lineitem→supplier
    (broadcast dim), a per-(region, supplier) cents census, then a
    region-sized rollup; no windows.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    per_supp = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_regionkey", "s_suppkey")
        .agg(
            F.sum(
                F.expr("cast(round(l_extendedprice * 100) as bigint)")
            ).alias("cents")
        )
    )
    totals = per_supp.groupBy("n_regionkey").agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        per_supp.join(F.broadcast(totals), "n_regionkey")
        .select(
            "n_regionkey",
            "n_suppliers",
            F.expr("cents * 10000 div total").alias("s_bp"),
        )
        .groupBy(F.col("n_regionkey").alias("regionkey"), "n_suppliers")
        .agg(
            F.expr("cast(sum(s_bp * s_bp) div 10000 as int)").alias("hhi"),
            F.max("s_bp").cast("int").alias("top_share_bp"),
        )
    )


QUERIES["hhi_concentration"] = hhi_concentration

ORACLES["hhi_concentration"] = """
WITH per_supp AS (
  SELECT n_regionkey, s_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
totals AS (
  SELECT n_regionkey, CAST(sum(cents) AS BIGINT) AS total,
         count(*) AS n_suppliers
  FROM per_supp GROUP BY 1
),
shares AS (
  SELECT p.n_regionkey, n_suppliers, cents * 10000 // total AS s_bp
  FROM per_supp p JOIN totals t ON p.n_regionkey = t.n_regionkey
)
SELECT n_regionkey AS regionkey, n_suppliers,
       CAST(sum(s_bp * s_bp) // 10000 AS INT) AS hhi,
       CAST(max(s_bp) AS INT) AS top_share_bp
FROM shares GROUP BY 1, 2 ORDER BY regionkey
"""


# ---------------------------------------------------------------------------
# theil_sen_trend — robust median-slope trend per series
# ---------------------------------------------------------------------------


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event_type (SURVEY §2 #203): the
    median of all pairwise slopes of the daily value series — the
    outlier-resistant alternative to grouped_regression's OLS (one
    corrupted day moves OLS arbitrarily; Theil–Sen tolerates ~29%
    contamination). The robust-statistics member the stats family
    (outlier_mad, winsorized_mean, weighted_median) was missing for
    TRENDS.

    Determinism: daily totals are integer cents; each slope is one
    double division of exact integers (identical operands → identical
    IEEE result on both engines); the median slope is percentile_disc
    — an ELEMENT PICK, not an interpolation — so the reported double
    is bit-identical. Scale shape: the pairwise self-join runs on the
    per-(type, day) CENSUS (bounded by series length, never the fact
    table) keyed by event_type; O(T²) pairs per series is the
    classical Theil–Sen bound — for year-plus series the windowed
    repeated-median variant bounds pairs per point, same plan shape.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
        )
        .agg(
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
                "cents"
            )
        )
    )
    daily = materialize(daily)
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("cents").alias("c1")
    )
    b = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("cents").alias("c2")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)"
            ).alias("slope_cents_per_day"),
        )
    )


QUERIES["theil_sen_trend"] = theil_sen_trend

ORACLES["theil_sen_trend"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         CAST(b.cents - a.cents AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
           AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type, count(*) AS n_pairs,
       quantile_disc(slope, 0.5) AS slope_cents_per_day
FROM slopes GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# quantile_rollup_gap — the p95-of-p95s aggregation fallacy, measured
# ---------------------------------------------------------------------------


def quantile_rollup_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE ROLLUP GAP audit (SURVEY §2 #237) — percentiles do not
    compose: the p95 of hourly p95s is NOT the daily p95, yet tiered
    dashboards roll quantiles up constantly (the classic monitoring
    bug; Gil Tene's "coordinated omission" family).  This key
    measures the fallacy on real data instead of assuming it: per
    (day, event_type), the TRUE daily p95 over raw values next to the
    ROLLED p95-of-hourly-p95s, the signed gap in integer cents, and
    the relative error in basis points — the evidence that decides
    whether a tiered quantile pipeline needs sketch MERGING
    (approx_quantile_bands' KLL path) instead of quantile-of-quantile.

    Scale shape: both aggregations are percentile_disc groupBys keyed
    by bounded (day/hour × type) censuses — engine-exact selected
    values, no interpolation; the join is census-sized.
    """
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    true_p = base.groupBy("day", "event_type").agg(
        F.expr(
            "cast(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)"
            " as bigint)"
        ).alias("true_p95_cents")
    )
    hourly = base.groupBy("day", "hour", "event_type").agg(
        F.expr(
            "cast(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)"
            " as bigint)"
        ).alias("hp95")
    )
    rolled = hourly.groupBy("day", "event_type").agg(
        F.expr(
            "cast(percentile_disc(0.95) WITHIN GROUP (ORDER BY hp95)"
            " as bigint)"
        ).alias("rolled_p95_cents")
    )
    return (
        true_p.join(rolled, ["day", "event_type"])
        .select(
            "day",
            "event_type",
            "true_p95_cents",
            "rolled_p95_cents",
            (F.col("rolled_p95_cents") - F.col("true_p95_cents")).alias(
                "gap_cents"
            ),
            F.expr(
                "(10000 * abs(rolled_p95_cents - true_p95_cents))"
                " div true_p95_cents"
            ).alias("abs_err_bp"),
        )
    )


QUERIES["quantile_rollup_gap"] = quantile_rollup_gap

ORACLES["quantile_rollup_gap"] = """
WITH base AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         strftime(ts, '%Y-%m-%d %H') AS hour,
         event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
true_p AS (
  SELECT day, event_type,
         quantile_disc(cents, 0.95) AS true_p95_cents
  FROM base GROUP BY day, event_type
),
hourly AS (
  SELECT day, hour, event_type, quantile_disc(cents, 0.95) AS hp95
  FROM base GROUP BY day, hour, event_type
),
rolled AS (
  SELECT day, event_type, quantile_disc(hp95, 0.95) AS rolled_p95_cents
  FROM hourly GROUP BY day, event_type
)
SELECT t.day AS day, t.event_type AS event_type,
       CAST(true_p95_cents AS BIGINT) AS true_p95_cents,
       CAST(rolled_p95_cents AS BIGINT) AS rolled_p95_cents,
       CAST(rolled_p95_cents - true_p95_cents AS BIGINT) AS gap_cents,
       CAST((10000 * abs(rolled_p95_cents - true_p95_cents))
            // true_p95_cents AS BIGINT) AS abs_err_bp
FROM true_p t JOIN rolled r ON t.day = r.day AND t.event_type = r.event_type
ORDER BY t.day, t.event_type
"""


# ---------------------------------------------------------------------------
# wasserstein_drift — earth-mover (W1) drift over the binned ECDF
# ---------------------------------------------------------------------------

_W1_SPLIT = "2024-01-16 00:00:00"  # the ks_drift/psi_drift period cut


def wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WASSERSTEIN-1 (earth mover) drift per event type (SURVEY §2
    #266) — the drift family's integral member: TV (drift_tv) counts
    mass that moved, KS (ks_drift) takes the worst single ECDF gap,
    PSI (psi_drift) log-weights bin ratios; W1 = ∫|F_a − F_b| dx is
    the only one that knows HOW FAR the mass moved (a +1-cent shift
    and a +100-cent shift have equal TV but 100× different W1 —
    embedding/feature monitoring's preferred metric for exactly that
    reason).  Same 1000-bin grid and period cut as ks_drift; the
    integral is exact on the binned ECDF: Σ |cum_a·n_b − cum_b·n_a| ·
    (next_bin − bin), where the lead() gap weighting is what makes
    SPARSE bin tables correct (an ECDF gap persists across empty
    bins; KS's max doesn't care, an integral must).

    Scale shape: identical to ks_drift — one (type, bin) agg, then
    per-type partitioned windows over the bounded bin table (never
    raw events), DECIMAL(38,0) cross-products so petabyte-scale
    n_a·n_b cannot overflow, one trailing division (all terms
    non-negative).  Published in exact half-bin units and cents.
    """
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        F.when(F.col("ts") < F.lit(_W1_SPLIT).cast("timestamp"), 0)
        .otherwise(1)
        .alias("p"),
        F.least(F.lit(999), F.floor(F.col("value") * 2).cast("int")).alias(
            "bin"
        ),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("p") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("p") == 1, 1).otherwise(0)).alias("c_b"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    wlead = Window.partitionBy("event_type").orderBy("bin")
    scored = counts.select(
        "event_type",
        F.sum("c_a").over(wcum).alias("cum_a"),
        F.sum("c_b").over(wcum).alias("cum_b"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"),
        (F.lead("bin", 1, None).over(wlead) - F.col("bin")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(
                F.expr(
                    "cast(abs(cast(cum_a as decimal(38,0)) * n_b"
                    " - cast(cum_b as decimal(38,0)) * n_a) * gap"
                    " as decimal(38,0))"
                )
            ).alias("w1_num"),
        )
        .select(
            "event_type",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr(
                "cast((50 * w1_num) div (cast(n_a as decimal(38,0)) * n_b)"
                " as bigint)"
            ).alias("w1_cents"),
        )
    )


QUERIES["wasserstein_drift"] = wasserstein_drift

ORACLES["wasserstein_drift"] = f"""
WITH binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{_W1_SPLIT}' THEN 0 ELSE 1 END AS p,
         least(999, CAST(floor(value * 2) AS INT)) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS c_b
  FROM binned GROUP BY event_type, bin
),
scored AS (
  SELECT event_type,
         sum(c_a) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(c_b) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum_b,
         sum(c_a) OVER (PARTITION BY event_type) AS n_a,
         sum(c_b) OVER (PARTITION BY event_type) AS n_b,
         lead(bin) OVER (PARTITION BY event_type ORDER BY bin) - bin AS gap
  FROM counts
)
SELECT event_type,
       CAST(max(n_a) AS BIGINT) AS n_a,
       CAST(max(n_b) AS BIGINT) AS n_b,
       CAST((50 * sum(abs(cum_a::HUGEINT * n_b - cum_b::HUGEINT * n_a) * gap))
            // (max(n_a)::HUGEINT * max(n_b)) AS BIGINT) AS w1_cents
FROM scored
WHERE gap IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# p99_attribution — who drives the global tail
# ---------------------------------------------------------------------------


def p99_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL-TAIL attribution census (SURVEY §2 #273) — the on-call
    question slo_burn_rate stops short of: the p99 burned, but WHICH
    event type is the tail made of?  The global p99 of ``value``
    comes from one exact percentile_disc aggregate (element-valued,
    engine-stable) broadcast back; each event type then publishes its
    row count, its rows above the global cut, its share of the whole
    tail in bp, and its over-representation ratio vs its population
    share (tail_share/pop_share, in bp) — the number that says "5% of
    traffic, 40% of the tail".

    Scale shape: one percentile aggregate + broadcast, one map-side
    comparison, one (type) agg, one 1-row total broadcast — no
    windows, no sort of raw events anywhere.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    cut = ev.agg(
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)"
        ).alias("p99_cents")
    )
    flagged = ev.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "p99_cents",
        (F.col("cents") > F.col("p99_cents")).cast("int").alias("in_tail"),
    )
    per_type = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("in_tail").alias("n_tail"),
        F.max("p99_cents").alias("p99_cents"),
    )
    totals = per_type.agg(
        F.sum("n").alias("tot_n"), F.sum("n_tail").alias("tot_tail")
    )
    return (
        per_type.crossJoin(F.broadcast(totals))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_tail").cast("bigint").alias("n_tail"),
            F.col("p99_cents").cast("bigint").alias("p99_cents"),
            F.expr("cast((10000 * n_tail) div tot_tail as bigint)").alias(
                "tail_share_bp"
            ),
            F.expr(
                "cast(((10000 * n_tail) div tot_tail) * 10000"
                " div ((10000 * n) div tot_n) as bigint)"
            ).alias("over_rep_bp"),
        )
    )


QUERIES["p99_attribution"] = p99_attribution

ORACLES["p99_attribution"] = """
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
cut AS (SELECT quantile_disc(cents, 0.99) AS p99_cents FROM ev),
per_type AS (
  SELECT event_type, count(*) AS n,
         sum(CASE WHEN cents > (SELECT p99_cents FROM cut)
                  THEN 1 ELSE 0 END) AS n_tail
  FROM ev GROUP BY event_type
),
totals AS (SELECT sum(n) AS tot_n, sum(n_tail) AS tot_tail FROM per_type)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(n_tail AS BIGINT) AS n_tail,
       CAST((SELECT p99_cents FROM cut) AS BIGINT) AS p99_cents,
       CAST((10000 * n_tail) // tot_tail AS BIGINT) AS tail_share_bp,
       CAST(((10000 * n_tail) // tot_tail) * 10000
            // ((10000 * n) // tot_n) AS BIGINT) AS over_rep_bp
FROM per_type CROSS JOIN totals
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# heavy_change_detection — cross-period frequency-change census
# ---------------------------------------------------------------------------

# A part is a heavy changer when its |f1 - f2| exceeds 50 bp of the
# total L1 change mass (the phi threshold of the sketch literature,
# evaluated here exactly on the dim-bounded part census).
_HCD_PHI_BP = 50
_HCD_TOPK = 20


def heavy_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-CHANGE detection across adjacent periods (SURVEY §2 #284)
    — Cormode-Muthukrishnan's "what's new" question, the DELTA
    companion of countmin_heavy_hitters' single-period "what's big":
    a part can be a heavy hitter in both halves yet change little,
    or small in both yet double — ops cares about the movers.  Ship
    volume per part in 1997-H1 vs 1997-H2; change mass = |f1 - f2|;
    the top-20 movers by |delta| are published with direction, both
    periods, and an above-phi flag for the > 50 bp-of-total-change
    sketch threshold (flag, not filter: at fine part granularity no
    single part may cross phi, and a filter would go vacuous — the
    zero-row audit caught exactly that).  Computed exactly on the
    part census (what the sketch approximates one-pass at 100 TB; the
    census here is dim-bounded, so exact IS the scale answer).

    Scale shape: one map-combined two-conditional-sum agg over
    lineitem to the part census; the threshold is a 1-row aggregate
    broadcast back; the top-20 rank filters BELOW the window, so
    Spark plans the distributed WindowGroupLimit top-k over the
    dim-bounded census — nothing fact-sized ever sorts.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CASE WHEN l_shipdate >= date'1997-01-01'"
            " AND l_shipdate < date'1997-07-01' THEN 1 ELSE 0 END"
        ).alias("in1"),
        F.expr(
            "CASE WHEN l_shipdate >= date'1997-07-01'"
            " AND l_shipdate < date'1998-01-01' THEN 1 ELSE 0 END"
        ).alias("in2"),
    )
    census = (
        li.filter(F.expr("in1 = 1 OR in2 = 1"))
        .groupBy("l_partkey")
        .agg(F.sum("in1").alias("f1"), F.sum("in2").alias("f2"))
        .withColumn("delta", F.expr("abs(f1 - f2)"))
    )
    total = census.agg(F.sum("delta").alias("tot"))
    wtop = Window.orderBy(F.desc("delta"), F.asc("l_partkey"))
    return (
        census.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_HCD_TOPK}")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("bigint").alias("rank"),
            F.col("l_partkey").cast("bigint").alias("partkey"),
            F.col("f1").cast("bigint").alias("f1"),
            F.col("f2").cast("bigint").alias("f2"),
            F.col("delta").cast("bigint").alias("delta"),
            F.expr("cast((10000 * delta) div tot as bigint)").alias(
                "change_share_bp"
            ),
            F.expr(
                f"cast(CASE WHEN 10000 * delta > {_HCD_PHI_BP} * tot"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("above_phi"),
            F.expr(
                "CASE WHEN f2 > f1 THEN 'grew' ELSE 'shrank' END"
            ).alias("direction"),
        )
    )


QUERIES["heavy_change_detection"] = heavy_change_detection

ORACLES["heavy_change_detection"] = f"""
WITH census AS (
  SELECT l_partkey,
         sum(CASE WHEN l_shipdate >= DATE '1997-01-01'
                   AND l_shipdate < DATE '1997-07-01'
                  THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN l_shipdate >= DATE '1997-07-01'
                   AND l_shipdate < DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS f2
  FROM lineitem
  WHERE (l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-07-01')
     OR (l_shipdate >= DATE '1997-07-01' AND l_shipdate < DATE '1998-01-01')
  GROUP BY l_partkey
),
with_delta AS (
  SELECT *, abs(f1 - f2) AS delta FROM census
),
total AS (SELECT sum(delta) AS tot FROM with_delta),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY delta DESC, l_partkey) AS rk
  FROM with_delta
)
SELECT CAST(rk AS BIGINT) AS rank,
       CAST(l_partkey AS BIGINT) AS partkey,
       CAST(f1 AS BIGINT) AS f1,
       CAST(f2 AS BIGINT) AS f2,
       CAST(delta AS BIGINT) AS delta,
       CAST((10000 * delta) // tot AS BIGINT) AS change_share_bp,
       CAST(CASE WHEN 10000 * delta > {_HCD_PHI_BP} * tot
                 THEN 1 ELSE 0 END AS BIGINT) AS above_phi,
       CASE WHEN f2 > f1 THEN 'grew' ELSE 'shrank' END AS direction
FROM ranked CROSS JOIN total
WHERE rk <= {_HCD_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# runs_test_residuals — Wald-Wolfowitz randomness test on trend residuals
# ---------------------------------------------------------------------------


def runs_test_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ runs test on detrended daily revenue
    (SURVEY §2 #286) — the residual-DIAGNOSTIC the regression family
    was missing: grouped_regression fits the line and theil_sen_trend
    robustifies the slope, but neither asks whether what's LEFT is
    random (autocorrelated residuals make every OLS confidence claim
    a lie — the Anscombe lesson).  Per year: exact integer least
    squares on the day census, residual SIGNS via the cross-multiplied
    comparison den*(N*y_t - Sy) vs num*(N*x_t - Sx) (no division ever
    happens, so no rounding can flip a sign), runs counted by a lag
    over the day census, and the z^2 statistic in the closed rational
    form (R*N - 2PM - N)^2 * (N-1) / (2PM * (2PM - N)) published in
    milli against the 3.841 literal.

    Scale shape: the fact table collapses to the |days|-per-year
    census in one map-combined agg; the OLS moments are a second
    census-level agg broadcast back; the only window is the lag over
    the day census PARTITIONED BY YEAR (time-bounded rows — the
    acf_lags class).  Revenue is quantized to k$ so den*N*y stays
    ~1e26 << DECIMAL(38,0) even at 1e15-cents/day scale.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1995-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    daily = orders.groupBy(
        F.expr("year(o_orderdate)").alias("yr"),
        F.expr("cast(o_orderdate as date)").alias("day"),
    ).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " div 100000 as bigint)"
        ).alias("y")
    ).withColumn(
        "x", F.expr("datediff(day, date'1995-01-01')")
    )
    moments = daily.groupBy("yr").agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
    ).select(
        "yr",
        "nn",
        "sx",
        "sy",
        F.expr("nn * sxy - sx * sy").alias("num"),
        F.expr("nn * sxx - sx * sx").alias("den"),
    )
    signed = daily.join(F.broadcast(moments), "yr").select(
        "yr",
        "day",
        F.expr(
            "CASE WHEN den * (nn * cast(y as decimal(38,0)) - sy)"
            " - num * (nn * cast(x as decimal(38,0)) - sx) > 0"
            " THEN 1 ELSE 0 END"
        ).alias("sgn"),
    )
    runs = signed.withColumn(
        "chg",
        F.expr(
            "CASE WHEN lag(sgn) OVER"
            " (PARTITION BY yr ORDER BY day) IS NULL THEN 1"
            " WHEN lag(sgn) OVER (PARTITION BY yr ORDER BY day) != sgn"
            " THEN 1 ELSE 0 END"
        ),
    )
    return (
        runs.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("nn2"),
            F.sum("sgn").alias("pp"),
            F.sum(F.expr("1 - sgn")).alias("mm"),
            F.sum("chg").alias("rr"),
        )
        .select(
            F.col("yr").cast("bigint").alias("year"),
            F.col("nn2").cast("bigint").alias("n_days"),
            F.col("pp").cast("bigint").alias("n_pos"),
            F.col("mm").cast("bigint").alias("n_neg"),
            F.col("rr").cast("bigint").alias("runs"),
            F.expr(
                "cast(coalesce((1000 * (cast(rr as decimal(38,0)) * nn2"
                " - 2 * pp * mm - nn2) * (cast(rr as decimal(38,0)) * nn2"
                " - 2 * pp * mm - nn2) * (nn2 - 1))"
                " div nullif(2 * cast(pp as decimal(38,0)) * mm"
                " * (2 * cast(pp as decimal(38,0)) * mm - nn2), 0), -1)"
                " as bigint)"
            ).alias("z2_milli"),
        )
        .withColumn(
            "random_ok",
            F.expr(
                "cast(CASE WHEN z2_milli >= 0 AND z2_milli <= 3841"
                " THEN 1 ELSE 0 END as bigint)"
            ),
        )
    )


QUERIES["runs_test_residuals"] = runs_test_residuals

ORACLES["runs_test_residuals"] = """
WITH daily AS (
  SELECT year(o_orderdate) AS yr, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
              // 100000 AS y,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS x
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2, 4
),
moments AS (
  SELECT yr, count(*) AS nn, sum(x) AS sx, sum(y) AS sy,
         count(*)::HUGEINT * sum(x::HUGEINT * y) - sum(x)::HUGEINT * sum(y)
           AS num,
         count(*)::HUGEINT * sum(x::HUGEINT * x) - sum(x)::HUGEINT * sum(x)
           AS den
  FROM daily GROUP BY yr
),
signed AS (
  SELECT d.yr, d.day,
         CASE WHEN m.den * (m.nn * d.y::HUGEINT - m.sy)
                   - m.num * (m.nn * d.x::HUGEINT - m.sx) > 0
              THEN 1 ELSE 0 END AS sgn
  FROM daily d JOIN moments m USING (yr)
),
runs AS (
  SELECT yr, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY yr ORDER BY day) IS NULL
              THEN 1
              WHEN lag(sgn) OVER (PARTITION BY yr ORDER BY day) != sgn
              THEN 1 ELSE 0 END AS chg
  FROM signed
),
stats AS (
  SELECT yr, count(*) AS nn2, sum(sgn) AS pp, sum(1 - sgn) AS mm,
         sum(chg) AS rr
  FROM runs GROUP BY yr
)
SELECT CAST(yr AS BIGINT) AS year,
       CAST(nn2 AS BIGINT) AS n_days,
       CAST(pp AS BIGINT) AS n_pos,
       CAST(mm AS BIGINT) AS n_neg,
       CAST(rr AS BIGINT) AS runs,
       CAST(coalesce((1000 * (rr::HUGEINT * nn2 - 2 * pp * mm - nn2)
                      * (rr::HUGEINT * nn2 - 2 * pp * mm - nn2)
                      * (nn2 - 1))
                     // nullif(2 * pp::HUGEINT * mm
                               * (2 * pp::HUGEINT * mm - nn2), 0), -1)
            AS BIGINT) AS z2_milli,
       CAST(CASE WHEN coalesce((1000 * (rr::HUGEINT * nn2 - 2 * pp * mm
                                        - nn2)
                                * (rr::HUGEINT * nn2 - 2 * pp * mm - nn2)
                                * (nn2 - 1))
                               // nullif(2 * pp::HUGEINT * mm
                                         * (2 * pp::HUGEINT * mm - nn2), 0),
                               -1)
                 BETWEEN 0 AND 3841 THEN 1 ELSE 0 END AS BIGINT)
         AS random_ok
FROM stats ORDER BY year
"""


# ---------------------------------------------------------------------------
# mann_kendall_trend — nonparametric monotone-trend test per year
# ---------------------------------------------------------------------------


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test on daily revenue per year (SURVEY §2
    #298) — the nonparametric SIGNIFICANCE companion of
    theil_sen_trend's slope (Theil-Sen says HOW steep; Mann-Kendall
    says whether a monotone trend exists AT ALL, immune to outliers
    and any monotone transform — Mann 1945, Kendall's tau machinery):
    S = sum of sign(y_j - y_i) over day pairs i < j, the tie-corrected
    variance 18·Var = n(n-1)(2n+5) - Σ_t t(t-1)(2t+5), and the
    continuity-corrected z² = 18·(|S|-1)² / VarRaw published in milli
    against the 3.841 literal — every quantity an exact integer (k$
    quantization; |S| ≤ n² ≈ 1.3e5, squared ·18·1000 ≈ 3e14).

    Scale shape: the fact table collapses to the |days|-per-year
    census; the pair sum is a census self-join (≤365² rows per year,
    time-bounded), the tie census a second census agg — windowless.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1995-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    daily = materialize(
        orders.groupBy(
            F.expr("year(o_orderdate)").alias("yr"),
            F.expr("cast(o_orderdate as date)").alias("day"),
        ).agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100000"
            ).alias("y")
        )
    )
    other = daily.select(
        F.col("yr").alias("yr2"),
        F.col("day").alias("day2"),
        F.col("y").alias("y2"),
    )
    s_stat = (
        daily.join(
            other,
            (F.col("yr") == F.col("yr2")) & (F.col("day") < F.col("day2")),
        )
        .groupBy("yr")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN y2 > y THEN 1 WHEN y2 < y THEN -1"
                    " ELSE 0 END"
                )
            ).alias("s")
        )
    )
    nn = daily.groupBy("yr").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("yr", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("yr")
        .agg(
            F.sum(
                F.expr(
                    "cast(t as decimal(38,0)) * (t - 1) * (2 * t + 5)"
                )
            ).alias("tie_corr")
        )
    )
    return (
        s_stat.join(nn, "yr")
        .join(ties, "yr")
        .select(
            F.col("yr").cast("bigint").alias("year"),
            F.col("n").cast("bigint").alias("n_days"),
            F.col("s").cast("bigint").alias("s_stat"),
            F.expr(
                "cast(cast(n as decimal(38,0)) * (n - 1) * (2 * n + 5)"
                " - tie_corr as bigint)"
            ).alias("var18"),
            F.expr(
                "cast(coalesce((18000 * cast(abs(s) - 1 as decimal(38,0))"
                " * (abs(s) - 1)) div nullif(cast(n as decimal(38,0))"
                " * (n - 1) * (2 * n + 5) - tie_corr, 0), -1) as bigint)"
            ).alias("z2_milli"),
            F.expr(
                "CASE WHEN s > 0 THEN 'increasing'"
                " WHEN s < 0 THEN 'decreasing' ELSE 'none' END"
            ).alias("trend"),
            F.expr(
                "cast(CASE WHEN coalesce((18000 * cast(abs(s) - 1"
                " as decimal(38,0)) * (abs(s) - 1))"
                " div nullif(cast(n as decimal(38,0)) * (n - 1)"
                " * (2 * n + 5) - tie_corr, 0), -1) > 3841"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("significant"),
        )
    )


QUERIES["mann_kendall_trend"] = mann_kendall_trend

ORACLES["mann_kendall_trend"] = """
WITH daily AS MATERIALIZED (
  SELECT year(o_orderdate) AS yr, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
s_stat AS (
  SELECT a.yr,
         sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
           AS s
  FROM daily a JOIN daily b ON a.yr = b.yr AND a.day < b.day
  GROUP BY a.yr
),
nn AS (SELECT yr, count(*) AS n FROM daily GROUP BY yr),
ties AS (
  SELECT yr, sum(t::HUGEINT * (t - 1) * (2 * t + 5)) AS tie_corr
  FROM (SELECT yr, y, count(*) AS t FROM daily GROUP BY yr, y)
  GROUP BY yr
)
SELECT CAST(s.yr AS BIGINT) AS year,
       CAST(n.n AS BIGINT) AS n_days,
       CAST(s.s AS BIGINT) AS s_stat,
       CAST(n.n::HUGEINT * (n.n - 1) * (2 * n.n + 5) - t.tie_corr
            AS BIGINT) AS var18,
       CAST(coalesce((18000 * (abs(s.s) - 1)::HUGEINT * (abs(s.s) - 1))
                     // nullif(n.n::HUGEINT * (n.n - 1) * (2 * n.n + 5)
                               - t.tie_corr, 0), -1) AS BIGINT)
         AS z2_milli,
       CASE WHEN s.s > 0 THEN 'increasing'
            WHEN s.s < 0 THEN 'decreasing' ELSE 'none' END AS trend,
       CAST(CASE WHEN coalesce((18000 * (abs(s.s) - 1)::HUGEINT
                                * (abs(s.s) - 1))
                               // nullif(n.n::HUGEINT * (n.n - 1)
                                         * (2 * n.n + 5) - t.tie_corr, 0),
                               -1) > 3841
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM s_stat s JOIN nn n ON n.yr = s.yr JOIN ties t ON t.yr = s.yr
ORDER BY year
"""


# ---------------------------------------------------------------------------
# levene_variance_test — Brown-Forsythe variance-homogeneity test
# ---------------------------------------------------------------------------


def levene_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE variance-homogeneity test (SURVEY §2 #302) —
    the missing PRECONDITION check of the testing family: every
    pooled comparison (ab_test_chi2 on rates, diff_in_diff on means)
    silently assumes comparable spread across groups; Levene 1960 /
    Brown-Forsythe 1974 test exactly that, on deviations from the
    group MEDIAN (the robust variant — an exact percentile_disc
    element, engine-stable).  One-way ANOVA F on |x − med_g| across
    the 5 market segments, assembled entirely from integer moments:
    F·1000 = 1000·(N−k)·Σn_g(z̄_g − z̄)² div ((k−1)·Σ(z − z̄_g)²) with
    both quadratic forms expanded to cross-multiplied sums (the
    between form n_g(z̄_g−z̄)² folds to ΣB_g²·N/n_g − B²... kept as
    per-group integer terms with one trailing division), compared to
    the F(4, inf) = 2.372 literal.

    Scale shape: the median census is one percentile_disc agg per
    segment broadcast back; deviations are map-side; the F statistic
    folds from the 5-row moment census.  Windowless, two fact passes.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    vals = orders.join(cust, "o_custkey").select(
        "segment",
        F.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
        ).alias("x"),
    )
    med = vals.groupBy("segment").agg(
        F.expr(
            "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"
            " as bigint)"
        ).alias("med")
    )
    z = vals.join(F.broadcast(med), "segment").select(
        "segment", F.expr("abs(x - med) div 100").alias("z")
    )
    moments = materialize(
        z.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("z").alias("b_g"),
            F.sum(F.expr("cast(z as decimal(38,0)) * z")).alias("q_g"),
        )
    )
    # between = sum_g B_g^2/n_g - B^2/N ; within = sum_g (Q_g - B_g^2/n_g)
    # both scaled by N*prod-free cross multiplication via per-group div
    folded = moments.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("nn"),
        F.sum("b_g").alias("b"),
        F.sum("q_g").alias("q"),
        F.sum(
            F.expr("(cast(b_g as decimal(38,0)) * b_g) div n_g")
        ).alias("sb2n"),
    )
    return folded.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n"),
        F.expr(
            "cast((1000 * (nn - k) * (sb2n - (cast(b as decimal(38,0))"
            " * b) div nn)) div nullif((k - 1) * (q - sb2n), 0)"
            " as bigint)"
        ).alias("f_milli"),
        F.expr(
            "cast(CASE WHEN (1000 * (nn - k) * (sb2n"
            " - (cast(b as decimal(38,0)) * b) div nn))"
            " div nullif((k - 1) * (q - sb2n), 0) > 2372"
            " THEN 1 ELSE 0 END as bigint)"
        ).alias("variances_differ"),
    )


QUERIES["levene_variance_test"] = levene_variance_test

ORACLES["levene_variance_test"] = """
WITH vals AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
med AS (
  SELECT segment,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS med
  FROM vals GROUP BY segment
),
z AS (
  SELECT v.segment, abs(v.x - m.med) // 100 AS z
  FROM vals v JOIN med m USING (segment)
),
moments AS MATERIALIZED (
  SELECT segment, count(*) AS n_g, sum(z) AS b_g,
         sum(z::HUGEINT * z) AS q_g
  FROM z GROUP BY segment
),
folded AS (
  SELECT count(*) AS k, sum(n_g) AS nn, sum(b_g) AS b, sum(q_g) AS q,
         sum((b_g::HUGEINT * b_g) // n_g) AS sb2n
  FROM moments
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(nn AS BIGINT) AS n,
       CAST((1000 * (nn - k) * (sb2n - (b::HUGEINT * b) // nn))
            // nullif((k - 1) * (q - sb2n), 0) AS BIGINT) AS f_milli,
       CAST(CASE WHEN (1000 * (nn - k) * (sb2n - (b::HUGEINT * b) // nn))
                      // nullif((k - 1) * (q - sb2n), 0) > 2372
                 THEN 1 ELSE 0 END AS BIGINT) AS variances_differ
FROM folded
"""


# ---------------------------------------------------------------------------
# james_stein_shrinkage — empirical-Bayes shrinkage of group means
# ---------------------------------------------------------------------------


def james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JAMES-STEIN shrinkage of per-nation mean balances (SURVEY §2
    #313) — the estimator that famously dominates the sample mean in
    aggregate (Stein 1956; Efron-Morris 1977's baseball paper), and
    the statistical backbone of every "small segment, noisy KPI"
    dashboard fix: each nation's mean shrinks toward the grand mean
    by factor 1 - (k-3)·sigma²/S where S = Σ n_g(x̄_g - x̄)² —
    low-count groups move most.  Assembled from integer moments with
    cross-multiplied ratios (means at e2-cents precision, the shrink
    factor in bp, one trailing division per published column);
    sigma² is the pooled within-group variance in the same integer
    form.

    Scale shape: one fact agg to per-nation moments (25 rows); the
    grand moments are a census fold broadcast back.  Windowless; at
    100 TB only the first agg grows.
    """
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        F.expr(
            "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
        ).alias("x"),
    )
    g = materialize(
        cust.groupBy("nation").agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("x").alias("sx"),
            F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        )
    )
    grand = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("nn"),
        F.sum("sx").alias("stot"),
        # pooled within-group SS: sum_g (sxx_g - sx_g^2/n_g), each term
        # integer-floored
        F.sum(
            F.expr("sxx - (cast(sx as decimal(38,0)) * sx) div n_g")
        ).alias("ssw"),
        # between-group SS: sum_g n_g (x̄_g - x̄)^2 needs the grand mean;
        # assembled below from the same sums
        F.sum(
            F.expr("(cast(sx as decimal(38,0)) * sx) div n_g")
        ).alias("sb_part"),
    )
    joined = g.crossJoin(F.broadcast(grand)).select(
        "nation",
        "n_g",
        "sx",
        "k",
        "nn",
        "stot",
        # sigma2 (pooled within, per-observation): ssw div (nn - k)
        F.expr("ssw div (nn - k)").alias("sigma2"),
        # S = between SS = sb_part - stot^2/nn
        F.expr(
            "sb_part - (cast(stot as decimal(38,0)) * stot) div nn"
        ).alias("s_between"),
    )
    return joined.select(
        "nation",
        F.col("n_g").cast("bigint").alias("n"),
        F.expr("cast(sx div n_g as bigint)").alias("raw_mean_cents"),
        F.expr("cast(stot div nn as bigint)").alias("grand_mean_cents"),
        F.expr(
            "cast(least(greatest(10000 - (10000 * (k - 3) * sigma2)"
            " div nullif(s_between, 0), 0), 10000) as bigint)"
        ).alias("shrink_keep_bp"),
        F.expr(
            "cast(stot div nn + (least(greatest(10000 - (10000 * (k - 3)"
            " * sigma2) div nullif(s_between, 0), 0), 10000)"
            " * (sx div n_g - stot div nn)) div 10000 as bigint)"
        ).alias("shrunk_mean_cents"),
    )


QUERIES["james_stein_shrinkage"] = james_stein_shrinkage

_js_keep = (
    "least(greatest(10000 - (10000 * (k - 3) * sigma2)"
    " // nullif(s_between, 0), 0), 10000)"
)

ORACLES["james_stein_shrinkage"] = f"""
WITH cust AS (
  SELECT n_name AS nation,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
g AS MATERIALIZED (
  SELECT nation, count(*) AS n_g, sum(x) AS sx,
         sum(x::HUGEINT * x) AS sxx
  FROM cust GROUP BY nation
),
grand AS (
  SELECT count(*) AS k, sum(n_g) AS nn, sum(sx) AS stot,
         sum(sxx - (sx::HUGEINT * sx) // n_g) AS ssw,
         sum((sx::HUGEINT * sx) // n_g) AS sb_part
  FROM g
),
joined AS (
  SELECT nation, n_g, sx, k, nn, stot,
         ssw // (nn - k) AS sigma2,
         sb_part - (stot::HUGEINT * stot) // nn AS s_between
  FROM g CROSS JOIN grand
)
SELECT nation,
       CAST(n_g AS BIGINT) AS n,
       CAST(sx // n_g AS BIGINT) AS raw_mean_cents,
       CAST(stot // nn AS BIGINT) AS grand_mean_cents,
       CAST({_js_keep} AS BIGINT) AS shrink_keep_bp,
       CAST(stot // nn + ({_js_keep} * (sx // n_g - stot // nn)) // 10000
            AS BIGINT) AS shrunk_mean_cents
FROM joined
ORDER BY nation
"""


# ---------------------------------------------------------------------------
# empirical_bayes_rates — Beta-binomial smoothing of small-cell rates
# ---------------------------------------------------------------------------


def empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES rate smoothing (SURVEY §2 #314) — the
    beta-binomial companion of james_stein_shrinkage (normal means
    there, binomial RATES here — Robinson's baseball-averages recipe,
    the standard fix for "this 40-customer cell converts at 80%"
    leaderboard lies): fit a Beta(a, b) prior to the per-(nation)
    conversion rates by method of moments, then publish each cell's
    posterior rate (pos + a)/(n + a + b).  The prior is kept as ONE
    exact rational pair — a = m·K and b = (1-m)·K with m = pooled
    mean and K = m(1-m)/var - 1 — assembled from integer moments and
    carried as (a_num, b_num, den) so the posterior needs only
    cross-multiplied integer arithmetic; every published value is bp
    with one trailing division.

    Scale shape: one fact agg to per-customer conversion, one to the
    25-nation census; prior moments are a census fold broadcast
    back.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("c_custkey").alias("cust"), F.col("n_name").alias("nation")
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("conv")
    )
    cells = materialize(
        per_cust.join(cust, "cust")
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("pos"))
    )
    # method of moments on the cell rates, all at e8 scale:
    # m_e8 = mean of (1e8*pos div n); var from the same quantized rates
    rates = cells.select(
        "nation", "n", "pos", F.expr("(100000000 * pos) div n").alias("r_e8")
    )
    mom = rates.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("r_e8").alias("sr"),
        F.sum(F.expr("cast(r_e8 as decimal(38,0)) * r_e8")).alias("srr"),
    ).select(
        "k",
        F.expr("sr div k").alias("m_e8"),
        F.expr(
            "(srr - (cast(sr as decimal(38,0)) * sr) div k) div k"
        ).alias("v_e16"),
    ).select(
        "m_e8",
        "v_e16",
        # K = m(1-m)/var - 1, at unit scale:
        # m(1-m) is e16-scaled as m_e8*(1e8-m_e8); publish K in milli
        F.expr(
            "coalesce((1000 * (cast(m_e8 as decimal(38,0))"
            " * (100000000 - m_e8) - v_e16)) div nullif(v_e16, 0), 0)"
        ).alias("k_milli"),
    )
    # prior: a_milli = m * K (milli), b_milli = (1-m) * K (milli)
    prior = mom.select(
        "m_e8",
        "k_milli",
        F.expr(
            "(cast(m_e8 as decimal(38,0)) * k_milli) div 100000000"
        ).alias("a_milli"),
        F.expr(
            "(cast(100000000 - m_e8 as decimal(38,0)) * k_milli)"
            " div 100000000"
        ).alias("b_milli"),
    )
    return (
        cells.crossJoin(F.broadcast(prior))
        .select(
            "nation",
            F.col("n").cast("bigint").alias("n"),
            F.expr("cast((10000 * pos) div n as bigint)").alias(
                "raw_rate_bp"
            ),
            F.expr("cast((m_e8) div 10000 as bigint)").alias(
                "prior_rate_bp"
            ),
            F.col("k_milli").cast("bigint").alias("prior_strength_milli"),
            F.expr(
                "cast((10000 * (1000 * cast(pos as decimal(38,0))"
                " + a_milli)) div (1000 * cast(n as decimal(38,0))"
                " + a_milli + b_milli) as bigint)"
            ).alias("posterior_rate_bp"),
        )
    )


QUERIES["empirical_bayes_rates"] = empirical_bayes_rates

ORACLES["empirical_bayes_rates"] = """
WITH cust AS (
  SELECT c_custkey AS cust, n_name AS nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
cells AS MATERIALIZED (
  SELECT nation, count(*) AS n, sum(conv) AS pos
  FROM per_cust JOIN cust USING (cust)
  GROUP BY nation
),
rates AS (
  SELECT nation, n, pos, (100000000 * pos) // n AS r_e8 FROM cells
),
mom AS (
  SELECT sum(r_e8) // count(*) AS m_e8,
         (sum(r_e8::HUGEINT * r_e8)
          - (sum(r_e8)::HUGEINT * sum(r_e8)) // count(*)) // count(*)
           AS v_e16
  FROM rates
),
prior AS (
  SELECT m_e8,
         coalesce((1000 * (m_e8::HUGEINT * (100000000 - m_e8) - v_e16))
                  // nullif(v_e16, 0), 0) AS k_milli
  FROM mom
),
prior2 AS (
  SELECT m_e8, k_milli,
         (m_e8::HUGEINT * k_milli) // 100000000 AS a_milli,
         ((100000000 - m_e8)::HUGEINT * k_milli) // 100000000 AS b_milli
  FROM prior
)
SELECT nation,
       CAST(n AS BIGINT) AS n,
       CAST((10000 * pos) // n AS BIGINT) AS raw_rate_bp,
       CAST(m_e8 // 10000 AS BIGINT) AS prior_rate_bp,
       CAST(k_milli AS BIGINT) AS prior_strength_milli,
       CAST((10000 * (1000 * pos::HUGEINT + a_milli))
            // (1000 * n::HUGEINT + a_milli + b_milli) AS BIGINT)
         AS posterior_rate_bp
FROM cells CROSS JOIN prior2
ORDER BY nation
"""


# ---------------------------------------------------------------------------
# median_of_means — robust mean estimation census
# ---------------------------------------------------------------------------

_MOM_GROUPS = 9


def median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN-OF-MEANS robust estimator (SURVEY §2 #318) —
    Nemirovsky-Yudin's heavy-tail-safe mean, the estimator modern
    robust statistics (and bandit theory) reaches for when
    winsorized_mean's trim quantiles are themselves unstable: hash
    the population into 9 deterministic groups, take each group's
    exact mean, publish the MEDIAN of the 9 means — one adversarial
    or heavy-tail group can no longer move the estimate.  Shown per
    segment against the raw mean on order totals (a right-skewed
    column), with the group-mean spread so the reader sees WHY the
    two differ.  The median of 9 integers is an exact percentile_disc
    element; means are integer cents floors.

    Scale shape: one map-combined agg to the 5x9 (segment, group)
    cell census; the median and spread fold from 9-row groups.
    Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    vals = orders.join(
        cust, F.col("o_custkey") == F.col("cust")
    ).select(
        "segment",
        F.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
        ).alias("x"),
        (
            F.expr(X.hash64_spark("cast(o_orderkey as string) || ':mom'"))
            % _MOM_GROUPS
        ).alias("g"),
    )
    cells = materialize(
        vals.groupBy("segment", "g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")
        )
    )
    means = cells.select(
        "segment", "g", "n", "sx", F.expr("sx div n").alias("gmean")
    )
    return (
        means.groupBy("segment")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.expr("cast(sum(sx) div sum(n) as bigint)").alias(
                "raw_mean_cents"
            ),
            F.expr(
                "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY gmean)"
                " as bigint)"
            ).alias("mom_cents"),
            F.expr("cast(min(gmean) as bigint)").alias("min_group_mean"),
            F.expr("cast(max(gmean) as bigint)").alias("max_group_mean"),
        )
    )


QUERIES["median_of_means"] = median_of_means

ORACLES["median_of_means"] = f"""
WITH vals AS (
  SELECT c.c_mktsegment AS segment,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         ({X.hash64_duck("CAST(o_orderkey AS VARCHAR) || ':mom'")})
           % {_MOM_GROUPS} AS g
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
cells AS MATERIALIZED (
  SELECT segment, g, count(*) AS n, sum(x) AS sx
  FROM vals GROUP BY segment, g
),
means AS (
  SELECT segment, g, n, sx, sx // n AS gmean FROM cells
)
SELECT segment,
       CAST(sum(n) AS BIGINT) AS n,
       CAST(sum(sx) // sum(n) AS BIGINT) AS raw_mean_cents,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gmean) AS BIGINT)
         AS mom_cents,
       CAST(min(gmean) AS BIGINT) AS min_group_mean,
       CAST(max(gmean) AS BIGINT) AS max_group_mean
FROM means
GROUP BY segment ORDER BY segment
"""


# ---------------------------------------------------------------------------
# tail_dependence_lambda — empirical upper/lower tail dependence
# ---------------------------------------------------------------------------

_TDL_Q_BP = 9000  # upper-tail quantile (lower tail uses the mirror)


def tail_dependence_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL TAIL DEPENDENCE (SURVEY §2 #322) — the copula-theory
    readout (Joe 1997) that Pearson/Kendall/assortativity all miss:
    two variables can be weakly correlated overall yet ALWAYS extreme
    TOGETHER (the risk-management failure mode — \"diversification
    dies in the tail\"), and lambda_U = P(Y > q90_Y | X > q90_X)
    measures exactly that.  Per segment, X = customer spend, Y =
    order count: both tail cuts are exact percentile_disc elements
    broadcast back, the conditional probabilities exact bp counts,
    and the independence baseline (1 - q = 1000 bp) rides along so
    the reader sees the lift; the lower tail mirrors with q10.

    Scale shape: one fact agg to per-customer (X, Y); the two cuts
    are one percentile agg per segment broadcast back; tail counts
    are a second map-combined agg.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = materialize(
        orders.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as bigint)"
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
        .join(cust, "cust")
    )
    cuts = per_cust.groupBy("segment").agg(
        F.expr(
            f"cast(percentile_disc({_TDL_Q_BP / 10000}) WITHIN GROUP"
            " (ORDER BY x) as bigint)"
        ).alias("xu"),
        F.expr(
            f"cast(percentile_disc({_TDL_Q_BP / 10000}) WITHIN GROUP"
            " (ORDER BY y) as bigint)"
        ).alias("yu"),
        F.expr(
            f"cast(percentile_disc({(10000 - _TDL_Q_BP) / 10000}) WITHIN"
            " GROUP (ORDER BY x) as bigint)"
        ).alias("xl"),
        F.expr(
            f"cast(percentile_disc({(10000 - _TDL_Q_BP) / 10000}) WITHIN"
            " GROUP (ORDER BY y) as bigint)"
        ).alias("yl"),
    )
    return (
        per_cust.join(F.broadcast(cuts), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CASE WHEN x > xu THEN 1 ELSE 0 END")).alias(
                "n_x_up"
            ),
            F.sum(
                F.expr("CASE WHEN x > xu AND y > yu THEN 1 ELSE 0 END")
            ).alias("n_both_up"),
            F.sum(F.expr("CASE WHEN x <= xl THEN 1 ELSE 0 END")).alias(
                "n_x_lo"
            ),
            F.sum(
                F.expr("CASE WHEN x <= xl AND y <= yl THEN 1 ELSE 0 END")
            ).alias("n_both_lo"),
        )
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_x_up").cast("bigint").alias("n_upper_tail"),
            F.expr(
                "cast(coalesce((10000 * n_both_up) div nullif(n_x_up, 0),"
                " -1) as bigint)"
            ).alias("lambda_upper_bp"),
            F.col("n_x_lo").cast("bigint").alias("n_lower_tail"),
            F.expr(
                "cast(coalesce((10000 * n_both_lo) div nullif(n_x_lo, 0),"
                " -1) as bigint)"
            ).alias("lambda_lower_bp"),
            F.lit(10000 - _TDL_Q_BP).cast("bigint").alias(
                "independence_bp"
            ),
        )
    )


QUERIES["tail_dependence_lambda"] = tail_dependence_lambda

ORACLES["tail_dependence_lambda"] = f"""
WITH per_cust AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, o.cust, o.x, o.y
  FROM (
    SELECT o_custkey AS cust,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
             AS x,
           count(*) AS y
    FROM orders GROUP BY o_custkey
  ) o
  JOIN customer c ON c.c_custkey = o.cust
),
cuts AS (
  SELECT segment,
         CAST(percentile_disc({_TDL_Q_BP / 10000}) WITHIN GROUP
              (ORDER BY x) AS BIGINT) AS xu,
         CAST(percentile_disc({_TDL_Q_BP / 10000}) WITHIN GROUP
              (ORDER BY y) AS BIGINT) AS yu,
         CAST(percentile_disc({(10000 - _TDL_Q_BP) / 10000}) WITHIN GROUP
              (ORDER BY x) AS BIGINT) AS xl,
         CAST(percentile_disc({(10000 - _TDL_Q_BP) / 10000}) WITHIN GROUP
              (ORDER BY y) AS BIGINT) AS yl
  FROM per_cust GROUP BY segment
)
SELECT p.segment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN x > xu THEN 1 ELSE 0 END) AS BIGINT)
         AS n_upper_tail,
       CAST(coalesce((10000 * sum(CASE WHEN x > xu AND y > yu
                                       THEN 1 ELSE 0 END))
                     // nullif(sum(CASE WHEN x > xu THEN 1 ELSE 0 END), 0),
                     -1) AS BIGINT) AS lambda_upper_bp,
       CAST(sum(CASE WHEN x <= xl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lower_tail,
       CAST(coalesce((10000 * sum(CASE WHEN x <= xl AND y <= yl
                                       THEN 1 ELSE 0 END))
                     // nullif(sum(CASE WHEN x <= xl THEN 1 ELSE 0 END), 0),
                     -1) AS BIGINT) AS lambda_lower_bp,
       {10000 - _TDL_Q_BP}::BIGINT AS independence_bp
FROM per_cust p JOIN cuts USING (segment)
GROUP BY p.segment
ORDER BY p.segment
"""


# ---------------------------------------------------------------------------
# survival_rmst — exact restricted mean survival time per priority
# ---------------------------------------------------------------------------

_RMST_HORIZON = 90  # days


def survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME (SURVEY §2 #323) — the modern
    replacement for hazard ratios (Royston-Parmar 2013; regulators
    now ask for it): "how many of the next 90 days does a typical
    order spend unfulfilled", the area under the survival curve up to
    the horizon.  kaplan_meier_fulfillment reports the log-survival
    CURVE (decimal-ln terms, float at the edge); RMST here is EXACT
    INTEGER because the censoring is purely administrative (every
    order's ship time is observed; censoring happens only AT the
    horizon), so S(t) = 1 - F(t) with denominator n and the area
    telescopes to one aggregate: RMST = horizon - sum_events
    (horizon - t_e)/n — no survival product, no log, no census
    window.  Median fulfillment time rides along as an exact
    percentile_disc element of min(t, horizon).

    Scale shape: one orderkey-join (the KM key's shape), then ONE
    map-combined agg per priority.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship")
    )
    dur = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("ship", "o_orderdate").alias("t"),
    )
    return (
        dur.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr(
                    f"CASE WHEN t < {_RMST_HORIZON}"
                    f" THEN {_RMST_HORIZON} - t ELSE 0 END"
                )
            ).alias("area_lost"),
            F.sum(
                F.expr(f"CASE WHEN t >= {_RMST_HORIZON} THEN 1 ELSE 0 END")
            ).alias("n_censored"),
            F.expr(
                f"cast(percentile_disc(0.5) WITHIN GROUP"
                f" (ORDER BY least(t, {_RMST_HORIZON})) as bigint)"
            ).alias("median_days"),
        )
        .select(
            "priority",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_censored").cast("bigint").alias("n_censored"),
            F.expr(
                f"cast({1000 * _RMST_HORIZON} - (1000 * area_lost) div n"
                " as bigint)"
            ).alias("rmst_millidays"),
            F.col("median_days").cast("bigint").alias("median_days"),
        )
    )


QUERIES["survival_rmst"] = survival_rmst

ORACLES["survival_rmst"] = f"""
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
),
dur AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', CAST(o.o_orderdate AS DATE), CAST(ship AS DATE))
           AS t
  FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN t >= {_RMST_HORIZON} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_censored,
       CAST({1000 * _RMST_HORIZON}
            - (1000 * sum(CASE WHEN t < {_RMST_HORIZON}
                               THEN {_RMST_HORIZON} - t ELSE 0 END))
              // count(*) AS BIGINT) AS rmst_millidays,
       CAST(percentile_disc(0.5) WITHIN GROUP
            (ORDER BY least(t, {_RMST_HORIZON})) AS BIGINT) AS median_days
FROM dur
GROUP BY priority ORDER BY priority
"""


# ---------------------------------------------------------------------------
# bradley_terry_strength — pairwise-comparison strength ratings
# ---------------------------------------------------------------------------

_BT_ROUNDS = 3
_BT_SCALE = 1000


# SQL-semantics integral division for the driver-side iteration family
# (shared: operators/exactmath.py — truncate toward zero, NULL-safe).


def bradley_terry_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY strength ratings (SURVEY §2 #324) — the
    paired-comparison model (Bradley-Terry 1952; Zermelo 1929) behind
    every modern preference leaderboard (chess Elo's static cousin,
    the chatbot-arena rating): brands "play" each other whenever two
    of their parts share an order, the deeper discount wins, and the
    MM algorithm (Hunter 2004) turns the win matrix into strengths
    s_i = W_i / sum_j n_ij/(s_i+s_j).  Three MM rounds unrolled from
    the uniform start, every round milli-quantized and renormalized
    to mean 1000 (the HITS contract — BT strengths are
    scale-invariant, so the renorm is exact bookkeeping, not
    approximation), published with win counts so upsets are visible.

    Scale shape: the comparison table is a same-order self-join
    (fanout bounded by lines-per-order, ~7) collapsed immediately to
    the 25x25 (brand_i, brand_j) census — that collapse is the
    distributed part and the only fact-sized work.  The census is
    bounded by BRAND CARDINALITY (25), not data size, so it is
    collected once and the MM rounds run driver-side in exact Python
    integers with the same truncate-toward-zero division the oracle's
    unrolled CTEs use (``_tdiv``): zero cluster barriers per round at
    any data scale, where the previous all-DataFrame unroll paid a
    full job + shuffle per round on a 25-row state.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    # collapse duplicate (order, brand, discount) lines BEFORE the
    # self-join and weight by multiplicity — same exact pair counts,
    # far fewer join rows. The repartition("l_orderkey") BEFORE the
    # groupBy is the market_basket_pairs subset-clustering layout
    # (guide §2.4): hash(l_orderkey) co-locates every (order, brand,
    # disc) group, so the dedup aggregate plans exchange-free, the
    # checkpoint preserves hash(l_orderkey), and BOTH sides of the
    # order-key self-join below consume it with zero further
    # exchanges — 3 exchanges collapse to 1 at every scale.
    lines = materialize(
        li.join(F.broadcast(part), "l_partkey")
        .repartition("l_orderkey")
        .groupBy(
            "l_orderkey",
            "brand",
            F.expr("cast(cast(l_discount as decimal(4,2)) * 100 as int)")
            .alias("disc"),
        )
        .agg(F.count(F.lit(1)).alias("mult"))
    )
    other = lines.select(
        F.col("l_orderkey").alias("ok2"),
        F.col("brand").alias("brand2"),
        F.col("disc").alias("disc2"),
        F.col("mult").alias("mult2"),
    )
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    games = (
        lines.join(
            other,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("brand") != F.col("brand2"))
            & (F.col("disc") != F.col("disc2")),
        )
        .groupBy(
            F.col("brand").alias("bi"), F.col("brand2").alias("bj")
        )
        .agg(
            F.sum(F.expr("mult * mult2")).alias("n_ij"),
            F.sum(
                F.expr(
                    "CASE WHEN disc > disc2 THEN mult * mult2 ELSE 0 END"
                )
            ).alias("w_ij"),
        )
    )
    pairs = bounded_collect(
        games, 600, "bradley_terry_strength: ordered brand-pair census"
    )  # <= 25x24 brand pairs — dim-bounded census
    wins: dict = {}
    for r in pairs:
        wins[r["bi"]] = wins.get(r["bi"], 0) + r["w_ij"]
    k = len(wins)
    s = {b: _BT_SCALE for b in wins}
    for _ in range(_BT_ROUNDS):
        # every bi with a games row groups in the oracle's d{r} (its
        # joins against s{r} always match — NULL strengths are rows,
        # not absences), so seed every group as a NULL sum and let
        # non-NULL terms accumulate; a NULL term (NULL strength, or
        # the si+sj=0 divide-by-zero the engines publish as NULL)
        # drops from the sum without erasing the group.
        d: dict = {b: None for b in s}
        for r in pairs:
            si, sj = s.get(r["bi"]), s.get(r["bj"])
            if si is None or sj is None:  # null-sum term drop
                continue
            term = _tdiv(
                1000000 * r["n_ij"], (si + sj) if si + sj != 0 else None
            )
            if term is None:  # div-by-zero term is NULL, drops
                continue
            d[r["bi"]] = (d[r["bi"]] or 0) + term
        raw = {
            b: _tdiv(1000000000 * wins[b], d[b] if d[b] != 0 else None)
            for b in d
        }
        tot = sum(v for v in raw.values() if v is not None)
        # SQL semantics (ADVICE r9): raw[b] NULL propagates NULL, and a
        # zero normalizer divides by nullif(tot, 0) — never raises.
        s = {
            b: (
                _tdiv(_BT_SCALE * k * v, tot if tot != 0 else None)
                if v is not None
                else None
            )
            for b, v in raw.items()
        }
    out = sorted(
        ((b, int(wins[b]), s[b]) for b in s),
        key=lambda t: (t[2] is None, -(t[2] or 0), t[0]),  # desc_nulls_last
    )
    return spark.createDataFrame(
        out, schema="brand string, wins bigint, strength_milli bigint"
    )


QUERIES["bradley_terry_strength"] = bradley_terry_strength


def _bt_oracle() -> str:
    rounds = []
    prev = "s0"
    for r in range(1, _BT_ROUNDS + 1):
        rounds.append(f"""
d{r} AS MATERIALIZED (
  SELECT g.bi, sum((1000000 * g.n_ij) // (si.s + sj.s)) AS d
  FROM games g
  JOIN {prev} si ON si.brand = g.bi
  JOIN {prev} sj ON sj.brand = g.bj
  GROUP BY g.bi
),
raw{r} AS MATERIALIZED (
  SELECT d.bi AS brand,
         (1000000000 * w.w::HUGEINT) // nullif(d.d, 0) AS s_raw
  FROM d{r} d JOIN wins w ON w.bi = d.bi
),
s{r} AS MATERIALIZED (
  SELECT brand,
         ({_BT_SCALE} * (SELECT count(*) FROM raw{r}) * s_raw)
           // (SELECT sum(s_raw) FROM raw{r}) AS s
  FROM raw{r}
)""")
        prev = f"s{r}"
    body = ",".join(rounds)
    return f"""
WITH lines AS MATERIALIZED (
  SELECT l_orderkey, p.p_brand AS brand,
         CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INT) AS disc,
         count(*) AS mult
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2, 3
),
games AS MATERIALIZED (
  SELECT a.brand AS bi, b.brand AS bj,
         sum(a.mult * b.mult) AS n_ij,
         sum(CASE WHEN a.disc > b.disc THEN a.mult * b.mult
                  ELSE 0 END) AS w_ij
  FROM lines a
  JOIN lines b ON b.l_orderkey = a.l_orderkey
             AND b.brand != a.brand AND b.disc != a.disc
  GROUP BY a.brand, b.brand
),
wins AS MATERIALIZED (
  SELECT bi, sum(w_ij) AS w FROM games GROUP BY bi
),
s0 AS (SELECT bi AS brand, {_BT_SCALE}::BIGINT AS s FROM wins),{body}
SELECT s.brand,
       CAST(w.w AS BIGINT) AS wins,
       CAST(s.s AS BIGINT) AS strength_milli
FROM s{_BT_ROUNDS} s JOIN wins w ON w.bi = s.brand
ORDER BY strength_milli DESC, s.brand
"""

ORACLES["bradley_terry_strength"] = _bt_oracle()


# ---------------------------------------------------------------------------
# energy_distance_test — Székely two-sample distance between halves
# ---------------------------------------------------------------------------


def energy_distance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENERGY DISTANCE two-sample test (SURVEY §2 #333) — Székely's
    E-statistic D² = 2E|X−Y| − E|X−X'| − E|Y−Y'|, the
    characteristic-function-equivalent metric completing the drift
    family (KS sees the worst POINT, Wasserstein the transport COST,
    PSI the bucket mix; energy distance is zero IFF the distributions
    are identical and weights the whole shape): 1997-H1 vs H2 order
    totals, k$-quantized into a value census, every pairwise
    |difference| sum computed EXACTLY by the sorted-census prefix
    identity sum|vi−vj| = sum_k v_k (N_below(k) − N_above(k)) — no
    pair is ever materialized, ties contribute zero by strict
    prefix/suffix counts.  The three mean-distance terms publish in
    milli-k$ with one floor each; D² combines them.

    Scale shape: one fact agg to the merged value census (≤ a few
    hundred quantized values); the prefix identity runs cumulative
    windows over that census (value-bounded, allowlisted class); one
    final fold.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1997-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    vals = orders.select(
        F.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
            " div 100000"
        ).alias("v"),
        F.expr(
            "CASE WHEN o_orderdate < date'1997-07-01' THEN 1 ELSE 0 END"
        ).alias("in_x"),
    )
    census = materialize(
        vals.groupBy("v").agg(
            F.sum("in_x").alias("cx"),
            F.sum(F.expr("1 - in_x")).alias("cy"),
        )
    )
    w_lt = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scanned = (
        census.withColumn("cxb", F.coalesce(F.sum("cx").over(w_lt), F.lit(0)))
        .withColumn("cyb", F.coalesce(F.sum("cy").over(w_lt), F.lit(0)))
        .withColumn("nn", F.sum("cx").over(w_all))
        .withColumn("mm", F.sum("cy").over(w_all))
    )
    folded = scanned.agg(
        F.max("nn").alias("n"),
        F.max("mm").alias("m"),
        # within-X: sum_k v_k * cx_k * (CXbelow - CXabove)
        F.sum(
            F.expr(
                "cast(v as decimal(38,0)) * cx"
                " * (cxb - (nn - cxb - cx))"
            )
        ).alias("wx"),
        F.sum(
            F.expr(
                "cast(v as decimal(38,0)) * cy"
                " * (cyb - (mm - cyb - cy))"
            )
        ).alias("wy"),
        F.sum(
            F.expr(
                "cast(v as decimal(38,0)) * (cx * (cyb - (mm - cyb - cy))"
                " + cy * (cxb - (nn - cxb - cx)))"
            )
        ).alias("cross_sum"),
    )
    return folded.select(
        F.col("n").cast("bigint").alias("n_h1"),
        F.col("m").cast("bigint").alias("n_h2"),
        F.expr(
            "cast((2000 * cross_sum) div (cast(n as decimal(38,0)) * m)"
            " as bigint)"
        ).alias("two_exy_milli"),
        F.expr(
            "cast((1000 * wx) div (cast(n as decimal(38,0)) * n)"
            " as bigint)"
        ).alias("exx_milli"),
        F.expr(
            "cast((1000 * wy) div (cast(m as decimal(38,0)) * m)"
            " as bigint)"
        ).alias("eyy_milli"),
        F.expr(
            "cast((2000 * cross_sum) div (cast(n as decimal(38,0)) * m)"
            " - (1000 * wx) div (cast(n as decimal(38,0)) * n)"
            " - (1000 * wy) div (cast(m as decimal(38,0)) * m)"
            " as bigint)"
        ).alias("energy_dist_sq_milli"),
    )


QUERIES["energy_distance_test"] = energy_distance_test

ORACLES["energy_distance_test"] = """
WITH vals AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // 100000 AS v,
         CASE WHEN o_orderdate < DATE '1997-07-01' THEN 1 ELSE 0 END
           AS in_x
  FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
),
census AS MATERIALIZED (
  SELECT v, sum(in_x) AS cx, sum(1 - in_x) AS cy
  FROM vals GROUP BY v
),
scanned AS (
  SELECT v, cx, cy,
         coalesce(sum(cx) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS cxb,
         coalesce(sum(cy) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS cyb,
         sum(cx) OVER () AS nn, sum(cy) OVER () AS mm
  FROM census
),
folded AS (
  SELECT max(nn) AS n, max(mm) AS m,
         sum(v::HUGEINT * cx * (cxb - (nn - cxb - cx))) AS wx,
         sum(v::HUGEINT * cy * (cyb - (mm - cyb - cy))) AS wy,
         sum(v::HUGEINT * (cx * (cyb - (mm - cyb - cy))
                           + cy * (cxb - (nn - cxb - cx)))) AS cross_sum
  FROM scanned
)
SELECT CAST(n AS BIGINT) AS n_h1,
       CAST(m AS BIGINT) AS n_h2,
       CAST((2000 * cross_sum) // (n::HUGEINT * m) AS BIGINT)
         AS two_exy_milli,
       CAST((1000 * wx) // (n::HUGEINT * n) AS BIGINT) AS exx_milli,
       CAST((1000 * wy) // (m::HUGEINT * m) AS BIGINT) AS eyy_milli,
       CAST((2000 * cross_sum) // (n::HUGEINT * m)
            - (1000 * wx) // (n::HUGEINT * n)
            - (1000 * wy) // (m::HUGEINT * m) AS BIGINT)
         AS energy_dist_sq_milli
FROM folded
"""


# ---------------------------------------------------------------------------
# german_tank_estimate — serial-number population estimation
# ---------------------------------------------------------------------------

_GT_WEEK = "date'1997-03-03'"  # one observation week


def german_tank_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GERMAN TANK population estimate (SURVEY §2 #336) — the
    serial-number MVUE N-hat = m + m/k - 1 (Goodman 1952; the WWII
    tank-production estimate that beat intelligence reports), the
    finite-population question none of the sketch keys ask: the
    sketches estimate DISTINCTS SEEN, this estimates the UNSEEN
    total from serial structure alone.  Sample = order keys observed
    in one week, per segment; since the true key-space maximum is in
    the data, the estimator's error is directly visible — the rare
    operator that ships WITH its own ground truth.  Exact integers:
    m = max observed key, k = count, N-hat = m + (m - k) div k (the
    integer form), error in bp against the true max.

    Scale shape: one filtered fact agg per segment (max + count —
    map-combined), one broadcast of the 1-row true maximum.
    Windowless; the week filter is a pushed scan predicate.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    week = orders.filter(
        F.expr(
            f"o_orderdate >= {_GT_WEEK}"
            f" AND o_orderdate < {_GT_WEEK} + interval 7 days"
        )
    )
    sample = (
        week.join(cust, F.col("o_custkey") == F.col("cust"))
        .groupBy("segment")
        .agg(
            F.max("o_orderkey").alias("m"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    truth = orders.agg(F.max("o_orderkey").alias("true_max"))
    return (
        sample.crossJoin(F.broadcast(truth))
        .select(
            "segment",
            F.col("k").cast("bigint").alias("n_observed"),
            F.col("m").cast("bigint").alias("max_observed"),
            F.expr("cast(m + (m - k) div k as bigint)").alias(
                "estimated_max"
            ),
            F.col("true_max").cast("bigint").alias("true_max"),
            F.expr(
                "cast((10000 * abs(m + (m - k) div k - true_max))"
                " div true_max as bigint)"
            ).alias("abs_error_bp"),
        )
    )


QUERIES["german_tank_estimate"] = german_tank_estimate

ORACLES["german_tank_estimate"] = """
WITH week AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderdate >= DATE '1997-03-03'
    AND o_orderdate < DATE '1997-03-03' + INTERVAL 7 DAY
),
sample AS (
  SELECT c.c_mktsegment AS segment,
         max(o_orderkey) AS m, count(*) AS k
  FROM week w JOIN customer c ON c.c_custkey = w.o_custkey
  GROUP BY 1
),
truth AS (SELECT max(o_orderkey) AS true_max FROM orders)
SELECT segment,
       CAST(k AS BIGINT) AS n_observed,
       CAST(m AS BIGINT) AS max_observed,
       CAST(m + (m - k) // k AS BIGINT) AS estimated_max,
       CAST(true_max AS BIGINT) AS true_max,
       CAST((10000 * abs(m + (m - k) // k - true_max)) // true_max
            AS BIGINT) AS abs_error_bp
FROM sample CROSS JOIN truth
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# chao1_richness — unseen-vocabulary estimation per source
# ---------------------------------------------------------------------------


def chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 RICHNESS + GOOD-TURING coverage (SURVEY §2 #337) — the
    unseen-species estimators (Chao 1984; Good 1953, of Bletchley
    fame) that turn a token frequency census into "how much
    vocabulary have we NOT seen yet": vocab_coverage counts what a
    fixed vocabulary captures, this estimates the total S-hat = S +
    f1^2/(2 f2) from singleton/doubleton counts alone, and
    Good-Turing C = 1 - f1/n says what fraction of the next sample
    will be already-seen tokens — the curve every "is more crawling
    worth it" decision reads.  german_tank_estimate does unseen-total
    for SERIALS; this does it for SPECIES.  Exact integers end to
    end (f1^2 div (2 f2) with a +f1(f1-1)/2 fallback when f2 = 0 —
    the standard bias-corrected form).

    Scale shape: token explode -> per-(source, token) counts -> the
    frequency-of-frequencies census (tiny); estimators are per-source
    folds.  The vocab census is the only shuffle.
    """

    docs = _t(spark, sf_dir, "documents").select(
        "source", F.expr(tokens_spark("text")).alias("toks")
    )
    tf = (
        docs.select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END")).alias("f1"),
        F.sum(F.expr("CASE WHEN c = 2 THEN 1 ELSE 0 END")).alias("f2"),
    )
    return fof.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("s_obs").cast("bigint").alias("distinct_observed"),
        F.col("f1").cast("bigint").alias("singletons"),
        F.col("f2").cast("bigint").alias("doubletons"),
        F.expr(
            "cast(s_obs + CASE WHEN f2 > 0 THEN (cast(f1 as decimal(38,0))"
            " * f1) div (2 * f2) ELSE (cast(f1 as decimal(38,0))"
            " * (f1 - 1)) div 2 END as bigint)"
        ).alias("chao1_estimate"),
        F.expr(
            "cast(10000 - (10000 * f1) div n_tokens as bigint)"
        ).alias("good_turing_coverage_bp"),
    )


QUERIES["chao1_richness"] = chao1_richness

ORACLES["chao1_richness"] = f"""
WITH tf AS (
  SELECT source, tok, count(*) AS c
  FROM (
    SELECT source, unnest({X.tokens_duck('text')}) AS tok FROM documents
  )
  GROUP BY source, tok
),
fof AS (
  SELECT source, count(*) AS s_obs, sum(c) AS n_tokens,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM tf GROUP BY source
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(s_obs AS BIGINT) AS distinct_observed,
       CAST(f1 AS BIGINT) AS singletons,
       CAST(f2 AS BIGINT) AS doubletons,
       CAST(s_obs + CASE WHEN f2 > 0
                         THEN (f1::HUGEINT * f1) // (2 * f2)
                         ELSE (f1::HUGEINT * (f1 - 1)) // 2 END
            AS BIGINT) AS chao1_estimate,
       CAST(10000 - (10000 * f1) // n_tokens AS BIGINT)
         AS good_turing_coverage_bp
FROM fof ORDER BY source
"""


# ---------------------------------------------------------------------------
# running_records_test — record counts vs the harmonic expectation
# ---------------------------------------------------------------------------


def running_records_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING-RECORDS trend test (SURVEY §2 #338) — records theory
    (Rényi 1962; Foster-Stuart 1954's distribution-free trend test):
    in an iid series the k-th observation is a new running maximum
    with probability exactly 1/k, so the expected record count is the
    harmonic number H_n REGARDLESS of the distribution — no
    quantization, no variance estimate, no distributional assumption
    for the null.  Observed record counts in the daily-revenue series
    per year against H_n (milli, per-term floored identically), for
    maxima AND minima: records_hi >> H_n with records_lo ~ H_n is an
    upward trend, both elevated is widening spread — a different
    lens than mann_kendall's pair signs.

    Scale shape: the day census; records detected by comparing each
    day to the PARTITIONED running extreme (cumulative window per
    year over the census); H_n a per-year fold over day ranks.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1995-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    daily = materialize(
        orders.groupBy(
            F.expr("year(o_orderdate)").alias("yr"),
            F.expr("cast(o_orderdate as date)").alias("day"),
        ).agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100 as cents"
            ).alias("y")
        )
    )
    w_prev = (
        Window.partitionBy("yr")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrk = Window.partitionBy("yr").orderBy("day")
    flagged = daily.select(
        "yr",
        F.row_number().over(wrk).alias("k"),
        F.expr(
            "CASE WHEN y > coalesce(max(y) OVER (PARTITION BY yr"
            " ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " 1 PRECEDING), cast(-1 as decimal(38,0))) THEN 1 ELSE 0 END"
        ).alias("rec_hi"),
        F.expr(
            "CASE WHEN y < coalesce(min(y) OVER (PARTITION BY yr"
            " ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " 1 PRECEDING), cast(999999999999999999 as decimal(38,0)))"
            " THEN 1 ELSE 0 END"
        ).alias("rec_lo"),
    )
    return (
        flagged.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("rec_hi").alias("records_hi"),
            F.sum("rec_lo").alias("records_lo"),
            F.sum(F.expr("1000 div k")).alias("h_n_milli"),
        )
        .select(
            F.col("yr").cast("bigint").alias("year"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("records_hi").cast("bigint").alias("records_hi"),
            F.col("records_lo").cast("bigint").alias("records_lo"),
            F.col("h_n_milli").cast("bigint").alias("expected_milli"),
            F.expr(
                "cast((1000 * records_hi * 1000) div h_n_milli as bigint)"
            ).alias("hi_vs_expected_milli"),
        )
    )


QUERIES["running_records_test"] = running_records_test

ORACLES["running_records_test"] = """
WITH daily AS MATERIALIZED (
  SELECT year(o_orderdate) AS yr, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100 AS y
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
flagged AS (
  SELECT yr,
         row_number() OVER w2 AS k,
         CASE WHEN y > coalesce(max(y) OVER w, -1::HUGEINT)
              THEN 1 ELSE 0 END AS rec_hi,
         CASE WHEN y < coalesce(min(y) OVER w, 999999999999999999::HUGEINT)
              THEN 1 ELSE 0 END AS rec_lo
  FROM daily
  WINDOW w AS (PARTITION BY yr ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         w2 AS (PARTITION BY yr ORDER BY day)
)
SELECT CAST(yr AS BIGINT) AS year,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(rec_hi) AS BIGINT) AS records_hi,
       CAST(sum(rec_lo) AS BIGINT) AS records_lo,
       CAST(sum(1000 // k) AS BIGINT) AS expected_milli,
       CAST((1000 * sum(rec_hi) * 1000) // sum(1000 // k) AS BIGINT)
         AS hi_vs_expected_milli
FROM flagged
GROUP BY yr ORDER BY year
"""


# ---------------------------------------------------------------------------
# hotelling_t2_test — multivariate two-sample test (2x2 exact inverse)
# ---------------------------------------------------------------------------

_HT2_CRIT_MILLI = 5991  # chi-square(2df) 95% critical, milli


def hotelling_t2_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOTELLING T-SQUARED two-sample test (SURVEY §2 #341) — the
    multivariate mean comparison (Hotelling 1931) every univariate
    test in the catalog cannot do: spend and order count can EACH
    look unchanged between halves while their joint mean moves along
    the correlation axis — T² = n·d'S⁻¹d sees it because the pooled
    covariance WHITENS before measuring.  With exactly two metrics
    the 2×2 inverse is closed-form rational (swap diagonal, negate
    off-diagonal, divide by the determinant), so the statistic
    assembles entirely from integer moments: T²·det published against
    det·critical — the comparison never divides at all; the milli T²
    divides once at the output edge.

    Scale shape: one per-customer agg, one 2-group moment fold, a
    1-row projection.  Windowless; k$ quantization documents the
    DECIMAL(38,0) budget.
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " as bigint) div 100000"
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
        F.max(
            F.expr("o_orderdate >= date'1997-07-01'").cast("int")
        ).alias("grp"),
    )
    mom = materialize(
        per_cust.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
            F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
            F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        )
    )
    a = mom.filter("grp = 1").select(
        *[F.col(c).alias(f"{c}1") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")]
    )
    b = mom.filter("grp = 0").select(
        *[F.col(c).alias(f"{c}0") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")]
    )
    # pooled SSCP entries (x1e0 scale): Sxx = sum over groups of
    # (sxx - sx^2/n); means at e3 to keep the d vector integral
    j = a.crossJoin(F.broadcast(b)).select(
        "n1",
        "n0",
        F.expr(
            "(sxx1 - (cast(sx1 as decimal(38,0)) * sx1) div n1)"
            " + (sxx0 - (cast(sx0 as decimal(38,0)) * sx0) div n0)"
        ).alias("wxx"),
        F.expr(
            "(syy1 - (cast(sy1 as decimal(38,0)) * sy1) div n1)"
            " + (syy0 - (cast(sy0 as decimal(38,0)) * sy0) div n0)"
        ).alias("wyy"),
        F.expr(
            "(sxy1 - (cast(sx1 as decimal(38,0)) * sy1) div n1)"
            " + (sxy0 - (cast(sx0 as decimal(38,0)) * sy0) div n0)"
        ).alias("wxy"),
        F.expr(
            "(1000 * cast(sx1 as decimal(38,0))) div n1"
            " - (1000 * cast(sx0 as decimal(38,0))) div n0"
        ).alias("dx_milli"),
        F.expr(
            "(1000 * cast(sy1 as decimal(38,0))) div n1"
            " - (1000 * cast(sy0 as decimal(38,0))) div n0"
        ).alias("dy_milli"),
    )
    # T2 = h * d' S^-1 d with S = W/(n-2), h = n1*n0/(n1+n0):
    # T2 = h*(n-2) * (dx^2*wyy - 2 dx dy wxy + dy^2*wxx) / det(W)
    return j.select(
        F.col("n1").cast("bigint").alias("n_h2"),
        F.col("n0").cast("bigint").alias("n_h1"),
        F.col("dx_milli").cast("bigint").alias("dx_milli_k"),
        F.col("dy_milli").cast("bigint").alias("dy_milli_orders"),
        F.expr(
            "cast((cast(n1 as decimal(38,0)) * n0 * (n1 + n0 - 2)"
            " * (dx_milli * dx_milli * wyy"
            " - 2 * dx_milli * dy_milli * wxy"
            " + dy_milli * dy_milli * wxx))"
            " div ((cast(n1 as decimal(38,0)) + n0) * 1000"
            " * nullif(wxx * wyy - wxy * wxy, 0)) as bigint)"
        ).alias("t2_milli"),
        F.expr(
            "cast(CASE WHEN (cast(n1 as decimal(38,0)) * n0"
            " * (n1 + n0 - 2) * (dx_milli * dx_milli * wyy"
            " - 2 * dx_milli * dy_milli * wxy"
            " + dy_milli * dy_milli * wxx))"
            " div ((cast(n1 as decimal(38,0)) + n0) * 1000"
            f" * nullif(wxx * wyy - wxy * wxy, 0)) > {_HT2_CRIT_MILLI}"
            " THEN 1 ELSE 0 END as bigint)"
        ).alias("means_differ"),
    )


QUERIES["hotelling_t2_test"] = hotelling_t2_test

_ht2_stat = (
    "(n1::HUGEINT * n0 * (n1 + n0 - 2)"
    " * (dx_milli * dx_milli * wyy - 2 * dx_milli * dy_milli * wxy"
    " + dy_milli * dy_milli * wxx))"
    " // ((n1::HUGEINT + n0) * 1000 * nullif(wxx * wyy - wxy * wxy, 0))"
)

ORACLES["hotelling_t2_test"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           // 100000 AS x,
         count(*) AS y,
         max(CASE WHEN o_orderdate >= DATE '1997-07-01'
                  THEN 1 ELSE 0 END) AS grp
  FROM orders GROUP BY o_custkey
),
mom AS MATERIALIZED (
  SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM per_cust GROUP BY grp
),
j AS (
  SELECT a.n AS n1, b.n AS n0,
         (a.sxx - (a.sx::HUGEINT * a.sx) // a.n)
           + (b.sxx - (b.sx::HUGEINT * b.sx) // b.n) AS wxx,
         (a.syy - (a.sy::HUGEINT * a.sy) // a.n)
           + (b.syy - (b.sy::HUGEINT * b.sy) // b.n) AS wyy,
         (a.sxy - (a.sx::HUGEINT * a.sy) // a.n)
           + (b.sxy - (b.sx::HUGEINT * b.sy) // b.n) AS wxy,
         (1000 * a.sx::HUGEINT) // a.n - (1000 * b.sx::HUGEINT) // b.n
           AS dx_milli,
         (1000 * a.sy::HUGEINT) // a.n - (1000 * b.sy::HUGEINT) // b.n
           AS dy_milli
  FROM (SELECT * FROM mom WHERE grp = 1) a
  CROSS JOIN (SELECT * FROM mom WHERE grp = 0) b
)
SELECT CAST(n1 AS BIGINT) AS n_h2,
       CAST(n0 AS BIGINT) AS n_h1,
       CAST(dx_milli AS BIGINT) AS dx_milli_k,
       CAST(dy_milli AS BIGINT) AS dy_milli_orders,
       CAST({_ht2_stat} AS BIGINT) AS t2_milli,
       CAST(CASE WHEN {_ht2_stat} > {_HT2_CRIT_MILLI} THEN 1 ELSE 0 END
            AS BIGINT) AS means_differ
FROM j
"""


# ---------------------------------------------------------------------------
# mahalanobis_outlier_census — whitened-distance multivariate outliers
# ---------------------------------------------------------------------------

_MAH_TOPK = 15


def mahalanobis_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAHALANOBIS outlier census (SURVEY §2 #342) — the multivariate
    companion of outlier_mad's univariate fences, sharing
    hotelling_t2's exact 2x2 whitening: a customer with unremarkable
    spend AND unremarkable order count can still be wildly anomalous
    in the JOINT space (high spend with few orders), and d² =
    v'S⁻¹v is the distance that sees it.  The covariance inverse is
    the closed-form 2×2 rational; d²·det stays integer per customer
    (means at milli, no per-row division), and only the published
    top-15 divide once by det.  Flag = d² above the chi2(2df) 99%
    literal (9210 milli).

    Scale shape: one fact agg to per-customer (x, y); ONE moment fold
    broadcast back; per-row d²·det is a map-side projection; the
    top-k election is a WindowGroupLimit rank.  No census bigger than
    the moment row.
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " as bigint) div 100000"
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    mom = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
    ).select(
        "n",
        "sx",
        "sy",
        # covariance entries at milli² scale (x1e6), means at milli
        F.expr(
            "(1000000 * (n * sxx - cast(sx as decimal(38,0)) * sx))"
            " div (cast(n as decimal(38,0)) * n)"
        ).alias("cxx"),
        F.expr(
            "(1000000 * (n * syy - cast(sy as decimal(38,0)) * sy))"
            " div (cast(n as decimal(38,0)) * n)"
        ).alias("cyy"),
        F.expr(
            "(1000000 * (n * sxy - cast(sx as decimal(38,0)) * sy))"
            " div (cast(n as decimal(38,0)) * n)"
        ).alias("cxy"),
        F.expr("(1000 * cast(sx as decimal(38,0))) div n").alias("mx"),
        F.expr("(1000 * cast(sy as decimal(38,0))) div n").alias("my"),
    )
    scored = per_cust.crossJoin(F.broadcast(mom)).select(
        "cust",
        "x",
        "y",
        # d2 * det * 1e6: (vx^2*cyy - 2 vx vy cxy + vy^2*cxx) with
        # vx = 1000x - mx (milli units)
        F.expr(
            "cast(1000 * x - mx as decimal(38,0))"
            " * (1000 * x - mx) * cyy"
            " - 2 * cast(1000 * x - mx as decimal(38,0))"
            " * (1000 * y - my) * cxy"
            " + cast(1000 * y - my as decimal(38,0))"
            " * (1000 * y - my) * cxx"
        ).alias("num"),
        F.expr(
            "cast(cxx as decimal(38,0)) * cyy"
            " - cast(cxy as decimal(38,0)) * cxy"
        ).alias("det"),
    )
    wtop = Window.orderBy(F.desc("num"), F.asc("cust"))
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_MAH_TOPK}")
        .select(
            F.col("rk").cast("bigint").alias("rank"),
            F.col("cust").cast("bigint").alias("custkey"),
            F.col("x").cast("bigint").alias("spend_k"),
            F.col("y").cast("bigint").alias("n_orders"),
            F.expr(
                "cast((1000000 * num) div nullif(det, 0) div 1000000"
                " as bigint)"
            ).alias("d2_milli"),
            F.expr(
                "cast(CASE WHEN (1000000 * num) div nullif(det, 0)"
                " div 1000000 > 9210 THEN 1 ELSE 0 END as bigint)"
            ).alias("beyond_chi2_99"),
        )
    )


QUERIES["mahalanobis_outlier_census"] = mahalanobis_outlier_census

ORACLES["mahalanobis_outlier_census"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           // 100000 AS x,
         count(*) AS y
  FROM orders GROUP BY o_custkey
),
mom AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM per_cust
),
prior AS MATERIALIZED (
  SELECT n,
         (1000000 * (n * sxx - sx::HUGEINT * sx)) // (n::HUGEINT * n)
           AS cxx,
         (1000000 * (n * syy - sy::HUGEINT * sy)) // (n::HUGEINT * n)
           AS cyy,
         (1000000 * (n * sxy - sx::HUGEINT * sy)) // (n::HUGEINT * n)
           AS cxy,
         (1000 * sx::HUGEINT) // n AS mx,
         (1000 * sy::HUGEINT) // n AS my
  FROM mom
),
scored AS MATERIALIZED (
  SELECT cust, x, y,
         (1000 * x - mx)::HUGEINT * (1000 * x - mx) * cyy
           - 2 * (1000 * x - mx)::HUGEINT * (1000 * y - my) * cxy
           + (1000 * y - my)::HUGEINT * (1000 * y - my) * cxx AS num,
         cxx::HUGEINT * cyy - cxy::HUGEINT * cxy AS det
  FROM per_cust CROSS JOIN prior
)
SELECT CAST(row_number() OVER (ORDER BY num DESC, cust) AS BIGINT) AS rank,
       CAST(cust AS BIGINT) AS custkey,
       CAST(x AS BIGINT) AS spend_k,
       CAST(y AS BIGINT) AS n_orders,
       CAST((1000000 * num) // nullif(det, 0) // 1000000 AS BIGINT)
         AS d2_milli,
       CAST(CASE WHEN (1000000 * num) // nullif(det, 0) // 1000000 > 9210
                 THEN 1 ELSE 0 END AS BIGINT) AS beyond_chi2_99
FROM scored
QUALIFY rank <= {_MAH_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# mcnemar_test — paired proportions on the SAME customers
# ---------------------------------------------------------------------------


def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR paired test (SURVEY §2 #343) — the repeated-measures
    gap in the testing family: every current test compares
    INDEPENDENT groups, but "did activity change from 1996 to 1997"
    must pair each customer with THEMSELVES (independent-samples chi2
    wastes the pairing and loses power; worse, it's biased when the
    population mix shifts).  McNemar 1947 uses only the DISCORDANT
    cells: chi2 = (|b - c| - 1)^2 / (b + c) (continuity-corrected),
    where b = active-then-idle and c = idle-then-active — exact
    integers end to end, per segment, against the 3.841 literal.

    Scale shape: one fact agg to per-customer (active96, active97),
    one census agg to the 5x4 contingency cells.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr(
                "o_orderdate >= date'1996-01-01'"
                " AND o_orderdate < date'1997-01-01'"
            ).cast("int")
        ).alias("a96"),
        F.max(
            F.expr(
                "o_orderdate >= date'1997-01-01'"
                " AND o_orderdate < date'1998-01-01'"
            ).cast("int")
        ).alias("a97"),
    )
    cells = per_cust.join(cust, "cust").groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CASE WHEN a96 = 1 AND a97 = 0 THEN 1 ELSE 0 END"))
        .alias("b"),
        F.sum(F.expr("CASE WHEN a96 = 0 AND a97 = 1 THEN 1 ELSE 0 END"))
        .alias("c"),
    )
    return cells.select(
        "segment",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("b").cast("bigint").alias("became_idle"),
        F.col("c").cast("bigint").alias("became_active"),
        F.expr(
            "cast(coalesce((1000 * (abs(b - c) - 1)"
            " * cast(abs(b - c) - 1 as decimal(38,0)))"
            " div nullif(b + c, 0), -1) as bigint)"
        ).alias("chi2_milli"),
        F.expr(
            "cast(CASE WHEN coalesce((1000 * (abs(b - c) - 1)"
            " * cast(abs(b - c) - 1 as decimal(38,0)))"
            " div nullif(b + c, 0), -1) > 3841 THEN 1 ELSE 0 END"
            " as bigint)"
        ).alias("rates_changed"),
    )


QUERIES["mcnemar_test"] = mcnemar_test

_mcn_chi = (
    "coalesce((1000 * (abs(b - c) - 1) * (abs(b - c) - 1)::HUGEINT)"
    " // nullif(b + c, 0), -1)"
)

ORACLES["mcnemar_test"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1996-01-01'
                   AND o_orderdate < DATE '1997-01-01'
                  THEN 1 ELSE 0 END) AS a96,
         max(CASE WHEN o_orderdate >= DATE '1997-01-01'
                   AND o_orderdate < DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS a97
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT c.c_mktsegment AS segment, count(*) AS n,
         sum(CASE WHEN a96 = 1 AND a97 = 0 THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN a96 = 0 AND a97 = 1 THEN 1 ELSE 0 END) AS c
  FROM per_cust p JOIN customer c ON c.c_custkey = p.cust
  GROUP BY 1
)
SELECT segment,
       CAST(n AS BIGINT) AS n_customers,
       CAST(b AS BIGINT) AS became_idle,
       CAST(c AS BIGINT) AS became_active,
       CAST({_mcn_chi} AS BIGINT) AS chi2_milli,
       CAST(CASE WHEN {_mcn_chi} > 3841 THEN 1 ELSE 0 END AS BIGINT)
         AS rates_changed
FROM cells ORDER BY segment
"""


# ---------------------------------------------------------------------------
# cochran_q_test — k-treatment repeated-measures test
# ---------------------------------------------------------------------------


def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q test (SURVEY §2 #344) — McNemar's k-treatment
    generalization (Cochran 1950): are the SAME customers' activity
    rates equal across 1995/1996/1997?  Binary repeated measures
    where one-way ANOVA is wrong and k separate McNemars inflate
    alpha (the bh_fdr lesson).  Q = (k-1)[k*sum C_j^2 - (sum C_j)^2]
    / (k*sum R_i - sum R_i^2) with C_j = per-year actives and R_i =
    each customer's active-year count — the denominator folds from
    the tiny R in {{0..3}} census, so everything is one exact
    integer expression per segment against the chi2(2df) 5.991
    literal.

    Scale shape: one fact agg to per-customer year flags, one census
    agg per segment (C_j sums + R moments in the same pass).
    Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        *[
            F.max(
                F.expr(
                    f"o_orderdate >= date'{y}-01-01'"
                    f" AND o_orderdate < date'{y + 1}-01-01'"
                ).cast("int")
            ).alias(f"a{y}")
            for y in (1995, 1996, 1997)
        ]
    )
    cells = per_cust.join(cust, "cust").groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a1995").alias("c1"),
        F.sum("a1996").alias("c2"),
        F.sum("a1997").alias("c3"),
        F.sum(F.expr("a1995 + a1996 + a1997")).alias("sr"),
        F.sum(
            F.expr(
                "(a1995 + a1996 + a1997) * (a1995 + a1996 + a1997)"
            )
        ).alias("sr2"),
    )
    q = (
        "(2000 * (3 * (cast(c1 as decimal(38,0)) * c1"
        " + cast(c2 as decimal(38,0)) * c2"
        " + cast(c3 as decimal(38,0)) * c3)"
        " - cast(sr as decimal(38,0)) * sr))"
        " div nullif(3 * cast(sr as decimal(38,0)) - sr2, 0)"
    )
    return cells.select(
        "segment",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("c1").cast("bigint").alias("active_1995"),
        F.col("c2").cast("bigint").alias("active_1996"),
        F.col("c3").cast("bigint").alias("active_1997"),
        F.expr(f"cast(coalesce({q}, -1) as bigint)").alias("q_milli"),
        F.expr(
            f"cast(CASE WHEN coalesce({q}, -1) > 5991 THEN 1 ELSE 0 END"
            " as bigint)"
        ).alias("rates_differ"),
    )


QUERIES["cochran_q_test"] = cochran_q_test

_coq_q = (
    "(2000 * (3 * (c1::HUGEINT * c1 + c2::HUGEINT * c2 + c3::HUGEINT * c3)"
    " - sr::HUGEINT * sr)) // nullif(3 * sr::HUGEINT - sr2, 0)"
)

ORACLES["cochran_q_test"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1995-01-01'
                   AND o_orderdate < DATE '1996-01-01'
                  THEN 1 ELSE 0 END) AS a1995,
         max(CASE WHEN o_orderdate >= DATE '1996-01-01'
                   AND o_orderdate < DATE '1997-01-01'
                  THEN 1 ELSE 0 END) AS a1996,
         max(CASE WHEN o_orderdate >= DATE '1997-01-01'
                   AND o_orderdate < DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS a1997
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT c.c_mktsegment AS segment, count(*) AS n,
         sum(a1995) AS c1, sum(a1996) AS c2, sum(a1997) AS c3,
         sum(a1995 + a1996 + a1997) AS sr,
         sum((a1995 + a1996 + a1997) * (a1995 + a1996 + a1997)) AS sr2
  FROM per_cust p JOIN customer c ON c.c_custkey = p.cust
  GROUP BY 1
)
SELECT segment,
       CAST(n AS BIGINT) AS n_customers,
       CAST(c1 AS BIGINT) AS active_1995,
       CAST(c2 AS BIGINT) AS active_1996,
       CAST(c3 AS BIGINT) AS active_1997,
       CAST(coalesce({_coq_q}, -1) AS BIGINT) AS q_milli,
       CAST(CASE WHEN coalesce({_coq_q}, -1) > 5991 THEN 1 ELSE 0 END
            AS BIGINT) AS rates_differ
FROM cells ORDER BY segment
"""


# ---------------------------------------------------------------------------
# friedman_test — rank-based repeated measures over blocks
# ---------------------------------------------------------------------------


def _yearly_nation_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input for the Friedman/Page pair: per (nation, year)
    revenue, ranked WITHIN each nation block across the 3 years
    (deterministic tiebreak by year; revenue ties are integer-cents
    exact and practically absent)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1995-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_nationkey").alias("nk")
    )
    yearly = (
        orders.join(cust, F.col("o_custkey") == F.col("cust"))
        .groupBy("nk", F.expr("year(o_orderdate)").alias("yr"))
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) as cents"
            ).alias("rev")
        )
    )
    w = Window.partitionBy("nk").orderBy("rev", "yr")
    return yearly.withColumn("r", F.row_number().over(w))


def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN TEST (SURVEY §2 #345) — the rank-based
    repeated-measures omnibus (Friedman 1937), cochran_q's continuous
    sibling: are the THREE years' revenues drawn from the same
    distribution when each NATION serves as its own block?  One-way
    ANOVA across years would let the Kenya-vs-Germany scale dwarf the
    year effect; ranking WITHIN blocks removes scale entirely.
    chi2_F = 12 sum R_j^2 / (n k (k+1)) - 3 n (k+1), exact integers
    (column rank sums over the 25x3 rank census) in milli against
    the chi2(2df) 5.991 literal.

    Scale shape: one fact agg to the 75-row (nation, year) census;
    within-block ranks are windows PARTITIONED by nation over it; the
    statistic is one fold.
    """
    ranked = _yearly_nation_ranks(spark, sf_dir)
    cols = ranked.groupBy("yr").agg(F.sum("r").alias("rj"))
    folded = cols.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.expr("cast(rj as decimal(38,0)) * rj")).alias("srj2"),
        F.expr("cast(sum(rj) as decimal(38,0))").alias("tot"),
    )
    n = ranked.select("nk").distinct().count()
    q = (
        f"(12000 * srj2) div ({n} * k * (k + 1))"
        f" - 3000 * {n} * (k + 1)"
    )
    return folded.select(
        F.lit(n).cast("bigint").alias("n_blocks"),
        F.col("k").cast("bigint").alias("k_treatments"),
        F.expr(f"cast({q} as bigint)").alias("chi2_milli"),
        F.expr(
            f"cast(CASE WHEN {q} > 5991 THEN 1 ELSE 0 END as bigint)"
        ).alias("years_differ"),
    )


QUERIES["friedman_test"] = friedman_test

_FRIED_RANKS_CTE = """yearly AS MATERIALIZED (
  SELECT c.c_nationkey AS nk, year(o_orderdate) AS yr,
         sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
ranked AS MATERIALIZED (
  SELECT nk, yr,
         row_number() OVER (PARTITION BY nk ORDER BY rev, yr) AS r
  FROM yearly
)"""

ORACLES["friedman_test"] = f"""
WITH {_FRIED_RANKS_CTE},
cols AS (SELECT yr, sum(r) AS rj FROM ranked GROUP BY yr),
folded AS (
  SELECT count(*) AS k, sum(rj::HUGEINT * rj) AS srj2 FROM cols
),
nblocks AS (SELECT count(DISTINCT nk) AS n FROM ranked)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(k AS BIGINT) AS k_treatments,
       CAST((12000 * srj2) // (n * k * (k + 1)) - 3000 * n * (k + 1)
            AS BIGINT) AS chi2_milli,
       CAST(CASE WHEN (12000 * srj2) // (n * k * (k + 1))
                      - 3000 * n * (k + 1) > 5991
                 THEN 1 ELSE 0 END AS BIGINT) AS years_differ
FROM folded CROSS JOIN nblocks
"""


# ---------------------------------------------------------------------------
# page_trend_test — ordered-alternative repeated measures
# ---------------------------------------------------------------------------


def page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE'S TREND TEST (SURVEY §2 #346) — the ORDERED-alternative
    sibling of friedman_test (Page 1963): Friedman asks "do the years
    differ AT ALL"; Page asks "do they INCREASE in calendar order" —
    far more powerful when the alternative really is monotone growth
    (the business default).  L = sum_j j * R_j over the same
    within-nation rank census; the null moments are closed-form
    (E[L] = n k (k+1)^2 / 4, 144 Var = n k^2 (k+1) (k^2-1) ... the
    z^2 form keeps everything rational), published in milli against
    3.841.

    Scale shape: identical to friedman_test — the two keys share the
    75-row rank census build; one fold each.
    """
    ranked = _yearly_nation_ranks(spark, sf_dir)
    cols = ranked.groupBy("yr").agg(F.sum("r").alias("rj"))
    wj = Window.orderBy("yr")
    folded = (
        cols.withColumn("j", F.row_number().over(wj))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.expr("cast(j as decimal(38,0)) * rj")).alias("l_stat"),
        )
    )
    n = ranked.select("nk").distinct().count()
    # z^2 = (L - E)^2 / Var; E = n k (k+1)^2 / 4,
    # Var = n k^2 (k+1)^2 (k-1) / 144
    z2 = (
        f"(144000 * (4 * l_stat - {n} * k * (k + 1) * (k + 1))"
        f" * (4 * l_stat - {n} * k * (k + 1) * (k + 1)))"
        f" div (16 * {n} * k * k * (k + 1) * (k + 1) * (k - 1))"
    )
    return folded.select(
        F.lit(n).cast("bigint").alias("n_blocks"),
        F.col("k").cast("bigint").alias("k_treatments"),
        F.col("l_stat").cast("bigint").alias("page_l"),
        F.expr(f"cast({z2} as bigint)").alias("z2_milli"),
        F.expr(
            f"cast(CASE WHEN {z2} > 3841 THEN 1 ELSE 0 END as bigint)"
        ).alias("monotone_trend"),
    )


QUERIES["page_trend_test"] = page_trend_test

ORACLES["page_trend_test"] = f"""
WITH {_FRIED_RANKS_CTE},
cols AS (
  SELECT yr, sum(r) AS rj,
         row_number() OVER (ORDER BY yr) AS j
  FROM ranked GROUP BY yr
),
folded AS (
  SELECT count(*) AS k, sum(j::HUGEINT * rj) AS l_stat FROM cols
),
nblocks AS (SELECT count(DISTINCT nk) AS n FROM ranked)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(k AS BIGINT) AS k_treatments,
       CAST(l_stat AS BIGINT) AS page_l,
       CAST((144000 * (4 * l_stat - n * k * (k + 1) * (k + 1))
             * (4 * l_stat - n * k * (k + 1) * (k + 1)))
            // (16 * n::HUGEINT * k * k * (k + 1) * (k + 1) * (k - 1))
            AS BIGINT) AS z2_milli,
       CAST(CASE WHEN (144000 * (4 * l_stat - n * k * (k + 1) * (k + 1))
                       * (4 * l_stat - n * k * (k + 1) * (k + 1)))
                      // (16 * n::HUGEINT * k * k * (k + 1) * (k + 1)
                          * (k - 1)) > 3841
                 THEN 1 ELSE 0 END AS BIGINT) AS monotone_trend
FROM folded CROSS JOIN nblocks
"""


# ---------------------------------------------------------------------------
# indirect_standardization — SMR-style rate adjustment across strata
# ---------------------------------------------------------------------------


def indirect_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDIRECT STANDARDIZATION / SMR (SURVEY §2 #347) — the
    epidemiology-standard rate adjustment (the standardized mortality
    ratio) for exactly the situation disparate_impact_audit's raw
    rates mislead in: a nation can show a low crude conversion rate
    ONLY because its customers sit in low-converting balance strata.
    Expected events = sum over strata of n_stratum x GLOBAL stratum
    rate (kept rational: sum n_s*pos_s_glob/n_s_glob with one
    cross-multiplied fold); SMR_bp = 10000*observed/expected.  SMR
    above 10000 after adjustment is a REAL nation effect, not
    composition — the indirect method works even when per-nation
    stratum cells are tiny (which is why epi prefers it to direct
    standardization on small units).

    Scale shape: one fact agg to per-customer conversion; the
    (nation, stratum) census and the global stratum census are two
    group-bys; expected folds via a broadcast join.  Windowless.
    """
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("c_custkey").alias("cust"),
        F.col("n_name").alias("nation"),
        F.expr(
            "least(greatest(cast((cast(cast(c_acctbal as decimal(12,2))"
            " * 100 as bigint) + 100000) div 110000 as int), 0), 9)"
        ).alias("stratum"),
    )
    per_cust = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("cust")
    ).agg(
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("conv")
    )
    cells = materialize(
        per_cust.join(cust, "cust")
        .groupBy("nation", "stratum")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("pos"))
    )
    glob = cells.groupBy("stratum").agg(
        F.sum("n").alias("ng"), F.sum("pos").alias("pg")
    )
    return (
        cells.join(F.broadcast(glob), "stratum")
        .groupBy("nation")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("pos").alias("observed"),
            # expected * 1e6: per-stratum floor of 1e6 * n * pg / ng
            F.sum(
                F.expr(
                    "(1000000 * cast(n as decimal(38,0)) * pg) div ng"
                )
            ).alias("expected_e6"),
        )
        .select(
            "nation",
            "n",
            F.col("observed").cast("bigint").alias("observed"),
            F.expr("cast(expected_e6 div 1000000 as bigint)").alias(
                "expected"
            ),
            F.expr(
                "cast(coalesce((10000000000 * cast(observed"
                " as decimal(38,0))) div nullif(expected_e6, 0) div 1000,"
                " -1) as bigint)"
            ).alias("smr_bp"),
        )
    )


QUERIES["indirect_standardization"] = indirect_standardization

ORACLES["indirect_standardization"] = """
WITH cust AS (
  SELECT c_custkey AS cust, n_name AS nation,
         least(greatest(CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                              AS BIGINT) + 100000) // 110000 AS INT), 0), 9)
           AS stratum
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
cells AS MATERIALIZED (
  SELECT nation, stratum, count(*) AS n, sum(conv) AS pos
  FROM per_cust JOIN cust USING (cust)
  GROUP BY nation, stratum
),
gbl AS (
  SELECT stratum, sum(n) AS ng, sum(pos) AS pg FROM cells GROUP BY stratum
),
folded AS (
  SELECT nation, sum(c.n) AS n, sum(c.pos) AS observed,
         sum((1000000 * c.n::HUGEINT * g.pg) // g.ng) AS expected_e6
  FROM cells c JOIN gbl g USING (stratum)
  GROUP BY nation
)
SELECT nation,
       CAST(n AS BIGINT) AS n,
       CAST(observed AS BIGINT) AS observed,
       CAST(expected_e6 // 1000000 AS BIGINT) AS expected,
       CAST(coalesce((10000000000 * observed::HUGEINT)
                     // nullif(expected_e6, 0) // 1000, -1) AS BIGINT)
         AS smr_bp
FROM folded
ORDER BY nation
"""


# ---------------------------------------------------------------------------
# dissimilarity_index — Duncan segregation + exposure indices
# ---------------------------------------------------------------------------


def dissimilarity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUNCAN DISSIMILARITY + EXPOSURE indices (SURVEY §2 #348) — the
    segregation measures (Duncan & Duncan 1955; Massey-Denton) the
    fairness family reads rates with but never measures STRUCTURE
    with: D = half the sum of |a_i/A - b_i/B| over nations is the
    share of BUILDING customers who would have to RELOCATE for an
    even spread (the eviction-cost reading is why D is the standard),
    and the exposure index P* = sum (a_i/A)(b_i/t_i) says who a
    BUILDING customer actually meets.  Both exact rationals published
    in bp with per-term cross-multiplied floors; one output row with
    the term census beside it per nation.

    Scale shape: one dim-join agg to the 25-nation two-group census;
    two census folds broadcast back onto the per-nation rows.
    """
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        F.expr(
            "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
        ).alias("grp_a"),
    )
    cells = materialize(
        cust.groupBy("nation").agg(
            F.sum("grp_a").alias("a"),
            F.sum(F.expr("1 - grp_a")).alias("b"),
        )
    )
    tot = cells.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    terms = cells.crossJoin(F.broadcast(tot)).select(
        "nation",
        "a",
        "b",
        # |a_i/A - b_i/B| in e8 units, cross-multiplied
        F.expr(
            "(100000000 * abs(cast(a as decimal(38,0)) * tb"
            " - cast(b as decimal(38,0)) * ta))"
            " div (cast(ta as decimal(38,0)) * tb)"
        ).alias("d_term_e8"),
        # (a_i/A)*(b_i/(a_i+b_i)) in e8
        F.expr(
            "(100000000 * cast(a as decimal(38,0)) * b)"
            " div (cast(ta as decimal(38,0)) * (a + b))"
        ).alias("p_term_e8"),
    )
    folds = terms.agg(
        F.sum("d_term_e8").alias("sd"), F.sum("p_term_e8").alias("sp")
    )
    return (
        terms.crossJoin(F.broadcast(folds))
        .select(
            "nation",
            F.col("a").cast("bigint").alias("n_building"),
            F.col("b").cast("bigint").alias("n_rest"),
            F.expr("cast(d_term_e8 div 10000 as bigint)").alias(
                "d_term_bp"
            ),
            F.expr("cast((sd div 2) div 10000 as bigint)").alias(
                "dissimilarity_bp"
            ),
            F.expr("cast(sp div 10000 as bigint)").alias(
                "exposure_bp"
            ),
        )
    )


QUERIES["dissimilarity_index"] = dissimilarity_index

ORACLES["dissimilarity_index"] = """
WITH cells AS MATERIALIZED (
  SELECT n_name AS nation,
         sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END) AS b
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM cells),
terms AS (
  SELECT nation, a, b,
         (100000000 * abs(a::HUGEINT * tb - b::HUGEINT * ta))
           // (ta::HUGEINT * tb) AS d_term_e8,
         (100000000 * a::HUGEINT * b) // (ta::HUGEINT * (a + b))
           AS p_term_e8
  FROM cells CROSS JOIN tot
),
folds AS (
  SELECT sum(d_term_e8) AS sd, sum(p_term_e8) AS sp FROM terms
)
SELECT nation,
       CAST(a AS BIGINT) AS n_building,
       CAST(b AS BIGINT) AS n_rest,
       CAST(d_term_e8 // 10000 AS BIGINT) AS d_term_bp,
       CAST((sd // 2) // 10000 AS BIGINT) AS dissimilarity_bp,
       CAST(sp // 10000 AS BIGINT) AS exposure_bp
FROM terms CROSS JOIN folds
ORDER BY nation
"""
