"""Event time series: sessions, streams, funnels and temporal joins.

As-of and interval joins, sessionisation (batch and stateful
streaming), sliding and rolling windows, funnels and retention,
changepoints, drift on the stream, and the classical series analyses
(decomposition, autocorrelation, SAX, wavelets, Allan variance,
rescaled range) over the events and daily-revenue series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import DEC, dec_sum
from pyprima_spark.operators.asof import asof_join as _asof
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.ranges import interval_overlap_join
from pyprima_spark.plans.core import _t
from pyprima_spark.streaming.events import (
    run_hourly_stats_stream,
    run_sliding_stream,
    run_to_memory,
    stream_events,
)
from pyprima_spark.streaming.joins import purchase_click_pairs
from pyprima_spark.streaming.quota import run_quota_stream
from pyprima_spark.streaming.sessions import run_sessions_stream
from pyprima_spark.streaming.sessions import sessionize as _sess


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def streaming_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed hourly stats, run to completion
    with an availableNow trigger — must equal the batch aggregate.
    Checkpoint rides fsio.scratch_dir (``spark.pyprima.scratchDir`` on
    a cluster — Spark's checkpoint manager accepts any Hadoop-FS URI),
    like every stream ``streaming.events.run_to_memory`` runs.
    """
    return run_hourly_stats_stream(spark, sf_dir).select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "total",
    )


QUERIES["streaming_hourly_stats"] = streaming_hourly_stats

ORACLES["streaming_hourly_stats"] = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
  event_type,
  count(*) AS n,
  round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM events
GROUP BY 1, 2
"""


def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval attribution join (SURVEY §2 #39b): every purchase
    paired with the same user's clicks in the preceding hour — the
    batch form of the watermarked stream-stream interval join
    (streaming/joins.py), sharing the same transform."""

    ev = _t(spark, sf_dir, "events")
    return (
        purchase_click_pairs(ev)
        .select(
            "purchase_id",
            "user_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("p_ts"),
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("c_ts"),
            F.round("click_value", 2).alias("click_value"),
        )
    )


QUERIES["purchase_click_attribution"] = purchase_click_attribution

ORACLES["purchase_click_attribution"] = """
SELECT p.event_id AS purchase_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS c_ts,
       round(c.value, 2) AS click_value
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY purchase_id, c_ts
"""


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 1h/15m sliding-window event counts, computed by the
    streaming engine (availableNow) — each event lands in 4 windows."""

    return run_sliding_stream(spark, sf_dir)


QUERIES["streaming_sliding_counts"] = streaming_sliding_counts

ORACLES["streaming_sliding_counts"] = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS win_start,
         event_type, value
  FROM events CROSS JOIN generate_series(0, 3) AS t(k)
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
       count(*) AS n, round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM expanded
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: count / sum of the same user's events in the preceding
    hour (inclusive), via a RANGE window frame on event-time micros.

    The range frame slides within each user's time-sorted partition —
    one shuffle on user_id, per-key bounded state, no self-join. This is
    the reference's 5-hour trend window (correction_functions.py:315)
    generalized to an arbitrary time-range frame.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.round(F.sum(F.col("value").cast(DEC)).over(w), 2).cast("double").alias("sum_1h"),
        )
    )


QUERIES["rolling_user_stats"] = rolling_user_stats

ORACLES["rolling_user_stats"] = """
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       count(*) OVER w AS n_1h,
       round(sum(CAST(value AS DECIMAL(27,6))) OVER w, 2)::DOUBLE AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotate each purchase with the user's most recent prior click
    (temporal as-of join; SURVEY §2 asof_join)."""

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = _asof(purchases, clicks, "user_id", value_cols=["value"])
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.round("value", 2).alias("value"),
        F.round("value_asof", 2).alias("click_value"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("ts_asof")) / 1_000_000.0, 3
        ).alias("lag_sec"),
    )


QUERIES["asof_join"] = asof_join

ORACLES["asof_join"] = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
c AS (
  -- dedup ties at identical (user_id, ts) with the same greatest-value
  -- rule the Spark operator uses, so ASOF picks a deterministic row
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY value DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       round(p.value, 2) AS value,
       round(c.value, 2) AS click_value,
       round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 3) AS lag_sec
FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessions via session_window (SURVEY §2
    sessionize)."""

    return _sess(_t(spark, sf_dir, "events"))


QUERIES["sessionize"] = sessionize


_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts)) >= 14400000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*) AS n_events,
       round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""

ORACLES["sessionize"] = _SESSIONIZE_SQL


def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming sessionizer (applyInPandasWithState);
    same output contract as the batch sessionize."""

    return run_sessions_stream(spark, sf_dir)


QUERIES["streaming_sessions"] = streaming_sessions

ORACLES["streaming_sessions"] = _SESSIONIZE_SQL


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (SURVEY §2 #68): signup → later click →
    later purchase, per signup-day cohort. The event-analytics staple
    for activation tracking.

    All three stage timestamps come from windows over ONE user
    partitioning (no self-joins): t1 = min signup ts; t2 = min click ts
    at/after t1; t3 = min purchase ts at/after t2. Window 2 references
    window 1's output column row-locally, so Catalyst stacks the three
    Window operators over a single exchange+sort of the log.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    d = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    users = d.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    return (
        users.filter(F.col("t1").isNotNull())
        .groupBy(F.date_format("t1", "yyyy-MM-dd").alias("signup_date"))
        .agg(
            F.count(F.lit(1)).alias("n_signed_up"),
            F.count(F.col("t2")).alias("n_clicked"),
            F.count(F.col("t3")).alias("n_purchased"),
        )
    )


QUERIES["funnel_conversion"] = funnel_conversion

ORACLES["funnel_conversion"] = """
WITH staged AS (
  SELECT user_id, ts, event_type,
    min(CASE WHEN event_type = 'signup' THEN ts END)
      OVER (PARTITION BY user_id) AS t1
  FROM events
),
staged2 AS (
  SELECT *,
    min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
      OVER (PARTITION BY user_id) AS t2
  FROM staged
),
staged3 AS (
  SELECT *,
    min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
      OVER (PARTITION BY user_id) AS t3
  FROM staged2
),
users AS (
  SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
  FROM staged3 GROUP BY user_id
)
SELECT strftime(t1, '%Y-%m-%d') AS signup_date,
       count(*) AS n_signed_up,
       count(t2) AS n_clicked,
       count(t3) AS n_purchased
FROM users WHERE t1 IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix (SURVEY §2 #69): users grouped by
    first-seen day, activity counted per day offset — the
    (cohort × age) triangle every growth dashboard renders.

    First-seen day is one min-window over the user partition; the
    matrix is one (cohort_day, offset) aggregation with a distinct-user
    count. No per-cohort self-joins — the log shuffles once by user,
    once by the (small) matrix key.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    d = (
        ev.withColumn("day", F.to_date("ts"))
        .withColumn("cohort_day", F.min(F.to_date("ts")).over(w))
        .withColumn("offset_days", F.datediff(F.col("day"), F.col("cohort_day")))
        .filter(F.col("offset_days") <= 7)
    )
    return (
        d.groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "offset_days",
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


QUERIES["retention_cohorts"] = retention_cohorts

ORACLES["retention_cohorts"] = """
WITH d AS (
  SELECT user_id, cast(ts AS DATE) AS day,
         min(cast(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
  FROM events
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       day - cohort_day AS offset_days,
       count(DISTINCT user_id) AS n_active
FROM d WHERE day - cohort_day <= 7
GROUP BY cohort_day, day - cohort_day
ORDER BY 1, 2
"""


def incident_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-key-free interval join (SURVEY §2 #58): high-value error
    events open 10-minute incident windows; EVERY event (any user)
    inside a window is attributed to it. No shared key exists, so the
    naive plan is a broadcast nested loop — `interval_overlap_join`
    manufactures a time-bucket equi-key instead (see operators/ranges).
    """

    ev = _t(spark, sf_dir, "events")
    incidents = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 195)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    probe = ev.select("event_id", "ts", "user_id", "value")
    hits = interval_overlap_join(probe, incidents, "ts", "w_start", "w_end", 600)
    return (
        hits.groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dec_sum("value").alias("sum_value"),
        )
    )


QUERIES["incident_window_join"] = incident_window_join

# The bucketed interval join must equal the plain range join.
ORACLES["incident_window_join"] = """
WITH incidents AS (
  SELECT event_id AS incident_id, ts AS w_start,
         ts + INTERVAL 10 MINUTE AS w_end
  FROM events WHERE event_type = 'error' AND value > 195
)
SELECT incident_id, count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       round(sum(CAST(e.value AS DECIMAL(27,6))), 2)::DOUBLE AS sum_value
FROM incidents i JOIN events e ON e.ts >= i.w_start AND e.ts < i.w_end
GROUP BY 1 ORDER BY 1
"""


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean per entity (SURVEY §2 #59): each event's
    value holds until the user's next event; the average weights by
    that holding time. The energy-pipeline staple behind pyPRIMA's
    full-load-hours math (lib/correction_functions.py FLH series):
    state values sampled at irregular times, averaged over time, not
    over samples.

    One window (lead over the per-user timeline) + one aggregation.
    Dwell times are exact integer microseconds (`unix_micros`), and the
    weighted sum runs through the decimal path, so the quotient is
    bit-identical across engines.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = (
        ev.withColumn("_us", F.unix_micros("ts"))
        .withColumn("_dwell", F.lead("_us").over(w) - F.col("_us"))
        .filter(F.col("_dwell").isNotNull())
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.round(
                (
                    F.sum((F.col("value") * F.col("_dwell")).cast(DEC)).cast("double")
                    / F.sum(F.col("_dwell")).cast("double")
                ),
                6,
            ).alias("twa_value"),
        )
    )


QUERIES["time_weighted_avg"] = time_weighted_avg

ORACLES["time_weighted_avg"] = """
WITH spans AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dwell
  FROM events
)
SELECT user_id, count(*) AS n_spans,
       round(sum(CAST(value * dwell AS DECIMAL(27,6)))::DOUBLE
             / sum(dwell)::DOUBLE, 6) AS twa_value
FROM spans WHERE dwell IS NOT NULL
GROUP BY user_id ORDER BY user_id
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
    )


QUERIES["event_transitions"] = event_transitions

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
    )


QUERIES["sliding_7d_actives"] = sliding_7d_actives

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
    )


QUERIES["ewma_user_value"] = ewma_user_value

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
    )


QUERIES["grouped_regression"] = grouped_regression

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
    )


QUERIES["seasonal_profile"] = seasonal_profile

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
    )


QUERIES["daily_anomaly"] = daily_anomaly

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
# percent_change_mom — month-over-month growth per segment
# ---------------------------------------------------------------------------

def percent_change_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change per order priority (SURVEY §2
    #98) — the period-over-period KPI layout: one keyed monthly
    aggregation, then a lag window over the SAME partitioning (the agg
    exchange already clusters by priority, so the window adds a sort
    but no second shuffle). The pct change divides the two ROUNDED
    decimal totals once — engine-identical by construction.
    """
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(dec_sum("o_totalprice").alias("total"))
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("total").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        "total",
        F.round((F.col("total") - prev) / prev * 100.0, 6).alias("pct_change"),
    )


QUERIES["percent_change_mom"] = percent_change_mom

ORACLES["percent_change_mom"] = """
WITH monthly AS (
  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
         round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS total
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, month, total,
       round((total - lag(total) OVER w) / lag(total) OVER w * 100.0, 6)
         AS pct_change
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
ORDER BY o_orderpriority, month
"""


# ---------------------------------------------------------------------------
# event_gap_stats — inter-arrival gap distribution per event type
# ---------------------------------------------------------------------------

def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-gap distribution per event type (SURVEY §2 #101) —
    the arrival-process profile that calibrates sessionization gaps and
    watermark delays (the 4h SESSION_GAP and '1 second' watermark in
    streaming/sessions.py are exactly the parameters this measures).

    One (user, type)-keyed window computes consecutive gaps in exact
    integer microseconds; the per-type rollup uses DISCRETE percentiles
    (actual data values — engine-exact on integers, no interpolation
    float) and a decimal mean. Two shuffles total, both on uniform keys.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "gap_us", F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1e6, 3).alias("mean_s"),
            (
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
                / 1e6
            ).alias("p50_s"),
            (
                F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY gap_us)")
                / 1e6
            ).alias("p95_s"),
        )
    )


QUERIES["event_gap_stats"] = event_gap_stats

ORACLES["event_gap_stats"] = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(sum(gap_us)::DOUBLE / count(*) / 1e6, 3) AS mean_s,
       quantile_disc(gap_us, 0.5) / 1e6 AS p50_s,
       quantile_disc(gap_us, 0.95) / 1e6 AS p95_s
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# rolling_origin_backtest — expanding-window time-series CV splits
# ---------------------------------------------------------------------------

_BACKTEST_FOLDS = 4


def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest split census (SURVEY
    §2 #111) — the time-series cross-validation layout for forecast
    models trained on the event stream: fold i trains on day_index <
    cut_i and tests on the next horizon days, cuts at 50/60/70/80% of
    the observed span, horizon = span/10 (all integer arithmetic on the
    data-derived bounds).

    Plan: the (min_day, span) bounds fold to a 1-row broadcast; folds
    are a literal 4-row broadcast; each event row fans out only to the
    folds whose train/test range covers it (<= K copies, conditional
    aggregation) and the census is one map-combined (fold) group-by.
    Emitting counts per fold proves splits are leakage-free by
    construction: train_end == test_start.
    """
    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("d"))
    bounds = days.agg(
        F.min("d").alias("d0"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("span"),
    )
    folds = spark.createDataFrame(
        [(i,) for i in range(_BACKTEST_FOLDS)], "fold int"
    )
    tagged = (
        days.crossJoin(F.broadcast(bounds))
        .withColumn("day_idx", F.datediff("d", "d0"))
        .crossJoin(F.broadcast(folds))
        .withColumn(
            "cut",
            F.expr(f"(span * (50 + 10 * fold)) div 100"),
        )
        .withColumn("horizon", F.expr("span div 10"))
    )
    return (
        tagged.groupBy("fold", "cut", "horizon")
        .agg(
            F.sum((F.col("day_idx") < F.col("cut")).cast("int")).alias(
                "train_rows"
            ),
            F.sum(
                (
                    (F.col("day_idx") >= F.col("cut"))
                    & (F.col("day_idx") < F.col("cut") + F.col("horizon"))
                ).cast("int")
            ).alias("test_rows"),
        )
    )


QUERIES["rolling_origin_backtest"] = rolling_origin_backtest

ORACLES["rolling_origin_backtest"] = """
WITH days AS (SELECT CAST(ts AS DATE) AS d FROM events),
bounds AS (
  SELECT min(d) AS d0, date_diff('day', min(d), max(d)) + 1 AS span
  FROM days
), folds AS (SELECT unnest(range(4)) AS fold),
tagged AS (
  SELECT CAST(fold AS INT) AS fold,
         (span * (50 + 10 * fold)) // 100 AS cut,
         span // 10 AS horizon,
         date_diff('day', d0, d) AS day_idx
  FROM days CROSS JOIN bounds CROSS JOIN folds
)
SELECT fold, CAST(cut AS INT) AS cut, CAST(horizon AS INT) AS horizon,
       CAST(sum(CASE WHEN day_idx < cut THEN 1 ELSE 0 END) AS BIGINT)
         AS train_rows,
       CAST(sum(CASE WHEN day_idx >= cut AND day_idx < cut + horizon
                     THEN 1 ELSE 0 END) AS BIGINT) AS test_rows
FROM tagged GROUP BY 1, 2, 3 ORDER BY fold
"""


# ---------------------------------------------------------------------------
# asof_tolerance_join — bounded-staleness as-of join, left semantics
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 1_800_000_000  # 30 minutes


def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (pandas ``merge_asof``
    ``tolerance=`` semantics): each purchase is annotated with the
    user's most recent prior click ONLY if that click is at most 30
    minutes old; purchases with no fresh-enough click are kept with
    null annotations (left semantics).

    Same single-shuffle union+window plan as operators/asof.py — the
    tolerance and the left-retention are post-masks on the carried
    columns, so bounding staleness costs nothing over the plain as-of.
    """

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = _asof(
        purchases,
        clicks,
        "user_id",
        value_cols=["value"],
        how="left",
        tolerance_us=_ASOF_TOL_US,
    )
    matched = F.col("ts_asof").isNotNull()
    return j.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("value"),
        F.round("value_asof", 2).alias("click_value"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("ts_asof")) / 1_000_000.0, 3
        ).alias("lag_sec"),
        matched.alias("matched"),
    )


QUERIES["asof_tolerance_join"] = asof_tolerance_join

ORACLES["asof_tolerance_join"] = f"""
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY value DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT event_id, user_id, round(value, 2) AS value,
       CASE WHEN ok THEN round(cvalue, 2) END AS click_value,
       CASE WHEN ok
            THEN round((epoch_us(ts) - epoch_us(cts)) / 1000000.0, 3)
       END AS lag_sec,
       ok AS matched
FROM (
  SELECT p.*, c.ts AS cts, c.value AS cvalue,
         (c.ts IS NOT NULL
          AND epoch_us(p.ts) - epoch_us(c.ts) <= {_ASOF_TOL_US}) AS ok
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# session_paths — most common 3-step event sequences
# ---------------------------------------------------------------------------

_PATHS_TOPK = 20


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigram paths across user timelines — the
    clickstream path-mining staple (what do users do next?).

    One shuffle on user_id orders each timeline (two stacked ``lead``s
    share the exchange+sort); the path census is a map-combined count
    on the path string, whose key space is |event_types|^3 — dim-sized,
    so the final top-k window is over a tiny aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = paths.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("path")))
    )
    return ranked.filter(F.col("rank") <= _PATHS_TOPK)


QUERIES["session_paths"] = session_paths

ORACLES["session_paths"] = f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
  FROM seq WHERE e3 IS NOT NULL
  GROUP BY 1
)
SELECT path, n, rank FROM (
  SELECT path, n,
         row_number() OVER (ORDER BY n DESC, path ASC) AS rank
  FROM counts
)
WHERE rank <= {_PATHS_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# rate_limit_flags — per-user hourly quota enforcement census
# ---------------------------------------------------------------------------

_RATE_LIMIT = 10  # events per user-hour


def rate_limit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota-enforcement census: events beyond the 10th in any
    (user, hour) are throttled — the ingestion-side rate-limit every
    event pipeline applies, expressed as a rank over the quota window
    (row_number over (user, hour) ordered by time, deterministic
    event-id tie-break).

    One shuffle on (user, hour) — the window key IS the quota key —
    then a map-combined census per event type.  At scale the quota
    window is also exactly what ``applyInPandasWithState`` enforces
    online; this is the batch audit of the same rule.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    flagged = ev.select(
        "event_type",
        (F.row_number().over(w) > _RATE_LIMIT).alias("throttled"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("throttled"), 1).otherwise(0)).alias("n_throttled"),
        )
        .select(
            "event_type",
            "n_events",
            "n_throttled",
            F.expr("cast(n_throttled * 10000 div n_events as int)").alias(
                "throttled_bp"
            ),
        )
    )


QUERIES["rate_limit_flags"] = rate_limit_flags

ORACLES["rate_limit_flags"] = f"""
WITH flagged AS (
  SELECT event_type,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('hour', ts)
           ORDER BY ts, event_id) > {_RATE_LIMIT} AS throttled
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN throttled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_throttled,
       CAST(sum(CASE WHEN throttled THEN 1 ELSE 0 END) * 10000 // count(*)
            AS INT) AS throttled_bp
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# streaming_rate_limit — online quota enforcement (stateful streaming)
# ---------------------------------------------------------------------------

def streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota enforcement computed by the STREAMING engine
    (applyInPandasWithState, one integer of state per (user, hour) key,
    append mode — see streaming/quota.py) and reported as the same
    per-event-type census as the batch ``rate_limit_flags`` audit, so
    one oracle grades both the batch rule and the online operator.
    """

    return run_quota_stream(spark, sf_dir)


QUERIES["streaming_rate_limit"] = streaming_rate_limit
ORACLES["streaming_rate_limit"] = ORACLES["rate_limit_flags"]


# ---------------------------------------------------------------------------
# cusum_changepoint — level-shift detection per series
# ---------------------------------------------------------------------------

def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen per event type: the day where the
    cumulative deviation of daily totals from the series mean peaks —
    the classic level-shift detector a metrics pipeline runs over
    every series.

    Determinism trick: instead of cumsum(x_i − T/n) (a division per
    row), the statistic is scaled by n: Sʹ_i = n·cum_i − i·T, computed
    entirely in DECIMAL/integer arithmetic; the single division to the
    reported scale happens once at the end.  The daily rollup is
    map-combined; the cumulative window is per-type over the dim-sized
    day table; the argmax is one struct-max aggregate (peak |Sʹ|,
    earliest day on ties).
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("day"),
                  F.col("value").cast(DEC).alias("v"))
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("d"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        F.sum("d").over(wcum).alias("cum"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias(
            "i"
        ),
        F.sum("d").over(wall).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
    ).select(
        "event_type",
        "day",
        "n_days",
        F.abs(F.col("n_days") * F.col("cum") - F.col("i") * F.col("t")).alias(
            "s_abs"
        ),
    )
    peak = scored.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.max(
            F.struct(F.col("s_abs"), F.expr("unix_date(day) * -1").alias("negd"))
        ).alias("pk"),
    )
    return peak.select(
        "event_type",
        "n_days",
        F.expr("date_from_unix_date(cast(-pk.negd as int))").alias("peak_day"),
        F.round(
            F.col("pk.s_abs").cast("double") / F.col("n_days") / F.col("n_days"),
            2,
        ).alias("peak_stat"),
    )


QUERIES["cusum_changepoint"] = cusum_changepoint

ORACLES["cusum_changepoint"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(value AS DECIMAL(27,6))) AS d
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         abs(count(*) OVER (PARTITION BY event_type)
             * sum(d) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING)
             - row_number() OVER (PARTITION BY event_type ORDER BY day)
               * sum(d) OVER (PARTITION BY event_type)) AS s_abs
  FROM daily
),
peak AS (
  SELECT event_type, n_days, day AS peak_day, s_abs AS peak_abs
  FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY s_abs DESC, day ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT event_type, n_days, peak_day,
       round(peak_abs::DOUBLE / n_days / n_days, 2) AS peak_stat
FROM peak
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# interval_union_coverage — union length of overlapping intervals
# ---------------------------------------------------------------------------

_INCIDENT_LEN_US = 600_000_000  # 10 minutes


def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union coverage of overlapping incident intervals per day: each
    error event opens a 10-minute window; the metric is the number of
    SECONDS OF THE DAY covered by at least one window — the
    "downtime" / on-call-coverage aggregate naive sum-of-lengths
    double-counts.

    The sweep-line runs as ONE ordered window per day partition: each
    interval contributes max(0, end − max(start, running-max of prior
    ends)) — the standard O(n log n) union-length without
    segmentation, in exact integer microseconds.  Intervals are
    attributed to their start day (midnight-crossers counted on the
    opening day, documented).
    """
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _INCIDENT_LEN_US).alias("e"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = iv.select(
        "day",
        F.greatest(
            F.lit(0),
            F.col("e")
            - F.greatest(F.col("s"), F.coalesce(F.max("e").over(w), F.lit(0))),
        ).alias("covered_us"),
    )
    return (
        contrib.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("covered_us").alias("covered_us"),
        )
        .select(
            "day",
            "n_intervals",
            "covered_us",
            F.expr("cast(covered_us div 1000000 as bigint)").alias("covered_sec"),
        )
    )


QUERIES["interval_union_coverage"] = interval_union_coverage

ORACLES["interval_union_coverage"] = f"""
WITH iv AS (
  SELECT CAST(ts AS DATE) AS day,
         epoch_us(ts) AS s,
         epoch_us(ts) + {_INCIDENT_LEN_US} AS e
  FROM events WHERE event_type = 'error'
),
contrib AS (
  SELECT day,
         greatest(0, e - greatest(s,
           coalesce(max(e) OVER (PARTITION BY day ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0))) AS covered_us
  FROM iv
)
SELECT day, count(*) AS n_intervals,
       CAST(sum(covered_us) AS BIGINT) AS covered_us,
       CAST(sum(covered_us) // 1000000 AS BIGINT) AS covered_sec
FROM contrib
GROUP BY day
ORDER BY day
"""


# ---------------------------------------------------------------------------
# late_data_census — watermark-lateness audit over arrival order
# ---------------------------------------------------------------------------

_WATERMARK_US = 7_200_000_000  # 2 hours


def late_data_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit: replaying the log in ARRIVAL order
    (event_id as the arrival proxy), how many events per type would a
    2-hour watermark drop, and how late is the stragglers' tail? —
    the measurement that decides a streaming job's watermark before
    anyone turns it on.

    The running event-time high-water mark is a cumulative max over
    arrival order WITHIN each type partition (a per-stream sequential
    scan by nature — the same order the stream itself imposes);
    lateness is exact integer microseconds against that mark.
    """
    ev = _t(spark, sf_dir, "events")
    warr = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.max(F.unix_micros("ts")).over(warr).alias("hwm"),
    ).select(
        "event_type",
        F.greatest(F.lit(0), F.col("hwm") - F.col("us")).alias("late_us"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("late_us") > _WATERMARK_US, 1).otherwise(0)
            ).alias("n_dropped_2h"),
            F.expr("cast(max(late_us) div 1000000 as bigint)").alias(
                "max_lateness_sec"
            ),
        )
    )


QUERIES["late_data_census"] = late_data_census

ORACLES["late_data_census"] = f"""
WITH scored AS (
  SELECT event_type,
         greatest(0,
           coalesce(max(epoch_us(ts)) OVER (
             PARTITION BY event_type ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           - epoch_us(ts)) AS late_us
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN late_us > {_WATERMARK_US} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_2h,
       CAST(max(late_us) // 1000000 AS BIGINT) AS max_lateness_sec
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# cohort_ltv — cumulative revenue per signup cohort
# ---------------------------------------------------------------------------

def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen week,
    cumulative purchase revenue tracked per week since signup — the
    LTV matrix behind every retention-economics dashboard (the revenue
    companion of retention_cohorts).

    First-seen week is one min-window over the user partition (reused
    by the revenue rows in the same pass); the (cohort, week-index)
    rollup is map-combined DECIMAL sums; the cumulative curve is a
    per-cohort ordered window over the dim-sized matrix.
    """
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    seen = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.col("value").cast(DEC).alias("v"),
        F.to_date(F.date_trunc("week", F.min("ts").over(wu))).alias("cohort_week"),
    )
    rev = (
        seen.filter(F.col("event_type") == "purchase")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort_week")
                )
                / 7
            )
            .cast("int")
            .alias("week_idx"),
            "v",
        )
        .groupBy("cohort_week", "week_idx")
        .agg(F.sum("v").alias("wk_rev"))
    )
    sizes = (
        seen.select("user_id", "cohort_week")
        .distinct()
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_idx",
            "n_users",
            F.round(F.sum("wk_rev").over(wcum), 2).cast("double").alias("cum_revenue"),
        )
    )


QUERIES["cohort_ltv"] = cohort_ltv

ORACLES["cohort_ltv"] = """
WITH seen AS (
  SELECT user_id, event_type, ts, CAST(value AS DECIMAL(27,6)) AS v,
         CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS DATE)
           AS cohort_week
  FROM events
),
rev AS (
  SELECT cohort_week,
         CAST(datediff('day', cohort_week,
              CAST(date_trunc('week', ts) AS DATE)) / 7 AS INT) AS week_idx,
         sum(v) AS wk_rev
  FROM seen WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, count(*) AS n_users
  FROM (SELECT DISTINCT user_id, cohort_week FROM seen)
  GROUP BY cohort_week
)
SELECT cohort_week, week_idx, n_users,
       round(sum(wk_rev) OVER (PARTITION BY cohort_week ORDER BY week_idx
                               ROWS UNBOUNDED PRECEDING), 2)::DOUBLE
         AS cum_revenue
FROM rev JOIN sizes USING (cohort_week)
ORDER BY cohort_week, week_idx
"""


# ---------------------------------------------------------------------------
# funnel_with_timeout — conversion windows with step deadlines
# ---------------------------------------------------------------------------

_FUNNEL_STEP_US = 86_400_000_000  # 24h per step


def funnel_with_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel with step DEADLINES: signup → click within 24h →
    purchase within 24h of the click.  The timeout is what separates a
    causal activation funnel from coincidence counting (a purchase a
    month later is not conversion) — the variant every product
    analytics tool defaults to.

    Identical single-exchange stacked-window plan as
    funnel_conversion; each stage's window min simply adds the
    deadline to its predicate, so the timeout costs nothing.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    d = ev.withColumn("t1", t1)
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") >= F.col("t1"))
                & (
                    F.unix_micros("ts") - F.unix_micros("t1") <= _FUNNEL_STEP_US
                ),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("t2"))
                & (
                    F.unix_micros("ts") - F.unix_micros("t2") <= _FUNNEL_STEP_US
                ),
                F.col("ts"),
            )
        ).over(w),
    )
    users = d.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    return (
        users.filter(F.col("t1").isNotNull())
        .groupBy(F.date_format("t1", "yyyy-MM-dd").alias("signup_date"))
        .agg(
            F.count(F.lit(1)).alias("n_signed_up"),
            F.count(F.col("t2")).alias("n_clicked_24h"),
            F.count(F.col("t3")).alias("n_purchased_24h"),
        )
    )


QUERIES["funnel_with_timeout"] = funnel_with_timeout

ORACLES["funnel_with_timeout"] = f"""
WITH d1 AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
d2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1
                      AND epoch_us(ts) - epoch_us(t1) <= {_FUNNEL_STEP_US}
                     THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM d1
),
d3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2
                      AND epoch_us(ts) - epoch_us(t2) <= {_FUNNEL_STEP_US}
                     THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM d2
),
users AS (
  SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
  FROM d3 GROUP BY user_id
)
SELECT strftime(t1, '%Y-%m-%d') AS signup_date,
       count(*) AS n_signed_up,
       count(t2) AS n_clicked_24h,
       count(t3) AS n_purchased_24h
FROM users WHERE t1 IS NOT NULL
GROUP BY 1
ORDER BY signup_date
"""


# ---------------------------------------------------------------------------
# streaming_hourly_drift — hour-over-hour histogram drift on the stream
# ---------------------------------------------------------------------------

def streaming_hourly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour distribution drift computed ON THE STREAM: the
    windowed aggregation builds per-(hour, value-bin) counts with the
    streaming engine (watermarked tumbling windows — the same
    machinery as streaming_hourly_stats), and the drift readout is a
    TV distance between each hour and its predecessor via one lag
    window over the materialized hourly histograms.  The online form
    of drift_tv_distance: this is what a live data-quality monitor
    alerts on.
    """

    stream = stream_events(spark, sf_dir)
    src = stream.withWatermark("ts", "2 hours")
    hourly = (
        src.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.least(F.lit(9), F.floor(F.col("value") / 50).cast("int")).alias(
                "bin"
            ),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("hour_start"), "bin", "c")
    )
    return spark.sql(
        """
        WITH dense AS (
          SELECT h.hour_start, b.bin, coalesce(t.c, 0) AS c
          FROM (SELECT DISTINCT hour_start FROM {hist}) h
          CROSS JOIN (SELECT DISTINCT bin FROM {hist}) b
          LEFT JOIN (SELECT hour_start AS th, bin AS tb, c FROM {hist}) t
            ON t.th = h.hour_start AND t.tb = b.bin
        ),
        lagged AS (
          SELECT hour_start, c,
                 lag(c) OVER (PARTITION BY bin ORDER BY hour_start) AS p
          FROM dense
        ),
        scored AS (
          SELECT hour_start, c, p,
                 sum(c) OVER (PARTITION BY hour_start) AS n_cur,
                 sum(p) OVER (PARTITION BY hour_start) AS n_prev
          FROM lagged
        )
        SELECT date_format(hour_start, 'yyyy-MM-dd HH:mm') AS hour_start,
               max(n_cur) AS n_cur,
               max(n_prev) AS n_prev,
               cast(sum(abs(c * n_prev - p * n_cur)) * 10000
                    div (2 * max(n_cur) * max(n_prev)) as int) AS tv_bp
        FROM scored
        WHERE p IS NOT NULL AND n_prev > 0 AND n_cur > 0
        GROUP BY hour_start
        """,
        hist=run_to_memory(hourly, "complete"),
    )


QUERIES["streaming_hourly_drift"] = streaming_hourly_drift

ORACLES["streaming_hourly_drift"] = """
WITH hist AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         least(9, CAST(floor(value / 50) AS INT)) AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
dense AS (
  SELECT h.hour_start, b.bin, coalesce(hist.c, 0) AS c
  FROM (SELECT DISTINCT hour_start FROM hist) h
  CROSS JOIN (SELECT DISTINCT bin FROM hist) b
  LEFT JOIN hist ON hist.hour_start = h.hour_start AND hist.bin = b.bin
),
lagged AS (
  SELECT hour_start, c,
         lag(c) OVER (PARTITION BY bin ORDER BY hour_start) AS p
  FROM dense
),
scored AS (
  SELECT hour_start, c, p,
         sum(c) OVER (PARTITION BY hour_start) AS n_cur,
         sum(p) OVER (PARTITION BY hour_start) AS n_prev
  FROM lagged
)
SELECT strftime(hour_start, '%Y-%m-%d %H:%M') AS hour_start,
       CAST(max(n_cur) AS BIGINT) AS n_cur,
       CAST(max(n_prev) AS BIGINT) AS n_prev,
       CAST(sum(abs(c * n_prev - p * n_cur)) * 10000
            // (2 * max(n_cur) * max(n_prev)) AS INT) AS tv_bp
FROM scored
WHERE p IS NOT NULL AND n_prev > 0 AND n_cur > 0
GROUP BY hour_start
ORDER BY hour_start
"""


# ---------------------------------------------------------------------------
# debounce_dedup — cooldown-window event deduplication
# ---------------------------------------------------------------------------

_DEBOUNCE_US = 5_000_000  # 5 seconds


def debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce deduplication: an event within 5 seconds of the
    previous KEPT... strictly, of the previous event of the same
    (user, type) is a duplicate firing (double-click, retry storm) and
    is dropped.  The census reports kept/dropped per type — the
    event-stream counterpart of content dedup.

    One lag window per (user, type) partition — the same shuffle the
    downstream sessionizer needs anyway — and exact integer-µs gap
    compares.  (True chained debounce — cooldown measured from the
    last KEPT event — is the stateful streaming form; the lag form is
    the standard batch approximation and is exact whenever real
    duplicates cluster tighter than the cooldown.)
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            < F.lit(_DEBOUNCE_US)
        ).alias("dup"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_debounced"),
        )
        .select(
            "event_type",
            "n_events",
            "n_debounced",
            F.expr("cast(n_debounced * 10000 div n_events as int)").alias(
                "debounced_bp"
            ),
        )
    )


QUERIES["debounce_dedup"] = debounce_dedup

ORACLES["debounce_dedup"] = f"""
WITH flagged AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id)
           < {_DEBOUNCE_US} AS dup
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) * 10000 // count(*) AS INT)
         AS debounced_bp
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# bounce_rate — single-event-session share per day
# ---------------------------------------------------------------------------

_BOUNCE_GAP_US = 14_400_000_000  # 4h — the sessionize house gap


def bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per day: the share of sessions containing exactly
    one event — the engagement-quality headline on every product
    dashboard, derived from the same gap rule as ``sessionize``.

    Session ids are a running sum of gap breaks over the (user, time)
    window (gaps-and-islands — one shuffle, shared with any other
    per-user sequence op); the bounce census is two dim-sized
    aggregations.  Sessions are attributed to their start day.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            >= F.lit(_BOUNCE_GAP_US)
        )
        .cast("int")
        .alias("brk"),
    ).select(
        "user_id",
        "ts",
        F.sum(F.coalesce("brk", F.lit(0)))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess"),
    )
    sessions = marked.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.to_date(F.min("ts")).alias("day"),
    )
    return (
        sessions.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias(
                "n_bounces"
            ),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("cast(n_bounces * 10000 div n_sessions as int)").alias(
                "bounce_bp"
            ),
        )
    )


QUERIES["bounce_rate"] = bounce_rate

ORACLES["bounce_rate"] = f"""
WITH lagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   >= {_BOUNCE_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
marked AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM lagged
),
sessions AS (
  SELECT user_id, sess, count(*) AS n_events,
         CAST(min(ts) AS DATE) AS day
  FROM marked GROUP BY user_id, sess
)
SELECT day, count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
            AS INT) AS bounce_bp
FROM sessions
GROUP BY day
ORDER BY day
"""


# ---------------------------------------------------------------------------
# peak_concurrency — maximum simultaneous open incidents per day
# ---------------------------------------------------------------------------

def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open incidents per day (capacity planning: how
    many fires burn at once, not just for how long — the max-overlap
    companion of interval_union_coverage).

    The classic endpoint sweep: +1 at each interval start, −1 at each
    end, running sum over the per-day ordered endpoint stream, max.
    All integer; ends sort before starts at the same instant (an
    interval ending exactly when another starts does not overlap it —
    half-open [s, e) semantics, pinned identically in both engines).
    """
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _INCIDENT_LEN_US).alias("e"),
    )
    points = iv.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "d")  # d=-1 (end) sorts before d=+1 (start) at equal t
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = points.select("day", F.sum("d").over(w).alias("open_now"))
    return (
        running.groupBy("day")
        .agg(F.max("open_now").alias("peak_open"))
    )


QUERIES["peak_concurrency"] = peak_concurrency

ORACLES["peak_concurrency"] = f"""
WITH iv AS (
  SELECT CAST(ts AS DATE) AS day, epoch_us(ts) AS s,
         epoch_us(ts) + {_INCIDENT_LEN_US} AS e
  FROM events WHERE event_type = 'error'
),
points AS (
  SELECT day, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT day, e, -1 FROM iv
),
running AS (
  SELECT day, sum(d) OVER (PARTITION BY day ORDER BY t, d
                           ROWS UNBOUNDED PRECEDING) AS open_now
  FROM points
)
SELECT day, CAST(max(open_now) AS BIGINT) AS peak_open
FROM running
GROUP BY day
ORDER BY day
"""


# ---------------------------------------------------------------------------
# nearest_event_join — bidirectional (nearest-neighbor-in-time) as-of
# ---------------------------------------------------------------------------

def nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas ``merge_asof(direction='nearest')`` semantics: each
    purchase is annotated with the click NEAREST in time — before OR
    after — with prior-click tie-break.  The backward pass is the
    house as-of operator; the forward pass is the SAME operator on
    negated time (a forward as-of IS a backward as-of on the reversed
    axis — no new machinery); a row-local CASE picks the nearer side.

    Two single-shuffle as-of plans on the same key; nothing pairwise.
    """

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    back = _asof(purchases, clicks, "user_id", value_cols=["value"], how="left")
    back = back.select(
        "event_id", "user_id", "ts",
        F.col("ts_asof").alias("ts_b"), F.col("value_asof").alias("v_b"),
    )
    neg = F.expr("timestamp_micros(-unix_micros(ts))")
    p_neg = purchases.select("event_id", "user_id", neg.alias("ts"))
    c_neg = clicks.select(
        "user_id", neg.alias("ts"), F.col("value"),
        F.unix_micros("ts").alias("orig_us"),
    )
    fwd = _asof(p_neg, c_neg, "user_id", value_cols=["value", "orig_us"],
                how="left")
    fwd = fwd.select(
        "event_id",
        F.col("orig_us_asof").alias("us_f"),
        F.col("value_asof").alias("v_f"),
    )
    j = back.join(fwd, "event_id")
    db = F.unix_micros("ts") - F.unix_micros("ts_b")
    df_ = F.col("us_f") - F.unix_micros("ts")
    pick_b = F.col("ts_b").isNotNull() & (
        F.col("us_f").isNull() | (db <= df_)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(pick_b, F.lit("before"))
        .when(F.col("us_f").isNotNull(), F.lit("after"))
        .otherwise(F.lit("none"))
        .alias("direction"),
        F.round(F.when(pick_b, F.col("v_b")).otherwise(F.col("v_f")), 2).alias(
            "click_value"
        ),
        F.when(pick_b, db).otherwise(df_).alias("gap_us"),
    )


QUERIES["nearest_event_join"] = nearest_event_join

ORACLES["nearest_event_join"] = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY value DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
),
back AS (
  SELECT p.event_id, p.user_id, p.ts, c.ts AS ts_b, c.value AS v_b
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
),
-- forward as-of: first click at/after the purchase. DuckDB ASOF with
-- <= picks the smallest c.ts >= p.ts; value ties at identical ts use
-- the same greatest-value rule mirrored via the rn dedup above.
fwd AS (
  SELECT p.event_id, c.ts AS ts_f, c.value AS v_f
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
)
SELECT b.event_id, b.user_id,
       CASE WHEN b.ts_b IS NOT NULL AND (f.ts_f IS NULL OR
                 epoch_us(b.ts) - epoch_us(b.ts_b)
                 <= epoch_us(f.ts_f) - epoch_us(b.ts))
            THEN 'before'
            WHEN f.ts_f IS NOT NULL THEN 'after'
            ELSE 'none' END AS direction,
       round(CASE WHEN b.ts_b IS NOT NULL AND (f.ts_f IS NULL OR
                       epoch_us(b.ts) - epoch_us(b.ts_b)
                       <= epoch_us(f.ts_f) - epoch_us(b.ts))
                  THEN b.v_b ELSE f.v_f END, 2) AS click_value,
       CASE WHEN b.ts_b IS NOT NULL AND (f.ts_f IS NULL OR
                 epoch_us(b.ts) - epoch_us(b.ts_b)
                 <= epoch_us(f.ts_f) - epoch_us(b.ts))
            THEN epoch_us(b.ts) - epoch_us(b.ts_b)
            ELSE epoch_us(f.ts_f) - epoch_us(b.ts) END AS gap_us
FROM back b JOIN fwd f USING (event_id)
ORDER BY b.event_id
"""


# ---------------------------------------------------------------------------
# moving_average_decompose — trend + day-of-week seasonal split
# ---------------------------------------------------------------------------


def moving_average_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical time-series decomposition of the daily value series
    per event_type (SURVEY §2 #195): 7-day centered moving-average
    trend, then the day-of-week seasonal component as the mean
    residual — the moving-average decomposition every capacity/
    forecasting pipeline runs before modeling (seasonal_profile
    reports raw day-of-week means; this separates trend from season so
    the seasonal figure is level-free).

    Integer-exact throughout: daily totals in CENTS (bigint), the
    trend is the 7-day window SUM (kept at ×7 scale — dividing by 7
    would round), residuals are ``7·day − window_sum`` (exact), and
    the seasonal mean divides ONCE at the output edge. Windows are
    partitioned by event_type — the series count bounds the sort, and
    each series' window is a rows-frame over its own partition (no
    global sort; the gaps don't need filling because both engines
    window the same existing-day rows).
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
                "cents"
            )
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trended = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).alias("win_sum"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    ).filter(F.col("win_n") == 7)
    resid = trended.select(
        "event_type",
        F.dayofweek("day").alias("dow"),
        (F.col("cents") * 7 - F.col("win_sum")).alias("resid_x7"),
    )
    return (
        resid.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("resid_x7").alias("resid_x7_sum"),
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            F.expr(
                "cast(resid_x7_sum div (7 * n_days) as bigint)"
            ).alias("seasonal_cents"),
        )
    )


QUERIES["moving_average_decompose"] = moving_average_decompose

ORACLES["moving_average_decompose"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
trended AS (
  SELECT event_type, day, cents,
         sum(cents) OVER w AS win_sum,
         count(*) OVER w AS win_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
resid AS (
  SELECT event_type, dayofweek(day) + 1 AS dow,
         cents * 7 - win_sum AS resid_x7
  FROM trended WHERE win_n = 7
)
SELECT event_type, dow, count(*) AS n_days,
       CAST(sum(resid_x7) // (7 * count(*)) AS BIGINT) AS seasonal_cents
FROM resid GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# slo_burn_rate — hourly p95 SLO attainment + error-budget burn
# ---------------------------------------------------------------------------

_SLO_P95_MAX = 160.0  # hourly p95 latency objective


def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ATTAINMENT + ERROR-BUDGET BURN (SURVEY §2 #228) — the SRE
    reliability readout (Google SRE workbook's burn-rate alerts):
    hourly p95 latency is held against the objective, each day reports
    its violating hours, and the running burn (cumulative bad hours
    over cumulative hours, basis points) shows when the error budget
    crosses its line — the operational counterpart of the drift family
    (distribution monitoring) applied to a quantile objective.
    p95 is ``percentile_disc`` — BOTH engines pick an actual data
    value, so the compliance flag is engine-exact with no
    interpolation arithmetic; the burn ratios are exact integer basis
    points.

    Scale shape: the hourly census is one map-combinable groupBy
    (percentile_disc shuffles only (hour) keys); the day rollup and
    the running burn operate on the HOUR/DAY census — time-bounded
    (24 rows/day, 30 days here), the documented bounded-input class
    for the unpartitioned cumulative window.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.expr(
                "percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"
            ).alias("p95")
        )
        .select(
            F.date_format("h", "yyyy-MM-dd").alias("day"),
            F.when(F.col("p95") > _SLO_P95_MAX, 1).otherwise(0).alias("bad"),
        )
    )
    daily = hourly.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("bad").alias("bad_hours"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            "day",
            "n_hours",
            "bad_hours",
            F.expr("(10000 * bad_hours) div n_hours").alias("bad_bp"),
            F.sum("bad_hours").over(w).alias("cum_bad"),
            F.sum("n_hours").over(w).alias("cum_hours"),
        )
        .select(
            "day",
            "n_hours",
            "bad_hours",
            "bad_bp",
            F.expr("(10000 * cum_bad) div cum_hours").alias("cum_burn_bp"),
        )
    )


QUERIES["slo_burn_rate"] = slo_burn_rate

ORACLES["slo_burn_rate"] = f"""
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d') AS day,
         CASE WHEN quantile_disc(value, 0.95) > {_SLO_P95_MAX}
              THEN 1 ELSE 0 END AS bad
  FROM events WHERE event_type = 'view'
  GROUP BY date_trunc('hour', ts)
),
daily AS (
  SELECT day, count(*) AS n_hours, sum(bad) AS bad_hours
  FROM hourly GROUP BY day
)
SELECT day,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(bad_hours AS BIGINT) AS bad_hours,
       CAST((10000 * bad_hours) // n_hours AS BIGINT) AS bad_bp,
       CAST((10000 * sum(bad_hours) OVER w)
            // (sum(n_hours) OVER w) AS BIGINT) AS cum_burn_bp
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY day
"""


# ---------------------------------------------------------------------------
# arrival_disorder_census — out-of-order ingestion measurement
# ---------------------------------------------------------------------------


def arrival_disorder_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRIVAL-DISORDER census (SURVEY §2 #234) — the measurement a
    watermark delay is TUNED from (Streaming-systems disorder metric:
    how far event time runs behind arrival order), complementing
    late_data_census (which counts drops GIVEN a watermark, this key
    measures the disorder that CHOOSES one): per user, events in
    arrival order (event_id) are checked against event-time order —
    an INVERSION is an adjacent arrival pair whose timestamps regress
    — and the per-event-type census reports inversion share (bp) and
    the maximum regression in seconds, the direct watermark-delay
    lower bound.

    Scale shape: one user-partitioned lag window (arrival order),
    then a map-combinable groupBy; exact integers throughout
    (epoch-second arithmetic, truncating div).
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "event_type",
        F.expr("cast(unix_micros(ts) as bigint)").alias("us"),
        F.lag(F.expr("cast(unix_micros(ts) as bigint)")).over(w).alias(
            "prev_us"
        ),
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("prev_us").isNotNull()
                    & (F.col("us") < F.col("prev_us")),
                    1,
                ).otherwise(0)
            ).alias("n_inversions"),
            F.max(
                F.when(
                    F.col("prev_us").isNotNull(),
                    F.greatest(
                        F.col("prev_us") - F.col("us"), F.lit(0)
                    ),
                ).otherwise(0)
            ).alias("max_regress_us"),
        )
        .select(
            "event_type",
            "n_events",
            "n_inversions",
            F.expr("(10000 * n_inversions) div n_events").alias(
                "inversion_bp"
            ),
            F.expr("max_regress_us div 1000000").alias("max_regress_s"),
        )
    )


QUERIES["arrival_disorder_census"] = arrival_disorder_census

ORACLES["arrival_disorder_census"] = """
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
           AS prev_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN prev_us IS NOT NULL AND us < prev_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
       CAST((10000 * sum(CASE WHEN prev_us IS NOT NULL AND us < prev_us
                              THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         AS inversion_bp,
       CAST(max(CASE WHEN prev_us IS NOT NULL
                     THEN greatest(prev_us - us, 0) ELSE 0 END)
            // 1000000 AS BIGINT) AS max_regress_s
FROM seq
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# acf_lags — autocorrelation of the daily revenue series, exact integers
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7, 14)


def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1/7/14 over the daily-revenue
    series (SURVEY §2 #244) — the periodicity MEASUREMENT under
    seasonal_profile's day-of-week ASSUMPTION and daily_anomaly's
    residual thresholds (a weekly cycle shows as r(7) ≫ r(1)).  The
    series is the per-day revenue census quantized to k$; for each lag
    the (x_t, x_{t−L}) pairs come from positional lag windows over
    that census, and the statistic is the signed squared Pearson
    correlation in basis points: sign(cov)·(10000·cov²) div
    (varx·vary) with cov/var in the n·Σxy − Σx·Σy cross-moment form —
    every intermediate an exact integer (DECIMAL(38,0) on Spark,
    HUGEINT on DuckDB; k$ quantization keeps cov² under 1e38 through
    ~1e6 days of 1e9-$/day revenue).

    Scale shape: the fact table collapses to the DAY census in one
    map-combined aggregate; the unpartitioned lag window runs over
    that census (|days| rows — time-bounded, the fact table never
    rides it; allowlisted in tools/audit_plans.py), and the stacked
    pair table is 3·|days| rows into a 3-group aggregate.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.expr("cast(o_orderdate as date)").alias("day"))
        .agg(
            F.sum(F.expr("cast(o_totalprice as decimal(18,2)) * 100"))
            .cast("bigint")
            .alias("cents")
        )
        .select("day", F.expr("cents div 100000").alias("rev_k"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev_k",
        *[F.lag("rev_k", L).over(w).alias(f"lag{L}") for L in _ACF_LAGS],
    )
    stack_args = ", ".join(f"{L}, lag{L}" for L in _ACF_LAGS)
    pairs = lagged.selectExpr(
        "rev_k as x", f"stack({len(_ACF_LAGS)}, {stack_args}) as (lag, y)"
    ).filter(F.col("y").isNotNull())
    moments = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.expr("cast(x as decimal(38,0))")).alias("sx"),
        F.sum(F.expr("cast(y as decimal(38,0))")).alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
    )
    return (
        moments.select(
            "lag",
            "n_pairs",
            F.expr("n_pairs * sxy - sx * sy").alias("cov_n"),
            F.expr("n_pairs * sxx - sx * sx").alias("varx_n"),
            F.expr("n_pairs * syy - sy * sy").alias("vary_n"),
        )
        .select(
            "lag",
            "n_pairs",
            F.col("cov_n").cast("bigint").alias("cov_n"),
            F.expr(
                "cast(case when cov_n < 0 then -1 else 1 end"
                " * ((10000 * cov_n * cov_n) div (varx_n * vary_n))"
                " as bigint)"
            ).alias("r2_signed_bp"),
        )
    )


QUERIES["acf_lags"] = acf_lags

ORACLES["acf_lags"] = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           // 100000 AS rev_k
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT rev_k AS x,
         {", ".join(f"lag(rev_k, {L}) OVER (ORDER BY day) AS lag{L}" for L in _ACF_LAGS)}
  FROM daily
),
pairs AS (
  {" UNION ALL ".join(f"SELECT {L} AS lag, x, lag{L} AS y FROM lagged WHERE lag{L} IS NOT NULL" for L in _ACF_LAGS)}
),
moments AS (
  SELECT lag,
         count(*) AS n_pairs,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs GROUP BY lag
),
cross_moments AS (
  SELECT lag, n_pairs,
         n_pairs * sxy - sx * sy AS cov_n,
         n_pairs * sxx - sx * sx AS varx_n,
         n_pairs * syy - sy * sy AS vary_n
  FROM moments
)
SELECT lag,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(cov_n AS BIGINT) AS cov_n,
       CAST((CASE WHEN cov_n < 0 THEN -1 ELSE 1 END)
            * ((10000 * cov_n * cov_n) // (varx_n * vary_n))
            AS BIGINT) AS r2_signed_bp
FROM cross_moments
ORDER BY lag
"""


# ---------------------------------------------------------------------------
# burstiness_fano — overdispersion census per (event type, hour-of-day)
# ---------------------------------------------------------------------------


def burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO-FACTOR burstiness census (SURVEY §2 #300) — the index of
    dispersion Var/Mean per (event type, hour-of-day), the standard
    Poisson-ness test of traffic (Fano 1947; a Poisson arrival stream
    has F = 1, humans and retry storms have F >> 1): capacity
    planning that assumes Poisson when traffic is bursty under-
    provisions exactly at the peak — arrival_disorder_census measures
    ORDER chaos, this measures RATE chaos on the same stream.
    F_milli = (1000·(n·Σc² − (Σc)²)) div ((n−1)·Σc) — the sample-
    variance/mean ratio, exact integers end to end; classes cut at
    the conventional 2/3 and 3/2 literals.

    Scale shape: one map-combined agg to the (type, date, hour) count
    census, a second to the 5×24 (type, hour) moments — windowless,
    nothing bigger than the census after the first agg.
    """
    ev = _t(spark, sf_dir, "events")
    per_period = ev.groupBy(
        "event_type",
        F.expr("cast(ts as date)").alias("d"),
        F.expr("hour(ts)").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        per_period.groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_periods"),
            F.sum("c").alias("sc"),
            F.sum(F.expr("cast(c as decimal(38,0)) * c")).alias("scc"),
        )
        .select(
            "event_type",
            F.col("hr").cast("bigint").alias("hour"),
            F.col("n_periods").cast("bigint").alias("n_periods"),
            F.col("sc").cast("bigint").alias("n_events"),
            F.expr(
                "cast(coalesce((1000 * (n_periods * scc"
                " - cast(sc as decimal(38,0)) * sc))"
                " div (nullif((n_periods - 1) * cast(sc as decimal(38,0)),"
                " 0)), -1) as bigint)"
            ).alias("fano_milli"),
            F.expr(
                "CASE WHEN coalesce((1000 * (n_periods * scc"
                " - cast(sc as decimal(38,0)) * sc))"
                " div (nullif((n_periods - 1) * cast(sc as decimal(38,0)),"
                " 0)), -1) > 1500 THEN 'bursty'"
                " WHEN coalesce((1000 * (n_periods * scc"
                " - cast(sc as decimal(38,0)) * sc))"
                " div (nullif((n_periods - 1) * cast(sc as decimal(38,0)),"
                " 0)), -1) < 667 THEN 'regular'"
                " ELSE 'poisson_like' END"
            ).alias("dispersion_class"),
        )
    )


QUERIES["burstiness_fano"] = burstiness_fano

_fano_expr = (
    "coalesce((1000 * (n_periods * scc - sc::HUGEINT * sc))"
    " // nullif((n_periods - 1) * sc::HUGEINT, 0), -1)"
)

ORACLES["burstiness_fano"] = f"""
WITH per_period AS (
  SELECT event_type, CAST(ts AS DATE) AS d, hour(ts) AS hr,
         count(*) AS c
  FROM events GROUP BY 1, 2, 3
),
moments AS (
  SELECT event_type, hr, count(*) AS n_periods, sum(c) AS sc,
         sum(c::HUGEINT * c) AS scc
  FROM per_period GROUP BY 1, 2
)
SELECT event_type,
       CAST(hr AS BIGINT) AS hour,
       CAST(n_periods AS BIGINT) AS n_periods,
       CAST(sc AS BIGINT) AS n_events,
       CAST({_fano_expr} AS BIGINT) AS fano_milli,
       CASE WHEN {_fano_expr} > 1500 THEN 'bursty'
            WHEN {_fano_expr} < 667 THEN 'regular'
            ELSE 'poisson_like' END AS dispersion_class
FROM moments
ORDER BY event_type, hour
"""


# ---------------------------------------------------------------------------
# sax_motifs — symbolic aggregate approximation + motif census
# ---------------------------------------------------------------------------

_SAX_PAA_DAYS = 3
_SAX_TOPK = 5


def sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic time-series motifs (SURVEY §2 #308) — Lin-Keogh
    2003's symbolic aggregate approximation, the time-series MINING
    leg the TS family lacks (acf/cusum/MK test global properties;
    SAX finds repeating local SHAPES): daily k$ revenue → 3-day PAA
    means → quartile symbols a-d (breakpoints are exact
    percentile_disc ELEMENTS of each year's own PAA distribution —
    the empirical-quantile variant, which needs no z-normalization
    and hence no sqrt) → sliding 3-symbol words → the top-5 recurring
    words per year with counts.  A word like 'dda' (two high
    segments then a crash) recurring 9 times IS the motif readout.

    Scale shape: fact → day census → PAA census (|days|/3 rows per
    year); breakpoints one percentile agg broadcast back; the word
    assembly is two lag windows over the PAA census PARTITIONED BY
    YEAR (time-bounded, the acf_lags class); top-5 election per year
    is a partitioned rank.  Nothing fact-sized below the first agg.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1995-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    daily = orders.groupBy(
        F.expr("year(o_orderdate)").alias("yr"),
        F.expr(
            "datediff(cast(o_orderdate as date),"
            " date'1995-01-01')"
        ).alias("d"),
    ).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " as decimal(38,0)) div 100000"
        ).alias("y")
    )
    paa = materialize(
        daily.groupBy(
            "yr", F.expr(f"d div {_SAX_PAA_DAYS}").alias("seg")
        ).agg(F.expr("sum(y) div count(*)").alias("m"))
    )
    bps = paa.groupBy("yr").agg(
        F.expr(
            "cast(percentile_disc(0.25) WITHIN GROUP (ORDER BY m)"
            " as bigint)"
        ).alias("b1"),
        F.expr(
            "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY m)"
            " as bigint)"
        ).alias("b2"),
        F.expr(
            "cast(percentile_disc(0.75) WITHIN GROUP (ORDER BY m)"
            " as bigint)"
        ).alias("b3"),
    )
    sym = paa.join(F.broadcast(bps), "yr").select(
        "yr",
        "seg",
        F.expr(
            "CASE WHEN m <= b1 THEN 'a' WHEN m <= b2 THEN 'b'"
            " WHEN m <= b3 THEN 'c' ELSE 'd' END"
        ).alias("s"),
    )
    w = Window.partitionBy("yr").orderBy("seg")
    words = (
        sym.withColumn("s1", F.lead("s", 1).over(w))
        .withColumn("s2", F.lead("s", 2).over(w))
        .filter("s1 IS NOT NULL AND s2 IS NOT NULL")
        .select("yr", F.expr("concat(s, s1, s2)").alias("word"))
    )
    counts = words.groupBy("yr", "word").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    wr = Window.partitionBy("yr").orderBy(
        F.desc("n_occurrences"), F.asc("word")
    )
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .filter(f"rank <= {_SAX_TOPK}")
        .select(
            F.col("yr").cast("bigint").alias("year"),
            F.col("rank").cast("bigint").alias("rank"),
            "word",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
    )


QUERIES["sax_motifs"] = sax_motifs

ORACLES["sax_motifs"] = f"""
WITH daily AS (
  SELECT year(o_orderdate) AS yr,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
paa AS MATERIALIZED (
  SELECT yr, d // {_SAX_PAA_DAYS} AS seg, sum(y) // count(*) AS m
  FROM daily GROUP BY 1, 2
),
bps AS (
  SELECT yr,
         CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY m) AS BIGINT)
           AS b1,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY m) AS BIGINT)
           AS b2,
         CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY m) AS BIGINT)
           AS b3
  FROM paa GROUP BY yr
),
sym AS (
  SELECT p.yr, p.seg,
         CASE WHEN p.m <= b.b1 THEN 'a' WHEN p.m <= b.b2 THEN 'b'
              WHEN p.m <= b.b3 THEN 'c' ELSE 'd' END AS s
  FROM paa p JOIN bps b USING (yr)
),
words AS (
  SELECT yr,
         s || lead(s, 1) OVER w || lead(s, 2) OVER w AS word
  FROM sym
  WINDOW w AS (PARTITION BY yr ORDER BY seg)
),
counts AS (
  SELECT yr, word, count(*) AS n_occurrences
  FROM words WHERE word IS NOT NULL
  GROUP BY yr, word
)
SELECT CAST(yr AS BIGINT) AS year,
       CAST(row_number() OVER (PARTITION BY yr
                               ORDER BY n_occurrences DESC, word)
            AS BIGINT) AS rank,
       word,
       CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM counts
QUALIFY rank <= {_SAX_TOPK}
ORDER BY year, rank
"""


# ---------------------------------------------------------------------------
# haar_wavelet_topk — integer Haar transform + top-k coefficient census
# ---------------------------------------------------------------------------

_HAAR_LEN = 256  # 2^8 days from 1995-01-01
_HAAR_LEVELS = 8
_HAAR_TOPK = 10


def haar_wavelet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAAR WAVELET top-k coefficients (SURVEY §2 #309) — the
    transform-domain compression leg (Matias-Vitter-Wang 1998 wavelet
    synopses): where SAX symbolizes the series and V-optimal buckets
    its histogram, the Haar synopsis keeps the k largest detail
    coefficients and answers range queries from them — the classic
    selectivity-synopsis trade.  UNNORMALIZED Haar (pairwise sum and
    difference, no sqrt2, no division) over the first 256 days of
    daily k$ revenue, 8 levels unrolled (the Hilbert/HITS contract),
    missing days densified to zero so the dyadic ladder is exact;
    published: the top-10 coefficients by |value| with their level,
    position, and exact bp share of total detail energy.

    Scale shape: fact → day census (the only fact-sized stage, still
    distributed); the dyadic ladder runs DRIVER-SIDE on the
    bounded_collect'ed 256-row census in exact integer arithmetic —
    a census-collect-then-iterate key (SURVEY §7.24a): the former 8
    per-level materialize() rounds were 8 Spark jobs on <=128-row
    state, pure scheduler overhead at every scale.  Series length is
    an operator constant — longer horizons shard by (year, series)
    partitions.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(
            "datediff(cast(o_orderdate as date), date'1995-01-01')"
        ).alias("d")
    ).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " as decimal(38,0)) div 100000"
        ).alias("y")
    ).filter(f"d >= 0 AND d < {_HAAR_LEN}")

    # Dense 256-slot series from the day census (missing days are 0),
    # then the unrolled UNNORMALIZED ladder in exact Python integers —
    # sums/differences of longs and the final decimal(38,0)-shaped
    # energy division are engine-exact, so the collapse is
    # bit-identical to the former per-level Spark rounds.
    v = [0] * _HAAR_LEN
    for r in bounded_collect(
        daily, _HAAR_LEN, "haar_wavelet_topk: daily revenue census"
    ):
        v[r["d"]] = int(r["y"])
    details = []  # (level, pos, coeff)
    for lvl in range(1, _HAAR_LEVELS + 1):
        nxt, det = [], []
        for pos in range(0, len(v), 2):
            nxt.append(v[pos] + v[pos + 1])
            det.append(v[pos] - v[pos + 1])
        details.extend((lvl, p, d) for p, d in enumerate(det))
        v = nxt
    tot = sum(c * c for _, _, c in details)
    ranked = sorted(details, key=lambda t: (-abs(t[2]), t[0], t[1]))
    out = [
        (
            rk,
            lvl,
            pos,
            coeff,
            0 if tot == 0 else (10000 * coeff * coeff) // tot,
        )
        for rk, (lvl, pos, coeff) in enumerate(ranked[:_HAAR_TOPK], start=1)
    ]
    return spark.createDataFrame(
        out,
        schema="rank bigint, level bigint, position bigint, coeff bigint,"
        " energy_share_bp bigint",
    )


QUERIES["haar_wavelet_topk"] = haar_wavelet_topk


def _haar_oracle() -> str:
    levels = []
    prev = "l0"
    for lvl in range(1, _HAAR_LEVELS + 1):
        levels.append(f"""
l{lvl} AS MATERIALIZED (
  SELECT pos // 2 AS pos, sum(v) AS v,
         sum(CASE WHEN pos % 2 = 0 THEN v ELSE -v END) AS dcoef
  FROM {prev} GROUP BY pos // 2
)""")
        prev = f"l{lvl}"
    body = ",".join(levels)
    dets = " UNION ALL ".join(
        f"SELECT {lvl} AS level, pos, dcoef AS coeff FROM l{lvl}"
        for lvl in range(1, _HAAR_LEVELS + 1)
    )
    return f"""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders GROUP BY 1
),
l0 AS MATERIALIZED (
  SELECT CAST(s.d AS INT) AS pos, coalesce(daily.y, 0) AS v
  FROM unnest(generate_series(0, {_HAAR_LEN - 1})) AS s(d)
  LEFT JOIN daily ON daily.d = s.d
),{body},
details AS MATERIALIZED ({dets}),
energy AS (SELECT sum(coeff::HUGEINT * coeff) AS tot FROM details)
SELECT CAST(row_number() OVER (ORDER BY abs(coeff) DESC, level, pos)
            AS BIGINT) AS rank,
       CAST(level AS BIGINT) AS level,
       CAST(pos AS BIGINT) AS position,
       CAST(coeff AS BIGINT) AS coeff,
       CAST(coalesce((10000 * coeff::HUGEINT * coeff) // nullif(tot, 0), 0)
            AS BIGINT) AS energy_share_bp
FROM details CROSS JOIN energy
QUALIFY rank <= {_HAAR_TOPK}
ORDER BY rank
"""

ORACLES["haar_wavelet_topk"] = _haar_oracle()


# ---------------------------------------------------------------------------
# rescaled_range_census — Hurst-style R/S statistics at dyadic scales
# ---------------------------------------------------------------------------

_RS_SIZES = (16, 32, 64, 128)


def rescaled_range_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESCALED-RANGE (R/S) census (SURVEY §2 #351) — Hurst 1951 /
    Mandelbrot's long-range-dependence probe, the question the ACF
    stops short of: acf_lags sees correlation at FIXED small lags;
    the R/S curve across dyadic window sizes sees whether deviations
    COMPOUND (Hurst H > 1/2, persistent — queue backlogs and flood
    years cluster) or mean-revert.  For each window size the range of
    cumulative deviations and the variance are exact integers, and
    (R/S)^2 = range^2/var is published per scale (squared form: no
    sqrt anywhere) with the scale-doubling ratio — under pure noise
    the ratio is ~2 ((R/S) ~ sqrt(n)); persistently above 2 reads as
    H > 1/2 without ever fitting a log-log slope.

    Scale shape: day census -> per-(size, window) groups via map-side
    div assignment; cumulative deviations via windows PARTITIONED by
    (size, window); per-scale folds.  Sizes are operator constants.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = materialize(
        orders.filter(
            F.expr("o_orderdate >= date'1995-01-01'")
            & F.expr("o_orderdate < date'1998-01-01'")
        )
        .groupBy(
            F.expr(
                "datediff(cast(o_orderdate as date), date'1995-01-01')"
            ).alias("d")
        )
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100000"
            ).alias("y")
        )
    )
    sizes = spark.range(1).select(
        F.explode(
            F.expr(f"array({', '.join(str(s) for s in _RS_SIZES)})")
        ).alias("sz")
    )
    framed = daily.crossJoin(F.broadcast(sizes)).select(
        "sz",
        F.expr("d div sz").alias("w"),
        F.expr("d % sz").alias("i"),
        "y",
    )
    stats = framed.groupBy("sz", "w").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
    ).filter(F.expr("n = sz"))
    wcum = (
        Window.partitionBy("sz", "w")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cumulative deviation scaled by n: n*cum(y) - k*Sy stays integer
    dev = (
        framed.join(stats, ["sz", "w"])
        .withColumn("cy", F.sum("y").over(wcum))
        .withColumn(
            "devn",
            F.expr("cast(n as decimal(38,0)) * cy - (i + 1) * sy"),
        )
    )
    ranges = dev.groupBy("sz", "w", "n", "sy", "syy").agg(
        F.expr("max(devn) - min(devn)").alias("range_n")
    )
    # (R/S)^2 = (range/n)^2 / (var) with var = (n*Syy - Sy^2)/n^2:
    # = range_n^2 / (n^2 * (n*Syy - Sy^2)) * n^2 = range_n^2
    #   / (n^2*(n*Syy - Sy^2)) ... cleared: rs2_milli =
    # 1000 * range_n^2 div (n^2 * (n*Syy - Sy^2) div n^2 ... keep
    # exact: rs2_milli = (1000 * range_n^2) div (n^2*(n*Syy - Sy^2))
    # is (R/S)^2/n^2; multiply back by n^2:
    per_scale = ranges.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            F.expr(
                "(1000 * range_n * range_n)"
                " div nullif(cast(n as decimal(38,0)) * n"
                " * (n * syy - sy * sy), 0)"
            )
        ).alias("rs2_sum_milli"),
    ).select(
        "sz",
        "n_windows",
        F.expr("cast(rs2_sum_milli div n_windows as bigint)").alias(
            "rs2_milli"
        ),
    )
    nxt = per_scale.select(
        F.expr("sz div 2").alias("sz"),
        F.col("rs2_milli").alias("rs2_next"),
    )
    return (
        per_scale.join(nxt, "sz", "left")
        .select(
            F.col("sz").cast("bigint").alias("window_days"),
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("rs2_milli").cast("bigint").alias("rs2_milli"),
            F.expr(
                "cast(coalesce((1000 * rs2_next) div nullif(rs2_milli, 0),"
                " -1) as bigint)"
            ).alias("doubling_ratio_milli"),
        )
    )


QUERIES["rescaled_range_census"] = rescaled_range_census

ORACLES["rescaled_range_census"] = f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1
),
framed AS (
  SELECT sz, d // sz AS w, d % sz AS i, y
  FROM daily, unnest([{', '.join(str(s) for s in _RS_SIZES)}]) AS t(sz)
),
stats AS MATERIALIZED (
  SELECT sz, w, count(*) AS n, sum(y) AS sy, sum(y::HUGEINT * y) AS syy
  FROM framed GROUP BY sz, w
  HAVING count(*) = sz
),
dev AS (
  SELECT f.sz, f.w, s.n, s.sy, s.syy,
         s.n::HUGEINT * sum(f.y) OVER (PARTITION BY f.sz, f.w ORDER BY f.i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (f.i + 1) * s.sy AS devn
  FROM framed f JOIN stats s ON s.sz = f.sz AND s.w = f.w
),
ranges AS MATERIALIZED (
  SELECT sz, w, n, sy, syy, max(devn) - min(devn) AS range_n
  FROM dev GROUP BY sz, w, n, sy, syy
),
per_scale AS MATERIALIZED (
  SELECT sz, count(*) AS n_windows,
         sum((1000 * range_n * range_n)
             // nullif(n::HUGEINT * n * (n * syy - sy::HUGEINT * sy), 0))
           // count(*) AS rs2_milli
  FROM ranges GROUP BY sz
)
SELECT CAST(a.sz AS BIGINT) AS window_days,
       CAST(a.n_windows AS BIGINT) AS n_windows,
       CAST(a.rs2_milli AS BIGINT) AS rs2_milli,
       CAST(coalesce((1000 * b.rs2_milli) // nullif(a.rs2_milli, 0), -1)
            AS BIGINT) AS doubling_ratio_milli
FROM per_scale a
LEFT JOIN per_scale b ON b.sz = a.sz * 2
ORDER BY window_days
"""


# ---------------------------------------------------------------------------
# allan_variance — two-sample rate stability at dyadic averaging times
# ---------------------------------------------------------------------------

_AVAR_TAUS = (1, 2, 4, 8)  # averaging windows, days


def allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALLAN VARIANCE of the order-arrival rate (SURVEY §2 #352) —
    the metrology-standard stability measure (Allan 1966, how every
    clock is graded), and the right tool for "is our throughput
    stable AT THIS AVERAGING SCALE": classical variance grows without
    bound under drift, the two-sample form AVAR(tau) = E[(ybar_{k+1}
    - ybar_k)^2]/2 stays finite and its tau-profile CLASSIFIES the
    noise (white noise falls ~1/tau; flat = flicker; rising = random
    walk/drift) — burstiness_fano reads one scale, this reads the
    whole profile.  Daily order counts averaged over tau-day bins;
    adjacent-bin differences squared and folded — exact integers
    with the tau scaling cleared (bin sums differ, not means: AVAR *
    tau^2 is integer; published as avar_milli after one division).

    Scale shape: day census -> tau-bin sums (map-side div key);
    adjacent differences via a lag window PARTITIONED by tau over the
    bin census; one fold per tau.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = materialize(
        orders.filter(
            F.expr("o_orderdate >= date'1995-01-01'")
            & F.expr("o_orderdate < date'1998-01-01'")
        )
        .groupBy(
            F.expr(
                "datediff(cast(o_orderdate as date), date'1995-01-01')"
            ).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    taus = spark.range(1).select(
        F.explode(
            F.expr(f"array({', '.join(str(t) for t in _AVAR_TAUS)})")
        ).alias("tau")
    )
    bins = (
        daily.crossJoin(F.broadcast(taus))
        .groupBy("tau", F.expr("d div tau").alias("b"))
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("nb"))
        .filter(F.expr("nb = tau"))
    )
    wlag = Window.partitionBy("tau").orderBy("b")
    diffs = (
        bins.withColumn("prev_s", F.lag("s").over(wlag))
        .withColumn("prev_b", F.lag("b").over(wlag))
        .filter(F.expr("prev_s IS NOT NULL AND b = prev_b + 1"))
        .select(
            "tau", F.expr("cast(s - prev_s as decimal(38,0))").alias("dd")
        )
    )
    return (
        diffs.groupBy("tau")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.expr("dd * dd")).alias("sdd2"),
        )
        .select(
            F.col("tau").cast("bigint").alias("tau_days"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            # AVAR(tau) = E[(s/tau - s'/tau)^2]/2 = E[dd^2]/(2 tau^2)
            F.expr(
                "cast((1000 * sdd2) div (2 * cast(n_pairs as decimal(38,0))"
                " * tau * tau) as bigint)"
            ).alias("avar_milli"),
        )
    )


QUERIES["allan_variance"] = allan_variance

ORACLES["allan_variance"] = f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
         count(*) AS c
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1
),
bins AS MATERIALIZED (
  SELECT tau, d // tau AS b, sum(c) AS s, count(*) AS nb
  FROM daily, unnest([{', '.join(str(t) for t in _AVAR_TAUS)}]) AS t(tau)
  GROUP BY tau, d // tau
  HAVING count(*) = tau
),
diffs AS (
  SELECT tau,
         (s - lag(s) OVER w)::HUGEINT AS dd,
         b - lag(b) OVER w AS gap
  FROM bins
  WINDOW w AS (PARTITION BY tau ORDER BY b)
  QUALIFY dd IS NOT NULL AND gap = 1
)
SELECT CAST(tau AS BIGINT) AS tau_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST((1000 * sum(dd * dd))
            // (2 * count(*)::HUGEINT * tau * tau) AS BIGINT)
         AS avar_milli
FROM diffs
GROUP BY tau ORDER BY tau_days
"""
