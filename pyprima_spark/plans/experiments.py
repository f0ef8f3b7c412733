"""Experimentation and causal inference: A/A and A/B readouts, power
and variance reduction, off-policy evaluation, uplift, quasi-experimental
designs (difference-in-differences, regression discontinuity,
instrumental variables), resampling intervals, multiple testing, and
channel attribution.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import DEC
from pyprima_spark.operators.asof import asof_join as _asof
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# ab_test_chi2 — experiment analysis with exact 2x2 chi-square
# ---------------------------------------------------------------------------

_AB_CONV_VALUE = 150.0
_AB_CHI2_CRIT = 3.841  # p = 0.05, df = 1


def ab_test_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are hash-assigned to two variants
    (deterministic md5 gate — the reproducible randomization unit),
    conversion is 'made a purchase over 150', and the 2×2 chi-square
    decides significance at p=0.05.

    One shuffle on user_id builds the per-user conversion flag
    (max-combined); the 2×2 table is a two-row aggregate, and the
    chi-square N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is evaluated ONCE on
    exact integer counts (double math on integers < 2⁵³ — identical in
    any IEEE engine; at petabyte user counts the cross-products move
    to DECIMAL).  Expected non-significant here: the split is random.
    """
    ev = _t(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > _AB_CONV_VALUE),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .select(
            (F.expr(X.hash64_spark("cast(user_id as string) || ':ab'")) % 2).alias(
                "variant"
            ),
            "conv",
        )
    )
    cells = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_converted"),
    )
    # r11 (guide §2.4, the brier/decile pattern): the 2x2 totals ride a
    # whole-partition window on the ≤2-row cell census instead of a
    # separate aggregate crossJoined back — the former shape evaluated
    # the per-user fact aggregate TWICE (once under stats, once for the
    # output rows). Identical a/b/c/d integers, identical chi2 double.
    wall = Window.partitionBy()
    wide = (
        cells.withColumn(
            "a", F.sum(F.when(F.col("variant") == 0, F.col("n_converted"))).over(wall)
        )
        .withColumn(
            "b",
            F.sum(
                F.when(F.col("variant") == 0, F.col("n_users") - F.col("n_converted"))
            ).over(wall),
        )
        .withColumn(
            "c", F.sum(F.when(F.col("variant") == 1, F.col("n_converted"))).over(wall)
        )
        .withColumn(
            "d",
            F.sum(
                F.when(F.col("variant") == 1, F.col("n_users") - F.col("n_converted"))
            ).over(wall),
        )
    )
    chi2 = F.expr(
        "(a + b + c + d) * (a * d - b * c) * (a * d - b * c)"
        " / (cast((a + b) as double) * (c + d) * (a + c) * (b + d))"
    )
    return (
        wide.withColumn("chi2", F.round(chi2, 4))
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.expr("cast(n_converted * 10000 div n_users as int)").alias("cvr_bp"),
            "chi2",
            (F.col("chi2") > _AB_CHI2_CRIT).alias("significant"),
        )
    )


QUERIES["ab_test_chi2"] = ab_test_chi2

ORACLES["ab_test_chi2"] = f"""
WITH users AS (
  SELECT {X.hash64_duck("cast(user_id as varchar) || ':ab'")} % 2 AS variant,
         max(CASE WHEN event_type = 'purchase' AND value > {_AB_CONV_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
cells AS (
  SELECT variant, count(*) AS n_users, sum(conv) AS n_converted
  FROM users GROUP BY variant
),
wide AS (
  SELECT sum(CASE WHEN variant = 0 THEN n_converted END) AS a,
         sum(CASE WHEN variant = 0 THEN n_users - n_converted END) AS b,
         sum(CASE WHEN variant = 1 THEN n_converted END) AS c,
         sum(CASE WHEN variant = 1 THEN n_users - n_converted END) AS d
  FROM cells
),
stats AS (
  SELECT round((a + b + c + d) * (a * d - b * c) * (a * d - b * c)
               / (CAST((a + b) AS DOUBLE) * (c + d) * (a + c) * (b + d)), 4)
           AS chi2
  FROM wide
)
SELECT variant, n_users,
       CAST(n_converted AS BIGINT) AS n_converted,
       CAST(n_converted * 10000 // n_users AS INT) AS cvr_bp,
       chi2,
       chi2 > {_AB_CHI2_CRIT} AS significant
FROM cells CROSS JOIN stats
ORDER BY variant
"""


# ---------------------------------------------------------------------------
# attribution_models — first-touch vs last-touch revenue attribution
# ---------------------------------------------------------------------------

def attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch marketing attribution, compared in
    one result: every purchase's revenue is credited to (a) the
    user's FIRST click ever (first-touch) and (b) the most recent
    click before the purchase (last-touch, the as-of join), and both
    models are rolled up by the credited click's hour-of-day.  The
    two-model comparison is the attribution-bias readout growth teams
    argue over.

    First-touch is a min-window over the user partition (shared
    exchange with the purchase scan); last-touch reuses the
    union+window as-of operator.  Credit sums are DECIMAL; hours with
    no credit under one model show 0.00 via the full outer merge.
    """

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").cast(DEC).alias("v")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    wu = Window.partitionBy("user_id")
    first_click = (
        clicks.select("user_id", F.min("ts").over(wu).alias("fts"))
        .distinct()
    )
    ft = (
        purchases.join(first_click, "user_id")
        .select(F.hour("fts").alias("click_hour"), "v")
        .groupBy("click_hour")
        .agg(F.round(F.sum("v"), 2).cast("double").alias("first_touch_rev"))
    )
    lt_join = _asof(purchases, clicks, "user_id", value_cols=["value"])
    lt = (
        lt_join.select(F.hour("ts_asof").alias("click_hour"), "v")
        .groupBy("click_hour")
        .agg(F.round(F.sum("v"), 2).cast("double").alias("last_touch_rev"))
    )
    return (
        ft.join(lt, "click_hour", "full_outer")
        .select(
            "click_hour",
            F.coalesce("first_touch_rev", F.lit(0.0)).alias("first_touch_rev"),
            F.coalesce("last_touch_rev", F.lit(0.0)).alias("last_touch_rev"),
        )
    )


QUERIES["attribution_models"] = attribution_models

ORACLES["attribution_models"] = """
WITH purchases AS (
  SELECT user_id, ts, CAST(value AS DECIMAL(27,6)) AS v
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY value DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
),
first_click AS (
  SELECT user_id, min(ts) AS fts FROM clicks GROUP BY user_id
),
ft AS (
  SELECT hour(fts) AS click_hour,
         round(sum(v), 2)::DOUBLE AS first_touch_rev
  FROM purchases JOIN first_click USING (user_id)
  GROUP BY 1
),
lt AS (
  SELECT hour(c.ts) AS click_hour,
         round(sum(p.v), 2)::DOUBLE AS last_touch_rev
  FROM purchases p ASOF JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
  GROUP BY 1
)
SELECT click_hour,
       coalesce(first_touch_rev, 0.0) AS first_touch_rev,
       coalesce(last_touch_rev, 0.0) AS last_touch_rev
FROM ft FULL OUTER JOIN lt USING (click_hour)
ORDER BY click_hour
"""


# ---------------------------------------------------------------------------
# markov_attribution — removal-effect channel attribution
# ---------------------------------------------------------------------------

_MK_SCALE = 10**12  # probability mass fixed-point denominator
_MK_ITERS = 12
_MK_CHANNELS = ["click", "error", "signup", "view"]


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov removal-effect attribution (SURVEY §2 #199)
    — the data-driven alternative to rule-based attribution_models
    (first/last/linear): build the channel transition graph from user
    journeys (truncated at first purchase → CONV absorber; abandoned
    journeys → DROP absorber), estimate the conversion probability by
    ``_MK_ITERS`` steps of fixed-point mass propagation, re-run with
    each channel removed (its inbound edges redirect to DROP, outbound
    edges deleted), and report each channel's REMOVAL EFFECT — how
    much conversion disappears without it — normalized to basis
    points. The Shapley-flavored readout ad-spend allocation actually
    uses.

    Determinism: probability mass rides as BIGINT numerators at a
    fixed 10^12 denominator; each propagation term is
    ``(v·c_ij) div c_i`` — integer truncation per TERM, so the sum is
    order-free and both engines produce bit-identical mass (the same
    scheme as the catalog's exact-integer ratios, applied iteratively;
    truncation loss is a deterministic lower bound, and a removal
    scenario can only LOSE paths, so effects are clamped at 0).
    At 100 TB c_ij approaches the BIGINT product bound — the
    data_mixture_plan split-integer form is the documented upgrade.

    Scale shape: the only corpus-sized work is the journey pair
    extraction (one shuffle on user_id, two windows sharing it) and
    its collapse to the |states|² transition census; the census is
    collected once and the scenario expansion plus all ``_MK_ITERS``
    propagation rounds run driver-side in exact Python integers with
    the oracle's truncate-toward-zero division — zero cluster
    barriers per round at any data scale (the previous all-DataFrame
    unroll paid a join + fold per round, checkpointed every second
    round, on ≤ 35-row state). The oracle unrolls the identical
    iterations as chained CTEs (graph_k_core precedent).
    """
    ev = _t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w_u).alias("rn")
    )
    conv_rn = (
        ranked.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    kept = ranked.join(conv_rn, "user_id", "left").filter(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    w_k = Window.partitionBy("user_id").orderBy("rn")
    paired = kept.select(
        "user_id",
        "rn",
        F.col("event_type").alias("src_t"),
        F.lead("event_type").over(w_k).alias("nxt"),
    )
    mapped = F.when(F.col("nxt").isNull(), "DROP").otherwise(
        F.when(F.col("nxt") == "purchase", "CONV").otherwise(F.col("nxt"))
    )
    start_rows = paired.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"),
        F.when(F.col("src_t") == "purchase", "CONV")
        .otherwise(F.col("src_t"))
        .alias("dst"),
    )
    step_rows = paired.filter(F.col("src_t") != "purchase").select(
        F.col("src_t").alias("src"), mapped.alias("dst")
    )

    counts = [
        (r["src"], r["dst"], r["c"])
        for r in bounded_collect(
            start_rows.unionByName(step_rows)
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("c")),
            64,
            "markov_attribution: |states|^2 transition census",
        )
    ]  # the <= |states|^2 transition census — collected once
    scen_names = ["none"] + _MK_CHANNELS
    base_v = None
    effects = []
    for scen in scen_names:
        # scenario matrix: the removed channel's outbound edges are
        # deleted, its inbound edges redirect to DROP
        c: dict = {}
        for src, dst, cnt in counts:
            if src == scen:
                continue
            dst = "DROP" if dst == scen else dst
            c[(src, dst)] = c.get((src, dst), 0) + cnt
        ct: dict = {}
        for (src, _dst), cnt in c.items():
            ct[src] = ct.get(src, 0) + cnt
        for a in ("CONV", "DROP"):  # absorber self-loops (own ct = 1)
            c[(a, a)] = 1
            ct[a] = 1
        v = {"START": _MK_SCALE}
        for _ in range(_MK_ITERS):
            nv: dict = {}
            for (src, dst), cnt in c.items():
                mass = v.get(src)
                if mass is None:
                    continue
                nv[dst] = nv.get(dst, 0) + _tdiv(mass * cnt, ct[src])
            v = nv
        conv = v.get("CONV")
        if scen == "none":
            base_v = conv
        elif conv is not None:
            effects.append((scen, conv))
    out = []
    if base_v is not None:
        te = sum(max(base_v - cv, 0) for _s, cv in effects)
        for scen, cv in effects:
            eff = max(base_v - cv, 0)
            out.append((
                scen,
                int(cv),
                int(eff),
                int(_tdiv(eff * 10000, te)) if te != 0 else 0,
            ))
    out.sort(key=lambda t: t[0])
    return spark.createDataFrame(
        out,
        schema=(
            "removed_channel string, conv_x1e12 bigint,"
            " removal_effect_x1e12 bigint, attribution_bp int"
        ),
    )


QUERIES["markov_attribution"] = markov_attribution


def _markov_oracle() -> str:
    chans = ", ".join(f"('{c}')" for c in _MK_CHANNELS)
    iters = []
    prev = "v0"
    for t in range(1, _MK_ITERS + 1):
        iters.append(
            f"v{t} AS (\n"
            f"  SELECT s.scenario, s.dst AS state,\n"
            f"         CAST(sum((p.v * s.c) // s.ct) AS BIGINT) AS v\n"
            f"  FROM {prev} p JOIN strans s\n"
            f"    ON p.scenario = s.scenario AND p.state = s.src\n"
            f"  GROUP BY 1, 2\n)"
        )
        prev = f"v{t}"
    return f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
conv_rn AS (
  SELECT user_id, min(rn) AS prn FROM ranked
  WHERE event_type = 'purchase' GROUP BY 1
),
kept AS (
  SELECT r.user_id, r.event_type, r.rn
  FROM ranked r LEFT JOIN conv_rn USING (user_id)
  WHERE prn IS NULL OR rn <= prn
),
paired AS (
  SELECT user_id, rn, event_type AS src_t,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
  FROM kept
),
base_trans AS (
  SELECT 'START' AS src,
         CASE WHEN src_t = 'purchase' THEN 'CONV' ELSE src_t END AS dst
  FROM paired WHERE rn = 1
  UNION ALL
  SELECT src_t,
         CASE WHEN nxt IS NULL THEN 'DROP'
              WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END
  FROM paired WHERE src_t <> 'purchase'
),
counts AS MATERIALIZED (
  SELECT src, dst, count(*) AS c FROM base_trans GROUP BY 1, 2
),
scenarios AS (
  SELECT 'none' AS scenario UNION ALL
  SELECT ch FROM (VALUES {chans}) t(ch)
),
redirected AS (
  SELECT scenario, src,
         CASE WHEN dst = scenario THEN 'DROP' ELSE dst END AS dst,
         CAST(sum(c) AS BIGINT) AS c
  FROM scenarios CROSS JOIN counts
  WHERE src <> scenario
  GROUP BY 1, 2, 3
),
totals AS (
  SELECT scenario, src, CAST(sum(c) AS BIGINT) AS ct
  FROM redirected GROUP BY 1, 2
),
strans AS MATERIALIZED (
  SELECT scenario, src, dst, c, ct FROM redirected JOIN totals
    USING (scenario, src)
  UNION ALL
  SELECT scenario, a, a, 1, 1
  FROM scenarios, (VALUES ('CONV'), ('DROP')) ab(a)
),
v0 AS (
  SELECT scenario, 'START' AS state,
         CAST({_MK_SCALE} AS BIGINT) AS v
  FROM scenarios
),
{',' .join(iters)},
final AS (SELECT scenario, v FROM {prev} WHERE state = 'CONV'),
base AS (SELECT v AS base_v FROM final WHERE scenario = 'none'),
effects AS (
  SELECT scenario AS removed_channel, v AS conv_x1e12,
         greatest(base_v - v, 0) AS removal_effect_x1e12
  FROM final CROSS JOIN base WHERE scenario <> 'none'
),
tot AS (SELECT CAST(sum(removal_effect_x1e12) AS BIGINT) AS te FROM effects)
SELECT removed_channel, conv_x1e12, removal_effect_x1e12,
       CAST(CASE WHEN te = 0 THEN 0
                 ELSE removal_effect_x1e12 * 10000 // te END AS INT)
         AS attribution_bp
FROM effects CROSS JOIN tot
ORDER BY removed_channel
"""

ORACLES["markov_attribution"] = _markov_oracle()


# ---------------------------------------------------------------------------
# jackknife_variance — leave-one-stratum-out variance of a ratio estimator
# ---------------------------------------------------------------------------


def jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group JACKKNIFE of the ratio estimator "overall
    discount rate" (Σ discount value / Σ gross value over lineitem),
    strata = ship-year (SURVEY §2 #209): the survey-statistics
    uncertainty machinery for NON-LINEAR estimators — a plain
    variance-of-rows is wrong for a ratio; the jackknife resamples by
    deleting whole strata and re-computing, which distributes for free
    because every θ₍ᵢ₎ is algebra over the per-stratum sufficient
    statistics, never a re-scan (the grouped_regression sufficient-
    statistic lesson applied to resampling).

    Exact arithmetic end-to-end: per-stratum cent sums map-combined;
    totals via unpartitioned window over the |years| census only;
    every ratio a truncated DECIMAL(38,0) division to parts-per-
    billion; variance `(n−1)·Σ(θᵢ−θ̄)² div n` in BIGINT; SE =
    floor(sqrt) (IEEE-exact below 2⁵², the neyman_allocation
    pattern).  Pseudo-values `n·θ̂ − (n−1)·θ₍ᵢ₎` ride along per
    stratum — the bias-corrected readout.
    """
    li = _t(spark, sf_dir, "lineitem")
    strata = li.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.expr(
            "sum(cast(round(l_extendedprice * 100) as bigint))"
        ).alias("g"),
        F.expr(
            "sum(cast(round(l_extendedprice * l_discount * 100) as bigint))"
        ).alias("d"),
    )
    # The |ship-years| strata census (time-bounded, a few dozen rows)
    # fed summary, staged and — via staged — var and the final join,
    # and every consumer re-ran the LINEITEM aggregate: three fact
    # passes for one census. ONE materialize boundary on the census
    # leaves a single fact pass; the window/join algebra above it now
    # runs over the checkpointed handful of rows (guide §2.4). A full
    # driver-side collapse (bounded_collect + exact-int replication)
    # was also A/B'd and measured SLOWER than this form at bench scale
    # (the eager executeTake serializes what otherwise pipelines).

    strata = materialize(strata)
    w_all = Window.partitionBy()
    census = strata.select(
        "yr",
        "g",
        "d",
        F.sum("g").over(w_all).alias("tg"),
        F.sum("d").over(w_all).alias("td"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ).select(
        "yr",
        "n",
        F.expr(
            "cast(cast(td as decimal(38,0)) * 1000000000 div tg as bigint)"
        ).alias("theta_full"),
        F.expr(
            "cast(cast(td - d as decimal(38,0)) * 1000000000"
            " div (tg - g) as bigint)"
        ).alias("theta_loo_ppb"),
    )
    summary = census.groupBy("n", "theta_full").agg(
        F.expr("sum(theta_loo_ppb) div n").alias("theta_bar")
    )
    staged = census.join(F.broadcast(summary), ["n", "theta_full"])
    var = staged.groupBy("n", "theta_full", "theta_bar").agg(
        F.expr(
            "(n - 1) * sum((theta_loo_ppb - theta_bar)"
            " * (theta_loo_ppb - theta_bar)) div n"
        ).alias("jk_var")
    )
    return (
        staged.join(F.broadcast(var), ["n", "theta_full", "theta_bar"])
        .select(
            F.col("yr").alias("stratum_year"),
            "theta_loo_ppb",
            F.expr(
                "n * theta_full - (n - 1) * theta_loo_ppb"
            ).alias("pseudo_ppb"),
            F.expr(
                "cast(floor(sqrt(cast(jk_var as double))) as bigint)"
            ).alias("jk_se_ppb"),
        )
    )


QUERIES["jackknife_variance"] = jackknife_variance

ORACLES["jackknife_variance"] = """
WITH strata AS (
  SELECT year(l_shipdate) AS yr,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS g,
         sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS d
  FROM lineitem GROUP BY 1
),
census AS (
  SELECT yr,
         count(*) OVER () AS n,
         CAST(sum(d) OVER ()::HUGEINT * 1000000000
              // sum(g) OVER ()::HUGEINT AS BIGINT) AS theta_full,
         CAST((sum(d) OVER () - d)::HUGEINT * 1000000000
              // (sum(g) OVER () - g)::HUGEINT AS BIGINT) AS theta_loo_ppb
  FROM strata
),
summary AS (
  SELECT n, theta_full, sum(theta_loo_ppb) // n AS theta_bar
  FROM census GROUP BY n, theta_full
),
var AS (
  SELECT n, theta_full, theta_bar,
         (n - 1) * sum((theta_loo_ppb - theta_bar)
                       * (theta_loo_ppb - theta_bar)) // n AS jk_var
  FROM census JOIN summary USING (n, theta_full)
  GROUP BY n, theta_full, theta_bar
)
SELECT c.yr AS stratum_year,
       c.theta_loo_ppb,
       CAST(c.n * c.theta_full - (c.n - 1) * c.theta_loo_ppb AS BIGINT)
         AS pseudo_ppb,
       CAST(floor(sqrt(CAST(v.jk_var AS DOUBLE))) AS BIGINT) AS jk_se_ppb
FROM census c, var v
ORDER BY stratum_year
"""


# ---------------------------------------------------------------------------
# rank_matched_pairs — stratified rank matching + balance audit
# ---------------------------------------------------------------------------


def rank_matched_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED RANK MATCHING + covariate-balance audit (SURVEY §2
    #238) — the observational-causal-inference preprocessing step
    (Rubin's matched sampling; rank matching is the deterministic,
    engine-exact stand-in for propensity pairing): customers split
    into treatment/control by an md5 coin, and WITHIN each nation
    stratum the k-th highest-spend treated customer is paired with the
    k-th highest-spend control — rank alignment as an equi-join on
    (stratum, rank).  The audit reports, per nation, the group sizes,
    matched-pair count (min of the two), and mean spend gap in cents
    BEFORE matching vs WITHIN matched pairs — the balance improvement
    that justifies the design.  All money exact integer cents; means
    as div-truncated rationals.

    Scale shape: one per-customer aggregate; both rank elections are
    windows PARTITIONED by (nation, arm); the pairing is a keyed
    equi-join on (nation, rank) — no global sort, no cross join.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    spend = (
        orders.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.expr("cast(o_totalprice as decimal(18,2)) * 100"))
            .cast("bigint")
            .alias("cents")
        )
        .join(cust, F.col("cust") == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "cust",
            "cents",
            F.col("n_name").alias("nation"),
            (
                F.expr(X.hash64_spark("cast(cust as string) || ':arm'")) % 2
            ).alias("treated"),
        )
    )
    spend = materialize(spend)
    w = Window.partitionBy("nation", "treated").orderBy(
        F.desc("cents"), F.asc("cust")
    )
    ranked = spend.withColumn("r", F.row_number().over(w))
    t = ranked.filter(F.col("treated") == 1).select(
        "nation", "r", F.col("cents").alias("t_cents")
    )
    c = ranked.filter(F.col("treated") == 0).select(
        "nation", "r", F.col("cents").alias("c_cents")
    )
    pairs = t.join(c, ["nation", "r"])
    before = spend.groupBy("nation").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("cents")).otherwise(0)).alias("sum_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("cents")).otherwise(0)).alias("sum_c"),
    )
    matched = pairs.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.expr("abs(t_cents - c_cents)")).alias("sum_abs_gap"),
    )
    return (
        before.join(matched, "nation")
        .select(
            "nation",
            "n_t",
            "n_c",
            "n_pairs",
            F.expr("abs(sum_t div n_t - sum_c div n_c)").alias(
                "mean_gap_before_cents"
            ),
            F.expr("sum_abs_gap div n_pairs").alias(
                "mean_gap_matched_cents"
            ),
        )
    )


QUERIES["rank_matched_pairs"] = rank_matched_pairs

_RMP_ARM = X.hash64_duck("CAST(cust AS VARCHAR) || ':arm'")

ORACLES["rank_matched_pairs"] = f"""
WITH spend AS MATERIALIZED (
  SELECT cust, cents, n_name AS nation, ({_RMP_ARM}) % 2 AS treated
  FROM (
    SELECT o_custkey AS cust,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
             AS cents
    FROM orders GROUP BY o_custkey
  )
  JOIN customer ON cust = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
ranked AS (
  SELECT nation, treated, cents,
         row_number() OVER (PARTITION BY nation, treated
                            ORDER BY cents DESC, cust) AS r
  FROM spend
),
pairs AS (
  SELECT t.nation, t.cents AS t_cents, c.cents AS c_cents
  FROM (SELECT * FROM ranked WHERE treated = 1) t
  JOIN (SELECT * FROM ranked WHERE treated = 0) c
    ON t.nation = c.nation AND t.r = c.r
),
before AS (
  SELECT nation,
         sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS n_t,
         sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS n_c,
         sum(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS sum_t,
         sum(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS sum_c
  FROM spend GROUP BY nation
),
matched AS (
  SELECT nation, count(*) AS n_pairs,
         sum(abs(t_cents - c_cents)) AS sum_abs_gap
  FROM pairs GROUP BY nation
)
SELECT b.nation AS nation,
       CAST(n_t AS BIGINT) AS n_t,
       CAST(n_c AS BIGINT) AS n_c,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(abs(sum_t // n_t - sum_c // n_c) AS BIGINT)
         AS mean_gap_before_cents,
       CAST(sum_abs_gap // n_pairs AS BIGINT) AS mean_gap_matched_cents
FROM before b JOIN matched m ON b.nation = m.nation
ORDER BY b.nation
"""


# ---------------------------------------------------------------------------
# ips_policy_eval — inverse-propensity off-policy evaluation (replay)
# ---------------------------------------------------------------------------


def ips_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFF-POLICY evaluation by inverse-propensity replay (SURVEY §2
    #260; Li et al. 2011's replay method / Horvitz-Thompson IPS) —
    the counterfactual-eval family nothing in the catalog touches:
    the log was collected by a UNIFORM random 3-arm policy (propensity
    exactly 1/3 per event, a hash draw), the TARGET policy picks its
    arm from context (event_type), and the target's reward rate is
    estimated from the log alone as 3·Σ(matched rewards)/N — events
    where the logged arm happens to equal the target's choice, scaled
    by the inverse propensity.  Because the reward simulator is a
    known arm-dependent formula, the TRUE target value is also
    computable, so every row publishes estimate vs truth — the
    estimator audits itself (the priority_sample_estimate
    discipline).

    Scale shape: one scan, everything row-local (hash arms, exact
    integer propensity scaling — 1/3 inverted as a literal ·3, never
    a float), one (event_type) map-combined agg; 5-row output.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "cast(cast(value as decimal(18,2)) * 100 as bigint)"
        ).alias("cents"),
        (
            F.expr(X.hash64_spark("cast(event_id as string) || ':arm'")) % 3
        ).alias("a_log"),
        (F.expr(X.hash64_spark("event_type")) % 3).alias("a_tgt"),
    ).select(
        "event_type",
        "a_log",
        "a_tgt",
        F.expr(
            "CASE WHEN (cents + 37 * a_log) % 100 >= 50 THEN 1 ELSE 0 END"
        ).alias("r_log"),
        F.expr(
            "CASE WHEN (cents + 37 * a_tgt) % 100 >= 50 THEN 1 ELSE 0 END"
        ).alias("r_tgt"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("a_log") == F.col("a_tgt")).cast("int")).alias(
                "n_matched"
            ),
            F.sum(
                F.expr("CASE WHEN a_log = a_tgt THEN r_log ELSE 0 END")
            ).alias("r_matched"),
            F.sum("r_tgt").alias("r_true"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
            F.expr("cast((30000 * r_matched) div n as bigint)").alias(
                "ips_bp"
            ),
            F.expr("cast((10000 * r_true) div n as bigint)").alias("true_bp"),
            F.expr(
                "cast(abs((30000 * r_matched) div n"
                " - (10000 * r_true) div n) as bigint)"
            ).alias("err_bp"),
        )
    )


QUERIES["ips_policy_eval"] = ips_policy_eval

ORACLES["ips_policy_eval"] = f"""
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ({X.hash64_duck("CAST(event_id AS VARCHAR) || ':arm'")}) % 3
           AS a_log,
         ({X.hash64_duck("event_type")}) % 3 AS a_tgt
  FROM events
),
scored AS (
  SELECT event_type, a_log, a_tgt,
         CASE WHEN (cents + 37 * a_log) % 100 >= 50 THEN 1 ELSE 0 END AS r_log,
         CASE WHEN (cents + 37 * a_tgt) % 100 >= 50 THEN 1 ELSE 0 END AS r_tgt
  FROM ev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN a_log = a_tgt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST((30000 * sum(CASE WHEN a_log = a_tgt THEN r_log ELSE 0 END))
            // count(*) AS BIGINT) AS ips_bp,
       CAST((10000 * sum(r_tgt)) // count(*) AS BIGINT) AS true_bp,
       CAST(abs((30000 * sum(CASE WHEN a_log = a_tgt THEN r_log ELSE 0 END))
                // count(*)
              - (10000 * sum(r_tgt)) // count(*)) AS BIGINT) AS err_bp
FROM scored
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# diff_in_diff — two-period difference-in-differences census
# ---------------------------------------------------------------------------


def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES census (SURVEY §2 #261; Card &
    Krueger's two-period design — the workhorse of observational
    causal inference) — the causal leg next to the catalog's
    experimental one (ab_test_chi2 assumes randomized assignment;
    DiD instead differences OUT the stable group gap using the
    pre-period): users hash-split into treated/control, events into
    pre/post at the period midpoint, and per event_type the four
    cell means and the DiD estimate
    (ΔT,post−pre) − (ΔC,post−pre) are published in exact cents —
    the parallel-trends ledger every DiD writeup tabulates first.

    Scale shape: one scan, row-local cell assignment (hash + date
    literal — no percentile pass needed for a fixed design cut), one
    (event_type) map-combined agg carrying all four cells as
    conditional sums; cell means floor-quantized (sum div n) so the
    published DiD is pure BIGINT differences — no division ever runs
    on a negative number.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
        (
            F.expr(X.hash64_spark("cast(user_id as string) || ':did'")) % 2
            == 0
        ).alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).alias("post"),
    )
    cells = [
        ("t1", "treated AND post"),
        ("t0", "treated AND NOT post"),
        ("c1", "NOT treated AND post"),
        ("c0", "NOT treated AND NOT post"),
    ]
    aggs = []
    for name, cond in cells:
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END")).alias(
                f"n_{name}"
            )
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {cond} THEN cents ELSE 0 END")).alias(
                f"s_{name}"
            )
        )
    mean_cols = [
        F.expr(f"s_{n} div n_{n}").cast("bigint").alias(f"mean_{n}")
        for n, _ in cells
    ]
    return (
        ev.groupBy("event_type")
        .agg(*aggs)
        .select(
            "event_type",
            *[F.col(f"n_{n}").cast("bigint").alias(f"n_{n}") for n, _ in cells],
            *mean_cols,
        )
        .withColumn(
            "did_cents",
            F.expr("(mean_t1 - mean_t0) - (mean_c1 - mean_c0)").cast("bigint"),
        )
    )


QUERIES["diff_in_diff"] = diff_in_diff

ORACLES["diff_in_diff"] = f"""
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ({X.hash64_duck("CAST(user_id AS VARCHAR) || ':did'")}) % 2 = 0
           AS treated,
         ts >= TIMESTAMP '2024-01-16' AS post
  FROM events
),
cells AS (
  SELECT event_type,
         sum(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS n_t1,
         sum(CASE WHEN treated AND post THEN cents ELSE 0 END) AS s_t1,
         sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS n_t0,
         sum(CASE WHEN treated AND NOT post THEN cents ELSE 0 END) AS s_t0,
         sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS n_c1,
         sum(CASE WHEN NOT treated AND post THEN cents ELSE 0 END) AS s_c1,
         sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS n_c0,
         sum(CASE WHEN NOT treated AND NOT post THEN cents ELSE 0 END) AS s_c0
  FROM ev GROUP BY event_type
)
SELECT event_type,
       CAST(n_t1 AS BIGINT) AS n_t1, CAST(n_t0 AS BIGINT) AS n_t0,
       CAST(n_c1 AS BIGINT) AS n_c1, CAST(n_c0 AS BIGINT) AS n_c0,
       CAST(s_t1 // n_t1 AS BIGINT) AS mean_t1,
       CAST(s_t0 // n_t0 AS BIGINT) AS mean_t0,
       CAST(s_c1 // n_c1 AS BIGINT) AS mean_c1,
       CAST(s_c0 // n_c0 AS BIGINT) AS mean_c0,
       CAST((s_t1 // n_t1 - s_t0 // n_t0)
          - (s_c1 // n_c1 - s_c0 // n_c0) AS BIGINT) AS did_cents
FROM cells ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# doubly_robust_eval — doubly-robust off-policy evaluation
# ---------------------------------------------------------------------------


def doubly_robust_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUBLY-ROBUST off-policy evaluation (SURVEY §2 #263; Dudík,
    Langford & Li 2011) — the production OPE estimator, completing
    the counterfactual pair with ips_policy_eval: IPS alone is
    unbiased but high-variance (it only uses the ~1/3 of events where
    the logged arm matches the target's choice); DR adds a DIRECT
    MODEL of the reward (here: the per-(event_type, arm) logged rate,
    learned from the log itself) and uses IPS only on the model's
    RESIDUAL — per event, dr = r̂(x, π(x)) + 3·1[a_log = π(x)]·
    (r − r̂(x, a_log)), everything in exact basis points.  Both
    estimators are published against the KNOWN simulator truth per
    event_type, so the variance-reduction claim is itself auditable
    row by row.

    Scale shape: the model is a bounded (event_type × 3 arms) agg
    BROADCAST back (15 rows); scoring is row-local; one map-combined
    (event_type) agg ends the plan.  The only divisions are
    floor-quantized rates and the final sign-outside mean (per-event
    DR residuals are legitimately negative, so the sum's sign is
    handled outside the div — the embedding_covariance discipline).
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
        (
            F.expr(X.hash64_spark("cast(event_id as string) || ':arm'")) % 3
        ).alias("a_log"),
        (F.expr(X.hash64_spark("event_type")) % 3).alias("a_tgt"),
    ).select(
        "event_type",
        "a_log",
        "a_tgt",
        F.expr(
            "CASE WHEN (cents + 37 * a_log) % 100 >= 50 THEN 1 ELSE 0 END"
        ).alias("r_log"),
        F.expr(
            "CASE WHEN (cents + 37 * a_tgt) % 100 >= 50 THEN 1 ELSE 0 END"
        ).alias("r_tgt"),
    )
    model = (
        ev.groupBy(
            F.col("event_type").alias("m_type"), F.col("a_log").alias("m_arm")
        )
        .agg(
            F.expr("(10000 * sum(r_log)) div count(1)").alias("rhat_bp")
        )
    )
    # NOTE (r10, measured): collecting this dim-bounded model to a
    # literal frame to dedupe the two broadcast builds was A/B'd at
    # sf0.1 (ABBA) and measured 2x SLOWER (1.47 -> 3.0 s) — the eager
    # collect serializes the build into its own job where the two
    # broadcast builds overlap the probe stage. Reverted; the
    # duplicate broadcast-side evaluation stays as the cheaper evil.
    scored = (
        ev.join(
            F.broadcast(model),
            (F.col("event_type") == F.col("m_type"))
            & (F.col("a_tgt") == F.col("m_arm")),
        )
        .drop("m_type", "m_arm")
        .withColumnRenamed("rhat_bp", "rhat_tgt_bp")
        .join(
            F.broadcast(model.withColumnRenamed("rhat_bp", "rhat_log_bp")),
            (F.col("event_type") == F.col("m_type"))
            & (F.col("a_log") == F.col("m_arm")),
        )
        .drop("m_type", "m_arm")
        .withColumn(
            "dr_bp",
            F.expr(
                "rhat_tgt_bp + CASE WHEN a_log = a_tgt"
                " THEN 3 * (10000 * r_log - rhat_log_bp) ELSE 0 END"
            ),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dr_bp").alias("dr_sum"),
            F.sum(
                F.expr("CASE WHEN a_log = a_tgt THEN 30000 * r_log ELSE 0 END")
            ).alias("ips_sum"),
            F.sum("r_tgt").alias("r_true"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "cast(case when dr_sum < 0 then -1 else 1 end"
                " * (abs(dr_sum) div n) as bigint)"
            ).alias("dr_bp"),
            F.expr("cast(ips_sum div n as bigint)").alias("ips_bp"),
            F.expr("cast((10000 * r_true) div n as bigint)").alias("true_bp"),
        )
        .withColumn(
            "dr_err_bp", F.expr("cast(abs(dr_bp - true_bp) as bigint)")
        )
        .withColumn(
            "ips_err_bp", F.expr("cast(abs(ips_bp - true_bp) as bigint)")
        )
    )


QUERIES["doubly_robust_eval"] = doubly_robust_eval

ORACLES["doubly_robust_eval"] = f"""
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ({X.hash64_duck("CAST(event_id AS VARCHAR) || ':arm'")}) % 3
           AS a_log,
         ({X.hash64_duck("event_type")}) % 3 AS a_tgt
  FROM events
),
scored0 AS (
  SELECT event_type, a_log, a_tgt,
         CASE WHEN (cents + 37 * a_log) % 100 >= 50 THEN 1 ELSE 0 END AS r_log,
         CASE WHEN (cents + 37 * a_tgt) % 100 >= 50 THEN 1 ELSE 0 END AS r_tgt
  FROM ev
),
model AS (
  SELECT event_type AS m_type, a_log AS m_arm,
         (10000 * sum(r_log)) // count(*) AS rhat_bp
  FROM scored0 GROUP BY event_type, a_log
),
scored AS (
  SELECT s.*, mt.rhat_bp AS rhat_tgt_bp, ml.rhat_bp AS rhat_log_bp,
         mt.rhat_bp + CASE WHEN s.a_log = s.a_tgt
             THEN 3 * (10000 * s.r_log - ml.rhat_bp) ELSE 0 END AS dr_bp
  FROM scored0 s
  JOIN model mt ON mt.m_type = s.event_type AND mt.m_arm = s.a_tgt
  JOIN model ml ON ml.m_type = s.event_type AND ml.m_arm = s.a_log
),
agg AS (
  SELECT event_type, count(*) AS n, sum(dr_bp) AS dr_sum,
         sum(CASE WHEN a_log = a_tgt THEN 30000 * r_log ELSE 0 END) AS ips_sum,
         sum(r_tgt) AS r_true
  FROM scored GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST((CASE WHEN dr_sum < 0 THEN -1 ELSE 1 END)
            * (abs(dr_sum) // n) AS BIGINT) AS dr_bp,
       CAST(ips_sum // n AS BIGINT) AS ips_bp,
       CAST((10000 * r_true) // n AS BIGINT) AS true_bp,
       CAST(abs((CASE WHEN dr_sum < 0 THEN -1 ELSE 1 END)
                * (abs(dr_sum) // n)
              - (10000 * r_true) // n) AS BIGINT) AS dr_err_bp,
       CAST(abs(ips_sum // n - (10000 * r_true) // n) AS BIGINT)
         AS ips_err_bp
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# qini_uplift — treatment-aware uplift deciles with the Qini curve
# ---------------------------------------------------------------------------


def qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI / UPLIFT-BY-DECILE curve (SURVEY §2 #264; Radcliffe 2007
    — the standard readout of uplift modeling) — the causal cousin of
    decile_lift (same score = first-half spend, same outcome =
    second-half activity, same broadcast percentile-cut deciles) with
    the treatment dimension diff_in_diff introduced: customers are
    hash-split treated/control, each decile publishes BOTH arms'
    response rates and their difference (the uplift), and the running
    Qini statistic cum_r_t·cum_n_c − cum_r_c·cum_n_t (the
    integer-exact numerator of the Qini curve, positive when
    targeting by score beats random targeting) accumulates from the
    best decile down.  decile_lift asks "does the top decile
    respond"; this asks "does TREATING the top decile CAUSE
    response" — the question campaign budgets actually turn on.

    Scale shape: identical to decile_lift (two per-customer aggs,
    one percentile_disc cut agg broadcast, map-side assignment); the
    only window is the cumulative sum over the 10-row decile census
    (bounded by the constant bucket count — allowlisted with
    decile_lift/slo_burn_rate).  Qini is published as the exact
    cross-multiplied numerator plus a sign-outside bp form.
    """
    orders = _t(spark, sf_dir, "orders")
    # Materialized for its two consumers (the percentile-cut aggregate
    # and the decile assignment) — the decile_lift fix applied here:
    # without the boundary the first-half spend aggregate ran twice.
    first = materialize(
        orders.filter(F.expr("o_orderdate < date'1998-07-01'"))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.expr("cast(o_totalprice as decimal(18,2)) * 100"))
            .cast("bigint")
            .alias("spend_cents")
        )
    )
    second = (
        orders.filter(F.expr("o_orderdate >= date'1998-07-01'"))
        .select(F.col("o_custkey").alias("cust"))
        .distinct()
        .withColumn("responded", F.lit(1))
    )
    cuts = first.agg(
        *[
            F.expr(
                f"percentile_disc(0.{d}) WITHIN GROUP (ORDER BY spend_cents)"
            ).alias(f"c{d}")
            for d in range(1, 10)
        ]
    )
    cut_case = "CASE " + " ".join(
        f"WHEN spend_cents <= c{d} THEN {d}" for d in range(1, 10)
    ) + " ELSE 10 END"
    assigned = (
        first.join(F.broadcast(cuts))
        .join(second, "cust", "left")
        .select(
            F.expr(cut_case).alias("decile"),
            (
                F.expr(X.hash64_spark("cast(cust as string) || ':up'")) % 2
                == 0
            ).cast("int").alias("treated"),
            F.coalesce("responded", F.lit(0)).alias("responded"),
        )
    )
    census = assigned.groupBy("decile").agg(
        F.sum("treated").alias("n_t"),
        F.sum(F.expr("treated * responded")).alias("r_t"),
        F.sum(F.expr("1 - treated")).alias("n_c"),
        F.sum(F.expr("(1 - treated) * responded")).alias("r_c"),
    )
    w = "order by decile desc rows between unbounded preceding and current row"
    return (
        census.select(
            "decile",
            F.col("n_t").cast("bigint").alias("n_t"),
            F.col("r_t").cast("bigint").alias("r_t"),
            F.col("n_c").cast("bigint").alias("n_c"),
            F.col("r_c").cast("bigint").alias("r_c"),
            F.expr(
                "cast((10000 * r_t) div n_t - (10000 * r_c) div n_c"
                " as bigint)"
            ).alias("uplift_bp"),
            F.expr(f"sum(r_t) over ({w})").alias("cum_r_t"),
            F.expr(f"sum(n_t) over ({w})").alias("cum_n_t"),
            F.expr(f"sum(r_c) over ({w})").alias("cum_r_c"),
            F.expr(f"sum(n_c) over ({w})").alias("cum_n_c"),
        )
        .select(
            "decile",
            "n_t",
            "r_t",
            "n_c",
            "r_c",
            "uplift_bp",
            F.expr(
                "cast(cum_r_t * cum_n_c - cum_r_c * cum_n_t as bigint)"
            ).alias("qini_num"),
            F.expr(
                "cast(case when cum_r_t * cum_n_c - cum_r_c * cum_n_t < 0"
                " then -1 else 1 end"
                " * ((10000 * abs(cum_r_t * cum_n_c - cum_r_c * cum_n_t))"
                " div (cum_n_t * cum_n_c)) as bigint)"
            ).alias("qini_bp"),
        )
    )


QUERIES["qini_uplift"] = qini_uplift

ORACLES["qini_uplift"] = f"""
WITH first_half AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS spend_cents
  FROM orders WHERE o_orderdate < DATE '1998-07-01'
  GROUP BY o_custkey
),
second_half AS (
  SELECT DISTINCT o_custkey AS cust, 1 AS responded
  FROM orders WHERE o_orderdate >= DATE '1998-07-01'
),
cuts AS (
  SELECT {", ".join(f"quantile_disc(spend_cents, 0.{d}) AS c{d}" for d in range(1, 10))}
  FROM first_half
),
assigned AS (
  SELECT CASE {" ".join(f"WHEN spend_cents <= c{d} THEN {d}" for d in range(1, 10))}
              ELSE 10 END AS decile,
         CASE WHEN ({X.hash64_duck("CAST(f.cust AS VARCHAR) || ':up'")}) % 2 = 0
              THEN 1 ELSE 0 END AS treated,
         coalesce(s.responded, 0) AS responded
  FROM first_half f CROSS JOIN cuts
  LEFT JOIN second_half s ON s.cust = f.cust
),
census AS (
  SELECT decile,
         sum(treated) AS n_t, sum(treated * responded) AS r_t,
         sum(1 - treated) AS n_c, sum((1 - treated) * responded) AS r_c
  FROM assigned GROUP BY decile
),
cum AS (
  SELECT decile, n_t, r_t, n_c, r_c,
         sum(r_t) OVER w AS cum_r_t, sum(n_t) OVER w AS cum_n_t,
         sum(r_c) OVER w AS cum_r_c, sum(n_c) OVER w AS cum_n_c
  FROM census
  WINDOW w AS (ORDER BY decile DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile,
       CAST(n_t AS BIGINT) AS n_t, CAST(r_t AS BIGINT) AS r_t,
       CAST(n_c AS BIGINT) AS n_c, CAST(r_c AS BIGINT) AS r_c,
       CAST((10000 * r_t) // n_t - (10000 * r_c) // n_c AS BIGINT)
         AS uplift_bp,
       CAST(cum_r_t * cum_n_c - cum_r_c * cum_n_t AS BIGINT) AS qini_num,
       CAST((CASE WHEN cum_r_t * cum_n_c - cum_r_c * cum_n_t < 0
                  THEN -1 ELSE 1 END)
            * ((10000 * abs(cum_r_t * cum_n_c - cum_r_c * cum_n_t))
               // (cum_n_t * cum_n_c)) AS BIGINT) AS qini_bp
FROM cum ORDER BY decile DESC
"""


_PBC_B = 32  # bootstrap replicates
# P(Poisson(1) <= k) * 2^60 as integer literals, k = 0..5: the hash
# uniform u in [0, 2^60) is compared against these ONCE-computed
# cutpoints (embedded identically in both dialects — no runtime float,
# no libm call ever crosses an engine boundary). Weights are truncated
# at 6 (P(X > 6) ~ 8e-5, the standard bounded-weight bootstrap cut).
_PBC_CUTS = [
    int(_math.exp(-1.0) * sum(1.0 / _math.factorial(j) for j in range(k + 1))
        * (1 << 60))
    for k in range(6)
]


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS POISSON BOOTSTRAP confidence intervals (SURVEY §2
    #265) — the resampling scheme that actually scales (Chamandy et
    al., Google 2012, "Estimating Uncertainty for Massive Data
    Streams"): instead of materializing B resamples, every row
    carries B independent Poisson(1) weights and all B replicate
    estimates accumulate in ONE aggregation pass.  Completes the
    uncertainty family: jackknife_variance is leave-one-GROUP-out,
    conformal_interval_eval wraps predictions — this bootstraps the
    estimator itself (per-type mean order value) with a 95% interval
    from the 32-replicate percentile spread.  Weights are drawn by
    comparing a 60-bit hash against precomputed integer CDF
    cutpoints — deterministic, replayable, and float-free on both
    engines.

    Scale shape: the ×32 replicate fan-out happens map-side and
    collapses map-side too (groupBy(type, b) partial agg — per
    partition the state is types × 32 cells, never rows × 32); the
    final percentile_disc runs per type over a 32-row census.  No
    windows, no joins except the broadcast of the 5-row point
    estimate.
    """
    cuts_expr = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _PBC_CUTS
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
        F.col("event_id"),
    )
    reps = (
        ev.select(
            "event_type",
            "cents",
            F.explode(F.expr(f"sequence(0, {_PBC_B - 1})")).alias("b"),
            "event_id",
        )
        .withColumn(
            "u",
            F.expr(
                X.hash64_spark("cast(event_id as string) || ':pb' || b")
            ),
        )
        .withColumn("w", F.expr(cuts_expr))
        .groupBy("event_type", "b")
        .agg(
            F.sum("w").alias("n_b"),
            F.sum(F.expr("w * cents")).alias("s_b"),
        )
        .select("event_type", "b", F.expr("s_b div n_b").alias("mean_b"))
    )
    point = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(cents) div count(1)").alias("point_cents"),
    )
    ci = reps.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.025) WITHIN GROUP (ORDER BY mean_b)"
        ).alias("ci_lo_cents"),
        F.expr(
            "percentile_disc(0.975) WITHIN GROUP (ORDER BY mean_b)"
        ).alias("ci_hi_cents"),
    )
    return (
        point.join(F.broadcast(ci), "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("point_cents").cast("bigint").alias("point_cents"),
            F.col("ci_lo_cents").cast("bigint").alias("ci_lo_cents"),
            F.col("ci_hi_cents").cast("bigint").alias("ci_hi_cents"),
            F.expr("cast(ci_hi_cents - ci_lo_cents as bigint)").alias(
                "width_cents"
            ),
        )
    )


QUERIES["poisson_bootstrap_ci"] = poisson_bootstrap_ci

ORACLES["poisson_bootstrap_ci"] = f"""
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         event_id
  FROM events
),
reps AS (
  SELECT event_type, b,
         sum(w) AS n_b, sum(w * cents) AS s_b
  FROM (
    SELECT event_type, cents,
           unnest(generate_series(0, {_PBC_B - 1})) AS b, event_id
    FROM ev
  ) t,
  LATERAL (
    SELECT {" + ".join(f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _PBC_CUTS)} AS w
    FROM (SELECT {X.hash64_duck("CAST(event_id AS VARCHAR) || ':pb' || b")} AS u)
  )
  GROUP BY event_type, b
),
means AS (
  SELECT event_type, s_b // n_b AS mean_b FROM reps
),
point AS (
  SELECT event_type, count(*) AS n, sum(cents) // count(*) AS point_cents
  FROM ev GROUP BY event_type
),
ci AS (
  SELECT event_type,
         quantile_disc(mean_b, 0.025) AS ci_lo_cents,
         quantile_disc(mean_b, 0.975) AS ci_hi_cents
  FROM means GROUP BY event_type
)
SELECT p.event_type,
       CAST(p.n AS BIGINT) AS n,
       CAST(p.point_cents AS BIGINT) AS point_cents,
       CAST(c.ci_lo_cents AS BIGINT) AS ci_lo_cents,
       CAST(c.ci_hi_cents AS BIGINT) AS ci_hi_cents,
       CAST(c.ci_hi_cents - c.ci_lo_cents AS BIGINT) AS width_cents
FROM point p JOIN ci c ON p.event_type = c.event_type
ORDER BY p.event_type
"""


# ---------------------------------------------------------------------------
# cuped_adjustment — CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------


def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (SURVEY §2 #267; Deng, Xu, Kohavi &
    Walker 2013 — the adjustment every large experimentation platform
    applies before reading an A/B metric): the PRE-period covariate
    absorbs between-user variance, adjusted = post − θ·(pre − pre̅)
    with θ = cov(pre, post)/var(pre) pooled across arms.  Completes
    the experimentation shelf: ab_test_chi2 tests proportions,
    diff_in_diff handles non-random assignment, qini_uplift ranks by
    score — CUPED is the precision lever on the randomized readout
    itself.  θ rides the embedding_covariance moment discipline
    (exact DECIMAL(38,0) cross-moments, sign outside the division,
    θ published in basis points), and the adjustment applies
    floor-quantized means only — no float, no per-row regression.

    Scale shape: one per-customer two-period agg (map-combined), ONE
    1-row pooled moment aggregate broadcast back, one 2-row arm agg.
    The moments never leave DECIMAL(38,0); the only per-row work is
    hash-arm assignment.
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN o_orderdate < date'1998-07-01'"
                    " THEN cast(cast(o_totalprice as decimal(18,2)) * 100"
                    " as bigint) ELSE 0 END"
                )
            ).alias("pre"),
            F.sum(
                F.expr(
                    "CASE WHEN o_orderdate >= date'1998-07-01'"
                    " THEN cast(cast(o_totalprice as decimal(18,2)) * 100"
                    " as bigint) ELSE 0 END"
                )
            ).alias("post"),
        )
        .withColumn(
            "arm",
            F.expr(X.hash64_spark("cast(cust as string) || ':cuped'")) % 2,
        )
    )
    moments = per_cust.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(F.expr("cast(pre as decimal(38,0))")).alias("sp"),
        F.sum(F.expr("cast(post as decimal(38,0))")).alias("so"),
        F.sum(F.expr("cast(pre as decimal(38,0)) * post")).alias("spo"),
        F.sum(F.expr("cast(pre as decimal(38,0)) * pre")).alias("spp"),
    ).select(
        "nn",
        "sp",
        F.expr(
            "cast(case when nn * spo - sp * so < 0 then -1 else 1 end"
            " * ((10000 * abs(nn * spo - sp * so))"
            " div (nn * spp - sp * sp)) as bigint)"
        ).alias("theta_bp"),
    )
    return (
        per_cust.crossJoin(F.broadcast(moments))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pre").alias("pr_a"),
            F.sum("post").alias("po_a"),
            F.max("theta_bp").alias("theta_bp"),
            F.max("nn").alias("nn"),
            F.max("sp").alias("sp"),
        )
        .select(
            F.col("arm").cast("bigint").alias("arm"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("cast(po_a div n as bigint)").alias("raw_mean_cents"),
            F.expr(
                "cast(po_a div n - case when"
                " theta_bp * (pr_a div n - cast(sp div nn as bigint)) < 0"
                " then -1 else 1 end"
                " * (abs(theta_bp * (pr_a div n - cast(sp div nn as bigint)))"
                " div 10000) as bigint)"
            ).alias("adj_mean_cents"),
            F.col("theta_bp").cast("bigint").alias("theta_bp"),
        )
    )


QUERIES["cuped_adjustment"] = cuped_adjustment

ORACLES["cuped_adjustment"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         sum(CASE WHEN o_orderdate < DATE '1998-07-01'
             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             ELSE 0 END) AS pre,
         sum(CASE WHEN o_orderdate >= DATE '1998-07-01'
             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             ELSE 0 END) AS post,
         ({X.hash64_duck("CAST(o_custkey AS VARCHAR) || ':cuped'")}) % 2
           AS arm
  FROM orders GROUP BY o_custkey
),
moments AS (
  SELECT count(*) AS nn, sum(pre)::HUGEINT AS sp,
         CAST((CASE WHEN count(*)::HUGEINT * sum(pre::HUGEINT * post)
                         - sum(pre)::HUGEINT * sum(post) < 0
                    THEN -1 ELSE 1 END)
              * ((10000 * abs(count(*)::HUGEINT * sum(pre::HUGEINT * post)
                              - sum(pre)::HUGEINT * sum(post)))
                 // (count(*)::HUGEINT * sum(pre::HUGEINT * pre)
                     - sum(pre)::HUGEINT * sum(pre))) AS BIGINT) AS theta_bp
  FROM per_cust
)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(post) // count(*) AS BIGINT) AS raw_mean_cents,
       CAST(sum(post) // count(*)
            - (CASE WHEN m.theta_bp * (sum(pre) // count(*)
                       - CAST(m.sp // m.nn AS BIGINT)) < 0
                    THEN -1 ELSE 1 END)
              * (abs(m.theta_bp * (sum(pre) // count(*)
                       - CAST(m.sp // m.nn AS BIGINT))) // 10000)
            AS BIGINT) AS adj_mean_cents,
       CAST(m.theta_bp AS BIGINT) AS theta_bp
FROM per_cust CROSS JOIN moments m
GROUP BY arm, m.theta_bp, m.sp, m.nn
ORDER BY arm
"""


# ---------------------------------------------------------------------------
# simpson_paradox_audit — aggregation-reversal detector
# ---------------------------------------------------------------------------


def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX audit (SURVEY §2 #272) — the
    aggregation-reversal detector every self-serve analytics layer
    needs in front of a "treated vs control" readout: assignment here
    is OBSERVATIONAL by construction (the exposure rate varies by
    market segment — the classic confounded setup), and the audit
    publishes, per segment, both arms' mean order values and the
    within-segment effect sign next to the POOLED effect, flagging
    every stratum whose direction contradicts the aggregate (the
    Berkeley-admissions shape).  Complements the causal shelf: DiD
    and CUPED CORRECT confounding; this one DETECTS when the pooled
    number is lying about the strata.

    Scale shape: one customer-dim equi-join for the stratum, one
    (segment) map-combined agg carrying both arms as conditional
    sums, one 1-row pooled agg broadcast back; the reversal flag is
    a sign comparison of floor-quantized means — exact, windowless.
    """
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
        .alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    base = orders.join(cust, "cust").select(
        "segment",
        "cents",
        (
            F.expr(X.hash64_spark("cast(cust as string) || ':sp'")) % 100
            < F.expr(f"20 + 12 * ({X.hash64_spark('segment')} % 5)")
        ).cast("int").alias("treated"),
    )
    per_seg = base.groupBy("segment").agg(
        F.sum("treated").alias("n_t"),
        F.sum(F.expr("treated * cents")).alias("s_t"),
        F.sum(F.expr("1 - treated")).alias("n_c"),
        F.sum(F.expr("(1 - treated) * cents")).alias("s_c"),
    )
    pooled = per_seg.agg(
        F.expr("sum(s_t) div sum(n_t) - sum(s_c) div sum(n_c)").alias(
            "pooled_diff"
        )
    )
    return (
        per_seg.crossJoin(F.broadcast(pooled))
        .select(
            "segment",
            F.col("n_t").cast("bigint").alias("n_t"),
            F.col("n_c").cast("bigint").alias("n_c"),
            F.expr("cast(s_t div n_t as bigint)").alias("mean_t_cents"),
            F.expr("cast(s_c div n_c as bigint)").alias("mean_c_cents"),
            F.expr("cast(s_t div n_t - s_c div n_c as bigint)").alias(
                "diff_cents"
            ),
            F.col("pooled_diff").cast("bigint").alias("pooled_diff_cents"),
            F.expr(
                "cast(CASE WHEN (s_t div n_t - s_c div n_c) * pooled_diff < 0"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("reversed"),
        )
    )


QUERIES["simpson_paradox_audit"] = simpson_paradox_audit

ORACLES["simpson_paradox_audit"] = f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CASE WHEN ({X.hash64_duck("CAST(o.o_custkey AS VARCHAR) || ':sp'")})
                   % 100
                 < 20 + 12 * (({X.hash64_duck('c.c_mktsegment')}) % 5)
              THEN 1 ELSE 0 END AS treated
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
per_seg AS (
  SELECT segment,
         sum(treated) AS n_t, sum(treated * cents) AS s_t,
         sum(1 - treated) AS n_c, sum((1 - treated) * cents) AS s_c
  FROM base GROUP BY segment
),
pooled AS (
  SELECT sum(s_t) // sum(n_t) - sum(s_c) // sum(n_c) AS pooled_diff
  FROM per_seg
)
SELECT segment,
       CAST(n_t AS BIGINT) AS n_t,
       CAST(n_c AS BIGINT) AS n_c,
       CAST(s_t // n_t AS BIGINT) AS mean_t_cents,
       CAST(s_c // n_c AS BIGINT) AS mean_c_cents,
       CAST(s_t // n_t - s_c // n_c AS BIGINT) AS diff_cents,
       CAST(pooled_diff AS BIGINT) AS pooled_diff_cents,
       CAST(CASE WHEN (s_t // n_t - s_c // n_c) * pooled_diff < 0
                 THEN 1 ELSE 0 END AS BIGINT) AS reversed
FROM per_seg CROSS JOIN pooled
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# aa_test_fpr — A/A-test false-positive-rate sweep
# ---------------------------------------------------------------------------

_AA_B = 32
# chi-square(1df) 95% critical value, milli-scaled literal (3.841459);
# computed once, embedded identically in both dialects.
_AA_CRIT_MILLI = 3841


def aa_test_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-TEST false-positive sweep (SURVEY §2 #275) — the
    experimentation-platform hygiene check that validates the TESTING
    MACHINERY itself (Kohavi's standard prescription: run the test
    harness on splits with NO real effect; a healthy α = 5% cut should
    flag ~5% of them): 32 independent hash A/A splits of customers,
    each scored by the 2×2 chi-square statistic on conversion
    (responded in the second half), published per replicate in
    milli-units with its over-critical flag, so the false-positive
    RATE and every offending replicate are both visible.  The chi²
    statistic is exact until the single trailing milli-division:
    N·(ad − bc)² / (row and column margins), all in DECIMAL(38,0).

    Scale shape: one per-customer outcome agg; the ×32 replicate
    fan-out collapses map-side (the poisson_bootstrap_ci shape —
    replicate cells, never replicated rows, survive the shuffle);
    32-row output.
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.max(
                (F.expr("o_orderdate >= date'1998-07-01'")).cast("int")
            ).alias("conv")
        )
    )
    reps = (
        per_cust.select(
            "cust",
            "conv",
            F.explode(F.expr(f"sequence(0, {_AA_B - 1})")).alias("b"),
        )
        .withColumn(
            "arm",
            F.expr(X.hash64_spark("cast(cust as string) || ':aa' || b")) % 2,
        )
        .groupBy("b")
        .agg(
            F.sum(F.expr("CASE WHEN arm = 0 THEN conv ELSE 0 END")).alias(
                "a"
            ),
            F.sum(
                F.expr("CASE WHEN arm = 0 THEN 1 - conv ELSE 0 END")
            ).alias("bb"),
            F.sum(F.expr("CASE WHEN arm = 1 THEN conv ELSE 0 END")).alias(
                "c"
            ),
            F.sum(
                F.expr("CASE WHEN arm = 1 THEN 1 - conv ELSE 0 END")
            ).alias("d"),
        )
    )
    chi = (
        "(1000 * cast(a + bb + c + d as decimal(38,0))"
        " * (cast(a as decimal(38,0)) * d - cast(bb as decimal(38,0)) * c)"
        " * (cast(a as decimal(38,0)) * d - cast(bb as decimal(38,0)) * c))"
        " div ((cast(a as decimal(38,0)) + bb) * (c + d)"
        " * (cast(a as decimal(38,0)) + c) * (bb + d))"
    )
    return (
        reps.select(
            F.col("b").cast("bigint").alias("replicate"),
            F.expr("cast(a + bb as bigint)").alias("n_arm0"),
            F.expr("cast(c + d as bigint)").alias("n_arm1"),
            F.expr(f"cast({chi} as bigint)").alias("chi2_milli"),
            F.expr(
                f"cast(CASE WHEN {chi} > {_AA_CRIT_MILLI}"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("false_positive"),
        )
    )


QUERIES["aa_test_fpr"] = aa_test_fpr

_aa_chi_duck = (
    "(1000 * (a + bb + c + d)::HUGEINT"
    " * (a::HUGEINT * d - bb::HUGEINT * c)"
    " * (a::HUGEINT * d - bb::HUGEINT * c))"
    " // ((a::HUGEINT + bb) * (c + d) * (a::HUGEINT + c) * (bb + d))"
)

ORACLES["aa_test_fpr"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-07-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
reps AS (
  SELECT b,
         sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS a,
         sum(CASE WHEN arm = 0 THEN 1 - conv ELSE 0 END) AS bb,
         sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS c,
         sum(CASE WHEN arm = 1 THEN 1 - conv ELSE 0 END) AS d
  FROM (
    SELECT conv, b,
           ({X.hash64_duck("CAST(cust AS VARCHAR) || ':aa' || b")}) % 2 AS arm
    FROM per_cust, unnest(generate_series(0, {_AA_B - 1})) AS t(b)
  ) GROUP BY b
)
SELECT CAST(b AS BIGINT) AS replicate,
       CAST(a + bb AS BIGINT) AS n_arm0,
       CAST(c + d AS BIGINT) AS n_arm1,
       CAST({_aa_chi_duck} AS BIGINT) AS chi2_milli,
       CAST(CASE WHEN {_aa_chi_duck} > {_AA_CRIT_MILLI}
                 THEN 1 ELSE 0 END AS BIGINT) AS false_positive
FROM reps ORDER BY replicate
"""


# ---------------------------------------------------------------------------
# bh_fdr_control — Benjamini-Hochberg step-up over the segment x region grid
# ---------------------------------------------------------------------------

# The test grid is fixed by design: 5 market segments x 5 regions = 25
# simultaneous chi-square(1df) tests. Critical values chi2_{1}(1 - k*a/m)
# for the step-up ladder (and the Bonferroni rung a/m) are precomputed
# once from the stdlib normal inverse CDF (chi2_1 quantile = z^2) and
# embedded as identical milli literals in BOTH dialects.
_BH_M = 25
_BH_ALPHA = 0.05


def _chi2_1_crit_milli(p: float) -> int:
    from statistics import NormalDist

    z = NormalDist().inv_cdf(1.0 - p / 2.0)
    return round(1000.0 * z * z)


_BH_LADDER_MILLI = [
    _chi2_1_crit_milli(_BH_ALPHA * k / _BH_M) for k in range(1, _BH_M + 1)
]
_BONF_CRIT_MILLI = _BH_LADDER_MILLI[0]


def bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG false-discovery control (SURVEY §2 #278) —
    the multiple-testing layer the experimentation family was missing:
    aa_test_fpr shows single tests false-positive at ~alpha, and any
    dashboard that slices one experiment 25 ways inflates that 25x;
    BH (1995) is the standard step-up repair.  The grid is the 5x5
    market-segment x region cross, each cell an exact-integer 2x2
    chi-square of balance-cohort exposure (acctbal >= 5000) vs late
    conversion — real covariates, so some cells carry real effects and
    the step-up ladder visibly rejects MORE than Bonferroni at the
    same alpha (the whole point of FDR control).  chi2 ranks replace
    p-value ranks (chi2 is monotone in 1/p), so no CDF is evaluated at
    query time: rank k rejects iff chi2 >= ladder[k], ladder
    precomputed as 25 milli literals from the stdlib normal quantile.

    Scale shape: one fact-sized map-combined agg to the 25x4 cell
    census; ranks via census self-join counting (25x25 — windowless);
    the step-up cutoff k_max is a 1-row aggregate broadcast back.  At
    100 TB only the first agg grows.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("c_custkey").alias("cust"),
            F.col("c_mktsegment").alias("segment"),
            F.col("r_name").alias("region"),
            F.expr("CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END").alias(
                "exposed"
            ),
        )
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("conv")
    )
    cells = (
        per_cust.join(cust, "cust")
        .groupBy("segment", "region")
        .agg(
            F.sum(F.expr("CASE WHEN exposed = 1 THEN conv ELSE 0 END")).alias("a"),
            F.sum(F.expr("CASE WHEN exposed = 1 THEN 1 - conv ELSE 0 END")).alias("bb"),
            F.sum(F.expr("CASE WHEN exposed = 0 THEN conv ELSE 0 END")).alias("c"),
            F.sum(F.expr("CASE WHEN exposed = 0 THEN 1 - conv ELSE 0 END")).alias("d"),
        )
    )
    chi = (
        "(1000 * cast(a + bb + c + d as decimal(38,0))"
        " * (cast(a as decimal(38,0)) * d - cast(bb as decimal(38,0)) * c)"
        " * (cast(a as decimal(38,0)) * d - cast(bb as decimal(38,0)) * c))"
        " div (nullif((cast(a as decimal(38,0)) + bb) * (c + d)"
        " * (cast(a as decimal(38,0)) + c) * (bb + d), 0))"
    )
    # 25-row test census, reused as both self-join sides AND the k_max
    # branch — materialize so the fact agg runs once.
    tests = materialize(
        cells.select(
            "segment",
            "region",
            F.expr("cast(a + bb + c + d as bigint)").alias("n"),
            F.expr(f"coalesce(cast({chi} as bigint), 0)").alias("chi2_milli"),
        )
    )
    # r11 (guide §2.4): the predecessor-count was a 25x25 theta
    # self-join + re-aggregate; (segment, region) is unique per row so
    # the (chi2 desc, segment, region) order is TOTAL and the count of
    # predecessors-including-self IS row_number() over that order —
    # one window on the ≤25-row census, no join. k_max likewise rides
    # a whole-partition window (the brier pattern) instead of a 1-row
    # aggregate crossJoined back, so the ladder subtree evaluates once.
    ranked = tests.withColumn(
        "p_rank",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc("chi2_milli"), F.asc("segment"), F.asc("region")
            )
        )
        .cast("long"),
    )
    ladder = ", ".join(str(v) for v in _BH_LADDER_MILLI)
    with_crit = ranked.withColumn(
        "crit_milli",
        F.expr(f"element_at(array({ladder}), cast(p_rank as int))"),
    )
    with_kmax = with_crit.withColumn(
        "k_max",
        F.coalesce(
            F.max(
                F.expr("CASE WHEN chi2_milli >= crit_milli THEN p_rank END")
            ).over(Window.partitionBy()),
            F.lit(0),
        ),
    )
    return (
        with_kmax
        .select(
            "segment",
            "region",
            F.col("n").cast("bigint").alias("n"),
            F.col("chi2_milli").cast("bigint").alias("chi2_milli"),
            F.col("p_rank").cast("bigint").alias("p_rank"),
            F.col("crit_milli").cast("bigint").alias("crit_milli"),
            F.expr(
                "cast(CASE WHEN p_rank <= k_max THEN 1 ELSE 0 END as bigint)"
            ).alias("rejected_bh"),
            F.expr(
                f"cast(CASE WHEN chi2_milli >= {_BONF_CRIT_MILLI}"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("rejected_bonferroni"),
        )
    )


QUERIES["bh_fdr_control"] = bh_fdr_control

_bh_chi_duck = (
    "(1000 * (a + bb + c + d)::HUGEINT"
    " * (a::HUGEINT * d - bb::HUGEINT * c)"
    " * (a::HUGEINT * d - bb::HUGEINT * c))"
    " // nullif((a::HUGEINT + bb) * (c + d) * (a::HUGEINT + c) * (bb + d), 0)"
)

ORACLES["bh_fdr_control"] = f"""
WITH cust AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment, r_name AS region,
         CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END AS exposed
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT segment, region,
         sum(CASE WHEN exposed = 1 THEN conv ELSE 0 END) AS a,
         sum(CASE WHEN exposed = 1 THEN 1 - conv ELSE 0 END) AS bb,
         sum(CASE WHEN exposed = 0 THEN conv ELSE 0 END) AS c,
         sum(CASE WHEN exposed = 0 THEN 1 - conv ELSE 0 END) AS d
  FROM per_cust JOIN cust USING (cust)
  GROUP BY segment, region
),
tests AS (
  SELECT segment, region,
         CAST(a + bb + c + d AS BIGINT) AS n,
         coalesce(CAST({_bh_chi_duck} AS BIGINT), 0) AS chi2_milli
  FROM cells
),
ranked AS (
  SELECT t.segment, t.region, t.n, t.chi2_milli,
         count(*) AS p_rank
  FROM tests t
  JOIN tests o ON o.chi2_milli > t.chi2_milli
       OR (o.chi2_milli = t.chi2_milli AND
           (o.segment < t.segment OR
            (o.segment = t.segment AND o.region <= t.region)))
  GROUP BY t.segment, t.region, t.n, t.chi2_milli
),
with_crit AS (
  SELECT *, ([{', '.join(str(v) for v in _BH_LADDER_MILLI)}])[p_rank]
           AS crit_milli
  FROM ranked
),
kmax AS (
  SELECT coalesce(max(CASE WHEN chi2_milli >= crit_milli THEN p_rank END), 0)
           AS k_max
  FROM with_crit
)
SELECT segment, region,
       CAST(n AS BIGINT) AS n,
       CAST(chi2_milli AS BIGINT) AS chi2_milli,
       CAST(p_rank AS BIGINT) AS p_rank,
       CAST(crit_milli AS BIGINT) AS crit_milli,
       CAST(CASE WHEN p_rank <= k_max THEN 1 ELSE 0 END AS BIGINT)
         AS rejected_bh,
       CAST(CASE WHEN chi2_milli >= {_BONF_CRIT_MILLI} THEN 1 ELSE 0 END
            AS BIGINT) AS rejected_bonferroni
FROM with_crit CROSS JOIN kmax
ORDER BY segment, region
"""


# ---------------------------------------------------------------------------
# shapley_attribution — exact Shapley channel credit over the coalition lattice
# ---------------------------------------------------------------------------

# 4 touch channels (purchase is the conversion, not a channel); the
# coalition lattice is 2^4 = 16 sets and the factorial weights
# |S|!(4-|S|-1)! for |S| = 0..3, scaled by 4! = 24 to stay integer.
_SHAP_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
_SHAP_W24 = [6, 2, 2, 6]


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (SURVEY §2 #279) — the
    game-theoretic credit split (Shapley 1953; Zhao et al. 2018 for
    marketing) completing the attribution triptych: attribution_models
    gives the positional heuristics, markov_attribution the
    order-aware removal effects, and this the ORDER-FREE axiomatic
    split (efficiency: credits sum exactly to v(full) - v(empty)).
    Journeys are user-days; v(S) = converted journeys whose touched
    channel set is a SUBSET of S; phi_c = sum over coalitions S not
    containing c of |S|!(n-|S|-1)! * (v(S u c) - v(S)), published x24
    (= 4!) so every intermediate is an exact integer.

    Scale shape: one fact-sized map-combined agg to user-day journeys
    (bit_or channel mask + conversion flag), one census agg to <= 16
    mask rows — the coalition lattice (16 x 16 subset join, 4 x 8
    marginal join) runs entirely on broadcast censuses.  The
    exponential Shapley sum is exponential in CHANNELS (a design
    constant), never in data.
    """
    events = _t(spark, sf_dir, "events")
    mask_expr = " + ".join(
        f"CASE WHEN event_type = '{name}' THEN {bit} ELSE 0 END"
        for name, bit in _SHAP_CHANNELS
    )
    journeys = (
        events.groupBy(
            "user_id", F.expr("cast(ts as date)").alias("day")
        )
        .agg(
            F.expr(f"bit_or({mask_expr})").alias("mask"),
            F.max(
                F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
            ).alias("conv"),
        )
    )
    # Below the <= 16-row mask census the coalition lattice is a
    # census-collect-then-iterate collapse (SURVEY §7.24a; the former
    # subset/marginal joins + two materializes were ~13 jobs on
    # <= 16-row state).  Exact integers; tdiv + the -1 fallback mirror
    # SQL div/nullif/coalesce (phi can be negative).

    nc = {
        int(r["mask"]): int(r["n_conv"])
        for r in bounded_collect(
            journeys.groupBy("mask").agg(F.sum("conv").alias("n_conv")),
            16,
            "shapley_attribution: channel-mask census",
        )
        if r["n_conv"] is not None
    }
    v = [
        sum(n for m, n in nc.items() if (m & s) == m) for s in range(16)
    ]
    out = []
    phis = {}
    for name, cbit in _SHAP_CHANNELS:
        phis[name] = sum(
            _SHAP_W24[bin(s0).count("1")] * (v[s0 | cbit] - v[s0])
            for s0 in range(16)
            if (s0 & cbit) == 0
        )
    tot = sum(phis.values())
    for name in sorted(phis):
        share = _tdiv(10000 * phis[name], tot if tot != 0 else None)
        out.append((name, phis[name], -1 if share is None else share))
    return spark.createDataFrame(
        out, schema="channel string, phi_x24 bigint, share_bp bigint"
    )


QUERIES["shapley_attribution"] = shapley_attribution


_shap_chan_values = ", ".join(
    f"('{name}', {bit})" for name, bit in _SHAP_CHANNELS
)


_shap_mask_duck = " + ".join(
    f"CASE WHEN event_type = '{name}' THEN {bit} ELSE 0 END"
    for name, bit in _SHAP_CHANNELS
)

ORACLES["shapley_attribution"] = f"""
WITH journeys AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         bit_or({_shap_mask_duck}) AS mask,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
mask_census AS (
  SELECT mask, sum(conv) AS n_conv FROM journeys GROUP BY mask
),
coalitions AS (
  SELECT CAST(s AS INT) AS s FROM unnest(generate_series(0, 15)) AS t(s)
),
v AS (
  SELECT s, coalesce(sum(n_conv), 0) AS v
  FROM coalitions LEFT JOIN mask_census ON (mask & s) = mask
  GROUP BY s
),
channels(channel, cbit) AS (VALUES {_shap_chan_values}),
phi AS (
  SELECT channel,
         sum(([{', '.join(str(w) for w in _SHAP_W24)}])[bit_count(v0.s) + 1]
             * (v1.v - v0.v)) AS phi_x24
  FROM channels
  JOIN v v0 ON (v0.s & cbit) = 0
  JOIN v v1 ON v1.s = (v0.s | cbit)
  GROUP BY channel
),
total AS (SELECT sum(phi_x24) AS tot FROM phi)
SELECT channel,
       CAST(phi_x24 AS BIGINT) AS phi_x24,
       CAST(coalesce((10000 * phi_x24) // nullif(tot, 0), -1) AS BIGINT)
         AS share_bp
FROM phi CROSS JOIN total
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# importance_weight_ess — covariate-shift reweighting + Kish effective n
# ---------------------------------------------------------------------------


def importance_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE-WEIGHTING audit with Kish effective sample size
    (SURVEY §2 #285) — the covariate-shift REPAIR next to the drift
    DETECTORS (psi_drift/ks_drift say the H1 and H2 order mixes
    differ; this computes the density-ratio weights that reweight H1
    to H2 per (segment x priority) cell, Shimodaira 2000) and the
    price tag: Kish's ESS = (sum w)^2 / sum w^2 (1965), published as
    ess_milli = 1000*ESS/n so a segment whose weights are skewed
    shows its effective-data loss directly — the "your 1M reweighted
    rows are worth 300k" number every mixture rebalance needs.
    Weights are exact bp ratios ((n_tgt*N_src) div (n_src*N_tgt));
    ESS folds over the cell census in DECIMAL(38,0) ((1e12*1e4)^2 =
    1e32 headroom documented).

    Scale shape: one map-combined agg to the (segment, priority, half)
    cell census; per-segment totals by a census groupBy joined back
    broadcast; everything after the first agg is census-sized.  No
    windows.  Empty target cells get weight 0 (those source rows drop,
    the standard convention); empty SOURCE cells contribute nothing.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1997-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    ).select(
        F.col("o_orderpriority").alias("prio"),
        "o_custkey",
        F.expr(
            "CASE WHEN o_orderdate < date'1997-07-01' THEN 1 ELSE 0 END"
        ).alias("in_src"),
        F.expr(
            "CASE WHEN o_orderdate >= date'1997-07-01' THEN 1 ELSE 0 END"
        ).alias("in_tgt"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    cells = (
        orders.join(cust, "o_custkey")
        .groupBy("segment", "prio")
        .agg(F.sum("in_src").alias("n_src"), F.sum("in_tgt").alias("n_tgt"))
    )
    seg = cells.groupBy("segment").agg(
        F.sum("n_src").alias("ns"), F.sum("n_tgt").alias("nt")
    )
    weighted = cells.join(F.broadcast(seg), "segment").select(
        "segment",
        "n_src",
        "n_tgt",
        F.expr(
            "coalesce((10000 * cast(n_tgt as decimal(38,0)) * ns)"
            " div (nullif(cast(n_src as decimal(38,0)) * nt, 0)), 0)"
        ).alias("w_bp"),
    )
    return (
        weighted.groupBy("segment")
        .agg(
            F.sum("n_src").cast("bigint").alias("n_src"),
            F.sum("n_tgt").cast("bigint").alias("n_tgt"),
            F.max("w_bp").cast("bigint").alias("max_weight_bp"),
            F.expr(
                "cast(coalesce((1000 * sum(cast(n_src as decimal(38,0))"
                " * w_bp) * sum(cast(n_src as decimal(38,0)) * w_bp))"
                " div (nullif(sum(cast(n_src as decimal(38,0)) * w_bp"
                " * w_bp) * sum(n_src), 0)), -1) as bigint)"
            ).alias("ess_milli"),
        )
    )


QUERIES["importance_weight_ess"] = importance_weight_ess

ORACLES["importance_weight_ess"] = """
WITH orders_w AS (
  SELECT o_orderpriority AS prio, o_custkey,
         CASE WHEN o_orderdate < DATE '1997-07-01' THEN 1 ELSE 0 END
           AS in_src,
         CASE WHEN o_orderdate >= DATE '1997-07-01' THEN 1 ELSE 0 END
           AS in_tgt
  FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
),
cells AS (
  SELECT c.c_mktsegment AS segment, o.prio,
         sum(in_src) AS n_src, sum(in_tgt) AS n_tgt
  FROM orders_w o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
seg AS (
  SELECT segment, sum(n_src) AS ns, sum(n_tgt) AS nt
  FROM cells GROUP BY segment
),
weighted AS (
  SELECT c.segment, c.n_src, c.n_tgt,
         coalesce((10000 * c.n_tgt::HUGEINT * s.ns)
                  // nullif(c.n_src::HUGEINT * s.nt, 0), 0) AS w_bp
  FROM cells c JOIN seg s USING (segment)
)
SELECT segment,
       CAST(sum(n_src) AS BIGINT) AS n_src,
       CAST(sum(n_tgt) AS BIGINT) AS n_tgt,
       CAST(max(w_bp) AS BIGINT) AS max_weight_bp,
       CAST(coalesce((1000 * sum(n_src::HUGEINT * w_bp)
                      * sum(n_src::HUGEINT * w_bp))
                     // nullif(sum(n_src::HUGEINT * w_bp * w_bp)
                               * sum(n_src), 0), -1) AS BIGINT) AS ess_milli
FROM weighted
GROUP BY segment ORDER BY segment
"""


# ---------------------------------------------------------------------------
# regression_discontinuity — local-linear jump estimate at a date cutoff
# ---------------------------------------------------------------------------

_RD_CUTOFF = "date'1997-07-01'"
_RD_BW_DAYS = 90


def regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION-DISCONTINUITY jump estimate (SURVEY §2 #289) — the
    third identification strategy next to diff_in_diff (parallel
    trends) and cuped_adjustment (pre-period variance): when a policy
    switches ON at a date, the causal jump is the gap between two
    LOCAL LINEAR fits meeting at the cutoff (Thistlethwaite-Campbell
    1960; Imbens-Lemieux 2008 prescribe local linear over global
    polynomials).  Per segment: daily k$-revenue census within ±90
    days, exact integer OLS moments per side, and the jump = intercept
    difference at x = 0 published in milli-k$ via one trailing
    DECIMAL(38,0) division — the intercept numerators (Σy·Σx² − Σx·Σxy
    ≈ 1e12) and the 1000·num·den cross terms (~1e23) stay inside the
    documented 38-digit budget.

    Scale shape: one map-combined agg to the (segment, side, day)
    census (≤ 5·2·90 rows), one census agg to per-side moments, one
    5-row join — windowless, nothing fact-sized after the first agg.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr(
            f"o_orderdate >= {_RD_CUTOFF} - interval {_RD_BW_DAYS} days"
            f" AND o_orderdate < {_RD_CUTOFF} + interval {_RD_BW_DAYS} days"
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    daily = (
        orders.join(cust, "o_custkey")
        .groupBy(
            "segment",
            F.expr(f"datediff(cast(o_orderdate as date), {_RD_CUTOFF})")
            .alias("x"),
        )
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100000"
            ).alias("y")
        )
        .withColumn("side", F.expr("CASE WHEN x < 0 THEN 'L' ELSE 'R' END"))
    )
    moments = daily.groupBy("segment", "side").agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
    ).select(
        "segment",
        "side",
        "nn",
        F.expr("sy * sxx - sx * sxy").alias("a_num"),
        F.expr("nn * sxx - sx * sx").alias("den"),
    )
    left = moments.filter(F.col("side") == "L").select(
        "segment",
        F.col("nn").alias("n_left"),
        F.col("a_num").alias("al_num"),
        F.col("den").alias("dl"),
    )
    right = moments.filter(F.col("side") == "R").select(
        "segment",
        F.col("nn").alias("n_right"),
        F.col("a_num").alias("ar_num"),
        F.col("den").alias("dr"),
    )
    return (
        left.join(right, "segment")
        .select(
            "segment",
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.expr(
                "cast((1000 * al_num) div dl as bigint)"
            ).alias("intercept_left_milli"),
            F.expr(
                "cast((1000 * ar_num) div dr as bigint)"
            ).alias("intercept_right_milli"),
            F.expr(
                "cast((1000 * (ar_num * dl - al_num * dr))"
                " div (dr * dl) as bigint)"
            ).alias("jump_milli"),
        )
    )


QUERIES["regression_discontinuity"] = regression_discontinuity

ORACLES["regression_discontinuity"] = f"""
WITH daily AS (
  SELECT c.c_mktsegment AS segment,
         datediff('day', DATE '1997-07-01', CAST(o_orderdate AS DATE)) AS x,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o_orderdate >= DATE '1997-07-01' - INTERVAL {_RD_BW_DAYS} DAY
    AND o_orderdate < DATE '1997-07-01' + INTERVAL {_RD_BW_DAYS} DAY
  GROUP BY 1, 2
),
moments AS (
  SELECT segment, CASE WHEN x < 0 THEN 'L' ELSE 'R' END AS side,
         count(*) AS nn,
         sum(y)::HUGEINT * sum(x::HUGEINT * x)
           - sum(x)::HUGEINT * sum(x::HUGEINT * y) AS a_num,
         count(*)::HUGEINT * sum(x::HUGEINT * x)
           - sum(x)::HUGEINT * sum(x) AS den
  FROM daily GROUP BY 1, 2
)
SELECT l.segment,
       CAST(l.nn AS BIGINT) AS n_left,
       CAST(r.nn AS BIGINT) AS n_right,
       CAST((1000 * l.a_num) // l.den AS BIGINT) AS intercept_left_milli,
       CAST((1000 * r.a_num) // r.den AS BIGINT) AS intercept_right_milli,
       CAST((1000 * (r.a_num * l.den - l.a_num * r.den))
            // (r.den * l.den) AS BIGINT) AS jump_milli
FROM moments l JOIN moments r ON l.segment = r.segment
WHERE l.side = 'L' AND r.side = 'R'
ORDER BY l.segment
"""


# ---------------------------------------------------------------------------
# disparate_impact_audit — four-fifths-rule fairness census
# ---------------------------------------------------------------------------


def disparate_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISPARATE-IMPACT audit (SURVEY §2 #290) — the four-fifths rule
    (EEOC 1978; Feldman et al. 2015 for the ML framing), the fairness
    census the pipeline family was missing: within each market
    segment, the late-1997 conversion rate per REGION (the protected
    attribute stand-in) against the best-performing region, flagged
    when the ratio falls under 80%.  The reference group is the exact
    argmax by CROSS-MULTIPLIED rate comparison (pos_i·n_j > pos_j·n_i
    — no floored rate ever decides the winner), and the published
    ratio is the exact di_bp = (10000·pos_g·n_ref) div (n_g·pos_ref),
    so a group sitting at 79.99% cannot round up past the rule.

    Scale shape: one fact agg to the 25-cell (segment, region) census;
    the reference election is a 25×25 broadcast self-join (windowless
    argmax); everything after the first agg is census-sized.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("c_custkey").alias("cust"),
            F.col("c_mktsegment").alias("segment"),
            F.col("r_name").alias("region"),
        )
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr("o_orderdate >= date'1997-07-01'").cast("int")
        ).alias("conv")
    )
    cells = materialize(
        per_cust.join(cust, "cust")
        .groupBy("segment", "region")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("pos"))
    )
    other = cells.select(
        F.col("segment").alias("o_seg"),
        F.col("region").alias("o_reg"),
        F.col("n").alias("o_n"),
        F.col("pos").alias("o_pos"),
    )
    # reference = exact-rate argmax per segment, ties to the first
    # region name; a cell loses if any other cell has a strictly
    # higher cross-multiplied rate (or equal rate and earlier name).
    ref = (
        cells.join(
            F.broadcast(other),
            F.expr(
                "segment = o_seg AND (o_pos * n > pos * o_n"
                " OR (o_pos * n = pos * o_n AND o_reg < region))"
            ),
            "left_anti",
        )
        .select(
            F.col("segment"),
            F.col("region").alias("ref_region"),
            F.col("n").alias("ref_n"),
            F.col("pos").alias("ref_pos"),
        )
    )
    return (
        cells.join(F.broadcast(ref), "segment")
        .select(
            "segment",
            "region",
            F.col("n").cast("bigint").alias("n"),
            F.expr("cast((10000 * pos) div n as bigint)").alias("rate_bp"),
            "ref_region",
            F.expr(
                "cast(coalesce((10000 * cast(pos as decimal(38,0)) * ref_n)"
                " div nullif(cast(n as decimal(38,0)) * ref_pos, 0), -1)"
                " as bigint)"
            ).alias("di_bp"),
            F.expr(
                "cast(CASE WHEN (10000 * cast(pos as decimal(38,0)) * ref_n)"
                " div nullif(cast(n as decimal(38,0)) * ref_pos, 0)"
                " >= 8000 THEN 1 ELSE 0 END as bigint)"
            ).alias("four_fifths_ok"),
        )
    )


QUERIES["disparate_impact_audit"] = disparate_impact_audit

ORACLES["disparate_impact_audit"] = """
WITH cust AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment, r_name AS region
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1997-07-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT segment, region, count(*) AS n, sum(conv) AS pos
  FROM per_cust JOIN cust USING (cust)
  GROUP BY segment, region
),
ref AS (
  SELECT c.segment, c.region AS ref_region, c.n AS ref_n, c.pos AS ref_pos
  FROM cells c
  WHERE NOT EXISTS (
    SELECT 1 FROM cells o
    WHERE o.segment = c.segment
      AND (o.pos * c.n > c.pos * o.n
           OR (o.pos * c.n = c.pos * o.n AND o.region < c.region))
  )
)
SELECT c.segment, c.region,
       CAST(c.n AS BIGINT) AS n,
       CAST((10000 * c.pos) // c.n AS BIGINT) AS rate_bp,
       r.ref_region,
       CAST(coalesce((10000 * c.pos::HUGEINT * r.ref_n)
                     // nullif(c.n::HUGEINT * r.ref_pos, 0), -1) AS BIGINT)
         AS di_bp,
       CAST(CASE WHEN (10000 * c.pos::HUGEINT * r.ref_n)
                      // nullif(c.n::HUGEINT * r.ref_pos, 0) >= 8000
                 THEN 1 ELSE 0 END AS BIGINT) AS four_fifths_ok
FROM cells c JOIN ref r USING (segment)
ORDER BY c.segment, c.region
"""


# ---------------------------------------------------------------------------
# ab_power_analysis — required sample size per segment (two-proportion test)
# ---------------------------------------------------------------------------


def _z_micro(p: float) -> int:
    from statistics import NormalDist

    return round(1000000 * NormalDist().inv_cdf(1.0 - p))


# (z_{alpha/2} + z_{beta})^2 at alpha = 5%, power = 80% — the standard
# two-proportion sample-size constant, embedded in micro units.
_POWER_ZSUM2_MICRO = round(
    ((_z_micro(0.025) + _z_micro(0.2)) / 1000000) ** 2 * 1000000
)
_POWER_MDE_REL_BP = 1000  # minimum detectable effect: +10% relative


def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B POWER ANALYSIS per segment (SURVEY §2 #305) — the
    experiment-DESIGN step the testing family runs AFTER the fact
    (ab_test_chi2 scores a finished test, aa_test_fpr validates the
    harness, bh_fdr_control corrects the sweep — but the first
    question is "how many users do I need?"): the standard
    two-proportion formula n = (z_a/2 + z_b)^2 (p1q1 + p2q2) / d^2 at
    80% power / 5% alpha for a +10% relative lift on each segment's
    OBSERVED baseline conversion — normal quantiles are import-time
    literals (the bh_fdr ladder pattern), everything else exact bp
    integers with a ceiling division, so the published n_required is
    deterministic.  The feasible flag compares against the segment's
    actual population — the "this segment can never reach
    significance" readout.

    Scale shape: one fact agg to per-customer conversion, one census
    agg per segment; the formula is a projection on the 5-row census.
    Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("conv")
    )
    seg = (
        per_cust.join(cust, "cust")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("pos"))
    )
    staged = seg.select(
        "segment",
        "n",
        F.expr("(10000 * pos) div n").alias("p1"),
    ).select(
        "segment",
        "n",
        "p1",
        F.expr(f"(p1 * {_POWER_MDE_REL_BP}) div 10000").alias("mde"),
    ).select(
        "segment",
        "n",
        "p1",
        "mde",
        F.expr("least(p1 + mde, 10000)").alias("p2"),
    ).select(
        "segment",
        "n",
        "p1",
        "mde",
        F.expr(
            f"CASE WHEN mde = 0 THEN cast(-1 as decimal(38,0)) ELSE"
            f" ({_POWER_ZSUM2_MICRO} * (p1 * (10000 - p1)"
            " + p2 * (10000 - p2))"
            " + 1000000 * cast(mde as decimal(38,0)) * mde - 1)"
            " div (1000000 * cast(mde as decimal(38,0)) * mde) END"
        ).alias("n_req"),
    )
    return staged.select(
        "segment",
        F.col("n").cast("bigint").alias("n_observed"),
        F.col("p1").cast("bigint").alias("baseline_bp"),
        F.col("mde").cast("bigint").alias("mde_bp"),
        F.col("n_req").cast("bigint").alias("n_required_per_arm"),
        F.expr(
            "cast(CASE WHEN mde = 0 THEN 0"
            " WHEN n_req <= n div 2 THEN 1 ELSE 0 END as bigint)"
        ).alias("feasible_two_arm"),
    )


QUERIES["ab_power_analysis"] = ab_power_analysis

_pwr_p1 = "(10000 * pos) // n"
_pwr_mde = f"(({_pwr_p1}) * {_POWER_MDE_REL_BP}) // 10000"


_pwr_den = f"(1000000 * ({_pwr_mde})::HUGEINT * ({_pwr_mde}))"


_pwr_p2 = f"least(({_pwr_p1}) + ({_pwr_mde}), 10000)"
_pwr_num = (
    f"({_POWER_ZSUM2_MICRO} * (({_pwr_p1}) * (10000 - ({_pwr_p1}))"
    f" + ({_pwr_p2}) * (10000 - ({_pwr_p2})))"
    f" + 1000000 * ({_pwr_mde})::HUGEINT * ({_pwr_mde}) - 1)"
)

ORACLES["ab_power_analysis"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT c.c_mktsegment AS segment, count(*) AS n, sum(conv) AS pos
  FROM per_cust p JOIN customer c ON c.c_custkey = p.cust
  GROUP BY 1
)
SELECT segment,
       CAST(n AS BIGINT) AS n_observed,
       CAST({_pwr_p1} AS BIGINT) AS baseline_bp,
       CAST({_pwr_mde} AS BIGINT) AS mde_bp,
       CAST(CASE WHEN ({_pwr_mde}) = 0 THEN -1
                 ELSE {_pwr_num} // {_pwr_den} END AS BIGINT)
         AS n_required_per_arm,
       CAST(CASE WHEN ({_pwr_mde}) = 0 THEN 0
                 WHEN {_pwr_num} // {_pwr_den} <= n // 2 THEN 1
                 ELSE 0 END AS BIGINT) AS feasible_two_arm
FROM seg ORDER BY segment
"""


# ---------------------------------------------------------------------------
# iv_wald_estimate — instrumental-variable Wald ratio per segment
# ---------------------------------------------------------------------------

_IV_SUPP_THRESHOLD = 3  # nations with > 3 suppliers are "encouraged"


def iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSTRUMENTAL-VARIABLE Wald estimator (SURVEY §2 #306) — the
    last missing identification strategy (diff_in_diff: parallel
    trends; regression_discontinuity: a cutoff; this: an INSTRUMENT
    that shifts treatment without touching the outcome directly —
    Wald 1940; Angrist-Krueger's workhorse): instrument z = customer's
    nation hosts more than 3 suppliers (supply-side encouragement),
    treatment x = order count, outcome y = spend.  Wald = (ybar_1 -
    ybar_0)/(xbar_1 - xbar_0) computed in the cross-multiplied closed
    form (Sy1·n0 - Sy0·n1)/(Sx1·n0 - Sx0·n1) — exact integers, one
    trailing milli division — published per segment with the
    first-stage strength (a weak instrument makes the ratio explode;
    the reader sees both).

    Scale shape: the supplier census per nation is a dim agg broadcast
    into the customer dim join; per-customer (x, y) is one fact agg;
    the Wald fold is a 5x2-cell census.  Windowless.
    """
    supp_per_nation = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(supp_per_nation),
            F.col("c_nationkey") == F.col("nk"),
            "left",
        )
        .select(
            F.col("c_custkey").alias("cust"),
            F.col("c_mktsegment").alias("segment"),
            F.expr(
                f"CASE WHEN coalesce(n_supp, 0) > {_IV_SUPP_THRESHOLD}"
                " THEN 1 ELSE 0 END"
            ).alias("z"),
        )
    )
    per_cust = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("cust")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " as decimal(38,0)) div 100000"
        ).alias("y"),
    )
    cells = (
        per_cust.join(cust, "cust")
        .groupBy("segment", "z")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
        )
    )
    z1 = cells.filter("z = 1").select(
        "segment",
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sy").alias("sy1"),
    )
    z0 = cells.filter("z = 0").select(
        "segment",
        F.col("n").alias("n0"),
        F.col("sx").alias("sx0"),
        F.col("sy").alias("sy0"),
    )
    return (
        z1.join(z0, "segment")
        .select(
            "segment",
            F.expr("cast(n1 + n0 as bigint)").alias("n"),
            F.col("n1").cast("bigint").alias("n_encouraged"),
            F.expr(
                "cast((1000 * (cast(sx1 as decimal(38,0)) * n0"
                " - cast(sx0 as decimal(38,0)) * n1))"
                " div (cast(n1 as decimal(38,0)) * n0) as bigint)"
            ).alias("first_stage_milli"),
            F.expr(
                "cast(coalesce((1000 * (cast(sy1 as decimal(38,0)) * n0"
                " - cast(sy0 as decimal(38,0)) * n1))"
                " div nullif(cast(sx1 as decimal(38,0)) * n0"
                " - cast(sx0 as decimal(38,0)) * n1, 0), 0) as bigint)"
            ).alias("wald_milli_k_per_order"),
        )
    )


QUERIES["iv_wald_estimate"] = iv_wald_estimate

ORACLES["iv_wald_estimate"] = f"""
WITH supp AS (
  SELECT s_nationkey AS nk, count(*) AS n_supp
  FROM supplier GROUP BY 1
),
cust AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment,
         CASE WHEN coalesce(n_supp, 0) > {_IV_SUPP_THRESHOLD}
              THEN 1 ELSE 0 END AS z
  FROM customer LEFT JOIN supp ON nk = c_nationkey
),
per_cust AS (
  SELECT o_custkey AS cust, count(*) AS x,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders GROUP BY o_custkey
),
cells AS (
  SELECT segment, z, count(*) AS n, sum(x) AS sx, sum(y) AS sy
  FROM per_cust JOIN cust USING (cust)
  GROUP BY segment, z
)
SELECT a.segment,
       CAST(a.n + b.n AS BIGINT) AS n,
       CAST(a.n AS BIGINT) AS n_encouraged,
       CAST((1000 * (a.sx::HUGEINT * b.n - b.sx::HUGEINT * a.n))
            // (a.n::HUGEINT * b.n) AS BIGINT) AS first_stage_milli,
       CAST(coalesce((1000 * (a.sy::HUGEINT * b.n - b.sy::HUGEINT * a.n))
                     // nullif(a.sx::HUGEINT * b.n - b.sx::HUGEINT * a.n,
                               0), 0) AS BIGINT)
         AS wald_milli_k_per_order
FROM cells a JOIN cells b ON a.segment = b.segment
WHERE a.z = 1 AND b.z = 0
ORDER BY a.segment
"""


# ---------------------------------------------------------------------------
# oaxaca_blinder_decomposition — composition vs rate gap decomposition
# ---------------------------------------------------------------------------


def oaxaca_blinder_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OAXACA-BLINDER gap decomposition (SURVEY §2 #320) — the
    econometric answer to "WHY do two groups' averages differ"
    (Oaxaca 1973; Blinder 1973 — the wage-gap workhorse), a family
    the catalog analyzes around but never decomposes:
    simpson_paradox_audit DETECTS composition lying, this QUANTIFIES
    it — the BUILDING-vs-rest mean spend gap splits per nation into
    EXPLAINED (different nation mix x reference spend) and
    UNEXPLAINED (same nation, different spend) parts, summing exactly
    to the gap.  Every term is a cross-multiplied integer with one
    milli-cent floor: explained_n = (nA_n*NB - nB_n*NA)*syB_n /
    (NA*NB*nB_n), unexplained_n = nA_n*(syA_n*nB_n - syB_n*nA_n) /
    (NA*nA_n*nB_n).

    Scale shape: one fact agg to per-customer spend, one to the
    25x2-cell (nation, group) census; group totals broadcast back;
    per-nation terms are census projections.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").join(
        _t(spark, sf_dir, "nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(
        F.col("c_custkey").alias("cust"),
        F.col("n_name").alias("nation"),
        F.expr(
            "CASE WHEN c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END"
        ).alias("grp"),
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
            " div 100 as bigint)"
        ).alias("y")
    )
    # Below the <= 25x2 (nation, group) census everything is exact
    # cross-multiplied integer arithmetic — a census-collect-then-
    # iterate collapse (SURVEY §7.24a; the former filters + broadcast
    # crossJoins were ~13 jobs on <= 50-row state).  tdiv replicates
    # SQL div's truncation toward zero (explained/unexplained terms
    # are signed); the inner join's nation intersection is explicit.

    cells = bounded_collect(
        per_cust.join(cust, "cust")
        .groupBy("nation", "grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")),
        128,
        "oaxaca_blinder_decomposition: nation x group census",
    )
    a = {r["nation"]: (int(r["n"]), int(r["sy"])) for r in cells if r["grp"] == "A"}
    b = {r["nation"]: (int(r["n"]), int(r["sy"])) for r in cells if r["grp"] == "B"}
    na_tot = sum(n for n, _ in a.values())
    sya_tot = sum(sy for _, sy in a.values())
    nb_tot = sum(n for n, _ in b.values())
    syb_tot = sum(sy for _, sy in b.values())
    out = []
    for nation in sorted(set(a) & set(b)):
        na, sya = a[nation]
        nb, syb = b[nation]
        out.append(
            (
                nation,
                na,
                nb,
                _tdiv(
                    1000 * (na * nb_tot - nb * na_tot) * syb,
                    na_tot * nb_tot * nb,
                ),
                _tdiv(
                    1000 * na * (sya * nb - syb * na),
                    na_tot * na * nb,
                ),
                1000 * (_tdiv(sya_tot, na_tot) - _tdiv(syb_tot, nb_tot)),
            )
        )
    return spark.createDataFrame(
        out,
        schema="nation string, n_building bigint, n_rest bigint,"
        " explained_milli bigint, unexplained_milli bigint,"
        " total_gap_milli bigint",
    )


QUERIES["oaxaca_blinder_decomposition"] = oaxaca_blinder_decomposition

ORACLES["oaxaca_blinder_decomposition"] = """
WITH cust AS (
  SELECT c_custkey AS cust, n_name AS nation,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END AS grp
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100 AS y
  FROM orders GROUP BY o_custkey
),
cells AS MATERIALIZED (
  SELECT nation, grp, count(*) AS n, sum(y) AS sy
  FROM per_cust JOIN cust USING (cust)
  GROUP BY nation, grp
),
tots AS (
  SELECT grp, sum(n) AS nn, sum(sy) AS sy FROM cells GROUP BY grp
)
SELECT a.nation,
       CAST(a.n AS BIGINT) AS n_building,
       CAST(b.n AS BIGINT) AS n_rest,
       CAST((1000 * (a.n::HUGEINT * tb.nn - b.n::HUGEINT * ta.nn) * b.sy)
            // (ta.nn::HUGEINT * tb.nn * b.n) AS BIGINT)
         AS explained_milli,
       CAST((1000 * a.n::HUGEINT
             * (a.sy::HUGEINT * b.n - b.sy::HUGEINT * a.n))
            // (ta.nn::HUGEINT * a.n * b.n) AS BIGINT)
         AS unexplained_milli,
       CAST(1000 * (ta.sy // ta.nn - tb.sy // tb.nn) AS BIGINT)
         AS total_gap_milli
FROM cells a
JOIN cells b ON b.nation = a.nation AND b.grp = 'B'
CROSS JOIN (SELECT nn, sy FROM tots WHERE grp = 'A') ta
CROSS JOIN (SELECT nn, sy FROM tots WHERE grp = 'B') tb
WHERE a.grp = 'A'
ORDER BY a.nation
"""


# ---------------------------------------------------------------------------
# ratio_metric_variance — delta-method variance of a ratio metric
# ---------------------------------------------------------------------------


def ratio_metric_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-METRIC variance by the delta method (SURVEY §2 #325) —
    the most common silent error in experimentation (Deng et al.
    KDD'17): revenue-per-order is ANALYZED per order but RANDOMIZED
    per customer, and treating orders as iid understates the variance
    whenever customers contribute correlated orders.  Per segment:
    the ratio R = Sx/Sy over customer units, the delta-method
    variance var(R) = n/(n-1) * sum((x_i*Sy - Sx*y_i)^2) / Sy^4
    assembled from cross-multiplied integer moments (revenue
    quantized to k-cents so the squared cross terms stay ~1e31 <<
    DECIMAL(38,0); the bound is documented, tightening the quantum
    extends it), the naive per-order variance beside it, and the
    INFLATION ratio in bp — the "your CI was 2x too narrow" number.

    Scale shape: one per-customer agg, one per-order-level moment agg,
    one 5-row census fold.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    per_order = orders.select(
        F.col("o_custkey").alias("cust"),
        F.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"
            " div 1000"
        ).alias("v"),
    )
    per_cust = per_order.groupBy("cust").agg(
        F.sum("v").alias("x"), F.count(F.lit(1)).alias("y")
    ).join(cust, "cust")
    seg = materialize(
        per_cust.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
            F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
            F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        )
    )
    ord_mom = (
        per_order.join(cust, "cust")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("v").alias("sv"),
            F.sum(F.expr("cast(v as decimal(38,0)) * v")).alias("svv"),
        )
    )
    # sum((x_i*Sy - Sx*y_i)^2) = Sy^2*Sxx - 2*Sx*Sy*Sxy + Sx^2*Syy
    return (
        seg.join(ord_mom, "segment")
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("m").cast("bigint").alias("n_orders"),
            F.expr("cast((1000 * sx) div sy as bigint)").alias(
                "ratio_milli_kc"
            ),
            # delta var scaled by 1e12/Sy^4-ish: publish as micro units
            # of (k-cents)^2 per ratio: both variances share the same
            # published scale so the inflation ratio is unit-free
            F.expr(
                "cast((1000000 * cast(n as decimal(38,0))"
                " * (sy * sy * sxx - 2 * sx * sy * sxy + sx * sx * syy))"
                " div ((n - 1) * cast(sy as decimal(38,0)) * sy * sy * sy)"
                " as bigint)"
            ).alias("delta_var_micro"),
            F.expr(
                "cast((1000000 * (m * svv - cast(sv as decimal(38,0))"
                " * sv)) div (cast(m as decimal(38,0)) * (m - 1) * m)"
                " as bigint)"
            ).alias("naive_var_micro"),
            F.expr(
                "cast(coalesce((10000 * ((1000000"
                " * cast(n as decimal(38,0))"
                " * (sy * sy * sxx - 2 * sx * sy * sxy + sx * sx * syy))"
                " div ((n - 1) * cast(sy as decimal(38,0)) * sy * sy * sy)))"
                " div nullif((1000000 * (m * svv"
                " - cast(sv as decimal(38,0)) * sv))"
                " div (cast(m as decimal(38,0)) * (m - 1) * m), 0), -1)"
                " as bigint)"
            ).alias("inflation_bp"),
        )
    )


QUERIES["ratio_metric_variance"] = ratio_metric_variance

_rmv_delta = (
    "(1000000 * n::HUGEINT"
    " * (sy::HUGEINT * sy * sxx - 2 * sx::HUGEINT * sy * sxy"
    " + sx::HUGEINT * sx * syy))"
    " // ((n - 1) * sy::HUGEINT * sy * sy * sy)"
)
_rmv_naive = (
    "(1000000 * (m * svv - sv::HUGEINT * sv))"
    " // (m::HUGEINT * (m - 1) * m)"
)

ORACLES["ratio_metric_variance"] = f"""
WITH cust AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment FROM customer
),
per_order AS (
  SELECT o_custkey AS cust,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000
           AS v
  FROM orders
),
per_cust AS (
  SELECT c.segment, p.cust, sum(v) AS x, count(*) AS y
  FROM per_order p JOIN cust c USING (cust)
  GROUP BY c.segment, p.cust
),
seg AS MATERIALIZED (
  SELECT segment, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM per_cust GROUP BY segment
),
ord_mom AS (
  SELECT c.segment, count(*) AS m, sum(v) AS sv,
         sum(v::HUGEINT * v) AS svv
  FROM per_order p JOIN cust c USING (cust)
  GROUP BY c.segment
)
SELECT s.segment,
       CAST(n AS BIGINT) AS n_customers,
       CAST(m AS BIGINT) AS n_orders,
       CAST((1000 * sx) // sy AS BIGINT) AS ratio_milli_kc,
       CAST({_rmv_delta} AS BIGINT) AS delta_var_micro,
       CAST({_rmv_naive} AS BIGINT) AS naive_var_micro,
       CAST(coalesce((10000 * ({_rmv_delta}))
                     // nullif({_rmv_naive}, 0), -1) AS BIGINT)
         AS inflation_bp
FROM seg s JOIN ord_mom USING (segment)
ORDER BY s.segment
"""


# ---------------------------------------------------------------------------
# cluster_design_effect — ICC + design effect for cluster randomization
# ---------------------------------------------------------------------------


def cluster_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-RANDOMIZATION design effect (SURVEY §2 #326) — the
    number ab_power_analysis silently assumes is 1: when treatment
    must be assigned by NATION (geo experiments, supply-side
    changes), units within a cluster are correlated and the effective
    sample size shrinks by DEFF = 1 + (m0 - 1)*ICC (Kish 1965;
    Donner-Klar).  The one-way ANOVA ICC on late conversion uses
    Kish's size-weighted m0 = (N - sum n_c^2/N)/(k-1) and the exact
    integer SSB/SSW forms for a binary outcome (SSW = sum pos_c(n_c -
    pos_c)/n_c per-cluster floored); every published value is milli
    with one trailing division, and n_effective = N/DEFF closes the
    loop back to the power key.

    Scale shape: one fact agg to per-customer conversion, one to the
    25-cluster census, one census fold to a single row.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_nationkey").alias("nk")
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("conv")
    )
    clusters = materialize(
        per_cust.join(cust, "cust")
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n_c"), F.sum("conv").alias("pos_c"))
    )
    folded = clusters.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_c").alias("nn"),
        F.sum("pos_c").alias("pos"),
        F.sum(F.expr("cast(n_c as decimal(38,0)) * n_c")).alias("sn2"),
        # SSW * 1e6: per-cluster floor of 1e6 * pos_c(n_c-pos_c)/n_c
        F.sum(
            F.expr(
                "(1000000 * cast(pos_c as decimal(38,0))"
                " * (n_c - pos_c)) div n_c"
            )
        ).alias("ssw_e6"),
        # sum over clusters of 1e6 * n_c*(p_c - p)^2 assembled later;
        # keep sum of 1e6 * pos_c^2/n_c for the SSB closed form
        F.sum(
            F.expr(
                "(1000000 * cast(pos_c as decimal(38,0)) * pos_c)"
                " div n_c"
            )
        ).alias("sp2n_e6"),
    )
    staged = folded.select(
        "k",
        "nn",
        "pos",
        # SSB * 1e6 = 1e6*(sum pos_c^2/n_c - pos^2/N)
        F.expr(
            "sp2n_e6 - (1000000 * cast(pos as decimal(38,0)) * pos)"
            " div nn"
        ).alias("ssb_e6"),
        F.col("ssw_e6"),
        # Kish m0 * 1000
        F.expr(
            "(1000 * (cast(nn as decimal(38,0))"
            " - sn2 div nn)) div (k - 1)"
        ).alias("m0_milli"),
    ).select(
        "k",
        "nn",
        "pos",
        "m0_milli",
        # MSB = SSB/(k-1), MSW = SSW/(N-k); ICC = (MSB - MSW)
        # / (MSB + (m0 - 1) MSW) — cross-multiplied to avoid
        # dividing the mean squares separately
        F.expr(
            "coalesce((1000 * ((nn - k) * cast(ssb_e6 as decimal(38,0))"
            " - (k - 1) * ssw_e6))"
            " div nullif((nn - k) * cast(ssb_e6 as decimal(38,0))"
            " + (k - 1) * ((m0_milli - 1000) * ssw_e6) div 1000, 0), 0)"
        ).alias("icc_milli"),
    )
    return staged.select(
        F.col("k").cast("bigint").alias("n_clusters"),
        F.col("nn").cast("bigint").alias("n_units"),
        F.expr("cast((10000 * pos) div nn as bigint)").alias(
            "rate_bp"
        ),
        F.col("m0_milli").cast("bigint").alias("m0_milli"),
        F.col("icc_milli").cast("bigint").alias("icc_milli"),
        F.expr(
            "cast(1000 + ((m0_milli - 1000) * icc_milli) div 1000"
            " as bigint)"
        ).alias("deff_milli"),
        F.expr(
            "cast((1000 * nn) div (1000 + ((m0_milli - 1000)"
            " * icc_milli) div 1000) as bigint)"
        ).alias("n_effective"),
    )


QUERIES["cluster_design_effect"] = cluster_design_effect

ORACLES["cluster_design_effect"] = """
WITH cust AS (
  SELECT c_custkey AS cust, c_nationkey AS nk FROM customer
),
per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS conv
  FROM orders GROUP BY o_custkey
),
clusters AS MATERIALIZED (
  SELECT nk, count(*) AS n_c, sum(conv) AS pos_c
  FROM per_cust JOIN cust USING (cust)
  GROUP BY nk
),
folded AS (
  SELECT count(*) AS k, sum(n_c) AS nn, sum(pos_c) AS pos,
         sum(n_c::HUGEINT * n_c) AS sn2,
         sum((1000000 * pos_c::HUGEINT * (n_c - pos_c)) // n_c) AS ssw_e6,
         sum((1000000 * pos_c::HUGEINT * pos_c) // n_c) AS sp2n_e6
  FROM clusters
),
staged AS (
  SELECT k, nn, pos,
         sp2n_e6 - (1000000 * pos::HUGEINT * pos) // nn AS ssb_e6,
         ssw_e6,
         (1000 * (nn::HUGEINT - sn2 // nn)) // (k - 1) AS m0_milli
  FROM folded
),
staged2 AS (
  SELECT k, nn, pos, m0_milli,
         coalesce((1000 * ((nn - k) * ssb_e6::HUGEINT
                           - (k - 1) * ssw_e6))
                  // nullif((nn - k) * ssb_e6::HUGEINT
                            + (k - 1) * ((m0_milli - 1000) * ssw_e6)
                              // 1000, 0), 0) AS icc_milli
  FROM staged
)
SELECT CAST(k AS BIGINT) AS n_clusters,
       CAST(nn AS BIGINT) AS n_units,
       CAST((10000 * pos) // nn AS BIGINT) AS rate_bp,
       CAST(m0_milli AS BIGINT) AS m0_milli,
       CAST(icc_milli AS BIGINT) AS icc_milli,
       CAST(1000 + ((m0_milli - 1000) * icc_milli) // 1000 AS BIGINT)
         AS deff_milli,
       CAST((1000 * nn) // (1000 + ((m0_milli - 1000) * icc_milli)
                            // 1000) AS BIGINT) AS n_effective
FROM staged2
"""


# ---------------------------------------------------------------------------
# quantile_treatment_effect — distributional effect at every decile
# ---------------------------------------------------------------------------


def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE TREATMENT EFFECTS (SURVEY §2 #334) — the
    DISTRIBUTIONAL lens the causal family's mean-effect keys all lack
    (Doksum 1974; Firpo 2007): a zero average effect can hide a
    +20%-at-the-top / -20%-at-the-bottom redistribution, and the QTE
    curve at the deciles is exactly where that shows.  Same
    balance-cohort exposure as bh_fdr_control (acctbal >= 5000);
    outcome = customer order count; QTE(q) = exact percentile_disc
    element difference between exposed and control at q = 10%..90% —
    engine-stable actual elements, never interpolations.

    Scale shape: one fact agg to per-customer outcomes; one
    percentile agg per arm (9 exact order statistics each); the
    decile frame is a 9-row literal.  Windowless.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.expr("CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END").alias(
            "exposed"
        ),
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).alias("y")
    ).join(cust, "cust")
    qs = [i / 10 for i in range(1, 10)]
    arm = per_cust.groupBy("exposed").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(
                f"cast(percentile_disc({q}) WITHIN GROUP (ORDER BY y)"
                " as bigint)"
            ).alias(f"q{int(q * 10)}")
            for q in qs
        ],
    )
    t = arm.filter("exposed = 1").select(
        F.col("n").alias("n_exposed"),
        *[F.col(f"q{i}").alias(f"t{i}") for i in range(1, 10)],
    )
    c = arm.filter("exposed = 0").select(
        F.col("n").alias("n_control"),
        *[F.col(f"q{i}").alias(f"c{i}") for i in range(1, 10)],
    )
    deciles = spark.range(1, 10).select(
        F.col("id").cast("int").alias("decile")
    )
    t_case = " ".join(
        f"WHEN decile = {i} THEN t{i}" for i in range(1, 10)
    )
    c_case = " ".join(
        f"WHEN decile = {i} THEN c{i}" for i in range(1, 10)
    )
    return (
        deciles.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(c))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n_exposed").cast("bigint").alias("n_exposed"),
            F.col("n_control").cast("bigint").alias("n_control"),
            F.expr(f"cast(CASE {t_case} END as bigint)").alias(
                "exposed_orders"
            ),
            F.expr(f"cast(CASE {c_case} END as bigint)").alias(
                "control_orders"
            ),
            F.expr(
                f"cast((CASE {t_case} END) - (CASE {c_case} END)"
                " as bigint)"
            ).alias("qte"),
        )
    )


QUERIES["quantile_treatment_effect"] = quantile_treatment_effect


_qte_c = " ".join(f"WHEN d.decile = {i} THEN c.q{i}" for i in range(1, 10))
_qte_cols = ",\n         ".join(
    f"CAST(percentile_disc(0.{i}) WITHIN GROUP (ORDER BY y) AS BIGINT)"
    f" AS q{i}"
    for i in range(1, 10)
)


_qte_t = " ".join(f"WHEN d.decile = {i} THEN t.q{i}" for i in range(1, 10))

ORACLES["quantile_treatment_effect"] = f"""
WITH cust AS (
  SELECT c_custkey AS cust,
         CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END AS exposed
  FROM customer
),
per_cust AS (
  SELECT o_custkey AS cust, count(*) AS y FROM orders GROUP BY o_custkey
),
arm AS MATERIALIZED (
  SELECT exposed, count(*) AS n,
         {_qte_cols}
  FROM per_cust JOIN cust USING (cust)
  GROUP BY exposed
),
deciles AS (
  SELECT CAST(d AS INT) AS decile FROM unnest(generate_series(1, 9)) AS x(d)
)
SELECT CAST(d.decile AS BIGINT) AS decile,
       CAST(t.n AS BIGINT) AS n_exposed,
       CAST(c.n AS BIGINT) AS n_control,
       CAST(CASE {_qte_t} END AS BIGINT) AS exposed_orders,
       CAST(CASE {_qte_c} END AS BIGINT) AS control_orders,
       CAST((CASE {_qte_t} END) - (CASE {_qte_c} END) AS BIGINT) AS qte
FROM deciles d
CROSS JOIN (SELECT * FROM arm WHERE exposed = 1) t
CROSS JOIN (SELECT * FROM arm WHERE exposed = 0) c
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# positivity_overlap_audit — common-support check for causal analyses
# ---------------------------------------------------------------------------

_POS_LO_BP = 500
_POS_HI_BP = 9500


def positivity_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIVITY / COMMON-SUPPORT audit (SURVEY §2 #335) — the
    precondition EVERY causal key in the catalog silently assumes
    (Rosenbaum-Rubin's overlap condition): cells where exposure is
    (near-)deterministic cannot be adjusted by ANY method — IPS
    weights explode, DR inherits the explosion, matching finds no
    counterpart — and the honest move is to report and trim them.
    Cells are (segment x balance-decile); exposure is the
    bh_fdr/qte balance cohort; flagged when the exposure rate leaves
    [5%, 95%] or an arm is empty.  Published per cell with the
    trimmed-population share so the analyst sees what adjusting
    would silently drop.

    Scale shape: one fact agg to the 50-cell census; flags and the
    trimmed share are census folds broadcast back.  Windowless.
    """
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "least(greatest(cast((cast(cast(c_acctbal as decimal(12,2))"
            " * 100 as bigint) + 100000) div 110000 as int), 0), 9)"
        ).alias("decile"),
        F.expr("CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END").alias(
            "exposed"
        ),
    )
    per_cust = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("cust")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    cells = materialize(
        per_cust.join(cust, "cust")
        .groupBy("segment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("exposed").alias("n_exposed"),
        )
        .withColumn(
            "violates",
            F.expr(
                f"CASE WHEN (10000 * n_exposed) div n < {_POS_LO_BP}"
                f" OR (10000 * n_exposed) div n > {_POS_HI_BP}"
                " THEN 1 ELSE 0 END"
            ),
        )
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum(F.expr("n * violates")).alias("n_trimmed"),
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("cast((10000 * n_exposed) div n as bigint)").alias(
                "exposure_bp"
            ),
            F.col("violates").cast("bigint").alias("violates_positivity"),
            F.expr(
                "cast((10000 * n_trimmed) div nn as bigint)"
            ).alias("trimmed_share_bp"),
        )
    )


QUERIES["positivity_overlap_audit"] = positivity_overlap_audit

ORACLES["positivity_overlap_audit"] = f"""
WITH cust AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment,
         least(greatest(CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                              AS BIGINT) + 100000) // 110000 AS INT), 0), 9)
           AS decile,
         CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END AS exposed
  FROM customer
),
per_cust AS (
  SELECT o_custkey AS cust, count(*) AS n_orders
  FROM orders GROUP BY o_custkey
),
cells AS MATERIALIZED (
  SELECT segment, decile, count(*) AS n, sum(exposed) AS n_exposed,
         CASE WHEN (10000 * sum(exposed)) // count(*) < {_POS_LO_BP}
               OR (10000 * sum(exposed)) // count(*) > {_POS_HI_BP}
              THEN 1 ELSE 0 END AS violates
  FROM per_cust JOIN cust USING (cust)
  GROUP BY segment, decile
),
tot AS (
  SELECT sum(n) AS nn, sum(n * violates) AS n_trimmed FROM cells
)
SELECT segment,
       CAST(decile AS BIGINT) AS decile,
       CAST(n AS BIGINT) AS n,
       CAST((10000 * n_exposed) // n AS BIGINT) AS exposure_bp,
       CAST(violates AS BIGINT) AS violates_positivity,
       CAST((10000 * n_trimmed) // nn AS BIGINT) AS trimmed_share_bp
FROM cells CROSS JOIN tot
ORDER BY segment, decile
"""
