"""Round-8 operators (SURVEY §2 #243–).

Families / what each adds that the existing 272 keys do not:

- roc_auc_rank: exact ROC-AUC (Mann-Whitney U) per segment — the
  threshold-free classifier-quality readout. decile_lift reports
  capture at ten fixed cut points; AUC integrates over EVERY cut.
  Computed from the (segment, score) census, never a per-row global
  rank: ties handled by the standard half-credit rule, all integer.
- acf_lags: autocorrelation of the daily-revenue series at lags
  1/7/14 — the periodicity detector that motivates seasonal_profile's
  day-of-week split (seasonal_profile ASSUMES weekly structure; the
  ACF MEASURES it). Exact integer arithmetic end to end: the series
  is quantized to k$ so the n·Σxy−ΣxΣy cross-moments and their
  squared ratio stay inside DECIMAL(38,0)/HUGEINT on both engines;
  the published statistic is sign(cov)·10000·cov²/(varx·vary) — a
  signed r² in basis points with no float ever materialized.

Each key has an exact-match DuckDB oracle in ``ROUND8_ORACLES``;
determinism rules follow functions/agg.py (integer arithmetic at every
reported edge; `div`/`//` truncation on both engines; DECIMAL(38,0)
accumulation where int64 would overflow — DuckDB widens to HUGEINT
automatically, Spark must be told).
"""

from __future__ import annotations

from hashlib import md5 as _md5

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.catalog import load_table
from pyprima_spark.functions import text as X
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect as _bounded_collect


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


ROUND8_QUERIES: dict = {}
ROUND8_ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# roc_auc_rank — exact ROC-AUC via the grouped rank-sum identity
# ---------------------------------------------------------------------------


def roc_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC per market segment (SURVEY §2 #243) — the
    Mann-Whitney/rank-sum form of the classifier-quality curve, the
    threshold-free companion of decile_lift's ten-point gains chart
    (same score = first-half spend, same outcome = second-half
    activity; decile_lift answers "what does the top decile capture",
    AUC answers "does the score order responders above non-responders
    AT ALL cuts").  AUC·2PN = Σ_s pos_s·(2·neg_below_s + neg_s) — the
    tie-aware pair count — evaluated on the (segment, score) CENSUS,
    published in exact basis points.

    Scale shape: two map-combined aggregates build the census; the
    only window is the cumulative-negatives prefix sum over that
    census, PARTITIONED by segment and bounded by |distinct scores|
    per segment (integer cents; quantize coarser to tighten the bound
    at 100 TB) — no per-row global rank ever exists, which is exactly
    why this beats the textbook rank(x) formulation on a cluster.
    All-integer: u2 = 2·AUC·P·N fits BIGINT through 1e9 scored
    customers per segment.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    first = (
        orders.filter(F.expr("o_orderdate < timestamp'1998-07-01'"))
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.expr("cast(o_totalprice as decimal(18,2)) * 100"))
            .cast("bigint")
            .alias("score")
        )
    )
    second = (
        orders.filter(F.expr("o_orderdate >= timestamp'1998-07-01'"))
        .select(F.col("o_custkey").alias("cust"))
        .distinct()
        .withColumn("pos", F.lit(1))
    )
    scored = (
        first.join(cust, "cust")
        .join(second, "cust", "left")
        .select("segment", "score", F.coalesce("pos", F.lit(0)).alias("pos"))
    )
    census = scored.groupBy("segment", "score").agg(
        F.sum("pos").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).alias("n_neg"),
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = census.withColumn(
        "neg_lt", F.coalesce(F.sum("n_neg").over(w), F.lit(0))
    )
    return (
        contrib.groupBy("segment")
        .agg(
            F.sum("n_pos").cast("bigint").alias("n_pos"),
            F.sum("n_neg").cast("bigint").alias("n_neg"),
            F.sum(F.col("n_pos") * (2 * F.col("neg_lt") + F.col("n_neg")))
            .cast("bigint")
            .alias("u2"),
        )
        .withColumn(
            "auc_bp",
            # one-class segments (possible at tiny SF) have no defined
            # AUC: publish the -1 sentinel instead of dividing by zero
            F.expr(
                "CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1"
                " ELSE (10000 * u2) div (2 * n_pos * n_neg) END"
            ),
        )
        .orderBy("segment")
    )


ROUND8_QUERIES["roc_auc_rank"] = roc_auc_rank

ROUND8_ORACLES["roc_auc_rank"] = """
WITH first_half AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS score
  FROM orders
  WHERE o_orderdate < TIMESTAMP '1998-07-01'
  GROUP BY o_custkey
),
second_half AS (
  SELECT DISTINCT o_custkey AS cust, 1 AS pos
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-07-01'
),
scored AS (
  SELECT c.c_mktsegment AS segment, f.score,
         coalesce(s.pos, 0) AS pos
  FROM first_half f
  JOIN customer c ON c.c_custkey = f.cust
  LEFT JOIN second_half s ON s.cust = f.cust
),
census AS (
  SELECT segment, score,
         sum(pos) AS n_pos,
         sum(1 - pos) AS n_neg
  FROM scored GROUP BY segment, score
),
contrib AS (
  SELECT segment, n_pos, n_neg,
         coalesce(sum(n_neg) OVER (PARTITION BY segment ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_lt
  FROM census
)
SELECT segment,
       CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(sum(n_neg) AS BIGINT) AS n_neg,
       CAST(sum(n_pos * (2 * neg_lt + n_neg)) AS BIGINT) AS u2,
       CAST(CASE WHEN sum(n_pos) = 0 OR sum(n_neg) = 0 THEN -1
                 ELSE (10000 * sum(n_pos * (2 * neg_lt + n_neg)))
                      // (2 * sum(n_pos) * sum(n_neg)) END AS BIGINT) AS auc_bp
FROM contrib
GROUP BY segment ORDER BY segment
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
        .orderBy("lag")
    )


ROUND8_QUERIES["acf_lags"] = acf_lags

ROUND8_ORACLES["acf_lags"] = f"""
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
# ams_f2_sketch — tug-of-war second frequency moment, error eval riding along
# ---------------------------------------------------------------------------

_AMS_K = 32  # estimators; 4 groups of 8 for median-of-means
_AMS_G = 8


def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 sketch (SURVEY §2 #245; Alon-Matias-Szegedy
    1996) — the SECOND frequency moment joins the sketch family
    (kmv = distinct count F0, countmin = point frequencies, hll = F0
    again; F2 = Σf² is the self-join size / repeat-rate statistic none
    of them gives).  Per event_type, {k} ±1 estimators are drawn from
    the shared 60-bit md5 bridge — estimator e's sign is BIT e of the
    per-user hash, so ONE md5 per row yields all {k} sign streams
    (md5 bits are independent; the original r8 body hashed
    (user_id, estimator) separately, {k} md5s per row — 32× the hash
    work for the same estimator quality).  Each Z_e = Σ sign
    accumulates map-side, and the published estimate is the median of
    {g}-estimator means (lower median by row_number — engine-stable on
    even counts), with the EXACT F2 computed alongside and the error
    in basis points: the sketch ships with its own trust readout, the
    kmv_distinct_sketch pattern applied to frequency moments.

    Scale shape: the sketch leg is ONE map-combined pass with {k} sum
    aggregates over the single hash column (no ×{k} row explode; the
    simhash bit-sum layout, operators/dedup.py) — the shuffle carries
    |event_types| rows of {k} columns, never the fact table; a {k}-way
    stack of that tiny census feeds the median election windows.  At
    100 TB the exact leg (per-user counts) is the expensive half — the
    sketch leg alone is one cheap pass, which is the point.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = ev.select(
        "event_type",
        F.expr(X.hash64_spark("cast(user_id as string)")).alias("h"),
    )
    zwide = hashed.groupBy("event_type").agg(
        *[
            F.sum(
                F.expr(f"cast(2 * (shiftright(h, {e}) & 1) - 1 as bigint)")
            ).alias(f"z_{e}")
            for e in range(_AMS_K)
        ]
    )
    stacked = ", ".join(f"{e}, z_{e}" for e in range(_AMS_K))
    z = zwide.select(
        "event_type", F.expr(f"stack({_AMS_K}, {stacked}) as (e, z)")
    )
    grp = (
        z.groupBy("event_type", F.expr(f"e div {_AMS_G}").alias("grp"))
        .agg(F.expr(f"sum(z * z) div {_AMS_G}").alias("mean_z2"))
    )
    wmed = Window.partitionBy("event_type").orderBy("mean_z2", "grp")
    est = (
        grp.withColumn("rn", F.row_number().over(wmed))
        .filter(F.col("rn") == _AMS_K // _AMS_G // 2)
        .select("event_type", F.col("mean_z2").alias("f2_est"))
    )
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .groupBy("event_type")
        .agg(F.sum(F.expr("f * f")).alias("f2_exact"))
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "f2_exact",
            "f2_est",
            F.expr("(10000 * abs(f2_est - f2_exact)) div f2_exact").alias("err_bp"),
        )
        .orderBy("event_type")
    )


ROUND8_QUERIES["ams_f2_sketch"] = ams_f2_sketch

ROUND8_ORACLES["ams_f2_sketch"] = f"""
WITH hashed AS (
  SELECT event_type,
         {X.hash64_duck("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
z AS (
  SELECT event_type, t.e, sum(2 * ((h >> t.e) & 1) - 1) AS z
  FROM hashed, (SELECT unnest(range({_AMS_K})) AS e) t
  GROUP BY event_type, t.e
),
grp AS (
  SELECT event_type, e // {_AMS_G} AS grp,
         sum(z * z) // {_AMS_G} AS mean_z2
  FROM z GROUP BY event_type, e // {_AMS_G}
),
est AS (
  SELECT event_type, mean_z2 AS f2_est FROM (
    SELECT event_type, grp, mean_z2,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY mean_z2, grp) AS rn
    FROM grp
  ) WHERE rn = {_AMS_K // _AMS_G // 2}
),
exact AS (
  SELECT event_type, sum(f * f) AS f2_exact FROM (
    SELECT event_type, user_id, count(*) AS f
    FROM events GROUP BY event_type, user_id
  ) GROUP BY event_type
)
SELECT x.event_type,
       CAST(x.f2_exact AS BIGINT) AS f2_exact,
       CAST(e.f2_est AS BIGINT) AS f2_est,
       CAST((10000 * abs(e.f2_est - x.f2_exact)) // x.f2_exact AS BIGINT)
         AS err_bp
FROM exact x JOIN est e ON x.event_type = e.event_type
ORDER BY x.event_type
"""


# ---------------------------------------------------------------------------
# pps_systematic_sample — probability-proportional-to-size systematic draw
# ---------------------------------------------------------------------------

_PPS_TARGET = 100  # target sample size per source
_PPS_SHARD = 1000  # doc_ids per prefix-sum shard


def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS SYSTEMATIC sampling (SURVEY §2 #246; Madow 1949 — the
    survey-sampling workhorse): every ~(W/{n})-th unit of cumulative
    n_chars weight is selected, so inclusion probability is
    proportional to size WITHOUT any per-row random draw — the
    deterministic complement of deterministic_sample's Bernoulli hash
    (uniform over rows), stratified_sample's per-stratum counts, and
    neyman_allocation's variance-optimal budgets.  A doc crosses
    multiple step boundaries when its weight exceeds the step; it is
    selected once and the crossing multiplicity is published
    (n_boundaries vs n_selected — the classic PPS large-unit caveat,
    measured not hidden).  Selection membership is pinned exactly by a
    doc_id checksum.

    Scale shape: the prefix sum is SHARDED (the sequence_packing
    pattern): within-(source, doc_id div {s}) running sums are
    fact-sized but shard-bounded, shard offsets come from a census
    window over the |shards| aggregate, and the final census is one
    map-combined groupBy.  No unpartitioned fact-sized window
    anywhere; the census window is allowlisted-by-shape (partitioned
    by source over the shard census).
    """
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("w")
    )
    docs = docs.withColumn("shard", F.expr(f"doc_id div {_PPS_SHARD}"))
    w_in = Window.partitionBy("source", "shard").orderBy("doc_id")
    inner = docs.withColumn("cum_in", F.sum("w").over(w_in))
    shard_tot = docs.groupBy("source", "shard").agg(F.sum("w").alias("tot"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_tot.withColumn(
        "off", F.coalesce(F.sum("tot").over(w_off), F.lit(0))
    ).select("source", "shard", "off")
    totals = shard_tot.groupBy("source").agg(F.sum("tot").alias("w_total"))
    cum = (
        inner.join(offsets, ["source", "shard"])
        .join(F.broadcast(totals), "source")
        .withColumn("cum", F.col("off") + F.col("cum_in"))
        .withColumn("step", F.expr(f"greatest(w_total div {_PPS_TARGET}, 1)"))
        .withColumn(
            "n_cross",
            F.expr("(cum div step) - ((cum - w) div step)"),
        )
    )
    return (
        cum.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("case when n_cross > 0 then 1 else 0 end")).alias(
                "n_selected"
            ),
            F.sum("n_cross").alias("n_boundaries"),
            F.max("w_total").alias("w_total"),
            F.sum(F.expr("case when n_cross > 0 then w else 0 end")).alias(
                "w_selected"
            ),
            F.sum(F.expr("case when n_cross > 0 then doc_id else 0 end")).alias(
                "docid_checksum"
            ),
        )
        .orderBy("source")
    )


ROUND8_QUERIES["pps_systematic_sample"] = pps_systematic_sample

ROUND8_ORACLES["pps_systematic_sample"] = f"""
WITH cum AS (
  SELECT source, doc_id, n_chars AS w,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS c,
         sum(n_chars) OVER (PARTITION BY source) AS w_total
  FROM documents
),
marked AS (
  SELECT source, doc_id, w, w_total,
         (c // greatest(w_total // {_PPS_TARGET}, 1))
         - ((c - w) // greatest(w_total // {_PPS_TARGET}, 1)) AS n_cross
  FROM cum
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_cross > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(sum(n_cross) AS BIGINT) AS n_boundaries,
       CAST(max(w_total) AS BIGINT) AS w_total,
       CAST(sum(CASE WHEN n_cross > 0 THEN w ELSE 0 END) AS BIGINT)
         AS w_selected,
       CAST(sum(CASE WHEN n_cross > 0 THEN doc_id ELSE 0 END) AS BIGINT)
         AS docid_checksum
FROM marked
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# weighted_shortest_path — hop-bounded Bellman-Ford over the trade graph
# ---------------------------------------------------------------------------

_WSP_HOPS = 6
_WSP_SRC = 0


def weighted_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted single-source shortest paths (SURVEY §2
    #247) — the COST metric over the same sparsified high-volume trade
    graph trade_reachability walks (reachability says WHETHER ≤3 hops
    connect two nations; this says HOW CHEAPLY ≤{h} hops do, with edge
    cost = greatest(1e6 div n_lines, 1), i.e. heavier trade = cheaper
    edge).  Exactly {h} Bellman-Ford relaxation rounds: after round i
    every node holds the min cost over walks of ≤ i edges, so the
    fixed-round loop IS the ≤{h}-hop shortest-path semantics — a
    deterministic loop with no driver-side convergence scalar, the
    iterative complement of trade_reachability's declarative WITH
    RECURSIVE (reference parity: pyPRIMA's interconnection network
    distances, code/lib/spatial_functions.py).

    Scale shape: the fact table collapses once into the edge aggregate
    (shared _edge_aggregate pipeline), which is dim-bounded
    (|nations|²); the sparsified census is collected once and the
    {h} relaxation rounds run driver-side in exact integers — zero
    cluster barriers per round at any data scale (the previous
    all-DataFrame loop paid a broadcast join + min fold per round on
    a ≤25-row dist table).
    """
    from pyprima_spark.plans.queries import _edge_aggregate

    # Materialize the dim-bounded edge census once: tot and sparse
    # both reference it, so without the boundary the 4-way lineitem
    # fact join runs twice (guide §2.4 duplicate-subtree removal).
    edges = materialize(
        _edge_aggregate(spark, sf_dir).select("edge_a", "edge_b", "n_lines")
    )
    tot = edges.agg(F.sum("n_lines").alias("tot"), F.count(F.lit(1)).alias("ne"))
    sparse = (
        edges.crossJoin(F.broadcast(tot))
        .filter(F.col("n_lines") * F.col("ne") * 10 >= 11 * F.col("tot"))
        .select(
            "edge_a",
            "edge_b",
            F.expr("greatest(1000000 div n_lines, 1)").alias("cost"),
        )
    )
    s_rows = [
        (r["edge_a"], r["edge_b"], r["cost"])
        for r in _bounded_collect(
            sparse, 625, "weighted_shortest_path: nation-pair edge census"
        )
    ]  # dim-bounded sparsified census (≤ |nations|²)
    sym = s_rows + [(b, a, c) for a, b, c in s_rows]
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in _bounded_collect(
            _t(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            25,
            "weighted_shortest_path: nation name census",
        )
    }
    dist: dict = {_WSP_SRC: 0} if _WSP_SRC in names else {}
    for _ in range(_WSP_HOPS):
        relaxed = dict(dist)
        for a, b, c in sym:
            da = dist.get(a)
            if da is not None and (
                b not in relaxed or da + c < relaxed[b]
            ):
                relaxed[b] = da + c
        dist = relaxed
    out = [
        (int(node), names[node], int(d))
        for node, d in sorted(dist.items())
        if node in names
    ]
    return spark.createDataFrame(
        out, schema="nationkey int, n_name string, cost bigint"
    )


ROUND8_QUERIES["weighted_shortest_path"] = weighted_shortest_path

ROUND8_ORACLES["weighted_shortest_path"] = f"""
WITH RECURSIVE pairs AS (
  SELECT least(c_nationkey, s_nationkey) AS edge_a,
         greatest(c_nationkey, s_nationkey) AS edge_b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
),
edges AS MATERIALIZED (
  SELECT edge_a, edge_b, count(*) AS n_lines FROM pairs GROUP BY 1, 2
),
tot AS (SELECT sum(n_lines) AS tot, count(*) AS ne FROM edges),
sparse AS MATERIALIZED (
  SELECT edge_a, edge_b, greatest(1000000 // n_lines, 1) AS cost
  FROM edges CROSS JOIN tot
  WHERE n_lines * ne * 10 >= 11 * tot
),
sym AS MATERIALIZED (
  SELECT edge_a AS a, edge_b AS b, cost FROM sparse
  UNION ALL
  SELECT edge_b, edge_a, cost FROM sparse
),
walk(node, dist, lvl) AS (
  SELECT {_WSP_SRC}, CAST(0 AS BIGINT), 0
  UNION
  SELECT e.b, w.dist + e.cost, w.lvl + 1
  FROM walk w JOIN sym e ON e.a = w.node
  WHERE w.lvl < {_WSP_HOPS}
)
SELECT n.n_nationkey AS nationkey, n.n_name,
       CAST(min(w.dist) AS BIGINT) AS cost
FROM walk w JOIN nation n ON n.n_nationkey = w.node
GROUP BY 1, 2 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# conformal_interval_eval — split-conformal coverage, all integer
# ---------------------------------------------------------------------------


def conformal_interval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with empirical coverage
    (SURVEY §2 #248; Vovk et al. / Lei et al. — the
    distribution-free uncertainty wrapper every deployed regressor
    needs): orders split deterministically into train / calibration /
    test thirds by o_orderkey mod 3, a per-priority mean-price model
    fits on train (exact integer cents, `div` mean), the 90th
    percentile of absolute calibration residuals becomes the interval
    half-width q̂ (percentile_disc — an actual element, engine-stable),
    and the TEST third reports empirical coverage in basis points —
    the "is my 90% interval really 90%?" audit, per priority.

    Scale shape: three disjoint pushed-filter passes over the fact
    table, each collapsing map-side (model = 5-row dim; q̂ = 5-row
    percentile_disc aggregate; coverage = map-combined census); both
    small sides broadcast back.  No windows, no per-row state.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("pmod(o_orderkey, 3)").alias("split"),
        F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").alias(
            "cents"
        ),
    )
    model = (
        orders.filter(F.col("split") == 0)
        .groupBy("o_orderpriority")
        .agg(F.expr("sum(cents) div count(cents)").alias("pred"))
    )
    calib = (
        orders.filter(F.col("split") == 1)
        .join(F.broadcast(model), "o_orderpriority")
        .select("o_orderpriority", F.expr("abs(cents - pred)").alias("resid"))
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "cast(percentile_disc(0.9) WITHIN GROUP (ORDER BY resid)"
                " as bigint)"
            ).alias("q_cents")
        )
    )
    test = (
        orders.filter(F.col("split") == 2)
        .join(F.broadcast(model), "o_orderpriority")
        .join(F.broadcast(calib), "o_orderpriority")
    )
    return (
        test.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.max("q_cents").alias("q_cents"),
            F.sum(
                F.expr("case when abs(cents - pred) <= q_cents then 1 else 0 end")
            ).alias("n_covered"),
        )
        .withColumn("coverage_bp", F.expr("(10000 * n_covered) div n_test"))
        .orderBy("o_orderpriority")
    )


ROUND8_QUERIES["conformal_interval_eval"] = conformal_interval_eval

ROUND8_ORACLES["conformal_interval_eval"] = """
WITH base AS (
  SELECT o_orderpriority,
         o_orderkey % 3 AS split,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
model AS (
  SELECT o_orderpriority, sum(cents) // count(cents) AS pred
  FROM base WHERE split = 0 GROUP BY o_orderpriority
),
calib AS (
  SELECT b.o_orderpriority,
         quantile_disc(abs(b.cents - m.pred), 0.9) AS q_cents
  FROM base b JOIN model m USING (o_orderpriority)
  WHERE b.split = 1 GROUP BY b.o_orderpriority
),
test AS (
  SELECT b.o_orderpriority, b.cents, m.pred, c.q_cents
  FROM base b JOIN model m USING (o_orderpriority)
              JOIN calib c USING (o_orderpriority)
  WHERE b.split = 2
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(max(q_cents) AS BIGINT) AS q_cents,
       CAST(sum(CASE WHEN abs(cents - pred) <= q_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST((10000 * sum(CASE WHEN abs(cents - pred) <= q_cents
                              THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         AS coverage_bp
FROM test
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# embedding_covariance — one-pass covariance matrix of the embedding prefix
# ---------------------------------------------------------------------------

_COV_D = 8  # leading dims; 36 upper-triangle entries
_COV_SCALE = 1000000


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass covariance matrix over the leading {d} embedding
    dimensions (SURVEY §2 #249) — the PCA/whitening precursor the
    vector stack was missing (embedding_norm_audit checks per-VECTOR
    hygiene, centroid_outliers per-CLUSTER spread; the covariance
    matrix is the cross-DIMENSION structure that decides whether a
    random-projection or PQ codebook is even well-conditioned).
    Components are floor-quantized to 1e-6 units (identical doubles →
    identical floor on both engines), and each upper-triangle entry is
    published as cov_q2 = sign·(|n·Σxy − Σx·Σy| div n²) — exact
    integer cross-moments in DECIMAL(38,0)/HUGEINT, sign handled
    outside the division so the truncation direction can never differ
    between engines.

    Scale shape: ONE map-combined aggregate computes all {d} sums and
    {p} product sums in the same pass (no explode, no self-join, no
    shuffle beyond the single agg); the {p}-entry matrix then unstacks
    driver-free via a literal stack projection.  This is the textbook
    gramian trick: X^T X via partial sums, never pairwise rows.
    """
    emb = _t(spark, sf_dir, "embeddings").select(
        *[
            F.expr(
                f"cast(floor(cast(element_at(embedding, {i + 1}) as double)"
                f" * {_COV_SCALE}) as bigint)"
            ).alias(f"q{i}")
            for i in range(_COV_D)
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.sum(F.expr(f"cast(q{i} as decimal(38,0))")).alias(f"s{i}")
        for i in range(_COV_D)
    ]
    pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]
    aggs += [
        F.sum(F.expr(f"cast(q{i} as decimal(38,0)) * q{j}")).alias(f"p{i}_{j}")
        for i, j in pairs
    ]
    moments = emb.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, {j}, n * p{i}_{j} - s{i} * s{j}" for i, j in pairs
    )
    return (
        moments.selectExpr(
            "n", f"stack({len(pairs)}, {stack_args}) as (dim_i, dim_j, cov_n)"
        )
        .selectExpr(
            "dim_i",
            "dim_j",
            "cast(count(1) over () as bigint) as n_entries",  # constant 36
            "cast(case when cov_n < 0 then -1 else 1 end"
            " * (abs(cov_n) div (cast(n as decimal(38,0)) * n)) as bigint)"
            " as cov_q2",
        )
        .drop("n_entries")
        .orderBy("dim_i", "dim_j")
    )


ROUND8_QUERIES["embedding_covariance"] = embedding_covariance

_cov_pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]

ROUND8_ORACLES["embedding_covariance"] = f"""
WITH q AS (
  SELECT {", ".join(f"CAST(floor((embedding)[{i + 1}]::DOUBLE * {_COV_SCALE}) AS BIGINT) AS q{i}" for i in range(_COV_D))}
  FROM embeddings
),
moments AS (
  SELECT count(*) AS n,
         {", ".join(f"sum(q{i}) AS s{i}" for i in range(_COV_D))},
         {", ".join(f"sum(q{i} * q{j}) AS p{i}_{j}" for i, j in _cov_pairs)}
  FROM q
),
entries AS (
  {" UNION ALL ".join(f"SELECT {i} AS dim_i, {j} AS dim_j, n, n * p{i}_{j} - s{i} * s{j} AS cov_n FROM moments" for i, j in _cov_pairs)}
)
SELECT dim_i, dim_j,
       CAST((CASE WHEN cov_n < 0 THEN -1 ELSE 1 END)
            * (abs(cov_n) // (n * n)) AS BIGINT) AS cov_q2
FROM entries
ORDER BY dim_i, dim_j
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
        .orderBy("segment")
    )


ROUND8_QUERIES["hybrid_skew_join"] = hybrid_skew_join

ROUND8_ORACLES["hybrid_skew_join"] = """
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
# binary_hamming_recall — sign-bit quantization + Hamming retrieval eval
# ---------------------------------------------------------------------------

_BHR_K = 10
_BHR_BITS = 60  # sign bits packed into one non-negative BIGINT


def binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZATION retrieval eval (SURVEY §2 #251) — the
    1-bit-per-dimension compression every modern vector store ships
    (sign-bit codes + Hamming distance; Indyk-Motwani SRP-LSH is the
    theory, "binary quantization" the product name): each embedding's
    leading 60 dims collapse to one BIGINT of sign bits (60 not 64 so
    the packed code stays non-negative on both engines), candidates
    are ranked by ``bit_count(xor(codes))``, and recall@10 against
    the exact fixed-point dot-product top-10 is published per query
    in basis points — the memory-vs-fidelity readout that decides
    whether a 32x smaller index is shippable.  Completes the vector
    compression family: vector_quantize_sq (8-bit components), ann_pq
    (subspace codebooks), random_projection_sketch (fewer dims),
    mrl_truncation_eval (prefix dims) — this is the 1-bit extreme.

    Scale shape: codes are built map-side in one projection (no
    shuffle); the query side is a bounded broadcast (vec_id % 25 = 3);
    both rankings are full row_number windows partitioned by query_id
    over ONE scored pass (dot and hamming computed together), sharing
    one exchange, and a groupBy on that partitioning folds the top-k
    overlap and radius. There is no rank<=K filter before the
    aggregate, so no WindowGroupLimit pruning applies: every scored
    pair flows through both windows, and per-query state is that
    query's whole candidate list, not a top-k heap. The corpus side
    never shuffles (the query side is broadcast); the one exchange
    carries the scored pairs, keyed by query_id.  Hamming ties are
    pinned by vec_id on both engines. Growth law (STRESS
    r10): scored-pair mass = |queries| × |corpus|; the mod-25 query
    set grows WITH the corpus here, so N× replication measures ~N² —
    the deployment contract is a FIXED query set, under which the
    same plan is linear (hamming_recall stress leg,
    tools/stress_probe.py).
    """
    return _hamming_recall_over(_t(spark, sf_dir, "embeddings"))


def _hamming_recall_over(emb: DataFrame) -> DataFrame:
    """The 1-bit-code recall core over an arbitrary embeddings frame
    (vec_id, embedding) — extracted so the stress probe can drive the
    identical plan at N× replication (the _ppjoin_over template)."""
    base = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, e -> "
            "cast(floor(cast(e as double) * 1000) as bigint))"
        ).alias("qv"),
        F.expr(
            f"aggregate(sequence(0, {_BHR_BITS - 1}), 0L, (acc, i) -> acc + "
            "CASE WHEN cast(element_at(embedding, i + 1) as double) >= 0 "
            "THEN shiftleft(1L, i) ELSE 0L END)"
        ).alias("code"),
    )
    queries = base.filter(F.expr("vec_id % 25 = 3")).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qq"),
        F.col("code").alias("qcode"),
    )
    scored = (
        base.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qq, qv, (x, y) -> x * y), 0L,"
                " (s, v) -> s + v)"
            ).alias("dot"),
            F.expr("bit_count(qcode ^ code)").alias("ham"),
        )
    )
    # r11 (guide §2.4): both top-k elections partition by query_id, so
    # they share ONE exchange as two windows over the same pass; the
    # former shape materialized the pair table and re-read it four
    # times (top_exact x2 consumers, top_ham x2) through three joins.
    # n_hits = |top_exact ∩ top_ham| = count(rd<=K AND rh<=K) and
    # ham_radius = max(ham among rh<=K) fold into one groupBy on the
    # window's own partitioning — identical integers, and the
    # single-consumer checkpoint job disappears.
    wd = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    wh = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("vec_id"))
    both = scored.select(
        "query_id",
        "ham",
        F.row_number().over(wd).alias("rd"),
        F.row_number().over(wh).alias("rh"),
    )
    return (
        both.groupBy("query_id")
        .agg(
            F.count(
                F.when((F.col("rd") <= _BHR_K) & (F.col("rh") <= _BHR_K), 1)
            ).alias("n_hits"),
            F.max(
                F.when(F.col("rh") <= _BHR_K, F.col("ham"))
            ).alias("ham_radius"),
        )
        .select(
            "query_id",
            F.col("n_hits").alias("n_hits"),
            F.expr(f"(10000 * n_hits) div {_BHR_K}").alias("recall_bp"),
            F.col("ham_radius").cast("bigint").alias("ham_radius"),
        )
        .orderBy("query_id")
    )


ROUND8_QUERIES["binary_hamming_recall"] = binary_hamming_recall

ROUND8_ORACLES["binary_hamming_recall"] = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, e ->
           CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv,
         CAST(list_sum(list_transform(range({_BHR_BITS}), i ->
           CASE WHEN CAST(embedding[i + 1] AS DOUBLE) >= 0
                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS code
  FROM embeddings
),
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_sum(list_transform(range(len(q.qv)),
           i -> q.qv[i + 1] * c.qv[i + 1])) AS dot,
         bit_count(xor(q.code, c.code)) AS ham
  FROM (SELECT * FROM base WHERE vec_id % 25 = 3) q
  JOIN base c ON c.vec_id <> q.vec_id
),
top_exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {_BHR_K}
),
top_ham AS (
  SELECT query_id, vec_id, ham FROM (
    SELECT query_id, vec_id, ham,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ham, vec_id) AS r
    FROM scored
  ) WHERE r <= {_BHR_K}
),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM top_exact e JOIN top_ham h
    ON e.query_id = h.query_id AND e.vec_id = h.vec_id
  GROUP BY e.query_id
)
SELECT e.query_id,
       CAST(coalesce(hi.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((10000 * coalesce(hi.n_hits, 0)) // {_BHR_K} AS BIGINT)
         AS recall_bp,
       CAST(r.ham_radius AS BIGINT) AS ham_radius
FROM (SELECT query_id, count(*) AS k FROM top_exact GROUP BY query_id) e
LEFT JOIN hits hi ON e.query_id = hi.query_id
JOIN (SELECT query_id, max(ham) AS ham_radius FROM top_ham GROUP BY query_id) r
  ON r.query_id = e.query_id
ORDER BY e.query_id
"""


# ---------------------------------------------------------------------------
# priority_sample_estimate — Duffield-Lund-Thorup priority sampling
# ---------------------------------------------------------------------------

_PSE_K = 100
_PSE_U = 1 << 30  # 30-bit uniforms keep w * 2^30 div u inside BIGINT


def priority_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY SAMPLING with the subset-sum estimator audit (SURVEY
    §2 #252) — Duffield/Lund/Thorup (JACM 2007): draw ONE weighted
    sample of k documents (priority q_i = w_i/u_i, u_i uniform), and
    thereafter estimate the total weight of ANY subset — here each
    source's character mass — as Σ max(w_i, τ) over the subset's
    sampled members, τ = the (k+1)-th priority.  The sampling leg the
    family lacked: deterministic_sample is Bernoulli-uniform,
    pps_systematic is inclusion-∝-size with NO estimator,
    neyman_allocation plans strata budgets — priority sampling is the
    one-sample-serves-all-subsets design with a provably near-optimal
    variance.  All integer: u = (60-bit md5 & (2^30-1)) + 1, priority
    q = (w · 2^30) div u in BIGINT on both engines (30-bit uniforms
    chosen precisely so the scaled priority can never overflow
    int64), τ taken from the (k+1)-row head, per-source error
    published in basis points.

    Scale shape: the top-(k+1) election is a map-side partial top-k
    merged at the driver (TakeOrderedAndProject — no global sort, no
    single-partition window); the 101-row head is materialized once
    and its last element removed by an anti-filter on the broadcast
    (τ, doc_id) pair, not a window; truth and estimate are
    map-combined aggs.  At 100 TB: the same election costs one scan.
    Contract: the corpus must exceed k docs (always true past toy
    scale) — below that the head IS the corpus and removing its last
    row under-counts; the DLT tau=0 exact case is deliberately not
    special-cased to keep the plan one election.
    """
    u_expr = f"({X.hash64_spark('cast(doc_id as string)')} & {_PSE_U - 1}) + 1"
    pri = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").alias("w"),
        F.expr(f"(n_chars * {_PSE_U}) div ({u_expr})").alias("q"),
    )
    top = materialize(
        pri.orderBy(F.desc("q"), F.asc("doc_id")).limit(_PSE_K + 1)
    )
    tau_row = (
        top.orderBy(F.asc("q"), F.desc("doc_id"))
        .limit(1)
        .select(F.col("q").alias("tau"), F.col("doc_id").alias("tau_doc"))
    )
    sample = top.crossJoin(F.broadcast(tau_row)).filter(
        ~((F.col("q") == F.col("tau")) & (F.col("doc_id") == F.col("tau_doc")))
    )
    est = sample.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.expr("greatest(w, tau)")).alias("est_chars"),
    )
    truth = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("true_chars"))
    )
    return (
        truth.join(est, "source", "left")
        .select(
            "source",
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
            F.col("true_chars").cast("bigint").alias("true_chars"),
            F.coalesce("est_chars", F.lit(0)).cast("bigint").alias("est_chars"),
            F.expr(
                "cast((10000 * abs(coalesce(est_chars, 0) - true_chars))"
                " div true_chars as bigint)"
            ).alias("err_bp"),
        )
        .orderBy("source")
    )


ROUND8_QUERIES["priority_sample_estimate"] = priority_sample_estimate

ROUND8_ORACLES["priority_sample_estimate"] = f"""
WITH pri AS (
  SELECT doc_id, source, n_chars AS w,
         (n_chars * {_PSE_U})
           // (({X.hash64_duck('CAST(doc_id AS VARCHAR)')} & {_PSE_U - 1}) + 1)
           AS q
  FROM documents
),
top AS (
  SELECT * FROM pri ORDER BY q DESC, doc_id LIMIT {_PSE_K + 1}
),
tau_row AS (
  SELECT q AS tau, doc_id AS tau_doc FROM top
  ORDER BY q, doc_id DESC LIMIT 1
),
sample AS (
  SELECT t.* , x.tau FROM top t CROSS JOIN tau_row x
  WHERE NOT (t.q = x.tau AND t.doc_id = x.tau_doc)
),
est AS (
  SELECT source, count(*) AS n_sampled,
         sum(greatest(w, tau)) AS est_chars
  FROM sample GROUP BY source
)
SELECT d.source,
       CAST(coalesce(e.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(sum(d.n_chars) AS BIGINT) AS true_chars,
       CAST(coalesce(e.est_chars, 0) AS BIGINT) AS est_chars,
       CAST((10000 * abs(coalesce(e.est_chars, 0) - sum(d.n_chars)))
            // sum(d.n_chars) AS BIGINT) AS err_bp
FROM documents d
LEFT JOIN est e ON e.source = d.source
GROUP BY d.source, e.n_sampled, e.est_chars
ORDER BY d.source
"""


# ---------------------------------------------------------------------------
# dup_span_census — consecutive duplicated n-gram runs (substring dedup)
# ---------------------------------------------------------------------------

_DSC_K = 8  # word n-gram width
_DSC_DF_CUT = 8  # grams in more docs than this are boilerplate, dropped


def dup_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATED-SPAN census (SURVEY §2 #253) — the positional form
    of substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", which used suffix arrays): two
    docs sharing a RUN of word 8-grams at consecutive positions share
    a verbatim span of run+7 words.  The set-based keys can't see
    this: ngram_containment counts DISTINCT shared grams (no
    positions), chunk_boundary_dups stitches chunk hashes,
    decontaminate_ngrams counts cross-split leakage per doc.  Here
    matched gram positions are grouped by their DIAGONAL
    (pos_a − pos_b) and runs found with the classic island trick
    (pos − row_number), yielding per-source-pair span counts, the
    longest verbatim span in words, and total duplicated gram mass.

    Scale shape: grams ride as 60-bit hashes with positions; a
    document-frequency cutoff (df > 8 docs dropped — boilerplate
    grams, the documented cap that keeps the self-join linear in true
    duplication, the ngram_jaccard discipline) is applied BEFORE the
    hash-partitioned self-equi-join; the only windows are partitioned
    by (doc_a, doc_b, diagonal) — per-pair-per-offset state, never
    global.  The census output is bounded by source-pair cardinality.
    """
    docs = _t(spark, sf_dir, "documents")
    gram_struct = (
        f"transform(sequence(0, size(toks) - {_DSC_K}), i -> "
        "struct(i as pos, "
        + " || ' ' || ".join(f"toks[i + {j}]" for j in range(_DSC_K))
        + " as g))"
    )
    grams = materialize(
        docs.select(
            "doc_id",
            "source",
            F.expr(X.tokens_spark("text")).alias("toks"),
        )
        .filter(F.size("toks") >= _DSC_K)
        .select("doc_id", "source", F.explode(F.expr(gram_struct)).alias("pg"))
        .select(
            "doc_id",
            "source",
            F.col("pg.pos").alias("pos"),
            F.expr(X.hash64_spark("pg.g")).alias("gh"),
        )
    )
    rare = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= _DSC_DF_CUT)
        .select("gh")
    )
    # The df-cut gram table feeds BOTH self-join sides: materialize it
    # once under hash(gh) — the join key — so the positional self-join
    # runs with zero further exchanges and the semi-join evaluates once
    # instead of per side (guide §2.4). Keying by gh is skew-safe HERE
    # because the df cutoff (<= 8 docs per gram) has already run; the
    # raw gram table above stays scan-partitioned for exactly that
    # reason.
    g = materialize(grams.join(rare, "gh", "left_semi").repartition("gh"))
    a = g.select(
        F.col("gh"),
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("source_a"),
        F.col("pos").alias("pos_a"),
    )
    b = g.select(
        F.col("gh"),
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("source_b"),
        F.col("pos").alias("pos_b"),
    )
    matches = a.join(b, "gh").filter(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = (
        matches.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy(
            "source_a",
            "source_b",
            "doc_a",
            "doc_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
            "grp",
        )
        .agg(F.count(F.lit(1)).alias("run_grams"))
    )
    return (
        runs.groupBy("source_a", "source_b")
        .agg(
            F.countDistinct("doc_a", "doc_b").alias("n_pairs"),
            F.count(F.lit(1)).alias("n_spans"),
            (F.max("run_grams") + F.lit(_DSC_K - 1)).alias("max_span_words"),
            F.sum("run_grams").alias("dup_grams"),
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.col("max_span_words").cast("bigint").alias("max_span_words"),
            F.col("dup_grams").cast("bigint").alias("dup_grams"),
        )
        .orderBy("source_a", "source_b")
    )


ROUND8_QUERIES["dup_span_census"] = dup_span_census

_dsc_gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(_DSC_K))

ROUND8_ORACLES["dup_span_census"] = f"""
WITH tok AS (
  SELECT doc_id, source, {X.tokens_duck('text')} AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(toks) - {_DSC_K - 1}),
                               i -> i - 1)) AS pos,
         unnest(list_transform(generate_series(1, len(toks) - {_DSC_K - 1}),
                               i -> {X.hash64_duck(_dsc_gram)})) AS gh
  FROM tok WHERE len(toks) >= {_DSC_K}
),
rare AS (
  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df FROM grams GROUP BY gh)
  WHERE df <= {_DSC_DF_CUT}
),
g AS (SELECT * FROM grams WHERE gh IN (SELECT gh FROM rare)),
matches AS (
  SELECT a.source AS source_a, a.doc_id AS doc_a, a.pos AS pos_a,
         b.source AS source_b, b.doc_id AS doc_b, b.pos AS pos_b
  FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
),
runs AS (
  SELECT source_a, source_b, doc_a, doc_b, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp
  FROM matches
),
spans AS (
  SELECT source_a, source_b, doc_a, doc_b, diag, grp,
         count(*) AS run_grams
  FROM runs GROUP BY ALL
)
SELECT source_a, source_b,
       CAST(count(DISTINCT (doc_a, doc_b)) AS BIGINT) AS n_pairs,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(run_grams) + {_DSC_K - 1} AS BIGINT) AS max_span_words,
       CAST(sum(run_grams) AS BIGINT) AS dup_grams
FROM spans
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# calibration_ece — reliability bins / expected-calibration-error audit
# ---------------------------------------------------------------------------


def calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION reliability bins (SURVEY §2 #254) — the third leg
    of the classic model-eval triptych the catalog already has two
    of: roc_auc_rank asks "does the score RANK positives first",
    decile_lift asks "what does the top decile CAPTURE", this asks
    "when the model says 70%, does it happen 70% of the time"
    (Guo et al. 2017's ECE readout, the production gate for any
    probability that feeds a downstream threshold).  The model is the
    honest split-sample construct: finished-order rates per hashed
    customer-cohort bucket (custkey % 200 — the standard hashed
    high-cardinality feature encoding) learned on a hash-half of
    orders, evaluated on the other half; predictions are exact basis
    points, binned into 10 reliability buckets, and each bucket
    publishes its exact |avg predicted − observed| gap in bp.

    Scale shape: the train pass is one map-combined (clerk) agg; the
    prediction join is a hash-partitioned equi-join on clerk (the
    clerk dim grows with the fact table — NOT broadcast by design);
    the reliability census is a second map-combined agg over ≤11
    bins.  No windows anywhere; exact integers at every edge
    (pred_bp = 10000·pos div n, gaps via |Σpred_bp − 10000·pos|).
    """
    split = (
        F.expr(X.hash64_spark("cast(o_orderkey as string) || ':cal'")) % 2
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.expr("o_custkey % 200").alias("grp"),
        (split == 0).alias("is_train"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    model = (
        orders.filter("is_train")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_tr"), F.sum("y").alias("pos_tr"))
        .select(
            "grp",
            F.expr("(10000 * pos_tr) div n_tr").alias("pred_bp"),
        )
    )
    test = orders.filter(~F.col("is_train")).join(model, "grp")
    return (
        test.groupBy(F.expr("pred_bp div 1000").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pred_bp").alias("sum_pred_bp"),
            F.sum("y").alias("n_pos"),
        )
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("sum_pred_bp div n").cast("bigint").alias("avg_pred_bp"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.expr("(10000 * n_pos) div n").cast("bigint").alias("obs_bp"),
            F.expr("abs(sum_pred_bp - 10000 * n_pos) div n")
            .cast("bigint")
            .alias("gap_bp"),
        )
        .orderBy("bin")
    )


ROUND8_QUERIES["calibration_ece"] = calibration_ece

ROUND8_ORACLES["calibration_ece"] = f"""
WITH base AS (
  SELECT o_custkey % 200 AS grp,
         (cast('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':cal'), 1, 15) as BIGINT)) % 2 = 0
           AS is_train,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
model AS (
  SELECT grp, (10000 * sum(y)) // count(*) AS pred_bp
  FROM base WHERE is_train GROUP BY grp
),
test AS (
  SELECT b.y, m.pred_bp FROM base b JOIN model m ON b.grp = m.grp
  WHERE NOT b.is_train
)
SELECT CAST(pred_bp // 1000 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(pred_bp) // count(*) AS BIGINT) AS avg_pred_bp,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST((10000 * sum(y)) // count(*) AS BIGINT) AS obs_bp,
       CAST(abs(sum(pred_bp) - 10000 * sum(y)) // count(*) AS BIGINT)
         AS gap_bp
FROM test
GROUP BY bin ORDER BY bin
"""


# ---------------------------------------------------------------------------
# silhouette_eval — exact-integer simplified silhouette per label
# ---------------------------------------------------------------------------


def silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLIFIED SILHOUETTE cluster-quality eval (SURVEY §2 #255) —
    the unsupervised readout the cluster family lacked: ann_recall /
    lsh_precision grade INDEXES, centroid_outliers grades points
    against their OWN cluster, hard_negative_mining finds cross-label
    near pairs — the silhouette (Rousseeuw 1987; the centroid
    "simplified" form of Vendramin et al. 2010) is the single number
    that says whether the labeling itself separates: per point,
    a² = squared distance to own centroid, b² = min squared distance
    to any foreign centroid, s = (b²−a²)/max(a²,b²) published in
    exact basis points with the sign OUTSIDE the integer division
    (the embedding_covariance discipline — Spark div truncates toward
    zero, DuckDB // floors, so a signed division can never cross the
    engines identically; |x| div n with a separate sign always does).

    Scale shape: components quantized to ints map-side; centroids are
    one (label, dim) agg (bounded: labels × 64 rows) floor-quantized
    to milli-units sign-safely and BROADCAST back onto the exploded
    point-dim table; per-(point, label) distances aggregate with
    DECIMAL(38,0) accumulators (squared milli-components overflow
    int64 by design, not by accident); b² is a value-min (no window,
    no argmin tie surface).  At 100 TB: linear in N·dims·labels with
    the only shuffles being the two keyed aggs.
    """
    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding, e -> "
                "cast(floor(cast(e as double) * 1000) as bigint))"
            )
        ).alias("dim", "xq"),
    )
    cent = (
        pts.groupBy(F.col("label").alias("clabel"), "dim")
        .agg(
            F.sum(F.expr("cast(xq as decimal(38,0))")).alias("sq"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "clabel",
            "dim",
            F.expr(
                "cast(case when sq < 0 then -1 else 1 end"
                " * (abs(sq * 1000) div n) as bigint)"
            ).alias("cq"),
        )
    )
    d2 = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                F.expr(
                    "cast(xq * 1000 - cq as decimal(38,0))"
                    " * cast(xq * 1000 - cq as decimal(38,0))"
                )
            ).alias("d2")
        )
    )
    per_point = d2.groupBy("vec_id", "label").agg(
        F.sum(F.expr("CASE WHEN clabel = label THEN d2 END")).alias("a2"),
        F.min(F.expr("CASE WHEN clabel <> label THEN d2 END")).alias("b2"),
    )
    scored = per_point.select(
        "label",
        F.expr(
            "cast(case when b2 < a2 then -1 else 1 end"
            " * ((abs(b2 - a2) * 10000) div greatest(greatest(a2, b2), 1))"
            " as bigint)"
        ).alias("s2_bp"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("s2_bp") < 0).cast("int")).alias("n_misplaced"),
            F.sum("s2_bp").alias("sum_s2"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_misplaced").cast("bigint").alias("n_misplaced"),
            F.expr(
                "cast(case when sum_s2 < 0 then -1 else 1 end"
                " * (abs(sum_s2) div n) as bigint)"
            ).alias("mean_s2_bp"),
        )
        .orderBy("label")
    )


ROUND8_QUERIES["silhouette_eval"] = silhouette_eval

ROUND8_ORACLES["silhouette_eval"] = """
WITH pts AS (
  SELECT vec_id, label, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS xq
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
),
cent AS (
  SELECT label AS clabel, dim,
         CAST((CASE WHEN sum(xq) < 0 THEN -1 ELSE 1 END)
              * (abs(sum(xq) * 1000) // count(*)) AS BIGINT) AS cq
  FROM pts GROUP BY label, dim
),
d2 AS (
  SELECT p.vec_id, p.label, c.clabel,
         sum((p.xq * 1000 - c.cq)::HUGEINT * (p.xq * 1000 - c.cq)) AS d2
  FROM pts p JOIN cent c ON p.dim = c.dim
  GROUP BY p.vec_id, p.label, c.clabel
),
per_point AS (
  SELECT vec_id, label,
         sum(CASE WHEN clabel = label THEN d2 END) AS a2,
         min(CASE WHEN clabel <> label THEN d2 END) AS b2
  FROM d2 GROUP BY vec_id, label
),
scored AS (
  SELECT label,
         CAST((CASE WHEN b2 < a2 THEN -1 ELSE 1 END)
              * ((abs(b2 - a2) * 10000)
                 // greatest(greatest(a2, b2), 1)) AS BIGINT) AS s2_bp
  FROM per_point
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN s2_bp < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_misplaced,
       CAST((CASE WHEN sum(s2_bp) < 0 THEN -1 ELSE 1 END)
            * (abs(sum(s2_bp)) // count(*)) AS BIGINT) AS mean_s2_bp
FROM scored
GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# padding_waste_buckets — length-bucketed batching padding-waste planner
# ---------------------------------------------------------------------------


def padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PADDING-WASTE planner for length-bucketed batching (SURVEY §2
    #256) — the OTHER half of the batch-shaping problem
    sequence_packing solves: packing CONCATENATES short docs to fill
    a context window; bucketed batching GROUPS similar-length docs so
    per-batch padding to the bucket max wastes fewer tokens (the
    bucketing every production training/inference dataloader ships).
    Three plans are costed against each other on the same corpus:
    one global bucket (pad everything to the corpus max), quartile
    buckets, and decile buckets — each publishing padded token mass,
    wasted tokens (pad-to-bucket-max upper bound), and waste in bp,
    so the readout IS the bucketing decision.

    Scale shape: per-doc lengths are one map-side projection; ALL
    twelve cut points (9 deciles + 3 quartiles) come from ONE exact
    percentile_disc aggregation (element-valued, engine-stable — the
    decile_lift / curriculum discipline) broadcast back; bucket
    assignment is map-side CASE; each strategy is a bounded-key agg
    over ≤10 buckets.  No windows, no sort, exact integers.
    """
    docs = _t(spark, sf_dir, "documents")
    # materialized: the cut aggregate reads it once and each of the
    # three strategy branches reads the assignment projection over it —
    # without the boundary the corpus tokenize pass ran once per
    # consumer (4-6 evaluations; guide §2.4, duplicate subtree).
    lens = materialize(
        docs.select(
            F.expr(f"size({X.tokens_spark('text')})").alias("len")
        ).filter("len > 0")
    )
    aggs = [
        F.expr(
            f"percentile_disc(0.{d}) WITHIN GROUP (ORDER BY len)"
        ).alias(f"c{d}")
        for d in range(1, 10)
    ] + [
        F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY len)"
        ).alias(f"q{i}")
        for i, q in ((1, "0.25"), (2, "0.5"), (3, "0.75"))
    ]
    cuts = lens.agg(*aggs)
    dec_case = "CASE " + " ".join(
        f"WHEN len <= c{d} THEN {d}" for d in range(1, 10)
    ) + " ELSE 10 END"
    qua_case = "CASE " + " ".join(
        f"WHEN len <= q{i} THEN {i}" for i in range(1, 4)
    ) + " ELSE 4 END"
    assigned = lens.crossJoin(F.broadcast(cuts)).select(
        "len",
        F.lit(1).alias("b_global"),
        F.expr(qua_case).alias("b_quart"),
        F.expr(dec_case).alias("b_dec"),
    )

    def strategy(bucket_col: str, name: str) -> DataFrame:
        per = assigned.groupBy(bucket_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.max("len").alias("mx"),
            F.sum("len").alias("tot"),
        )
        return per.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.expr("n * mx")).cast("bigint").alias("padded_tokens"),
            F.sum(F.expr("n * mx - tot")).cast("bigint").alias("waste_tokens"),
            F.expr(
                "cast((10000 * sum(n * mx - tot)) div sum(n * mx) as bigint)"
            ).alias("waste_bp"),
        )

    return (
        strategy("b_global", "global1")
        .unionByName(strategy("b_quart", "quartile4"))
        .unionByName(strategy("b_dec", "decile10"))
        .orderBy("strategy")
    )


ROUND8_QUERIES["padding_waste_buckets"] = padding_waste_buckets

_PWB_DEC_CASE = "CASE " + " ".join(
    f"WHEN len <= c{d} THEN {d}" for d in range(1, 10)
) + " ELSE 10 END"
_PWB_QUA_CASE = "CASE " + " ".join(
    f"WHEN len <= q{i} THEN {i}" for i in range(1, 4)
) + " ELSE 4 END"

ROUND8_ORACLES["padding_waste_buckets"] = f"""
WITH lens AS (
  SELECT len({X.tokens_duck('text')}) AS len FROM documents
  WHERE len({X.tokens_duck('text')}) > 0
),
cuts AS (
  SELECT {", ".join(f"quantile_disc(len, 0.{d}) AS c{d}" for d in range(1, 10))},
         quantile_disc(len, 0.25) AS q1,
         quantile_disc(len, 0.5) AS q2,
         quantile_disc(len, 0.75) AS q3
  FROM lens
),
assigned AS (
  SELECT len, 1 AS b_global,
         {_PWB_QUA_CASE} AS b_quart,
         {_PWB_DEC_CASE} AS b_dec
  FROM lens CROSS JOIN cuts
),
per_g AS (SELECT b_global AS b, count(*) AS n, max(len) AS mx, sum(len) AS tot
          FROM assigned GROUP BY b_global),
per_q AS (SELECT b_quart AS b, count(*) AS n, max(len) AS mx, sum(len) AS tot
          FROM assigned GROUP BY b_quart),
per_d AS (SELECT b_dec AS b, count(*) AS n, max(len) AS mx, sum(len) AS tot
          FROM assigned GROUP BY b_dec)
SELECT 'global1' AS strategy, CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
       CAST(sum(n * mx - tot) AS BIGINT) AS waste_tokens,
       CAST((10000 * sum(n * mx - tot)) // sum(n * mx) AS BIGINT) AS waste_bp
FROM per_g
UNION ALL
SELECT 'quartile4', CAST(count(*) AS BIGINT), CAST(sum(n * mx) AS BIGINT),
       CAST(sum(n * mx - tot) AS BIGINT),
       CAST((10000 * sum(n * mx - tot)) // sum(n * mx) AS BIGINT)
FROM per_q
UNION ALL
SELECT 'decile10', CAST(count(*) AS BIGINT), CAST(sum(n * mx) AS BIGINT),
       CAST(sum(n * mx - tot) AS BIGINT),
       CAST((10000 * sum(n * mx - tot)) // sum(n * mx) AS BIGINT)
FROM per_d
ORDER BY strategy
"""


# ---------------------------------------------------------------------------
# nearest_centroid_confusion — split-sample centroid classifier eval
# ---------------------------------------------------------------------------


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-CENTROID holdout confusion matrix (SURVEY §2 #257) —
    the supervised split-sample eval next to silhouette_eval's
    unsupervised readout (deliberate cross-reference: both ride the
    same exact-integer centroid-distance primitive, but silhouette
    asks "do the labels separate IN PLACE" on all points while this
    trains Rocchio centroids on a hash-half and asks "do they
    GENERALIZE" — the confusion census on the other half, the
    cheapest honest classifier baseline any embedding pipeline should
    publish before training anything bigger).

    Scale shape: train centroids are one (label, dim) agg over the
    train half — dim-bounded (labels × 8), collected once; the test
    half is then classified in ONE map-side pass whose distance and
    argmin expressions carry the centroid values as LITERALS (a
    strictly-less CASE fold over labels ascending — same min-label
    tie-break as the old value-min + join-back, NO struct ordering,
    NO window, and no per-dim explode/join/shuffle on the test side).
    Output bounded by label², each row carrying its within-true-label
    share in bp.
    """
    emb = _t(spark, sf_dir, "embeddings")
    split = F.expr(X.hash64_spark("cast(vec_id as string) || ':nc'")) % 2
    pts = emb.select(
        "vec_id",
        "label",
        (split == 0).alias("is_train"),
        F.posexplode(
            F.expr(
                "transform(embedding, e -> "
                "cast(floor(cast(e as double) * 1000) as bigint))"
            )
        ).alias("dim", "xq"),
    )
    cent_rows = _bounded_collect(
        pts.filter("is_train")
        .groupBy(F.col("label").alias("clabel"), "dim")
        .agg(
            F.sum(F.expr("cast(xq as decimal(38,0))")).alias("sq"),
            F.count(F.lit(1)).alias("n"),
        ),
        800,
        "nearest_centroid_confusion: label × dim centroid census",
    )  # labels × dims — dim-bounded census (≤100 labels × 8 dims)
    cent: dict = {}
    for r in cent_rows:
        sq, n = int(r["sq"]), int(r["n"])
        cq = (-1 if sq < 0 else 1) * _tdiv(abs(sq * 1000), n)
        cent.setdefault(r["clabel"], {})[r["dim"]] = cq
    labels = sorted(cent)
    dims = sorted({d for by_dim in cent.values() for d in by_dim})
    if not labels or not dims:
        # empty train half — the oracle's centroid join classifies
        # nothing, so publish zero rows rather than building
        # sequence(0, -1) literal expressions (ADVICE r9)
        return spark.createDataFrame(
            [],
            schema=(
                "true_label bigint, assigned_label bigint,"
                " n bigint, share_bp bigint"
            ),
        )

    # argmin over the label-ascending d2 array: array_min picks the
    # value, array_position the FIRST index holding it — the same
    # min-label tie-break as the old value-min + min(clabel). The
    # centroids ride as ONE literal array-of-arrays through
    # higher-order functions, so the expression stays a few nodes
    # regardless of labels × dims (an unrolled per-label polynomial
    # measured 10+ s of optimizer/codegen time at 10×8).
    cent_lit = "array(" + ", ".join(
        "array(" + ", ".join(
            f"cast({cent[lab].get(d, 0)} as bigint)" for d in dims
        ) + ")"
        for lab in labels
    ) + ")"
    present_lit = "array(" + ", ".join(
        "array(" + ", ".join(
            ("1" if d in cent[lab] else "0") for d in dims
        ) + ")"
        for lab in labels
    ) + ")"
    lab_arr = "array(" + ", ".join(str(lab) for lab in labels) + ")"
    assigned = (
        emb.filter(split != 0)
        .selectExpr(
            "label",
            "transform(embedding, e -> cast(floor(cast(e as double)"
            " * 1000) as bigint) * 1000) as xq",
        )
        .selectExpr(
            "label",
            # per-label d2 = sum over TRAIN-PRESENT dims of (xq-cq)^2
            f"transform(sequence(0, {len(labels) - 1}), li ->"
            f" aggregate(sequence(0, {len(dims) - 1}),"
            " cast(0 as bigint), (acc, di) -> acc +"
            f" element_at(element_at({present_lit}, li + 1), di + 1)"
            f" * (xq[di] - element_at(element_at({cent_lit}, li + 1),"
            " di + 1))"
            f" * (xq[di] - element_at(element_at({cent_lit}, li + 1),"
            " di + 1)))) as d2s",
        )
        .selectExpr(
            "label",
            f"cast(element_at({lab_arr}, cast(array_position(d2s,"
            " array_min(d2s)) as int)) as bigint) as assigned",
        )
    )
    per_true = assigned.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    return (
        assigned.groupBy("label", "assigned")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(per_true, "label")
        .select(
            F.col("label").cast("bigint").alias("true_label"),
            F.col("assigned").cast("bigint").alias("assigned_label"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("cast((10000 * n) div n_true as bigint)").alias("share_bp"),
        )
        .orderBy("true_label", "assigned_label")
    )


ROUND8_QUERIES["nearest_centroid_confusion"] = nearest_centroid_confusion

ROUND8_ORACLES["nearest_centroid_confusion"] = f"""
WITH pts AS (
  SELECT vec_id, label,
         ({X.hash64_duck("CAST(vec_id AS VARCHAR) || ':nc'")}) % 2 = 0
           AS is_train,
         i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS xq
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
),
cent AS (
  SELECT label AS clabel, dim,
         CAST((CASE WHEN sum(xq) < 0 THEN -1 ELSE 1 END)
              * (abs(sum(xq) * 1000) // count(*)) AS BIGINT) AS cq
  FROM pts WHERE is_train GROUP BY label, dim
),
d2 AS (
  SELECT p.vec_id, p.label, c.clabel,
         sum((p.xq * 1000 - c.cq)::HUGEINT * (p.xq * 1000 - c.cq)) AS d2
  FROM pts p JOIN cent c ON p.dim = c.dim
  WHERE NOT p.is_train
  GROUP BY p.vec_id, p.label, c.clabel
),
best AS (
  SELECT vec_id, label, min(d2) AS min_d2 FROM d2 GROUP BY vec_id, label
),
assigned AS (
  SELECT d.vec_id, d.label, min(d.clabel) AS assigned
  FROM d2 d JOIN best b
    ON d.vec_id = b.vec_id AND d.label = b.label AND d.d2 = b.min_d2
  GROUP BY d.vec_id, d.label
),
per_true AS (
  SELECT label, count(*) AS n_true FROM assigned GROUP BY label
)
SELECT CAST(a.label AS BIGINT) AS true_label,
       CAST(a.assigned AS BIGINT) AS assigned_label,
       CAST(count(*) AS BIGINT) AS n,
       CAST((10000 * count(*)) // any_value(t.n_true) AS BIGINT) AS share_bp
FROM assigned a JOIN per_true t ON a.label = t.label
GROUP BY a.label, a.assigned
ORDER BY true_label, assigned_label
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
    return out.orderBy("fd")


ROUND8_QUERIES["fd_discovery"] = fd_discovery

ROUND8_ORACLES["fd_discovery"] = "\nUNION ALL\n".join(
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
# prefix_cache_hits — KV-cache prefix-sharing census
# ---------------------------------------------------------------------------

_PCH_LENS = (4, 8, 16)


def prefix_cache_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-CACHE sharing census (SURVEY §2 #259) — the
    inference-side cost planner the serving stack runs before turning
    on prefix caching (vLLM/SGLang style KV reuse: requests sharing a
    verbatim token PREFIX recompute it once): for prefix lengths
    4/8/16, documents are grouped by the hash of their first-P
    tokens, every group of n sharers makes (n−1)·P tokens cacheable,
    and the hit rate over eligible prompt tokens is published in bp
    per length — the readout that says which cache granularity pays.
    Positional and anchored at position 0, which is what distinguishes
    it from every fingerprint key (winnowing/simhash/minhash sample
    the WHOLE doc; dup_span_census finds spans ANYWHERE; the KV cache
    only ever reuses a prefix).

    Scale shape: one token projection; per length, a map-side prefix
    hash then ONE (hash → count, sum len) agg and a tiny census —
    grams never materialize as strings past the hash, groups are
    bounded by corpus cardinality, no windows, no joins.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr(X.tokens_spark("text")).alias("toks")
    ).select("toks", F.size("toks").alias("len"))
    parts = []
    for p in _PCH_LENS:
        grp = (
            toks.filter(F.col("len") >= p)
            .select(
                "len",
                F.expr(
                    X.hash64_spark(f"array_join(slice(toks, 1, {p}), ' ')")
                ).alias("ph"),
            )
            .groupBy("ph")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("len").alias("tok"))
        )
        parts.append(
            grp.agg(
                F.lit(f"p{p:02d}").alias("prefix_len"),
                F.sum("n").cast("bigint").alias("n_eligible"),
                F.sum((F.col("n") >= 2).cast("int"))
                .cast("bigint")
                .alias("n_shared_groups"),
                F.sum(F.expr("CASE WHEN n >= 2 THEN n ELSE 0 END"))
                .cast("bigint")
                .alias("shared_docs"),
                F.sum(F.expr(f"(n - 1) * {p}"))
                .cast("bigint")
                .alias("cacheable_tokens"),
                F.expr(
                    f"cast((10000 * sum((n - 1) * {p})) div sum(tok)"
                    " as bigint)"
                ).alias("hit_bp"),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.orderBy("prefix_len")


ROUND8_QUERIES["prefix_cache_hits"] = prefix_cache_hits

ROUND8_ORACLES["prefix_cache_hits"] = "\nUNION ALL\n".join(
    f"""
SELECT 'p{p:02d}' AS prefix_len,
       CAST(sum(n) AS BIGINT) AS n_eligible,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_groups,
       CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS shared_docs,
       CAST(sum((n - 1) * {p}) AS BIGINT) AS cacheable_tokens,
       CAST((10000 * sum((n - 1) * {p})) // sum(tok) AS BIGINT) AS hit_bp
FROM (
  SELECT count(*) AS n, sum(len) AS tok FROM (
    SELECT {X.hash64_duck(f"array_to_string(toks[1:{p}], ' ')")} AS ph,
           len(toks) AS len
    FROM (SELECT {X.tokens_duck('text')} AS toks FROM documents)
    WHERE len(toks) >= {p}
  ) GROUP BY ph
)
""" for p in _PCH_LENS
) + "\nORDER BY prefix_len"


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
        .orderBy("event_type")
    )


ROUND8_QUERIES["ips_policy_eval"] = ips_policy_eval

ROUND8_ORACLES["ips_policy_eval"] = f"""
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
        .orderBy("event_type")
    )


ROUND8_QUERIES["diff_in_diff"] = diff_in_diff

ROUND8_ORACLES["diff_in_diff"] = f"""
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
# hashing_trick_collisions — feature-hashing bucket collision audit
# ---------------------------------------------------------------------------

_HTC_BITS = (8, 12, 16)


def hashing_trick_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-HASHING collision audit (SURVEY §2 #262; Weinberger et
    al. 2009's hashing trick — the standard encoding for unbounded
    categorical features): the (user × event_type) feature vocabulary
    is hashed into 2^b buckets for b = 8/12/16 and each width
    publishes distinct features, occupied buckets, colliding buckets,
    features lost to collisions, and the event MASS riding collided
    buckets in bp — the readout that picks the hash width (collision
    loss vs parameter count), which no existing key gives
    (key_skew_profile profiles REAL keys; this profiles the
    synthetic-bucket aliasing the trick introduces).

    Scale shape: the feature census (feature → weight) is one
    map-combined agg; per width, a map-side ``& (2^b − 1)`` then ONE
    (bucket → distinct features, weight) agg and a tiny census; no
    joins, no windows, bounded output.
    """
    feats = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr("'u:' || user_id || ':' || event_type").alias("feat")
        )
        .groupBy("feat")
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(
            F.expr(X.hash64_spark("feat")).alias("fh"),
            "weight",
        )
    )
    feats = materialize(feats)
    parts = []
    for b in _HTC_BITS:
        per = (
            feats.select(
                F.expr(f"fh & {(1 << b) - 1}").alias("bucket"), "weight"
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w"))
        )
        parts.append(
            per.agg(
                F.lit(f"b{b:02d}").alias("width"),
                F.sum("n").cast("bigint").alias("n_features"),
                F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
                F.sum((F.col("n") >= 2).cast("int"))
                .cast("bigint")
                .alias("colliding_buckets"),
                F.sum(F.expr("n - 1")).cast("bigint").alias("features_lost"),
                F.expr(
                    "cast((10000 * sum(CASE WHEN n >= 2 THEN w ELSE 0 END))"
                    " div sum(w) as bigint)"
                ).alias("collided_mass_bp"),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.orderBy("width")


ROUND8_QUERIES["hashing_trick_collisions"] = hashing_trick_collisions

ROUND8_ORACLES["hashing_trick_collisions"] = "\nUNION ALL\n".join(
    f"""
SELECT 'b{b:02d}' AS width,
       CAST(sum(n) AS BIGINT) AS n_features,
       CAST(count(*) AS BIGINT) AS buckets_used,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS colliding_buckets,
       CAST(sum(n - 1) AS BIGINT) AS features_lost,
       CAST((10000 * sum(CASE WHEN n >= 2 THEN w ELSE 0 END)) // sum(w)
            AS BIGINT) AS collided_mass_bp
FROM (
  SELECT fh & {(1 << b) - 1} AS bucket, count(*) AS n, sum(weight) AS w
  FROM (
    SELECT {X.hash64_duck("feat")} AS fh, weight FROM (
      SELECT 'u:' || user_id || ':' || event_type AS feat,
             count(*) AS weight
      FROM events GROUP BY feat
    )
  ) GROUP BY bucket
)
""" for b in _HTC_BITS
) + "\nORDER BY width"


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
        .orderBy("event_type")
    )


ROUND8_QUERIES["doubly_robust_eval"] = doubly_robust_eval

ROUND8_ORACLES["doubly_robust_eval"] = f"""
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
        .orderBy(F.desc("decile"))
    )


ROUND8_QUERIES["qini_uplift"] = qini_uplift

ROUND8_ORACLES["qini_uplift"] = f"""
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
        .orderBy("event_type")
    )


ROUND8_QUERIES["wasserstein_drift"] = wasserstein_drift

ROUND8_ORACLES["wasserstein_drift"] = f"""
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
# poisson_bootstrap_ci — one-pass Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------

import math as _math

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
        .orderBy("event_type")
    )


ROUND8_QUERIES["poisson_bootstrap_ci"] = poisson_bootstrap_ci

ROUND8_ORACLES["poisson_bootstrap_ci"] = f"""
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
        .orderBy("arm")
    )


ROUND8_QUERIES["cuped_adjustment"] = cuped_adjustment

ROUND8_ORACLES["cuped_adjustment"] = f"""
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
# postings_compression_estimate — delta+varint index size planning
# ---------------------------------------------------------------------------


def postings_compression_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POSTING-LIST compression estimate (SURVEY §2 #268) — the index
    SIZE planner next to champion_postings' index PRUNER: classic IR
    delta-gap + varint coding (Zobel & Moffat 2006) costed exactly,
    per df-magnitude bucket: postings (term, sorted doc ids) become
    gaps via lag(), each gap costs length(bin(gap)) bits — the exact
    ⌊log₂⌋+1 with no floating log anywhere — and ⌈bits/7⌉ varint
    bytes; each log₂(df) bucket publishes raw vs compressed bytes in
    bp.  The planning readout is WHERE compression pays: long lists
    have small gaps (dense → near-1-byte codes), rare terms don't —
    the economics behind every search index's postings format.

    Scale shape: postings are distinct (term-hash, doc) pairs; the
    gap window partitions BY TERM (millions of small partitions —
    the scalable direction); the census folds to ≤13 log₂ buckets
    map-combined.  Terms ride as 60-bit hashes, never strings.
    """
    docs = _t(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({X.tokens_spark('text')})")
            ).alias("term"),
        )
        .select(F.expr(X.hash64_spark("term")).alias("th"), "doc_id")
    )
    wt = Window.partitionBy("th").orderBy("doc_id")
    sized = postings.select(
        "th",
        "doc_id",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id", 1).over(wt),
            F.col("doc_id") + 1,
        ).alias("delta"),
        F.count(F.lit(1)).over(Window.partitionBy("th")).alias("df"),
    ).select(
        "th",
        "df",
        F.expr("length(bin(delta))").alias("bits"),
    )
    return (
        sized.groupBy(F.expr("length(bin(df))").alias("df_log2"))
        .agg(
            F.countDistinct("th").alias("n_terms"),
            F.count(F.lit(1)).alias("n_postings"),
            F.sum("bits").alias("delta_bits"),
            F.sum(F.expr("(bits + 6) div 7")).alias("varint_bytes"),
        )
        .select(
            F.col("df_log2").cast("bigint").alias("df_log2"),
            F.col("n_terms").cast("bigint").alias("n_terms"),
            F.col("n_postings").cast("bigint").alias("n_postings"),
            F.col("delta_bits").cast("bigint").alias("delta_bits"),
            F.col("varint_bytes").cast("bigint").alias("varint_bytes"),
            F.expr(
                "cast((10000 * varint_bytes) div (8 * n_postings) as bigint)"
            ).alias("size_vs_raw_bp"),
        )
        .orderBy("df_log2")
    )


ROUND8_QUERIES["postings_compression_estimate"] = postings_compression_estimate

ROUND8_ORACLES["postings_compression_estimate"] = f"""
WITH postings AS (
  SELECT DISTINCT {X.hash64_duck('term')} AS th, doc_id
  FROM (
    SELECT doc_id, unnest(list_distinct({X.tokens_duck('text')})) AS term
    FROM documents
  )
),
sized AS (
  SELECT th,
         count(*) OVER (PARTITION BY th) AS df,
         length(bin(coalesce(doc_id - lag(doc_id) OVER
           (PARTITION BY th ORDER BY doc_id), doc_id + 1))) AS bits
  FROM postings
)
SELECT CAST(length(bin(df)) AS BIGINT) AS df_log2,
       CAST(count(DISTINCT th) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(sum(bits) AS BIGINT) AS delta_bits,
       CAST(sum((bits + 6) // 7) AS BIGINT) AS varint_bytes,
       CAST((10000 * sum((bits + 6) // 7)) // (8 * count(*)) AS BIGINT)
         AS size_vs_raw_bp
FROM sized
GROUP BY df_log2 ORDER BY df_log2
"""


# ---------------------------------------------------------------------------
# source_selection_greedy — greedy max-coverage data acquisition
# ---------------------------------------------------------------------------

_SSG_K = 3  # greedy rounds
_SSG_GRAM = 8
_SSG_CENSUS_CAP = 100_000  # driver-safety bound on the bitmask census


def source_selection_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY MAX-COVERAGE source selection (SURVEY §2 #269) — the
    data-acquisition question the mixture/dedup keys stop short of:
    "which 3 sources should we license/crawl FIRST to cover the most
    distinct content?"  Coverage of a source set = distinct word
    8-grams it contains; the greedy algorithm (pick the source with
    the largest MARGINAL gain each round) carries Nemhauser's
    (1 − 1/e) guarantee precisely because coverage is submodular —
    the same structure data_mixture_plan weights by tokens but never
    optimizes.  Three rounds, each publishing the chosen source, its
    marginal distinct grams, and cumulative coverage in bp.

    Scale shape: because the source catalog is DIM-sized (this is a
    licensing/crawl decision over named corpora, not a per-domain
    fanout), the whole greedy collapses to ONE distributed pass: each
    gram-hash aggregates the BITMASK of sources containing it
    (map-combined bit_or — the gram table's only shuffle), the bitmask
    census (≤ 2^|sources| rows, in practice ≤ distinct co-occurrence
    patterns) collapses map-side and is collected once, and all k
    greedy rounds are driver arithmetic over that census — marginal
    gain of s given chosen C is Σ census[mask] with bit(s) set and
    mask ∩ C = ∅.  The earlier body re-joined the full gram table once
    per round (k anti-joins + k distinct-count shuffles); this runs
    the fact data exactly once.  Bitmask width asserts ≤ 60 sources
    (the md5-bridge long); a wider catalog needs the segmented-mask
    extension, which changes no semantics.  The census collect is
    GUARDED at 100k rows (a few MB): its true size is the number of
    distinct co-occurrence patterns — 163 at sf0.1, and bounded by the
    pattern diversity, not the corpus — so a blowup past the cap means
    the source column is not dim-sized and the operator refuses loudly
    instead of flooding the driver.
    """
    docs = _t(spark, sf_dir, "documents")
    # bounded collect (cap 60): a non-dim-sized source column must fail
    # fast, not flood the driver first (ADVICE r8); a ValueError, not
    # assert, so python -O can't strip the guard into a silent 1<<bit
    # bigint overflow. The 60 distinct source cap is the bigint
    # bitmask's capacity; past it, use the segmented-mask extension.
    srcs = sorted(
        r[0]
        for r in _bounded_collect(
            docs.select("source").distinct(),
            60,
            "source_selection_greedy: the bigint bitmask holds at most"
            " 60 distinct sources",
        )
    )
    bit = {s: i for i, s in enumerate(srcs)}
    mapping = spark.createDataFrame(
        [(s, 1 << bit[s]) for s in srcs], "source string, sbit bigint"
    )
    census = _bounded_collect(
        docs.select("source", F.expr(X.tokens_spark("text")).alias("toks"))
        .filter(F.size("toks") >= _SSG_GRAM)
        .select(
            "source",
            F.explode(
                F.expr(X.shingles_spark("toks", _SSG_GRAM))
            ).alias("g"),
        )
        .select("source", F.expr(X.hash64_spark("g")).alias("gh"))
        .join(F.broadcast(mapping), "source")
        .groupBy("gh")
        .agg(F.expr("bit_or(sbit)").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n")),
        _SSG_CENSUS_CAP,
        "source_selection_greedy: source-bitmask pattern census"
        " (column not dim-sized; use the segmented per-round"
        " anti-join form)",
    )
    counts = {r["mask"]: r["n"] for r in census}
    total = sum(counts.values())
    chosen_mask = 0
    rows = []
    cum = 0
    for step in range(1, _SSG_K + 1):
        best_src, best_m = None, -1
        for s in srcs:  # asc order: first strict improvement = asc tie-break
            b = 1 << bit[s]
            if chosen_mask & b:
                continue
            m = sum(
                n
                for mask, n in counts.items()
                if (mask & b) and not (mask & chosen_mask)
            )
            if m > best_m:
                best_src, best_m = s, m
        if best_src is None or best_m <= 0:
            # oracle: a step with no uncovered-gram source groups no
            # row (count(DISTINCT gh) >= 1 whenever a group exists),
            # and every later step FROM-joins the empty step away —
            # stop emitting instead of publishing zero-marginal rows
            # (and, with no grams at all, dividing by a zero total).
            break
        chosen_mask |= 1 << bit[best_src]
        cum += best_m
        rows.append((step, best_src, best_m, cum))
    return spark.createDataFrame(
        [
            (s, src, m, c, (10000 * c) // total)
            for s, src, m, c in rows
        ],
        "step bigint, source string, marginal_grams bigint,"
        " cum_grams bigint, coverage_bp bigint",
    ).orderBy("step")


ROUND8_QUERIES["source_selection_greedy"] = source_selection_greedy

_ssg_grams_cte = f"""
grams AS (
  SELECT DISTINCT source, {X.hash64_duck('g')} AS gh
  FROM (
    SELECT source, unnest({X.shingles_duck('toks', _SSG_GRAM)}) AS g
    FROM (SELECT source, {X.tokens_duck('text')} AS toks FROM documents)
    WHERE len(toks) >= {_SSG_GRAM}
  )
),
total AS (SELECT count(DISTINCT gh) AS t FROM grams),
s1 AS (
  SELECT source, count(*) AS marginal FROM grams GROUP BY source
  ORDER BY marginal DESC, source LIMIT 1
),
cov1 AS (SELECT DISTINCT gh FROM grams WHERE source = (SELECT source FROM s1)),
s2 AS (
  SELECT g.source, count(DISTINCT g.gh) AS marginal
  FROM grams g
  WHERE g.source <> (SELECT source FROM s1)
    AND g.gh NOT IN (SELECT gh FROM cov1)
  GROUP BY g.source ORDER BY marginal DESC, source LIMIT 1
),
cov2 AS (
  SELECT DISTINCT gh FROM grams
  WHERE source IN ((SELECT source FROM s1), (SELECT source FROM s2))
),
s3 AS (
  SELECT g.source, count(DISTINCT g.gh) AS marginal
  FROM grams g
  WHERE g.source NOT IN ((SELECT source FROM s1), (SELECT source FROM s2))
    AND g.gh NOT IN (SELECT gh FROM cov2)
  GROUP BY g.source ORDER BY marginal DESC, source LIMIT 1
)
"""

ROUND8_ORACLES["source_selection_greedy"] = f"""
WITH {_ssg_grams_cte}
SELECT 1 AS step, source, CAST(marginal AS BIGINT) AS marginal_grams,
       CAST(marginal AS BIGINT) AS cum_grams,
       CAST((10000 * marginal) // (SELECT t FROM total) AS BIGINT)
         AS coverage_bp
FROM s1
UNION ALL
SELECT 2, s2.source, CAST(s2.marginal AS BIGINT),
       CAST(s1.marginal + s2.marginal AS BIGINT),
       CAST((10000 * (s1.marginal + s2.marginal)) // (SELECT t FROM total)
            AS BIGINT)
FROM s1, s2
UNION ALL
SELECT 3, s3.source, CAST(s3.marginal AS BIGINT),
       CAST(s1.marginal + s2.marginal + s3.marginal AS BIGINT),
       CAST((10000 * (s1.marginal + s2.marginal + s3.marginal))
            // (SELECT t FROM total) AS BIGINT)
FROM s1, s2, s3
ORDER BY step
"""


# ---------------------------------------------------------------------------
# coverage_decay_curve — static coverage curve over the size ordering
# ---------------------------------------------------------------------------


def coverage_decay_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVERAGE DECAY CURVE (SURVEY §2 #270) — the static, window-free
    companion of source_selection_greedy: rank sources by token mass
    (the ordering a naive acquisition plan uses), attribute every
    distinct 8-gram to its EARLIEST source in that ordering, and
    publish marginal + cumulative coverage at every k — the full
    curve whose first-3-points-vs-greedy gap quantifies how much the
    submodular optimization actually buys (diminishing returns made
    visible).  One pass, no driver loop: "coverage at k" for ALL k
    simultaneously is exactly a min-rank census.

    Scale shape: the source ranking is a bounded census (broadcast);
    each gram's first-source rank is one map-combined min; the curve
    is a cumulative sum over the ≤|sources| rank census (bounded —
    the decile_lift window class).  Grams ride as hashes, the
    gram→rank attribution is the only big agg.
    """
    docs = _t(spark, sf_dir, "documents")
    # NOTE (r10, measured): the rank census feeds two broadcast
    # consumers and each build re-runs its corpus tokenize pass;
    # materializing it once was A/B'd and measured ~30% SLOWER at
    # bench scale — the eager boundary serializes a pass that
    # otherwise pipelines alongside the gram explode in one job.
    # Left as-is; at cluster scale the duplicate pass is two corpus
    # scans and the sharded signature-table write every production
    # pipeline persists anyway is the boundary that removes it.
    ranks = (
        docs.groupBy("source")
        .agg(F.sum(F.expr(f"size({X.tokens_spark('text')})")).alias("mass"))
        .select(
            "source",
            "mass",
            F.expr(
                "row_number() over (order by mass desc, source)"
            ).alias("rk"),
        )
    )
    grams = (
        docs.select(
            "source", F.expr(X.tokens_spark("text")).alias("toks")
        )
        .filter(F.size("toks") >= 8)
        .select(
            "source",
            F.explode(F.expr(X.shingles_spark("toks", 8))).alias("g"),
        )
        .select("source", F.expr(X.hash64_spark("g")).alias("gh"))
    )
    first_rank = (
        grams.join(F.broadcast(ranks), "source")
        .groupBy("gh")
        .agg(F.min("rk").alias("first_rk"))
    )
    census = first_rank.groupBy("first_rk").agg(
        F.count(F.lit(1)).alias("marginal")
    )
    w = "order by first_rk rows between unbounded preceding and current row"
    tot = "sum(marginal) over ()"
    return (
        census.select(
            F.col("first_rk").cast("bigint").alias("k"),
            F.col("marginal").cast("bigint").alias("marginal_grams"),
            F.expr(f"cast(sum(marginal) over ({w}) as bigint)").alias(
                "cum_grams"
            ),
            F.expr(
                f"cast((10000 * sum(marginal) over ({w})) div {tot}"
                " as bigint)"
            ).alias("coverage_bp"),
        )
        .join(
            F.broadcast(
                ranks.select(
                    F.col("rk").cast("bigint").alias("k"), "source"
                )
            ),
            "k",
        )
        .select("k", "source", "marginal_grams", "cum_grams", "coverage_bp")
        .orderBy("k")
    )


ROUND8_QUERIES["coverage_decay_curve"] = coverage_decay_curve

ROUND8_ORACLES["coverage_decay_curve"] = f"""
WITH ranks AS (
  SELECT source, row_number() OVER (ORDER BY mass DESC, source) AS rk
  FROM (
    SELECT source, sum(len({X.tokens_duck('text')})) AS mass
    FROM documents GROUP BY source
  )
),
grams AS (
  SELECT source, {X.hash64_duck('g')} AS gh
  FROM (
    SELECT source, unnest({X.shingles_duck('toks', 8)}) AS g
    FROM (SELECT source, {X.tokens_duck('text')} AS toks FROM documents)
    WHERE len(toks) >= 8
  )
),
first_rank AS (
  SELECT g.gh, min(r.rk) AS first_rk
  FROM grams g JOIN ranks r ON g.source = r.source
  GROUP BY g.gh
),
census AS (
  SELECT first_rk, count(*) AS marginal FROM first_rank GROUP BY first_rk
)
SELECT CAST(c.first_rk AS BIGINT) AS k,
       r.source,
       CAST(c.marginal AS BIGINT) AS marginal_grams,
       CAST(sum(c.marginal) OVER (ORDER BY c.first_rk
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_grams,
       CAST((10000 * sum(c.marginal) OVER (ORDER BY c.first_rk
            ROWS UNBOUNDED PRECEDING)) // (sum(c.marginal) OVER ())
            AS BIGINT) AS coverage_bp
FROM census c JOIN ranks r ON r.rk = c.first_rk
ORDER BY k
"""


# ---------------------------------------------------------------------------
# grid_density_clusters — distributed grid-DBSCAN density clustering
# ---------------------------------------------------------------------------

_GDC_RES = 20  # cells per unit: floor(e * 20)
_GDC_MINPTS = 4


def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-DBSCAN density clustering (SURVEY §2 #271) — the density
    family the catalog lacked (label_centroids/silhouette assume
    GIVEN labels; ann_ivf partitions by nearest centroid; nothing
    DISCOVERS clusters from density): the standard distributed DBSCAN
    approximation (cell-based DBSCAN, Gunawan 2013 / GriDBSCAN) on
    the leading two embedding dims — points land in 1/{res}-unit grid
    cells map-side, cells with ≥ {minpts} points are CORE, core cells
    connect to their 8-neighbors, and connected components of the
    core-cell graph are the clusters (border/noise points = non-core
    cells, published as the noise row).

    Scale shape: the point→cell census is one map-combined agg — the
    only fact-sized work; the cell table is bounded by GRID
    RESOLUTION (a constant, ≤ ~400 cells no matter how many points
    arrive), so the census is collected once and the 8-neighbor
    expansion plus exact min-label connected components (union-find,
    full convergence — the same fixpoint the oracle's recursive-CTE
    transitive closure reaches) run driver-side on the constant-size
    cell graph, replacing the shared hash-min machinery's per-round
    jobs on the same dim-sized state.
    """
    emb = _t(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            F.expr(
                f"cast(floor(cast(element_at(embedding, 1) as double)"
                f" * {_GDC_RES}) as bigint)"
            ).alias("cx"),
            F.expr(
                f"cast(floor(cast(element_at(embedding, 2) as double)"
                f" * {_GDC_RES}) as bigint)"
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .withColumn("cell", F.expr("(cx + 100) * 1000 + (cy + 100)"))
    )
    from pyprima_spark.operators.exactmath import min_label_components

    crows = _bounded_collect(
        cells, 40401, "grid_density_clusters: resolution-bounded cell census"
    )  # ≤ 201×201 cells, the (cx+100)*1000+(cy+100) encoding capacity
    core = {
        (r["cx"], r["cy"]): (r["cell"], r["n_pts"])
        for r in crows
        if r["n_pts"] >= _GDC_MINPTS
    }
    # exact min-label components (union-find, full convergence — the
    # same fixpoint the oracle's recursive CTE reaches); isolated core
    # cells keep their own id via the self-edge
    nbr_edges = [
        (cell, core[(cx + dx, cy + dy)][0])
        for (cx, cy), (cell, _n) in core.items()
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0) and (cx + dx, cy + dy) in core
    ]
    comp = min_label_components(
        nbr_edges + [(cell, cell) for cell, _n in core.values()]
    )
    agg: dict = {}
    for cell, n_pts in core.values():
        root = comp[cell]
        cnt, pts = agg.get(root, (0, 0))
        agg[root] = (cnt + 1, pts + n_pts)
    noise_cells = [r for r in crows if r["n_pts"] < _GDC_MINPTS]
    out = [
        (int(cid), int(cnt), int(pts)) for cid, (cnt, pts) in agg.items()
    ]
    out.append((
        -1,
        len(noise_cells),
        sum(r["n_pts"] for r in noise_cells),
    ))
    out.sort(key=lambda t: (-t[2], t[0]))
    return spark.createDataFrame(
        out,
        schema="cluster_id bigint, n_cells bigint, n_points bigint",
    )


ROUND8_QUERIES["grid_density_clusters"] = grid_density_clusters

ROUND8_ORACLES["grid_density_clusters"] = f"""
WITH RECURSIVE cells AS (
  SELECT cx, cy, count(*) AS n_pts, (cx + 100) * 1000 + (cy + 100) AS cell
  FROM (
    SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * {_GDC_RES}) AS BIGINT)
             AS cx,
           CAST(floor(CAST(embedding[2] AS DOUBLE) * {_GDC_RES}) AS BIGINT)
             AS cy
    FROM embeddings
  ) GROUP BY cx, cy
),
core AS (SELECT * FROM cells WHERE n_pts >= {_GDC_MINPTS}),
edges AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM core a JOIN core b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.cell < b.cell
),
sym AS (
  SELECT src AS a, dst AS b FROM edges
  UNION SELECT dst, src FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
labels AS (
  SELECT c.cell, least(c.cell, coalesce(min(r.b), c.cell)) AS cluster_id
  FROM core c LEFT JOIN reach r ON r.a = c.cell
  GROUP BY c.cell
),
clusters AS (
  SELECT l.cluster_id, count(*) AS n_cells, sum(c.n_pts) AS n_points
  FROM labels l JOIN core c ON c.cell = l.cell
  GROUP BY l.cluster_id
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(n_points AS BIGINT) AS n_points
FROM clusters
UNION ALL
SELECT -1, CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_pts), 0) AS BIGINT)
FROM cells WHERE n_pts < {_GDC_MINPTS}
ORDER BY n_points DESC, cluster_id
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
        .orderBy("segment")
    )


ROUND8_QUERIES["simpson_paradox_audit"] = simpson_paradox_audit

ROUND8_ORACLES["simpson_paradox_audit"] = f"""
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
        .orderBy("event_type")
    )


ROUND8_QUERIES["p99_attribution"] = p99_attribution

ROUND8_ORACLES["p99_attribution"] = """
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
# interpolation_search_error — learned-index (RMI) feasibility readout
# ---------------------------------------------------------------------------

_ISE_MIN_BUCKETS = 16
_ISE_MAX_BUCKETS = 65536
_ISE_TARGET_ROWS = 4096  # rows-per-bucket target; B scales with count


def interpolation_search_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED-INDEX error census (SURVEY §2 #274; Kraska et al. 2018
    — "The Case for Learned Index Structures"): within each
    EQUI-WIDTH bucket of the orderkey domain (the linear root model
    an RMI actually starts from), predict a key's position by LINEAR
    INTERPOLATION between the bucket's min/max and measure
    |predicted − actual| — exactly the per-model error bound an RMI
    leaf must search, and therefore the readout that says whether a
    learned index (vs a B-tree page walk) pays for this key
    distribution.  Errors are exact integers: pred =
    (key − min)·(n − 1) div (max − min), actual = the rank within the
    bucket.

    VERDICT r7 rewrite: the previous form pinned parallelism at 16
    via a static percentile_disc cut list (a 16-value bucket id over
    the full orders table — per-bucket slices grow LINEARLY with
    data; only their count was bounded).  Now the bucket count B is
    derived from the data IN SQL — B = clamp(count/target, 16,
    65536), identical arithmetic on both engine sides — so
    parallelism scales with row count while each slice stays near the
    _ISE_TARGET_ROWS target (only key-value skew can inflate a single
    bucket; the n column is the skew readout).  Bucket assignment is
    one row-local integer expression against a broadcast 1-row
    (min, max, count) aggregate — the percentile buffering is gone
    entirely; ranks come from row_number windows PARTITIONED BY
    BUCKET; the census folds to B rows with max/mean error per
    bucket.
    """
    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    return interpolation_search_census(keys)


def interpolation_search_census(keys: DataFrame) -> DataFrame:
    """Census core of interpolation_search_error over an arbitrary
    1-column ``k`` frame — separated so tools/stress_probe.py can
    measure the scaled-bucket-count behaviour on replicated keys."""
    stats = keys.agg(
        F.min("k").alias("gmin"),
        F.max("k").alias("gmax"),
        F.expr(
            f"greatest({_ISE_MIN_BUCKETS}, least({_ISE_MAX_BUCKETS},"
            f" count(1) div {_ISE_TARGET_ROWS}))"
        ).alias("nb"),
    )
    assigned = keys.crossJoin(F.broadcast(stats)).select(
        "k",
        F.expr(
            "CASE WHEN gmax = gmin THEN 1"
            " ELSE least(nb, 1 + cast((k - gmin) as decimal(38,0)) * nb"
            " div (gmax - gmin)) END"
        ).alias("bucket"),
    )
    wb = Window.partitionBy("bucket")
    scored = assigned.select(
        "bucket",
        "k",
        F.row_number()
        .over(Window.partitionBy("bucket").orderBy("k"))
        .alias("rn"),
        F.min("k").over(wb).alias("bmin"),
        F.max("k").over(wb).alias("bmax"),
        F.count(F.lit(1)).over(wb).alias("cnt"),
    ).select(
        "bucket",
        "cnt",
        F.expr(
            "abs(CASE WHEN bmax = bmin THEN 0"
            " ELSE cast((k - bmin) as decimal(38,0)) * (cnt - 1)"
            " div (bmax - bmin) END - (rn - 1))"
        ).alias("err"),
    )
    return (
        scored.groupBy("bucket")
        .agg(
            F.max("cnt").alias("n"),
            F.max("err").alias("max_err"),
            F.sum("err").alias("sum_err"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n").cast("bigint").alias("n"),
            F.col("max_err").cast("bigint").alias("max_err"),
            F.expr("cast((1000 * sum_err) div n as bigint)").alias(
                "mean_err_milli"
            ),
        )
        .orderBy("bucket")
    )


ROUND8_QUERIES["interpolation_search_error"] = interpolation_search_error

ROUND8_ORACLES["interpolation_search_error"] = f"""
WITH keys AS (SELECT o_orderkey AS k FROM orders),
stats AS (
  SELECT min(k) AS gmin, max(k) AS gmax,
         greatest({_ISE_MIN_BUCKETS}, least({_ISE_MAX_BUCKETS},
                  count(*) // {_ISE_TARGET_ROWS})) AS nb
  FROM keys
),
assigned AS (
  SELECT k,
         CASE WHEN gmax = gmin THEN 1
              ELSE least(nb, 1 + (k - gmin)::HUGEINT * nb
                             // (gmax - gmin)) END AS bucket
  FROM keys CROSS JOIN stats
),
scored AS (
  SELECT bucket,
         count(*) OVER (PARTITION BY bucket) AS cnt,
         abs(CASE WHEN max(k) OVER (PARTITION BY bucket)
                     = min(k) OVER (PARTITION BY bucket) THEN 0
              ELSE (k - min(k) OVER (PARTITION BY bucket))::HUGEINT
                   * (count(*) OVER (PARTITION BY bucket) - 1)
                   // (max(k) OVER (PARTITION BY bucket)
                       - min(k) OVER (PARTITION BY bucket)) END
             - (row_number() OVER (PARTITION BY bucket ORDER BY k) - 1))
           AS err
  FROM assigned
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(max(cnt) AS BIGINT) AS n,
       CAST(max(err) AS BIGINT) AS max_err,
       CAST((1000 * sum(err)) // max(cnt) AS BIGINT) AS mean_err_milli
FROM scored
GROUP BY bucket ORDER BY bucket
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
        .orderBy("replicate")
    )


ROUND8_QUERIES["aa_test_fpr"] = aa_test_fpr

_aa_chi_duck = (
    "(1000 * (a + bb + c + d)::HUGEINT"
    " * (a::HUGEINT * d - bb::HUGEINT * c)"
    " * (a::HUGEINT * d - bb::HUGEINT * c))"
    " // ((a::HUGEINT + bb) * (c + d) * (a::HUGEINT + c) * (bb + d))"
)

ROUND8_ORACLES["aa_test_fpr"] = f"""
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
    (_z_interleave, the shared round-7 primitive), HILBERT (the
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
        for r in _bounded_collect(
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


def _z_interleave_r8(xb: str, yb: str, spark_syntax: bool) -> str:
    """Round-7's _z_interleave, re-emitted here to keep round8
    import-light (same 16-term sum, both dialects; round7.py:2565)."""
    terms = []
    for i in range(_CLC_BITS):
        if spark_syntax:
            terms.append(f"shiftleft(shiftright({xb}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({yb}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({xb} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


ROUND8_QUERIES["curve_locality_compare"] = curve_locality_compare


def _clc_oracle() -> str:
    q = f"""SELECT cx, cy, cx AS x, cy AS y, CAST(0 AS BIGINT) AS d FROM (
  SELECT DISTINCT
    ({X.hash64_duck("CAST(o_orderkey AS VARCHAR) || ':x'")}) % 256 AS cx,
    ({X.hash64_duck("CAST(o_orderkey AS VARCHAR) || ':y'")}) % 256 AS cy
  FROM orders)"""
    for stage in _hilbert_stages(_CLC_BITS, spark_syntax=False):
        cols = ", ".join(f"{expr} AS {col}" for col, expr in stage.items())
        q = f"SELECT cx, cy, {cols} FROM ({q})"
    z = _z_interleave_r8("cx", "cy", spark_syntax=False)
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


ROUND8_ORACLES["curve_locality_compare"] = _clc_oracle()


# ---------------------------------------------------------------------------
# isotonic_calibration — PAV calibration via the max-min identity
# ---------------------------------------------------------------------------

# Score levels: first-half customer spend in $50k steps, capped so the
# census is <= _ISO_LEVELS + 1 rows regardless of data scale.
_ISO_LEVELS = 40


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC (PAV) calibration fit (SURVEY §2 #277) — the repair
    step for the miscalibration calibration_ece only MEASURES: fit the
    best monotone non-decreasing conversion-rate curve over the spend
    score (Zadrozny-Elkan 2002, the standard post-hoc calibrator next
    to Platt scaling), published next to the raw per-level rate so the
    violation pools are visible.  Pool-adjacent-violators is inherently
    sequential, so this uses the exact MAX-MIN identity instead:
    iso(s) = max_{i<=s} min_{j>=s} rate(i..j) — embarrassingly
    parallel over the (i, j) interval lattice.  Rates are
    milli-quantized BEFORE the lattice; floor division is monotone, so
    floor commutes with min/max and the quantized fit equals the
    quantized exact fit (no cross-engine rational comparison needed).

    Scale shape: one map-combined per-customer agg, one census agg to
    <= 41 score levels — everything after runs on censuses: the
    interval lattice is census x census x census (<= 41^2 bounded
    pairs, each summed over <= 41 member rows) via broadcast joins, NO
    window anywhere and no unbounded side.  At 100 TB only the two
    fact-table aggs grow; the lattice is a constant of the operator.
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(CASE WHEN o_orderdate < date'1998-01-01'"
            " THEN cast(o_totalprice as decimal(18,2)) * 100"
            " ELSE 0 END) as bigint)"
        ).alias("spend_c"),
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("y"),
    )
    census = (
        per_cust.select(
            F.expr(
                f"least(cast(spend_c div 5000000 as int), {_ISO_LEVELS})"
            ).alias("lvl"),
            "y",
        )
        .groupBy("lvl")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
        )
    )
    # The <=41-row census fans out to five lattice roles below; without
    # this the two fact-table aggs would re-run once per role.
    census = materialize(census)
    lo = census.select(F.col("lvl").alias("i"))
    hi = census.select(F.col("lvl").alias("j"))
    member = census.select(
        F.col("lvl").alias("m"), F.col("n").alias("mn"), F.col("pos").alias("mpos")
    )
    intervals = (
        lo.join(hi, F.col("j") >= F.col("i"))
        .join(member, (F.col("m") >= F.col("i")) & (F.col("m") <= F.col("j")))
        .groupBy("i", "j")
        .agg(
            F.expr("cast((1000 * sum(mpos)) div sum(mn) as bigint)").alias(
                "avg_milli"
            )
        )
    )
    s_levels = census.select(F.col("lvl").alias("s"))
    inner = (
        s_levels.join(
            intervals, (F.col("i") <= F.col("s")) & (F.col("j") >= F.col("s"))
        )
        .groupBy("s", "i")
        .agg(F.min("avg_milli").alias("mmin"))
    )
    iso = inner.groupBy("s").agg(F.max("mmin").alias("iso_milli"))
    return (
        census.join(iso, census.lvl == iso.s)
        .select(
            F.col("lvl").cast("bigint").alias("score_level"),
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("pos").cast("bigint").alias("n_converted"),
            F.expr("cast((1000 * pos) div n as bigint)").alias("rate_milli"),
            F.col("iso_milli").cast("bigint").alias("iso_milli"),
        )
        .orderBy("score_level")
    )


ROUND8_QUERIES["isotonic_calibration"] = isotonic_calibration

ROUND8_ORACLES["isotonic_calibration"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       ELSE 0 END) AS BIGINT) AS spend_c,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
),
census AS (
  SELECT least(CAST(spend_c // 5000000 AS INT), {_ISO_LEVELS}) AS lvl,
         count(*) AS n, sum(y) AS pos
  FROM per_cust GROUP BY 1
),
intervals AS (
  SELECT a.lvl AS i, b.lvl AS j,
         CAST((1000 * sum(m.pos)) // sum(m.n) AS BIGINT) AS avg_milli
  FROM census a
  JOIN census b ON b.lvl >= a.lvl
  JOIN census m ON m.lvl BETWEEN a.lvl AND b.lvl
  GROUP BY a.lvl, b.lvl
),
inner_min AS (
  SELECT s.lvl AS s, iv.i, min(iv.avg_milli) AS mmin
  FROM census s
  JOIN intervals iv ON iv.i <= s.lvl AND iv.j >= s.lvl
  GROUP BY s.lvl, iv.i
),
iso AS (
  SELECT s, max(mmin) AS iso_milli FROM inner_min GROUP BY s
)
SELECT CAST(c.lvl AS BIGINT) AS score_level,
       CAST(c.n AS BIGINT) AS n_customers,
       CAST(c.pos AS BIGINT) AS n_converted,
       CAST((1000 * c.pos) // c.n AS BIGINT) AS rate_milli,
       CAST(iso.iso_milli AS BIGINT) AS iso_milli
FROM census c JOIN iso ON iso.s = c.lvl
ORDER BY score_level
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
        .orderBy("segment", "region")
    )


ROUND8_QUERIES["bh_fdr_control"] = bh_fdr_control

_bh_chi_duck = (
    "(1000 * (a + bb + c + d)::HUGEINT"
    " * (a::HUGEINT * d - bb::HUGEINT * c)"
    " * (a::HUGEINT * d - bb::HUGEINT * c))"
    " // nullif((a::HUGEINT + bb) * (c + d) * (a::HUGEINT + c) * (bb + d), 0)"
)

ROUND8_ORACLES["bh_fdr_control"] = f"""
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
    from pyprima_spark.operators.exactmath import bounded_collect, tdiv

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
        share = tdiv(10000 * phis[name], tot if tot != 0 else None)
        out.append((name, phis[name], -1 if share is None else share))
    return spark.createDataFrame(
        out, schema="channel string, phi_x24 bigint, share_bp bigint"
    ).orderBy("channel")


ROUND8_QUERIES["shapley_attribution"] = shapley_attribution

_shap_mask_duck = " + ".join(
    f"CASE WHEN event_type = '{name}' THEN {bit} ELSE 0 END"
    for name, bit in _SHAP_CHANNELS
)
_shap_chan_values = ", ".join(
    f"('{name}', {bit})" for name, bit in _SHAP_CHANNELS
)

ROUND8_ORACLES["shapley_attribution"] = f"""
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
# average_precision_eval — PR-curve summary per segment (AP + trapezoid AUC)
# ---------------------------------------------------------------------------


def average_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION-RECALL summary per market segment (SURVEY §2 #280) —
    the imbalance-robust companion of roc_auc_rank: ROC-AUC is blind
    to base rate (a 0.1%-positive segment can score 0.95 AUC while
    every alert pages a human for nothing); average precision and
    PR-AUC (Davis-Goadrich 2006) weight exactly the positive class.
    Same honest construct as the calibration keys (score = first-half
    spend, outcome = second-half conversion), evaluated at score-LEVEL
    granularity: AP = sum_b pos_b * prec(cut_b) / R (tie-block step
    form) and trapezoid PR-AUC over the level boundaries, both
    micro-quantized with identical floor division on both engines.

    Scale shape: one fact agg to per-customer rows, one census agg to
    <= 41 levels x 5 segments; cumulative windows run PARTITIONED by
    segment over that census (never the fact table), and R arrives by
    a census-level groupBy join.  Published milli values quantize
    per-term at 1e6 scale before the final division, so the
    cross-engine surface is integer end to end.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(CASE WHEN o_orderdate < date'1998-01-01'"
            " THEN cast(o_totalprice as decimal(18,2)) * 100"
            " ELSE 0 END) as bigint)"
        ).alias("spend_c"),
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("y"),
    )
    census = (
        per_cust.join(cust, "cust")
        .select(
            "segment",
            F.expr(
                f"least(cast(spend_c div 5000000 as int), {_ISO_LEVELS})"
            ).alias("lvl"),
            "y",
        )
        .groupBy("segment", "lvl")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    w = (
        Window.partitionBy("segment")
        .orderBy(F.desc("lvl"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wl = Window.partitionBy("segment").orderBy(F.desc("lvl"))
    curve = (
        census.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("pos").over(w))
        .withColumn(
            "prec_micro", F.expr("(1000000 * cum_pos) div cum_n")
        )
        .withColumn(
            "prec_prev_micro",
            F.coalesce(F.lag("prec_micro").over(wl), F.col("prec_micro")),
        )
    )
    return (
        curve.groupBy("segment")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.sum(F.expr("pos * prec_micro")).alias("ap_num"),
            F.sum(F.expr("pos * (prec_micro + prec_prev_micro)")).alias(
                "auc_num"
            ),
        )
        .select(
            "segment",
            "n",
            "n_pos",
            F.expr("cast((1000 * n_pos) div n as bigint)").alias(
                "base_rate_milli"
            ),
            F.expr(
                "cast(coalesce(ap_num div nullif(1000 * n_pos, 0), -1)"
                " as bigint)"
            ).alias("ap_milli"),
            F.expr(
                "cast(coalesce(auc_num div nullif(2000 * n_pos, 0), -1)"
                " as bigint)"
            ).alias("prauc_milli"),
        )
        .orderBy("segment")
    )


ROUND8_QUERIES["average_precision_eval"] = average_precision_eval

ROUND8_ORACLES["average_precision_eval"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       ELSE 0 END) AS BIGINT) AS spend_c,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
),
census AS (
  SELECT c.c_mktsegment AS segment,
         least(CAST(spend_c // 5000000 AS INT), {_ISO_LEVELS}) AS lvl,
         count(*) AS n, sum(y) AS pos
  FROM per_cust p JOIN customer c ON c.c_custkey = p.cust
  GROUP BY 1, 2
),
curve AS (
  SELECT segment, lvl, n, pos,
         (1000000 * sum(pos) OVER w) // (sum(n) OVER w) AS prec_micro
  FROM census
  WINDOW w AS (PARTITION BY segment ORDER BY lvl DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
curve2 AS (
  SELECT segment, n, pos, prec_micro,
         coalesce(lag(prec_micro) OVER
                    (PARTITION BY segment ORDER BY lvl DESC),
                  prec_micro) AS prec_prev_micro
  FROM curve
)
SELECT segment,
       CAST(sum(n) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST((1000 * sum(pos)) // sum(n) AS BIGINT) AS base_rate_milli,
       CAST(coalesce(sum(pos * prec_micro)
                     // nullif(1000 * sum(pos), 0), -1) AS BIGINT)
         AS ap_milli,
       CAST(coalesce(sum(pos * (prec_micro + prec_prev_micro))
                     // nullif(2000 * sum(pos), 0), -1) AS BIGINT)
         AS prauc_milli
FROM curve2
GROUP BY segment ORDER BY segment
"""


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
        .orderBy("node")
    )


ROUND8_QUERIES["consistent_hash_ring"] = consistent_hash_ring

_ring_pos_duck = X.hash64_duck(
    f"'node:' || CAST(i // {_RING_VNODES} AS VARCHAR)"
    f" || ':' || CAST(i % {_RING_VNODES} AS VARCHAR)"
)

ROUND8_ORACLES["consistent_hash_ring"] = f"""
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
# brier_decomposition — Murphy REL/RES/UNC split of the Brier score
# ---------------------------------------------------------------------------


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER-SCORE Murphy decomposition per segment (SURVEY §2 #282)
    — the diagnosis layer over calibration_ece's single gap number
    (Murphy 1973): BS = reliability − resolution + uncertainty, so a
    bad score visibly splits into "the probabilities are off" (REL,
    what isotonic_calibration repairs) vs "the model can't separate"
    (RES, what roc_auc_rank ranks) vs "the outcome is just noisy"
    (UNC, irreducible).  Same honest construct as calibration_ece
    (cohort-rate model learned on a hash-half of orders, disjoint
    ':brier' split tag), decomposed at DISTINCT-PREDICTION granularity
    where Murphy's identity is exact in rationals; published values
    floor bin means at 1e6 scale first (identical on both engines),
    keeping every intermediate under DECIMAL(38,0) through 1e12
    instances (n·(1e6)² ≤ 1e24 — the overflow-audited bound).

    Scale shape: train/test are two passes over orders (map-combined
    aggs); the model join is a 200-row broadcast; the decomposition
    runs over the (segment, pred) census (≤ 5×200 rows).  One dim
    join to customer for the segment; no windows anywhere.
    """
    split = (
        F.expr(X.hash64_spark("cast(o_orderkey as string) || ':brier'")) % 2
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.expr("o_custkey % 200").alias("grp"),
        (split == 0).alias("is_train"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    model = (
        orders.filter("is_train")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_tr"), F.sum("y").alias("pos_tr"))
        .select("grp", F.expr("(10000 * pos_tr) div n_tr").alias("pred_bp"))
    )
    segments = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("segment"),
    )
    test = (
        orders.filter(~F.col("is_train"))
        .join(F.broadcast(model), "grp")
        .join(segments, "cust")
    )
    census = test.groupBy("segment", "pred_bp").agg(
        F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("sy_k")
    )
    # Segment totals ride a whole-partition window on the census
    # (guide §2.4): the former census.groupBy + broadcast join back
    # evaluated the census subtree — the full orders⋈model⋈customer
    # test join — TWICE; the window reads the one census exchange and
    # sums the identical integers. Census rows per segment are bounded
    # by the 200-group model (≤ 201), so the window partition is
    # dim-bounded.
    seg_w = Window.partitionBy("segment")
    joined = (
        census.withColumn("n", F.sum("n_k").over(seg_w))
        .withColumn("sy", F.sum("sy_k").over(seg_w))
        .select(
            "segment",
            "n_k",
            "sy_k",
            "n",
            "sy",
            F.expr("pred_bp * 100").alias("pred_e6"),
            F.expr("(1000000 * sy_k) div n_k").alias("ybar_k_e6"),
            F.expr("(1000000 * sy) div n").alias("ybar_e6"),
        )
    )
    return (
        joined.groupBy("segment", "n", "sy", "ybar_e6")
        .agg(
            F.sum(
                F.expr(
                    "cast(sy_k as decimal(38,0))"
                    " * (pred_e6 - 1000000) * (pred_e6 - 1000000)"
                    " + cast(n_k - sy_k as decimal(38,0))"
                    " * pred_e6 * pred_e6"
                )
            ).alias("bs_num"),
            F.sum(
                F.expr(
                    "cast(n_k as decimal(38,0))"
                    " * (pred_e6 - ybar_k_e6) * (pred_e6 - ybar_k_e6)"
                )
            ).alias("rel_num"),
            F.sum(
                F.expr(
                    "cast(n_k as decimal(38,0))"
                    " * (ybar_k_e6 - ybar_e6) * (ybar_k_e6 - ybar_e6)"
                )
            ).alias("res_num"),
        )
        .select(
            "segment",
            F.col("n").cast("bigint").alias("n"),
            F.col("sy").cast("bigint").alias("n_pos"),
            F.expr("cast(bs_num div (n * 10000) as bigint)").alias("bs_e8"),
            F.expr("cast(rel_num div (n * 10000) as bigint)").alias(
                "rel_e8"
            ),
            F.expr("cast(res_num div (n * 10000) as bigint)").alias(
                "res_e8"
            ),
            F.expr(
                "cast((cast(ybar_e6 as decimal(38,0))"
                " * (1000000 - ybar_e6)) div 10000 as bigint)"
            ).alias("unc_e8"),
        )
        .orderBy("segment")
    )


ROUND8_QUERIES["brier_decomposition"] = brier_decomposition

ROUND8_ORACLES["brier_decomposition"] = f"""
WITH orders_t AS (
  SELECT o_custkey AS cust, o_custkey % 200 AS grp,
         ({X.hash64_duck("CAST(o_orderkey AS VARCHAR) || ':brier'")}) % 2 = 0
           AS is_train,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
model AS (
  SELECT grp, (10000 * sum(y)) // count(*) AS pred_bp
  FROM orders_t WHERE is_train GROUP BY grp
),
test AS (
  SELECT c.c_mktsegment AS segment, o.y, m.pred_bp
  FROM orders_t o
  JOIN model m USING (grp)
  JOIN customer c ON c.c_custkey = o.cust
  WHERE NOT o.is_train
),
census AS (
  SELECT segment, pred_bp, count(*) AS n_k, sum(y) AS sy_k
  FROM test GROUP BY segment, pred_bp
),
per_seg AS (
  SELECT segment, sum(n_k) AS n, sum(sy_k) AS sy FROM census GROUP BY segment
),
joined AS (
  SELECT c.segment, c.n_k, c.sy_k, s.n, s.sy,
         c.pred_bp * 100 AS pred_e6,
         (1000000 * c.sy_k) // c.n_k AS ybar_k_e6,
         (1000000 * s.sy) // s.n AS ybar_e6
  FROM census c JOIN per_seg s USING (segment)
)
SELECT segment,
       CAST(n AS BIGINT) AS n,
       CAST(sy AS BIGINT) AS n_pos,
       CAST(sum(sy_k::HUGEINT * (pred_e6 - 1000000) * (pred_e6 - 1000000)
                + (n_k - sy_k)::HUGEINT * pred_e6 * pred_e6)
            // (n * 10000) AS BIGINT) AS bs_e8,
       CAST(sum(n_k::HUGEINT * (pred_e6 - ybar_k_e6)
                * (pred_e6 - ybar_k_e6)) // (n * 10000) AS BIGINT) AS rel_e8,
       CAST(sum(n_k::HUGEINT * (ybar_k_e6 - ybar_e6)
                * (ybar_k_e6 - ybar_e6)) // (n * 10000) AS BIGINT) AS res_e8,
       CAST((ybar_e6::HUGEINT * (1000000 - ybar_e6)) // 10000 AS BIGINT)
         AS unc_e8
FROM joined
GROUP BY segment, n, sy, ybar_e6
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# rank_biased_overlap — top-weighted ranking similarity (RBO, p = 0.9)
# ---------------------------------------------------------------------------

_RBO_K = 20
_RBO_P9 = [9**d for d in range(_RBO_K)]  # exact 9^(d-1) numerators


def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP between the 1997 and 1998 brand-revenue
    rankings (SURVEY §2 #283) — Webber 2010's top-weighted list
    similarity, the modern replacement for kendall_tau_topk's
    unweighted pair counting (RBO weights depth d by p^(d-1), so a
    swap at rank 2 matters ~8x a swap at rank 19, and it is defined
    on TRUNCATED lists where tau needs conjoint ones).  Published per
    depth: the overlap X_d, agreement X_d/d in milli, and the
    cumulative RBO_min prefix sum in 1e6 units — every p^d kept exact
    as 9^d/10^d integer pairs (9^19·1e6·20 ≈ 3e25, inside
    DECIMAL(38,0)), per-term floored identically on both engines.

    Scale shape: the fact table collapses to the 25-row brand x year
    census in one map-combined agg; ranks come from windows
    PARTITIONED by year over that census; depth terms and the
    cumulative sum are bounded self-joins (20 x 25 and 20 x 20) on
    broadcast censuses — windowless below the census, nothing global.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("year(o_orderdate)").alias("yr")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        F.expr(
            "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
        ).alias("cents"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    census = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("yr").isin(1997, 1998))
        .join(F.broadcast(part), "l_partkey")
        .groupBy("yr", "brand")
        .agg(F.sum("cents").alias("rev"))
    )
    # Everything below the brand x year census is dim-bounded (<= 25
    # brands, 20 depths): a census-collect-then-iterate key (SURVEY
    # §7.24a).  The former windows + two materialized bounded
    # self-joins were ~13 Spark jobs on <= 50-row state; the exact
    # 9^d/10^d integer terms and truncating divisions are Python-int
    # exact, so the collapse is bit-identical.
    from pyprima_spark.operators.exactmath import bounded_collect

    rows = bounded_collect(
        census, 2 * 128, "rank_biased_overlap: brand x year revenue census"
    )
    rk: dict[int, dict[str, int]] = {1997: {}, 1998: {}}
    for yr in (1997, 1998):
        ordered = sorted(
            ((r["rev"], r["brand"]) for r in rows if r["yr"] == yr),
            key=lambda t: (-t[0], t[1]),
        )
        rk[yr] = {brand: i + 1 for i, (_, brand) in enumerate(ordered)}
    maxr = [
        max(ra, rk[1998][brand])
        for brand, ra in rk[1997].items()
        if brand in rk[1998]
    ]
    out, cum = [], 0
    for d in range(1, _RBO_K + 1):
        x_d = sum(1 for m in maxr if m <= d)
        term = (1000000 * _RBO_P9[d - 1] * x_d) // ((10**d) * d)
        cum += term
        out.append((d, x_d, (1000 * x_d) // d, cum))
    return spark.createDataFrame(
        out,
        schema="depth bigint, overlap bigint, agree_milli bigint,"
        " rbo_min_e6 bigint",
    ).orderBy("depth")


ROUND8_QUERIES["rank_biased_overlap"] = rank_biased_overlap

ROUND8_ORACLES["rank_biased_overlap"] = f"""
WITH census AS (
  SELECT year(o_orderdate) AS yr, p.p_brand AS brand,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(o_orderdate) IN (1997, 1998)
  GROUP BY 1, 2
),
ranked AS (
  SELECT yr, brand,
         row_number() OVER (PARTITION BY yr ORDER BY rev DESC, brand) AS rk
  FROM census
),
joined AS (
  SELECT greatest(a.rk, b.rk) AS maxr
  FROM ranked a JOIN ranked b ON a.brand = b.brand
  WHERE a.yr = 1997 AND b.yr = 1998
),
depths AS (
  SELECT CAST(d AS INT) AS d FROM unnest(generate_series(1, {_RBO_K})) AS t(d)
),
xd AS (
  SELECT d, count(maxr) AS x_d
  FROM depths LEFT JOIN joined ON maxr <= d
  GROUP BY d
),
terms AS (
  SELECT d, x_d,
         CAST((1000 * x_d) // d AS BIGINT) AS agree_milli,
         CAST((1000000 * ([{', '.join(str(v) for v in _RBO_P9)}])[d]::HUGEINT
               * x_d)
              // (([{', '.join(str(10**d) for d in range(1, _RBO_K + 1))}])[d]::HUGEINT
                  * d) AS BIGINT) AS term_e6
  FROM xd
)
SELECT CAST(t.d AS BIGINT) AS depth,
       CAST(t.x_d AS BIGINT) AS overlap,
       CAST(t.agree_milli AS BIGINT) AS agree_milli,
       CAST(sum(p.term_e6) AS BIGINT) AS rbo_min_e6
FROM terms t JOIN terms p ON p.d <= t.d
GROUP BY t.d, t.x_d, t.agree_milli
ORDER BY depth
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
        .orderBy("rank")
    )


ROUND8_QUERIES["heavy_change_detection"] = heavy_change_detection

ROUND8_ORACLES["heavy_change_detection"] = f"""
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
        .orderBy("segment")
    )


ROUND8_QUERIES["importance_weight_ess"] = importance_weight_ess

ROUND8_ORACLES["importance_weight_ess"] = """
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
        .orderBy("year")
    )


ROUND8_QUERIES["runs_test_residuals"] = runs_test_residuals

ROUND8_ORACLES["runs_test_residuals"] = """
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
# hits_hubs_authorities — integer-normalized HITS over the directed trade graph
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 3
_HITS_SCALE = 1000000  # scores renormalized to sum ~1e6 each half-step


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (SURVEY §2 #287) — Kleinberg 1999's
    TWO-score eigen pair over the DIRECTED supplier→customer nation
    trade graph, completing the graph-centrality family:
    pagerank_nations ranks the symmetrized graph with one score; HITS
    separates "ships to the important buyers" (hub) from "buys from
    the important shippers" (authority), which a directed trade
    imbalance makes genuinely different.  Three synchronous rounds,
    each half-step renormalized to sum ≈ 1e6 by exact integer floor
    division — the published ppm scores are integers end to end, so
    no float drift can diverge the engines (the oracle unrolls the
    identical rounds as CTEs).

    Scale shape: the fact join collapses to the ≤25×24 DISTINCT
    directed edge census in one agg — the only fact-sized work; the
    census is collected once and the three synchronous rounds run
    driver-side in exact Python integers with the oracle's
    truncate-toward-zero division (``_tdiv``) — zero cluster barriers
    per round at any data scale (the previous all-DataFrame unroll
    paid two joins + two normalization folds per round on a 25-row
    state).  Iteration count is a design constant; nothing fact-sized
    ever re-enters the loop — the pagerank/graph.py contract.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.expr("s_nationkey != c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    e_rows = [
        (r["src"], r["dst"])
        for r in _bounded_collect(
            edges, 625, "hits_hubs_authorities: nation-pair edge census"
        )
    ]  # dim-bounded (≤ |nations|²)
    nodes = sorted({a for a, _ in e_rows} | {b for _, b in e_rows})
    h = {node: _HITS_SCALE for node in nodes}

    def _norm(scores: dict) -> dict:
        tot = sum(v for v in scores.values() if v is not None)
        tot = tot if tot != 0 else None  # SQL div-by-zero → null
        return {
            node: _tdiv(_HITS_SCALE * v, tot) if v is not None else None
            for node, v in scores.items()
        }

    a: dict = {}
    for _ in range(_HITS_ROUNDS):
        a_raw = {node: 0 for node in nodes}
        for src, dst in e_rows:
            if h[src] is not None:
                a_raw[dst] += h[src]
        a = _norm(a_raw)
        h_raw = {node: 0 for node in nodes}
        for src, dst in e_rows:
            if a[dst] is not None:
                h_raw[src] += a[dst]
        h = _norm(h_raw)
    out = [(int(node), h[node], a[node]) for node in nodes]
    return spark.createDataFrame(
        out, schema="nationkey bigint, hub_ppm bigint, auth_ppm bigint"
    )


ROUND8_QUERIES["hits_hubs_authorities"] = hits_hubs_authorities


def _hits_oracle() -> str:
    rounds = []
    prev_h = "h0"
    for r in range(1, _HITS_ROUNDS + 1):
        rounds.append(f"""
a{r}_raw AS MATERIALIZED (
  SELECT n.node, coalesce(sum(p.h), 0) AS a
  FROM nodes n
  LEFT JOIN dpairs e ON e.dst = n.node
  LEFT JOIN {prev_h} p ON p.node = e.src
  GROUP BY n.node
),
a{r} AS MATERIALIZED (
  SELECT node, ({_HITS_SCALE} * a) // (SELECT sum(a) FROM a{r}_raw) AS a
  FROM a{r}_raw
),
h{r}_raw AS MATERIALIZED (
  SELECT n.node, coalesce(sum(p.a), 0) AS h
  FROM nodes n
  LEFT JOIN dpairs e ON e.src = n.node
  LEFT JOIN a{r} p ON p.node = e.dst
  GROUP BY n.node
),
h{r} AS MATERIALIZED (
  SELECT node, ({_HITS_SCALE} * h) // (SELECT sum(h) FROM h{r}_raw) AS h
  FROM h{r}_raw
)""")
        prev_h = f"h{r}"
    body = ",".join(rounds)
    return f"""
WITH dpairs AS MATERIALIZED (
  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM dpairs UNION SELECT dst FROM dpairs
),
h0 AS MATERIALIZED (SELECT node, {_HITS_SCALE}::BIGINT AS h FROM nodes),{body}
SELECT CAST(n.node AS BIGINT) AS nationkey,
       CAST(h{_HITS_ROUNDS}.h AS BIGINT) AS hub_ppm,
       CAST(a{_HITS_ROUNDS}.a AS BIGINT) AS auth_ppm
FROM nodes n
JOIN h{_HITS_ROUNDS} ON h{_HITS_ROUNDS}.node = n.node
JOIN a{_HITS_ROUNDS} ON a{_HITS_ROUNDS}.node = n.node
ORDER BY nationkey
"""


ROUND8_ORACLES["hits_hubs_authorities"] = _hits_oracle()


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
        .orderBy("brand")
    )


ROUND8_QUERIES["newsvendor_stock_level"] = newsvendor_stock_level

ROUND8_ORACLES["newsvendor_stock_level"] = """
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
        .orderBy("segment")
    )


ROUND8_QUERIES["regression_discontinuity"] = regression_discontinuity

ROUND8_ORACLES["regression_discontinuity"] = f"""
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
        .orderBy("segment", "region")
    )


ROUND8_QUERIES["disparate_impact_audit"] = disparate_impact_audit

ROUND8_ORACLES["disparate_impact_audit"] = """
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
        .orderBy("leaf")
    )


ROUND8_QUERIES["merkle_tree_diff"] = merkle_tree_diff

_mkl_sel_duck = X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':corrupt'")

ROUND8_ORACLES["merkle_tree_diff"] = f"""
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
        .orderBy("segment", "nation")
    )


ROUND8_QUERIES["t_closeness_audit"] = t_closeness_audit

ROUND8_ORACLES["t_closeness_audit"] = f"""
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
# rake_keywords — RAKE keyphrase extraction per source
# ---------------------------------------------------------------------------

from pyprima_spark.plans.constants import STOPWORDS as _STOPWORDS

_RAKE_STOPS = sorted(set(w for ws in _STOPWORDS.values() for w in ws))
_RAKE_TOPK = 5
_RAKE_MAXLEN = 4


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (SURVEY §2 #293) — Rose et al. 2010's
    Rapid Automatic Keyword Extraction, the PHRASE-level summarizer
    next to tfidf_top_terms' single tokens (tf-idf cannot surface
    "supply chain risk" as a unit; RAKE's whole point is that
    keyphrases are maximal stopword-free runs): candidate phrases are
    token runs split at stopwords/punctuation, word scores are
    deg(w)/freq(w) over the source's candidates, a phrase scores the
    sum of its words — per-word milli-floored (deterministic on both
    engines), top-5 phrases per source.

    Scale shape: tokenization explodes per document with windows
    PARTITIONED BY doc (document-length bounded — the sequence-ops
    class); word stats are one vocab-bounded agg; the top-k election
    is a WindowGroupLimit-partitioned rank per source.  The corpus
    never sorts globally.
    """
    stops = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(
            "filter(split(lower(text), '[^a-z]+'), t -> t <> '')"
        ).alias("toks"),
    )
    pos = docs.select(
        "doc_id",
        "source",
        F.posexplode("toks").alias("pos", "tok"),
    ).withColumn("is_stop", F.expr(f"tok IN ({stops})").cast("int"))
    wseg = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    words = (
        pos.withColumn("phrase_id", F.sum("is_stop").over(wseg))
        .filter("is_stop = 0")
    )
    phrases = materialize(
        words.groupBy("doc_id", "source", "phrase_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(pos, tok))), s -> s.tok), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
            F.collect_list("tok").alias("ptoks"),
        )
        .filter(F.expr(f"plen BETWEEN 2 AND {_RAKE_MAXLEN}"))
    )
    pwords = phrases.select(
        "source", "phrase", "plen", F.explode("ptoks").alias("tok")
    )
    # Word stats ride as windows over the SAME (source, tok) partition
    # the former aggregate+join re-shuffled pwords for — one exchange
    # serves both (guide §2.4); identical integer counts/sums.
    wst = Window.partitionBy("source", "tok")
    scored = (
        pwords.withColumn("freq", F.count(F.lit(1)).over(wst))
        .withColumn("deg", F.sum("plen").over(wst))
        .groupBy("source", "phrase", "plen")
        .agg(
            F.sum(F.expr("(1000 * deg) div freq")).alias("score_sum"),
            F.count(F.lit(1)).alias("n_words_obs"),
        )
    )
    # score per occurrence is identical (word stats are source-level),
    # so the summed score divided by occurrence count IS the phrase
    # score. n_occurrences needs no second phrase aggregate + join:
    # each occurrence contributes exactly plen word rows, so
    # n_words_obs = plen * n_occurrences and the division is exact.
    final = scored.select(
        "source",
        "phrase",
        "plen",
        F.expr("n_words_obs div plen").alias("n_occurrences"),
        F.expr(
            "cast(score_sum div (n_words_obs div plen) as bigint)"
        ).alias("score_milli"),
    )
    wtop = Window.partitionBy("source").orderBy(
        F.desc("score_milli"), F.asc("phrase")
    )
    return (
        final.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_RAKE_TOPK}")
        .select(
            "source",
            F.col("rk").cast("bigint").alias("rank"),
            "phrase",
            F.col("plen").cast("bigint").alias("n_words"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.col("score_milli").cast("bigint").alias("score_milli"),
        )
        .orderBy("source", "rank")
    )


ROUND8_QUERIES["rake_keywords"] = rake_keywords

_rake_stops_sql = ", ".join(f"'{w}'" for w in _RAKE_STOPS)

ROUND8_ORACLES["rake_keywords"] = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     t -> t <> '') AS toks
  FROM documents
),
pos AS MATERIALIZED (
  SELECT doc_id, source, p - 1 AS pos, toks[p] AS tok,
         CASE WHEN toks[p] IN ({_rake_stops_sql}) THEN 1 ELSE 0 END
           AS is_stop
  FROM toks, unnest(generate_series(1, len(toks))) AS t(p)
),
words AS MATERIALIZED (
  SELECT doc_id, source, pos, tok,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS phrase_id
  FROM pos
  QUALIFY is_stop = 0
),
phrases AS MATERIALIZED (
  SELECT doc_id, source, phrase_id,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen,
         list(tok ORDER BY pos) AS ptoks
  FROM words GROUP BY doc_id, source, phrase_id
  HAVING count(*) BETWEEN 2 AND {_RAKE_MAXLEN}
),
pwords AS MATERIALIZED (
  SELECT source, phrase, plen, unnest(ptoks) AS tok FROM phrases
),
wstats AS MATERIALIZED (
  SELECT source, tok, count(*) AS freq, sum(plen) AS deg
  FROM pwords GROUP BY source, tok
),
scored AS MATERIALIZED (
  SELECT p.source, p.phrase,
         sum((1000 * w.deg) // w.freq) AS score_sum,
         count(*) AS n_words_obs
  FROM pwords p JOIN wstats w ON w.source = p.source AND w.tok = p.tok
  GROUP BY p.source, p.phrase
),
final AS (
  SELECT f.source, f.phrase, f.plen, f.n_occurrences,
         CAST(s.score_sum // f.n_occurrences AS BIGINT) AS score_milli
  FROM (
    SELECT source, phrase, plen, count(*) AS n_occurrences
    FROM phrases GROUP BY source, phrase, plen
  ) f
  JOIN scored s ON s.source = f.source AND s.phrase = f.phrase
)
SELECT source,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY score_milli DESC, phrase)
            AS BIGINT) AS rank,
       phrase,
       CAST(plen AS BIGINT) AS n_words,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(score_milli AS BIGINT) AS score_milli
FROM final
QUALIFY rank <= {_RAKE_TOPK}
ORDER BY source, rank
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
        .orderBy("abc", "xyz")
    )


ROUND8_QUERIES["abc_xyz_inventory"] = abc_xyz_inventory

ROUND8_ORACLES["abc_xyz_inventory"] = """
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
# mmr_diversification — maximal marginal relevance re-ranking
# ---------------------------------------------------------------------------

from pyprima_spark.functions import vectors as V

_MMR_QUERIES = 3
_MMR_CANDS = 8
_MMR_SELECT = 4
_MMR_LAMBDA_TENTHS = 7  # lambda = 0.7


def mmr_diversification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL-MARGINAL-RELEVANCE re-ranking (SURVEY §2 #295) —
    Carbonell-Goldstein 1998, the diversity pass every production
    retrieval stack runs between ANN and the user: pure cosine top-k
    (ann_topk) happily returns four near-duplicates of the best hit;
    MMR greedily picks argmax lambda*rel - (1-lambda)*max-sim-to-
    selected, trading relevance against redundancy (rrf_fusion merges
    ACROSS rankers; this diversifies WITHIN one).  Greedy is
    inherently sequential, but the selection depth is a design
    constant (4 of 8 per query), so the rounds UNROLL: each is a
    census-sized argmax — the same unrolled-iteration contract as
    HITS/Hilbert.  Cosines are 4-dp rounded then lifted to integer
    ppm BEFORE the greedy, so every argmax compares exact integers
    and no 1-ulp float wobble can flip a pick between engines.

    Scale shape: the query set is a pushed literal id filter (the ANN
    contract); one narrow pass ranks the big table per query
    (WindowGroupLimit top-k per query); the candidate table (3x8 rows,
    with vectors) and its 8x8 sim matrix are materialized once and
    every greedy round touches only them.
    """
    from pyprima_spark.operators.similarity import with_vec_norm

    emb = with_vec_norm(_t(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    c = emb.filter(F.col("vec_id") >= _MMR_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cn"),
    )
    dot = V.dot_spark("qvec", "cvec")
    cos = (
        f"round(CASE WHEN qn = 0D OR cn = 0D THEN 0D"
        f" ELSE ({dot}) / (qn * cn) END, 4)"
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "rel_ppm", F.expr(f"cast({cos} * 1000000 as bigint)")
    )
    wtop = Window.partitionBy("query_id").orderBy(
        F.desc("rel_ppm"), F.asc("cand_id")
    )
    cands = materialize(
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_MMR_CANDS}")
        .select("query_id", "cand_id", "rel_ppm", "cvec", "cn")
    )
    a = cands.select(
        "query_id",
        F.col("cand_id").alias("ca"),
        F.col("cvec").alias("va"),
        F.col("cn").alias("na"),
    )
    b = cands.select(
        "query_id",
        F.col("cand_id").alias("cb"),
        F.col("cvec").alias("vb"),
        F.col("cn").alias("nb"),
    )
    pdot = V.dot_spark("va", "vb")
    psim = (
        f"round(CASE WHEN na = 0D OR nb = 0D THEN 0D"
        f" ELSE ({pdot}) / (na * nb) END, 4)"
    )
    # no materialize: sims feeds ONE bounded_collect below (an eager
    # checkpoint before a collect is a pure extra job)
    sims = (
        a.join(b, "query_id")
        .filter("ca != cb")
        .select(
            "query_id",
            "ca",
            "cb",
            F.expr(f"cast({psim} * 1000000 as bigint)").alias("sim_ppm"),
        )
    )
    lam = _MMR_LAMBDA_TENTHS
    # Greedy selection runs DRIVER-SIDE on the collected censuses (the
    # census-collect-then-iterate contract, SURVEY §7.24a): both tables
    # are bounded by design constants (3×8 candidates, 3×8×7 sim rows),
    # every compared quantity is an exact integer ppm, and the previous
    # all-DataFrame unroll paid 8 materialization jobs + per-round
    # joins on ≤24-row state (44 Spark jobs total for this key at any
    # scale — pure scheduler overhead; profiled 1.7 s build at sf0.1).
    cand_rows = _bounded_collect(
        cands.select("query_id", "cand_id", "rel_ppm"),
        _MMR_QUERIES * _MMR_CANDS,
        "mmr_diversification: candidate census",
    )
    sim_rows = _bounded_collect(
        sims,
        _MMR_QUERIES * _MMR_CANDS * (_MMR_CANDS - 1),
        "mmr_diversification: pairwise-sim census",
    )
    by_q: dict = {}
    for row in cand_rows:
        by_q.setdefault(row["query_id"], []).append(
            (int(row["cand_id"]), int(row["rel_ppm"]))
        )
    sim: dict = {}
    for row in sim_rows:
        sim[(row["query_id"], int(row["ca"]), int(row["cb"]))] = int(
            row["sim_ppm"]
        )
    out = []
    for qid in by_q:
        cl = by_q[qid]
        # rank 1: pure relevance, ties to the lowest cand_id (the w1
        # row_number ordering), redundancy pinned 0
        first = min(cl, key=lambda t: (-t[1], t[0]))
        chosen = [first[0]]
        out.append((int(qid), 1, first[0], first[1], 0))
        for r in range(2, _MMR_SELECT + 1):
            best = None
            for cid, rel in cl:
                if cid in chosen:
                    continue
                mx = max(
                    (
                        sim[(qid, cid, sc)]
                        for sc in chosen
                        if (qid, cid, sc) in sim
                    ),
                    default=None,
                )
                if mx is None:
                    # inner-join semantics: a candidate with no sim row
                    # to any selected item never reaches the argmax
                    continue
                score = _tdiv(lam * rel - (10 - lam) * mx, 10)
                key = (-score, cid)
                if best is None or key < best[0]:
                    best = (key, cid, rel, mx)
            if best is None:
                break
            chosen.append(best[1])
            out.append((int(qid), r, best[1], best[2], best[3]))
    return spark.createDataFrame(
        out,
        schema="query_id bigint, mmr_rank bigint, cand_id bigint,"
        " rel_ppm bigint, redundancy_ppm bigint",
    ).orderBy("query_id", "mmr_rank")


ROUND8_QUERIES["mmr_diversification"] = mmr_diversification


def _mmr_oracle() -> str:
    dim = V.EMB_DIM
    cos_qc = V.cosine_duck("qvec", "cvec", dim)
    cos_ab = V.cosine_duck("va", "vb", dim)
    lam = _MMR_LAMBDA_TENTHS
    rounds = []
    prev = "sel1"
    for r in range(2, _MMR_SELECT + 1):
        rounds.append(f"""
rem{r} AS MATERIALIZED (
  SELECT c.* FROM cands c
  LEFT JOIN {prev} s ON s.query_id = c.query_id AND s.cand_id = c.cand_id
  WHERE s.cand_id IS NULL
),
red{r} AS MATERIALIZED (
  SELECT r.query_id, r.cand_id, r.rel_ppm, max(m.sim_ppm) AS max_sim_ppm
  FROM rem{r} r
  JOIN sims m ON m.query_id = r.query_id AND m.ca = r.cand_id
  JOIN {prev} s ON s.query_id = m.query_id AND s.cand_id = m.cb
  GROUP BY r.query_id, r.cand_id, r.rel_ppm
),
pick{r} AS MATERIALIZED (
  SELECT query_id, cand_id, {r} AS mmr_rank, rel_ppm,
         max_sim_ppm AS redundancy_ppm
  FROM red{r}
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY
    ({lam} * rel_ppm - {10 - lam} * max_sim_ppm) // 10 DESC, cand_id) = 1
),
sel{r} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r}
)""")
        prev = f"sel{r}"
    body = ",".join(rounds)
    return f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(round({cos_qc.replace('qvec', 'q.vec').replace('cvec', 'c.vec')}, 4)
              * 1000000 AS BIGINT) AS rel_ppm,
         c.vec AS cvec
  FROM emb q CROSS JOIN emb c
  WHERE q.vec_id < {_MMR_QUERIES} AND c.vec_id >= {_MMR_QUERIES}
),
cands AS MATERIALIZED (
  SELECT query_id, cand_id, rel_ppm, cvec
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY rel_ppm DESC, cand_id)
          <= {_MMR_CANDS}
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
         CAST(round({cos_ab.replace('va', 'a.cvec').replace('vb', 'b.cvec')}, 4)
              * 1000000 AS BIGINT) AS sim_ppm
  FROM cands a JOIN cands b ON a.query_id = b.query_id
  WHERE a.cand_id != b.cand_id
),
sel1 AS MATERIALIZED (
  SELECT query_id, cand_id, 1 AS mmr_rank, rel_ppm,
         0::BIGINT AS redundancy_ppm
  FROM cands
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY rel_ppm DESC, cand_id) = 1
),{body}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(mmr_rank AS BIGINT) AS mmr_rank,
       CAST(cand_id AS BIGINT) AS cand_id,
       CAST(rel_ppm AS BIGINT) AS rel_ppm,
       CAST(redundancy_ppm AS BIGINT) AS redundancy_ppm
FROM sel{_MMR_SELECT}
ORDER BY query_id, mmr_rank
"""


ROUND8_ORACLES["mmr_diversification"] = _mmr_oracle()


# ---------------------------------------------------------------------------
# query_expansion_prf — Rocchio pseudo-relevance-feedback expansion
# ---------------------------------------------------------------------------

_PRF_TERMS = ["join", "hash", "scan", "merge"]  # bm25_ranking's query
_PRF_TOPK_DOCS = 10
_PRF_TOPK_TERMS = 10
_PRF_BETA_MILLI = 750  # beta = 0.75, alpha = 1


def query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCCHIO pseudo-relevance-feedback expansion (SURVEY §2 #296) —
    the query-UNDERSTANDING step in front of bm25_ranking (Rocchio
    1971; Buckley's SMART PRF): take the query's top-10 documents as
    pseudo-relevant, fold their term mass back into the query with
    w(t) = alpha·[t in q] + beta·avg tf(t, topdocs), and emit the
    top-10 expansion terms — the classic fix for vocabulary mismatch
    (a "hash join" query learns "bucket"/"probe" without a thesaurus).
    Same query literal as bm25_ranking so the two keys read as one
    retrieval pipeline.  Weights are exact milli integers
    (1000·[t∈q] + (750·Σtf) div k); relevance for doc selection is
    the integer query-term tf sum (no logs at selection time).

    Scale shape: the token explode joins the broadcast 4-term query
    BEFORE any shuffle (the bm25 contract); top-10 docs and top-10
    terms are global row_number ranks with the filter BELOW them, so
    Spark plans WindowGroupLimit — the distributed top-k shape the
    plan gate accepts; the feedback term census is bounded by the 10
    selected docs' vocabularies.
    """
    from pyprima_spark.functions.text import tokens_spark

    stops = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(tokens_spark("text")).alias("toks")
    )
    toks = docs.select("doc_id", F.explode("toks").alias("term"))
    qterms = spark.createDataFrame(
        [(t,) for t in _PRF_TERMS], "term string"
    )
    rel = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    wtop = Window.orderBy(F.desc("matches"), F.asc("doc_id"))
    topdocs = materialize(
        rel.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_PRF_TOPK_DOCS}")
        .select("doc_id")
    )
    # semi-join BEFORE the explode: only the 10 selected docs ever
    # re-tokenize (the corpus-wide explode above exists only for the
    # query-filtered relevance pass)
    feedback = (
        docs.join(F.broadcast(topdocs), "doc_id", "left_semi")
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.expr(f"term NOT IN ({stops})"))
        .filter(F.expr("term rlike '^[a-z]{2,}$'"))
        .groupBy("term")
        .agg(
            F.sum(F.lit(1)).alias("tf_sum"),
            F.countDistinct("doc_id").alias("df_topk"),
        )
    )
    weighted = feedback.select(
        "term",
        "tf_sum",
        "df_topk",
        F.expr(
            f"CASE WHEN term IN ({', '.join(repr(t) for t in _PRF_TERMS)})"
            " THEN 1 ELSE 0 END"
        ).alias("in_original"),
        F.expr(
            f"1000 * CASE WHEN term IN"
            f" ({', '.join(repr(t) for t in _PRF_TERMS)})"
            f" THEN 1 ELSE 0 END"
            f" + ({_PRF_BETA_MILLI} * tf_sum) div {_PRF_TOPK_DOCS}"
        ).alias("weight_milli"),
    )
    wrank = Window.orderBy(F.desc("weight_milli"), F.asc("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(wrank))
        .filter(f"rank <= {_PRF_TOPK_TERMS}")
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            F.col("weight_milli").cast("bigint").alias("weight_milli"),
            F.col("df_topk").cast("bigint").alias("df_topk"),
            F.col("in_original").cast("bigint").alias("in_original"),
        )
        .orderBy("rank")
    )


ROUND8_QUERIES["query_expansion_prf"] = query_expansion_prf

_prf_terms_sql = ", ".join(f"'{t}'" for t in _PRF_TERMS)

ROUND8_ORACLES["query_expansion_prf"] = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest({X.tokens_duck('text')}) AS term FROM documents
),
rel AS (
  SELECT doc_id, count(*) AS matches
  FROM toks WHERE term IN ({_prf_terms_sql})
  GROUP BY doc_id
),
topdocs AS MATERIALIZED (
  SELECT doc_id FROM rel
  QUALIFY row_number() OVER (ORDER BY matches DESC, doc_id)
          <= {_PRF_TOPK_DOCS}
),
feedback AS (
  SELECT term, count(*) AS tf_sum, count(DISTINCT t.doc_id) AS df_topk
  FROM toks t JOIN topdocs d ON d.doc_id = t.doc_id
  WHERE term NOT IN ({_rake_stops_sql})
    AND regexp_matches(term, '^[a-z]{{2,}}$')
  GROUP BY term
),
weighted AS (
  SELECT term, tf_sum, df_topk,
         CASE WHEN term IN ({_prf_terms_sql}) THEN 1 ELSE 0 END
           AS in_original,
         1000 * CASE WHEN term IN ({_prf_terms_sql}) THEN 1 ELSE 0 END
           + ({_PRF_BETA_MILLI} * tf_sum) // {_PRF_TOPK_DOCS}
           AS weight_milli
  FROM feedback
)
SELECT CAST(row_number() OVER (ORDER BY weight_milli DESC, term) AS BIGINT)
         AS rank,
       term,
       CAST(weight_milli AS BIGINT) AS weight_milli,
       CAST(df_topk AS BIGINT) AS df_topk,
       CAST(in_original AS BIGINT) AS in_original
FROM weighted
QUALIFY rank <= {_PRF_TOPK_TERMS}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# capture_recapture_dups — Lincoln-Petersen/Chapman dedup-recall estimate
# ---------------------------------------------------------------------------


def capture_recapture_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE estimate of the true near-dup population
    (SURVEY §2 #297) — the ecology estimator (Lincoln-Petersen;
    Chapman's unbiased form) answering the question every dedup
    pipeline dodges: "how many near-dup pairs did we MISS?" —
    lsh_precision_eval measures precision against brute force at test
    scale, but at 100 TB there is no brute-force truth; two
    INDEPENDENT capture passes (LSH bands 0-1 vs bands 2-3 of the
    shared 16-minhash signature) each catch a sample of the dup
    population, and the overlap calibrates the total:
    N-hat = (n_a+1)(n_b+1)/(m+1) - 1.  The published coverage_bp of
    the full 4-band index against N-hat is the label-free RECALL
    estimate.

    Scale shape: the shared minhash band table (materialized once,
    the dedup_minhash_lsh machinery); candidate pairs from band-bucket
    equi-joins only (never all-pairs); ONE per-pair groupBy derives
    both capture flags, so all four censuses (n_a, n_b, overlap,
    union) fold in a single pass — no per-census distinct+join
    branches re-shuffling the pair table.
    """
    from pyprima_spark.operators.dedup import minhash_band_table

    docs = _t(spark, sf_dir, "documents")
    bands = materialize(minhash_band_table(docs, "doc_id", "text"))
    left = bands.select(
        "band_idx", "band_sig", F.col("doc").alias("d1")
    )
    right = bands.select(
        F.col("band_idx").alias("bi2"),
        F.col("band_sig").alias("bs2"),
        F.col("doc").alias("d2"),
    )
    pairs = left.join(
        right,
        (F.col("band_idx") == F.col("bi2"))
        & (F.col("band_sig") == F.col("bs2"))
        & (F.col("d1") < F.col("d2")),
    ).select("band_idx", "d1", "d2")
    # one pass: each distinct pair carries its two capture flags, so
    # n_a / n_b / overlap / union fold in a single aggregate
    flags = pairs.groupBy("d1", "d2").agg(
        F.max(
            F.expr("CASE WHEN band_idx < 2 THEN 1 ELSE 0 END")
        ).alias("in_a"),
        F.max(
            F.expr("CASE WHEN band_idx >= 2 THEN 1 ELSE 0 END")
        ).alias("in_b"),
    )
    tots = flags.agg(
        F.coalesce(F.sum("in_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum("in_b"), F.lit(0)).alias("n_b"),
        F.coalesce(F.sum(F.expr("in_a * in_b")), F.lit(0)).alias("overlap"),
        F.count(F.lit(1)).alias("n_union"),
    )
    return (
        tots
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("overlap").cast("bigint").alias("overlap"),
            F.col("n_union").cast("bigint").alias("n_union"),
            F.expr(
                "cast(((n_a + 1) * (n_b + 1)) div (overlap + 1) - 1"
                " as bigint)"
            ).alias("chapman_estimate"),
            F.expr(
                "cast(coalesce((10000 * n_union) div nullif(((n_a + 1)"
                " * (n_b + 1)) div (overlap + 1) - 1, 0), -1) as bigint)"
            ).alias("union_coverage_bp"),
        )
    )


ROUND8_QUERIES["capture_recapture_dups"] = capture_recapture_dups

from pyprima_spark.plans.constants import MINHASH_BANDS as _CRD_NBANDS

# Local copy of the shared minhash band CTE (oracles.py owns the
# canonical one, but importing it here would be a circular import —
# oracles.py imports ROUND8_ORACLES from this module).
_CRD_BANDS_CTE = f"""sigs AS (
  SELECT doc_id AS doc,
         {X.bands_duck(X.minhashes_duck('bh'), _CRD_NBANDS)} AS bands
  FROM (
    SELECT doc_id, {X.base_hashes_duck('shingles')} AS bh
    FROM (
      SELECT doc_id, {X.shingles_duck(X.tokens_duck('text'))} AS shingles
      FROM documents
    )
    WHERE len(shingles) > 0
  )
),
bands AS (
  SELECT doc, unnest(bands) AS band_sig,
         unnest(generate_series(1, len(bands))) AS band_idx
  FROM sigs
)"""

ROUND8_ORACLES["capture_recapture_dups"] = f"""
WITH {_CRD_BANDS_CTE},
pairs AS MATERIALIZED (
  SELECT a.band_idx, a.doc AS d1, b.doc AS d2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
              AND a.doc < b.doc
),
pa AS MATERIALIZED (
  SELECT DISTINCT d1, d2 FROM pairs WHERE band_idx <= 2
),
pb AS MATERIALIZED (
  SELECT DISTINCT d1, d2 FROM pairs WHERE band_idx > 2
),
pu AS (SELECT DISTINCT d1, d2 FROM pairs),
counts AS (
  SELECT (SELECT count(*) FROM pa) AS n_a,
         (SELECT count(*) FROM pb) AS n_b,
         (SELECT count(*) FROM pa JOIN pb USING (d1, d2)) AS overlap,
         (SELECT count(*) FROM pu) AS n_union
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(overlap AS BIGINT) AS overlap,
       CAST(n_union AS BIGINT) AS n_union,
       CAST(((n_a + 1) * (n_b + 1)) // (overlap + 1) - 1 AS BIGINT)
         AS chapman_estimate,
       CAST(coalesce((10000 * n_union)
                     // nullif(((n_a + 1) * (n_b + 1)) // (overlap + 1) - 1,
                               0), -1) AS BIGINT) AS union_coverage_bp
FROM counts
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
        .orderBy("year")
    )


ROUND8_QUERIES["mann_kendall_trend"] = mann_kendall_trend

ROUND8_ORACLES["mann_kendall_trend"] = """
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
# voptimal_histogram — exhaustively optimal 4-bucket histogram on stripes
# ---------------------------------------------------------------------------

_VOPT_STRIPES = 20
_VOPT_STRIPE_CENTS = 3000000  # $30k stripes over o_totalprice


def voptimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-OPTIMAL histogram (SURVEY §2 #299) — Jagadish et al. 1998's
    error-optimal bucket boundaries, the histogram the
    equidepth/price_histogram keys approximate: equi-depth equalizes
    COUNTS, V-optimal minimizes within-bucket frequency VARIANCE,
    which is what a selectivity estimator actually wants.  The
    classical solution is sequential DP; on the stripe CENSUS the
    search space is closed-form enumerable — C(19,3) = 969 boundary
    triples for 4 buckets over 20 stripes — so this solves it
    EXACTLY by exhaustive interval-lattice join, no DP recursion and
    no window: bucket SSE = (len·Σv² − (Σv)²)/len per interval,
    integer-floored identically on both engines, argmin with
    deterministic boundary tiebreak.  The equal-width baseline's SSE
    rides along so the output shows what optimality buys.

    Scale shape: one map-side stripe assignment + count agg (the only
    fact pass, still distributed); the 210-interval lattice and the
    969 boundary triples enumerate driver-side on the collected
    20-stripe census.  Bucket count and stripe resolution are
    operator constants.
    """
    # The one fact pass (stripe assignment + count agg) stays
    # distributed; the interval lattice, the C(19,3) boundary
    # enumeration and the equal-width baseline run DRIVER-SIDE on the
    # bounded_collect'ed 20-stripe census in exact Python integers — a
    # census-collect-then-iterate key (SURVEY §7.24a; the former
    # census³ joins + 4-chain equi-join + TakeOrdered were ~13 jobs).
    # len·svv ≥ sv² (Cauchy-Schwarz), so the SSE div is on
    # non-negative operands and // is exact SQL div.
    from pyprima_spark.operators.exactmath import bounded_collect

    orders = _t(spark, sf_dir, "orders")
    cnt = {
        r["s"]: int(r["cnt"])
        for r in bounded_collect(
            orders.select(
                F.expr(
                    "least(cast(cast(cast(o_totalprice as decimal(18,2))"
                    f" * 100 as bigint) div {_VOPT_STRIPE_CENTS} as int),"
                    f" {_VOPT_STRIPES - 1})"
                ).alias("s")
            )
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("cnt")),
            _VOPT_STRIPES,
            "voptimal_histogram: price stripe census",
        )
    }
    v = [cnt.get(s, 0) for s in range(_VOPT_STRIPES)]
    psv = [0]
    psvv = [0]
    for x in v:
        psv.append(psv[-1] + x)
        psvv.append(psvv[-1] + x * x)

    def interval(i: int, j: int):
        ln = j - i + 1
        sv = psv[j + 1] - psv[i]
        svv = psvv[j + 1] - psvv[i]
        return sv, (ln * svv - sv * sv) // ln

    s_last = _VOPT_STRIPES - 1
    best = None
    for b1 in range(0, s_last - 2):
        n1, e1 = interval(0, b1)
        for b2 in range(b1 + 1, s_last - 1):
            n2, e2 = interval(b1 + 1, b2)
            for b3 in range(b2 + 1, s_last):
                n3, e3 = interval(b2 + 1, b3)
                n4, e4 = interval(b3 + 1, s_last)
                key = (e1 + e2 + e3 + e4, b1, b2, b3)
                if best is None or key < best[0]:
                    best = (key, (n1, n2, n3, n4))
    (total_sse, b1, b2, b3), ns = best
    ew = _VOPT_STRIPES // 4
    equalwidth_sse = sum(
        interval(k * ew, (k + 1) * ew - 1 if k < 3 else s_last)[1]
        for k in range(4)
    )
    bounds = [(0, b1), (b1 + 1, b2), (b2 + 1, b3), (b3 + 1, s_last)]
    out = [
        (k + 1, lo, hi, ns[k], total_sse, equalwidth_sse)
        for k, (lo, hi) in enumerate(bounds)
    ]
    return spark.createDataFrame(
        out,
        schema="bucket bigint, lo_stripe bigint, hi_stripe bigint,"
        " n_rows bigint, opt_sse bigint, equalwidth_sse bigint",
    ).orderBy("bucket")


ROUND8_QUERIES["voptimal_histogram"] = voptimal_histogram

ROUND8_ORACLES["voptimal_histogram"] = f"""
WITH stripe_counts AS (
  SELECT least(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) // {_VOPT_STRIPE_CENTS} AS INT),
               {_VOPT_STRIPES - 1}) AS s,
         count(*) AS cnt
  FROM orders GROUP BY 1
),
stripes AS MATERIALIZED (
  SELECT CAST(g.s AS INT) AS s, coalesce(c.cnt, 0) AS v
  FROM unnest(generate_series(0, {_VOPT_STRIPES - 1})) AS g(s)
  LEFT JOIN stripe_counts c ON c.s = g.s
),
intervals AS MATERIALIZED (
  SELECT a.s AS i, b.s AS j, count(*) AS len, sum(m.v) AS sv,
         CAST((count(*) * sum(m.v::HUGEINT * m.v)
               - sum(m.v)::HUGEINT * sum(m.v))
              // count(*) AS BIGINT) AS sse
  FROM stripes a
  JOIN stripes b ON b.s >= a.s
  JOIN stripes m ON m.s BETWEEN a.s AND b.s
  GROUP BY a.s, b.s
),
parts AS MATERIALIZED (
  SELECT i1.j AS b1, i2.j AS b2, i3.j AS b3,
         i1.sse + i2.sse + i3.sse + i4.sse AS total_sse,
         i1.sv AS n1, i2.sv AS n2, i3.sv AS n3, i4.sv AS n4
  FROM intervals i1
  JOIN intervals i2 ON i2.i = i1.j + 1
  JOIN intervals i3 ON i3.i = i2.j + 1
  JOIN intervals i4 ON i4.i = i3.j + 1
  WHERE i1.i = 0 AND i4.j = {_VOPT_STRIPES - 1}
),
best AS MATERIALIZED (
  SELECT * FROM parts
  QUALIFY row_number() OVER (ORDER BY total_sse, b1, b2, b3) = 1
),
baseline AS (
  SELECT sum(sse) AS equalwidth_sse FROM intervals
  WHERE (i = 0 AND j = {_VOPT_STRIPES // 4 - 1})
     OR (i = {_VOPT_STRIPES // 4} AND j = {2 * (_VOPT_STRIPES // 4) - 1})
     OR (i = {2 * (_VOPT_STRIPES // 4)}
         AND j = {3 * (_VOPT_STRIPES // 4) - 1})
     OR (i = {3 * (_VOPT_STRIPES // 4)} AND j = {_VOPT_STRIPES - 1})
),
buckets AS (
  SELECT 1 AS bucket, 0 AS lo, b1 AS hi, n1 AS n_rows,
         total_sse FROM best
  UNION ALL SELECT 2, b1 + 1, b2, n2, total_sse FROM best
  UNION ALL SELECT 3, b2 + 1, b3, n3, total_sse FROM best
  UNION ALL SELECT 4, b3 + 1, {_VOPT_STRIPES - 1}, n4, total_sse FROM best
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(lo AS BIGINT) AS lo_stripe,
       CAST(hi AS BIGINT) AS hi_stripe,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(total_sse AS BIGINT) AS opt_sse,
       CAST(equalwidth_sse AS BIGINT) AS equalwidth_sse
FROM buckets CROSS JOIN baseline
ORDER BY bucket
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
        .orderBy("event_type", "hour")
    )


ROUND8_QUERIES["burstiness_fano"] = burstiness_fano

_fano_expr = (
    "coalesce((1000 * (n_periods * scc - sc::HUGEINT * sc))"
    " // nullif((n_periods - 1) * sc::HUGEINT, 0), -1)"
)

ROUND8_ORACLES["burstiness_fano"] = f"""
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
# youden_threshold — optimal operating point on the ROC curve
# ---------------------------------------------------------------------------


def youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YOUDEN-J optimal threshold per segment (SURVEY §2 #301) — the
    cut-CHOOSING step the eval family stopped short of: roc_auc_rank
    proves the score ranks, average_precision_eval prices the
    imbalance, calibration keys check the probabilities — but
    production needs ONE threshold, and Youden 1950's J = TPR − FPR
    is the standard cut that maximizes balanced correctness
    (equivalently the KS distance between the class score
    distributions).  Evaluated at every score-level boundary on the
    census: J_milli = (1000·tp)/P − (1000·fp)/N via cross-multiplied
    exact integers, argmax with the lowest-threshold tiebreak,
    published with the confusion counts AT the chosen cut.

    Scale shape: the same one-agg score census as the isotonic/AP
    keys (≤41 levels × 5 segments); cumulative counts via windows
    PARTITIONED by segment over the census; argmax by census
    self-election (left_anti), windowless below the census.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(CASE WHEN o_orderdate < date'1998-01-01'"
            " THEN cast(o_totalprice as decimal(18,2)) * 100"
            " ELSE 0 END) as bigint)"
        ).alias("spend_c"),
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("y"),
    )
    census = (
        per_cust.join(cust, "cust")
        .select(
            "segment",
            F.expr(
                f"least(cast(spend_c div 5000000 as int), {_ISO_LEVELS})"
            ).alias("lvl"),
            "y",
        )
        .groupBy("segment", "lvl")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    w = (
        Window.partitionBy("segment")
        .orderBy(F.desc("lvl"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cuts = materialize(
        census.withColumn("tp", F.sum("pos").over(w))
        .withColumn("predpos", F.sum("n").over(w))
        .withColumn("fp", F.expr("predpos - tp"))
    )
    totals = cuts.groupBy("segment").agg(
        F.sum("pos").alias("p"), F.sum(F.expr("n - pos")).alias("nneg")
    )
    j = cuts.join(F.broadcast(totals), "segment").select(
        "segment",
        F.col("lvl").alias("threshold_level"),
        "tp",
        "fp",
        "p",
        "nneg",
        # one-class segments (possible at tiny SF): J undefined, use the
        # out-of-range -9999 sentinel (J lives in [-1000, 1000] milli)
        F.expr(
            "cast(coalesce((1000 * cast(tp as decimal(38,0)) * nneg"
            " - 1000 * cast(fp as decimal(38,0)) * p)"
            " div nullif(cast(p as decimal(38,0)) * nneg, 0), -9999)"
            " as bigint)"
        ).alias("j_milli"),
    )
    other = j.select(
        F.col("segment").alias("o_seg"),
        F.col("j_milli").alias("o_j"),
        F.col("threshold_level").alias("o_lvl"),
    )
    best = j.join(
        F.broadcast(other),
        F.expr(
            "segment = o_seg AND (o_j > j_milli"
            " OR (o_j = j_milli AND o_lvl < threshold_level))"
        ),
        "left_anti",
    )
    return best.select(
        "segment",
        F.col("threshold_level").cast("bigint").alias("threshold_level"),
        F.col("j_milli").cast("bigint").alias("j_milli"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.expr("cast(p - tp as bigint)").alias("fn"),
        F.expr("cast(nneg - fp as bigint)").alias("tn"),
    ).orderBy("segment")


ROUND8_QUERIES["youden_threshold"] = youden_threshold

ROUND8_ORACLES["youden_threshold"] = f"""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       ELSE 0 END) AS BIGINT) AS spend_c,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
),
census AS (
  SELECT c.c_mktsegment AS segment,
         least(CAST(spend_c // 5000000 AS INT), {_ISO_LEVELS}) AS lvl,
         count(*) AS n, sum(y) AS pos
  FROM per_cust p JOIN customer c ON c.c_custkey = p.cust
  GROUP BY 1, 2
),
cuts AS MATERIALIZED (
  SELECT segment, lvl,
         sum(pos) OVER w AS tp,
         sum(n) OVER w - sum(pos) OVER w AS fp
  FROM census
  WINDOW w AS (PARTITION BY segment ORDER BY lvl DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
totals AS (
  SELECT segment, sum(pos) AS p, sum(n - pos) AS nneg
  FROM census GROUP BY segment
),
j AS MATERIALIZED (
  SELECT c.segment, c.lvl AS threshold_level, c.tp, c.fp, t.p, t.nneg,
         CAST(coalesce((1000 * c.tp::HUGEINT * t.nneg
                        - 1000 * c.fp::HUGEINT * t.p)
                       // nullif(t.p::HUGEINT * t.nneg, 0), -9999)
              AS BIGINT) AS j_milli
  FROM cuts c JOIN totals t USING (segment)
)
SELECT segment,
       CAST(threshold_level AS BIGINT) AS threshold_level,
       CAST(j_milli AS BIGINT) AS j_milli,
       CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(p - tp AS BIGINT) AS fn,
       CAST(nneg - fp AS BIGINT) AS tn
FROM j a
WHERE NOT EXISTS (
  SELECT 1 FROM j b
  WHERE b.segment = a.segment
    AND (b.j_milli > a.j_milli
         OR (b.j_milli = a.j_milli
             AND b.threshold_level < a.threshold_level))
)
ORDER BY segment
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


ROUND8_QUERIES["levene_variance_test"] = levene_variance_test

ROUND8_ORACLES["levene_variance_test"] = """
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
# degree_assortativity — degree-degree correlation of the trade graph
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the undirected nation trade graph
    (SURVEY §2 #303) — Newman 2002's mixing coefficient, the one
    STRUCTURAL summary the graph family lacks (centrality ranks
    nodes, k-core/modularity find groups; assortativity says whether
    hubs attach to hubs (r > 0, social nets) or to leaves (r < 0,
    the internet/trade pattern) — which decides whether hub failure
    fragments the graph).  Pearson correlation of endpoint degrees
    over edges, folded to one exact integer expression:
    r_milli = 1000·(4MC − A²) div (2MB − A²) with A = Σ(j+k),
    B = Σ(j²+k²), C = Σjk over the edge census — no float, one
    trailing division.

    Scale shape: distinct-edge census (≤25·24/2) from one fact join
    agg; degrees by a census groupBy broadcast back twice; the moment
    fold is a 1-row aggregate.  Windowless.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    edges = materialize(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.expr("s_nationkey != c_nationkey"))
        .select(
            F.expr("least(s_nationkey, c_nationkey)").alias("a"),
            F.expr("greatest(s_nationkey, c_nationkey)").alias("b"),
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("j"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("k"))
    moments = (
        edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.expr("j + k")).alias("sa"),
            F.sum(F.expr("cast(j as decimal(38,0)) * j"
                         " + cast(k as decimal(38,0)) * k")).alias("sb"),
            F.sum(F.expr("cast(j as decimal(38,0)) * k")).alias("sc"),
        )
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        moments.crossJoin(F.broadcast(nodes))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("m").cast("bigint").alias("n_edges"),
            F.expr(
                "cast(coalesce((1000 * (4 * m * sc"
                " - cast(sa as decimal(38,0)) * sa))"
                " div nullif(2 * m * sb - cast(sa as decimal(38,0)) * sa,"
                " 0), 0) as bigint)"
            ).alias("assortativity_milli"),
            F.expr(
                "CASE WHEN coalesce((1000 * (4 * m * sc"
                " - cast(sa as decimal(38,0)) * sa))"
                " div nullif(2 * m * sb - cast(sa as decimal(38,0)) * sa,"
                " 0), 0) > 100 THEN 'assortative'"
                " WHEN coalesce((1000 * (4 * m * sc"
                " - cast(sa as decimal(38,0)) * sa))"
                " div nullif(2 * m * sb - cast(sa as decimal(38,0)) * sa,"
                " 0), 0) < -100 THEN 'disassortative'"
                " ELSE 'neutral' END"
            ).alias("mixing_class"),
        )
    )


ROUND8_QUERIES["degree_assortativity"] = degree_assortativity

_das_r = (
    "coalesce((1000 * (4 * m * sc - sa::HUGEINT * sa))"
    " // nullif(2 * m * sb - sa::HUGEINT * sa, 0), 0)"
)

ROUND8_ORACLES["degree_assortativity"] = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
         greatest(s_nationkey, c_nationkey) AS b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY node
),
moments AS (
  SELECT count(*) AS m,
         sum(da.deg + db.deg) AS sa,
         sum(da.deg::HUGEINT * da.deg + db.deg::HUGEINT * db.deg) AS sb,
         sum(da.deg::HUGEINT * db.deg) AS sc
  FROM edges e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
),
nodes AS (SELECT count(*) AS n_nodes FROM deg)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(m AS BIGINT) AS n_edges,
       CAST({_das_r} AS BIGINT) AS assortativity_milli,
       CASE WHEN {_das_r} > 100 THEN 'assortative'
            WHEN {_das_r} < -100 THEN 'disassortative'
            ELSE 'neutral' END AS mixing_class
FROM moments CROSS JOIN nodes
"""


# ---------------------------------------------------------------------------
# decision_stump_1r — best single-split rule by exact weighted Gini
# ---------------------------------------------------------------------------

_STUMP_TOPK = 3


def decision_stump_1r(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-RULE decision stump (SURVEY §2 #304) — Holte 1993's famous
    baseline ("very simple classification rules perform well"), the
    interpretable-model floor every model-eval key implicitly
    compares against: enumerate every single binary split (9 balance
    thresholds, 5 segment-vs-rest, 5 region-vs-rest) for predicting
    late conversion, score by exact weighted Gini impurity, publish
    the top 3.  Gini per side = (n² − pos² − neg²)/n milli-floored;
    the weighted sum over two sides uses per-side floors —
    deterministic on both engines, and a real ranking signal (the
    winning stump IS the strongest single feature, the thing feature
    selection wants first).

    Scale shape: one fact agg to the ≤10·5·5-cell feature census;
    candidate splits are a literal table cross-joined with the census
    (19 × 250 rows); Gini folds and the top-3 election run on those
    censuses.  Windowless except the 19-row rank.
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
            F.expr(
                "least(greatest(cast((cast(cast(c_acctbal as decimal(12,2))"
                " * 100 as bigint) + 100000) div 110000 as int), 0), 9)"
            ).alias("bal"),
        )
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("y")
    )
    cells = materialize(
        per_cust.join(cust, "cust")
        .groupBy("segment", "region", "bal")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    cand_rows = []
    for c in range(9):
        cand_rows.append(f"named_struct('attribute', 'bal', 'split_value', cast({c} as string))")
    cands_sql = ", ".join(cand_rows)
    bal_cands = spark.range(1).select(
        F.explode(F.expr(f"array({cands_sql})")).alias("c")
    ).select("c.attribute", "c.split_value")
    seg_cands = cells.select(
        F.lit("segment").alias("attribute"),
        F.col("segment").alias("split_value"),
    ).distinct()
    reg_cands = cells.select(
        F.lit("region").alias("attribute"),
        F.col("region").alias("split_value"),
    ).distinct()
    cands = bal_cands.unionByName(seg_cands).unionByName(reg_cands)
    sided = cands.join(F.broadcast(cells)).select(
        "attribute",
        "split_value",
        F.expr(
            "CASE WHEN attribute = 'bal' THEN"
            " (CASE WHEN bal <= cast(split_value as int) THEN 'left'"
            " ELSE 'right' END)"
            " WHEN attribute = 'segment' THEN"
            " (CASE WHEN segment = split_value THEN 'left'"
            " ELSE 'right' END)"
            " ELSE (CASE WHEN region = split_value THEN 'left'"
            " ELSE 'right' END) END"
        ).alias("side"),
        "n",
        "pos",
    )
    sides = sided.groupBy("attribute", "split_value", "side").agg(
        F.sum("n").alias("ns"), F.sum("pos").alias("ps")
    )
    gini = (
        sides.withColumn(
            "g_num",
            F.expr(
                "cast(ns as decimal(38,0)) * ns"
                " - cast(ps as decimal(38,0)) * ps"
                " - cast(ns - ps as decimal(38,0)) * (ns - ps)"
            ),
        )
        .groupBy("attribute", "split_value")
        .agg(
            F.sum(F.expr("(1000 * g_num) div ns")).alias("gini_raw"),
            F.sum("ns").alias("n_total"),
            F.sum(
                F.expr("CASE WHEN side = 'left' THEN ns ELSE 0 END")
            ).alias("n_left"),
            F.sum(
                F.expr("CASE WHEN side = 'left' THEN ps ELSE 0 END")
            ).alias("pos_left"),
            F.sum(
                F.expr("CASE WHEN side = 'right' THEN ns ELSE 0 END")
            ).alias("n_right"),
            F.sum(
                F.expr("CASE WHEN side = 'right' THEN ps ELSE 0 END")
            ).alias("pos_right"),
        )
        .withColumn(
            "gini_milli", F.expr("cast(gini_raw div n_total as bigint)")
        )
    )
    wr = Window.orderBy(
        F.asc("gini_milli"), F.asc("attribute"), F.asc("split_value")
    )
    return (
        gini.withColumn("rank", F.row_number().over(wr))
        .filter(f"rank <= {_STUMP_TOPK}")
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "attribute",
            "split_value",
            F.col("gini_milli").cast("bigint").alias("gini_milli"),
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("pos_left").cast("bigint").alias("pos_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.col("pos_right").cast("bigint").alias("pos_right"),
        )
        .orderBy("rank")
    )


ROUND8_QUERIES["decision_stump_1r"] = decision_stump_1r

ROUND8_ORACLES["decision_stump_1r"] = f"""
WITH cust AS (
  SELECT c_custkey AS cust, c_mktsegment AS segment, r_name AS region,
         least(greatest(CAST((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                              AS BIGINT) + 100000) // 110000 AS INT), 0), 9)
           AS bal
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
per_cust AS (
  SELECT o_custkey AS cust,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
),
cells AS MATERIALIZED (
  SELECT segment, region, bal, count(*) AS n, sum(y) AS pos
  FROM per_cust JOIN cust USING (cust)
  GROUP BY segment, region, bal
),
cands AS (
  SELECT 'bal' AS attribute, CAST(c AS VARCHAR) AS split_value
  FROM unnest(generate_series(0, 8)) AS t(c)
  UNION ALL SELECT DISTINCT 'segment', segment FROM cells
  UNION ALL SELECT DISTINCT 'region', region FROM cells
),
sided AS (
  SELECT attribute, split_value,
         CASE WHEN attribute = 'bal' THEN
                (CASE WHEN bal <= CAST(split_value AS INT) THEN 'left'
                 ELSE 'right' END)
              WHEN attribute = 'segment' THEN
                (CASE WHEN segment = split_value THEN 'left'
                 ELSE 'right' END)
              ELSE (CASE WHEN region = split_value THEN 'left'
                    ELSE 'right' END) END AS side,
         n, pos
  FROM cands CROSS JOIN cells
),
sides AS (
  SELECT attribute, split_value, side, sum(n) AS ns, sum(pos) AS ps
  FROM sided GROUP BY 1, 2, 3
),
gini AS (
  SELECT attribute, split_value,
         CAST(sum((1000 * (ns::HUGEINT * ns - ps::HUGEINT * ps
                           - (ns - ps)::HUGEINT * (ns - ps))) // ns)
              // sum(ns) AS BIGINT) AS gini_milli,
         sum(CASE WHEN side = 'left' THEN ns ELSE 0 END) AS n_left,
         sum(CASE WHEN side = 'left' THEN ps ELSE 0 END) AS pos_left,
         sum(CASE WHEN side = 'right' THEN ns ELSE 0 END) AS n_right,
         sum(CASE WHEN side = 'right' THEN ps ELSE 0 END) AS pos_right
  FROM sides GROUP BY attribute, split_value
)
SELECT CAST(row_number() OVER (ORDER BY gini_milli, attribute, split_value)
            AS BIGINT) AS rank,
       attribute, split_value,
       CAST(gini_milli AS BIGINT) AS gini_milli,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(pos_left AS BIGINT) AS pos_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(pos_right AS BIGINT) AS pos_right
FROM gini
QUALIFY rank <= {_STUMP_TOPK}
ORDER BY rank
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
    ).orderBy("segment")


ROUND8_QUERIES["ab_power_analysis"] = ab_power_analysis

_pwr_p1 = "(10000 * pos) // n"
_pwr_mde = f"(({_pwr_p1}) * {_POWER_MDE_REL_BP}) // 10000"
_pwr_p2 = f"least(({_pwr_p1}) + ({_pwr_mde}), 10000)"
_pwr_num = (
    f"({_POWER_ZSUM2_MICRO} * (({_pwr_p1}) * (10000 - ({_pwr_p1}))"
    f" + ({_pwr_p2}) * (10000 - ({_pwr_p2})))"
    f" + 1000000 * ({_pwr_mde})::HUGEINT * ({_pwr_mde}) - 1)"
)
_pwr_den = f"(1000000 * ({_pwr_mde})::HUGEINT * ({_pwr_mde}))"

ROUND8_ORACLES["ab_power_analysis"] = f"""
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
        .orderBy("segment")
    )


ROUND8_QUERIES["iv_wald_estimate"] = iv_wald_estimate

ROUND8_ORACLES["iv_wald_estimate"] = f"""
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
# morans_i_autocorrelation — spatial autocorrelation on the synthetic grid
# ---------------------------------------------------------------------------

_MOR_LON_CELLS = 36
_MOR_LAT_CELLS = 16


def morans_i_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MORAN'S I spatial autocorrelation (SURVEY §2 #307) — the
    statistic the spatial family measures NOTHING with today (the
    point-in-polygon/zonal/grid keys all join or aggregate; none asks
    "is the map clustered or random?" — Moran 1950, the first
    question of any spatial analysis): customer account balance on
    the deterministic synthetic lattice (the point_in_region
    geometry, coarsened to a 36×16 cell census), rook-adjacency
    weights, I = (n/W)·Σ_ij w_ij z_i z_j / Σ z_i².  Deviations are
    kept exact by the n-scaling trick z_i ∝ n·x_i − Σx (the common
    factor cancels in the ratio), so I_milli is one trailing
    division over DECIMAL(38,0) integers.  Published per region so
    the reader sees WHERE balance clusters.

    Scale shape: one fact agg to the ≤576-cell census; rook neighbor
    pairs via four shifted equi-joins on cell ids (never a range
    join); the moment folds are census aggregates.  Windowless.
    """
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
            F.col("r_name").alias("region"),
            F.expr(
                f"cast((c_custkey * 104729 % 360) div"
                f" {360 // _MOR_LON_CELLS} as int)"
            ).alias("cx"),
            F.expr(
                f"cast((c_custkey * 7919 % 160) div"
                f" {160 // _MOR_LAT_CELLS} as int)"
            ).alias("cy"),
            F.expr(
                "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
            ).alias("bal"),
        )
    )
    cells = materialize(
        cust.groupBy("region", "cx", "cy").agg(
            F.expr("sum(bal) div count(*)").alias("x")
        )
    )
    # Everything below the <= |regions| x 576-cell census is exact
    # integer arithmetic on dim-bounded state — a census-collect-then-
    # iterate key (SURVEY §7.24a): the former rook-neighbor equi-joins
    # and moment folds were ~11 jobs / ~11 exchanges.  tdiv replicates
    # SQL div's truncation toward zero (z products are signed) and the
    # nullif-guard exactly.
    from pyprima_spark.operators.exactmath import bounded_collect, tdiv

    crows = bounded_collect(
        cells, 8192, "morans_i_autocorrelation: region cell census"
    )
    regions: dict = {}
    for r in crows:
        regions.setdefault(r["region"], {})[(r["cx"], r["cy"])] = int(r["x"])
    out = []
    for region in sorted(regions):
        cs = regions[region]
        n = len(cs)
        sx = sum(cs.values())
        z = {c: n * x - sx for c, x in cs.items()}
        w = 0
        szz = 0
        for (cx, cy), zi in z.items():
            for nb in ((cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1)):
                if nb in z:
                    w += 1
                    szz += zi * z[nb]
        if w == 0:
            # the former num-side inner join dropped a region with no
            # rook-adjacent pair outright
            continue
        sz2 = sum(v * v for v in z.values())
        i_milli = tdiv(1000 * n * szz, (w * sz2) or None)
        i_milli = 0 if i_milli is None else i_milli
        pattern = (
            "clustered"
            if i_milli > 100
            else ("dispersed" if i_milli < -100 else "random")
        )
        out.append((region, n, w, i_milli, pattern))
    return spark.createDataFrame(
        out,
        schema="region string, n_cells bigint, n_neighbor_pairs bigint,"
        " morans_i_milli bigint, pattern string",
    ).orderBy("region")


ROUND8_QUERIES["morans_i_autocorrelation"] = morans_i_autocorrelation

ROUND8_ORACLES["morans_i_autocorrelation"] = f"""
WITH cust AS (
  SELECT r_name AS region,
         CAST((c_custkey * 104729 % 360) // {360 // _MOR_LON_CELLS} AS INT)
           AS cx,
         CAST((c_custkey * 7919 % 160) // {160 // _MOR_LAT_CELLS} AS INT)
           AS cy,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
cells AS MATERIALIZED (
  SELECT region, cx, cy, sum(bal) // count(*) AS x
  FROM cust GROUP BY 1, 2, 3
),
tot AS (
  SELECT region, count(*) AS n, sum(x) AS sx FROM cells GROUP BY region
),
z AS MATERIALIZED (
  SELECT c.region, c.cx, c.cy, t.n,
         t.n::HUGEINT * c.x - t.sx AS z
  FROM cells c JOIN tot t USING (region)
),
pairs AS (
  SELECT a.region, a.z AS za, b.z AS zb
  FROM z a JOIN z b ON a.region = b.region
   AND ((b.cx = a.cx + 1 AND b.cy = a.cy)
     OR (b.cx = a.cx - 1 AND b.cy = a.cy)
     OR (b.cy = a.cy + 1 AND b.cx = a.cx)
     OR (b.cy = a.cy - 1 AND b.cx = a.cx))
),
num AS (
  SELECT region, count(*) AS w, sum(za * zb) AS szz
  FROM pairs GROUP BY region
),
den AS (
  SELECT region, n, sum(z * z) AS sz2 FROM z GROUP BY region, n
)
SELECT d.region,
       CAST(d.n AS BIGINT) AS n_cells,
       CAST(m.w AS BIGINT) AS n_neighbor_pairs,
       CAST(coalesce((1000 * d.n * m.szz) // nullif(m.w * d.sz2, 0), 0)
            AS BIGINT) AS morans_i_milli,
       CASE WHEN coalesce((1000 * d.n * m.szz) // nullif(m.w * d.sz2, 0),
                          0) > 100 THEN 'clustered'
            WHEN coalesce((1000 * d.n * m.szz) // nullif(m.w * d.sz2, 0),
                          0) < -100 THEN 'dispersed'
            ELSE 'random' END AS pattern
FROM den d JOIN num m USING (region)
ORDER BY d.region
"""


# ---------------------------------------------------------------------------
# sax_motifs — symbolic aggregate approximation + motif census
# ---------------------------------------------------------------------------

_SAX_PAA_DAYS = 3
_SAX_WORD = 3
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
        .orderBy("year", "rank")
    )


ROUND8_QUERIES["sax_motifs"] = sax_motifs

ROUND8_ORACLES["sax_motifs"] = f"""
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
    from pyprima_spark.operators.exactmath import bounded_collect

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
    ).orderBy("rank")


ROUND8_QUERIES["haar_wavelet_topk"] = haar_wavelet_topk


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


ROUND8_ORACLES["haar_wavelet_topk"] = _haar_oracle()


# ---------------------------------------------------------------------------
# graph_robustness_attack — hub-attack vs random-failure tolerance
# ---------------------------------------------------------------------------

_ROB_KS = (0, 3, 6)
_ROB_ROUNDS = 6


def graph_robustness_attack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTACK-TOLERANCE census of the trade graph (SURVEY §2 #310) —
    Albert-Jeong-Barabási 2000's famous experiment: scale-free-ish
    networks shrug off RANDOM node failures but shatter under
    targeted HUB removal; this measures exactly that on the nation
    trade graph by removing k ∈ {0, 3, 6} nodes under both strategies
    (hub = top degree, deterministic tiebreak; random = hash order)
    and publishing surviving edges, giant-component size, and
    component count.  Components come from 6 unrolled hash-min
    label-propagation rounds — identical unrolled rounds on both
    engines, so the published labels are exact-comparable regardless
    of convergence speed (they DO converge: the surviving graph's
    diameter is far below 6).

    Scale shape: the fact-sized work is ONE distributed collapse to
    the ≤25-node/≤300-edge DISTINCT edge census; the census is
    collected once and every (strategy, k) configuration — removal
    ranking, survivor filter, and the 6 synchronous hash-min rounds —
    runs driver-side on the constant-size graph (zero cluster
    barriers per round at any data scale; the previous all-DataFrame
    unroll paid a job + shuffle per round).  The rnd ranking uses the
    engine-shared md5 hash64 replicated bit-identically in Python.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.expr("s_nationkey != c_nationkey"))
        .select(
            F.expr("least(s_nationkey, c_nationkey)").alias("a"),
            F.expr("greatest(s_nationkey, c_nationkey)").alias("b"),
        )
        .distinct()
    )
    e_rows = [
        (r["a"], r["b"])
        for r in _bounded_collect(
            edges, 625, "graph_robustness_attack: nation-pair edge census"
        )
    ]  # dim-bounded (≤ |nations|²)
    deg: dict = {}
    for a, b in e_rows:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    # rnd = the engine-shared md5 hash64 (functions/text.py), replicated
    # bit-identically: conv(substring(md5(node || ':rob'), 1, 15), 16, 10)
    rnd = {
        node: int(_md5(f"{node}:rob".encode()).hexdigest()[:15], 16)
        for node in deg
    }
    hub_order = sorted(deg, key=lambda x: (-deg[x], x))
    rnd_order = sorted(deg, key=lambda x: (rnd[x], x))
    out = []
    for strategy in ("hub", "random"):
        order = hub_order if strategy == "hub" else rnd_order
        for k in _ROB_KS:
            if strategy == "random" and k == 0:
                continue
            keep = set(order[k:])
            surv = [(a, b) for a, b in e_rows if a in keep and b in keep]
            nbrs: dict = {node: [] for node in keep}
            for a, b in surv:
                nbrs[a].append(b)
                nbrs[b].append(a)
            lbl = {node: node for node in keep}
            for _ in range(_ROB_ROUNDS):
                lbl = {
                    node: min([lbl[node]] + [lbl[b] for b in nbrs[node]])
                    for node in keep
                }
            sizes: dict = {}
            for node in keep:
                sizes[lbl[node]] = sizes.get(lbl[node], 0) + 1
            out.append((
                strategy,
                k,
                len(keep),
                len(surv),
                max(sizes.values()) if sizes else None,
                len(sizes) if sizes else None,
            ))
    out.sort(key=lambda t: (t[0], t[1]))
    return spark.createDataFrame(
        out,
        schema=(
            "strategy string, k_removed bigint, n_nodes_left bigint,"
            " n_edges_left bigint, giant_size bigint, n_components bigint"
        ),
    )


ROUND8_QUERIES["graph_robustness_attack"] = graph_robustness_attack


def _rob_oracle() -> str:
    configs = []
    for strategy in ("hub", "random"):
        order_sql = (
            "deg DESC, node" if strategy == "hub" else "rnd, node"
        )
        for k in _ROB_KS:
            if strategy == "random" and k == 0:
                continue
            tag = f"{strategy}_{k}"
            rounds = []
            prev = f"lab0_{tag}"
            for r in range(1, _ROB_ROUNDS + 1):
                rounds.append(f"""
lab{r}_{tag} AS MATERIALIZED (
  SELECT l.node,
         least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
  FROM {prev} l
  LEFT JOIN both_{tag} e ON e.a = l.node
  LEFT JOIN {prev} n ON n.node = e.b
  GROUP BY l.node, l.lbl
)""")
                prev = f"lab{r}_{tag}"
            configs.append((tag, strategy, k, order_sql, "".join(
                "," + r for r in rounds), prev))
    ctes = []
    selects = []
    for tag, strategy, k, order_sql, rounds_sql, last in configs:
        ctes.append(f"""
keep_{tag} AS MATERIALIZED (
  SELECT node FROM deg QUALIFY row_number() OVER (ORDER BY {order_sql}) > {k}
),
surv_{tag} AS MATERIALIZED (
  SELECT e.a, e.b FROM edges e
  JOIN keep_{tag} ka ON ka.node = e.a
  JOIN keep_{tag} kb ON kb.node = e.b
),
both_{tag} AS MATERIALIZED (
  SELECT a, b FROM surv_{tag}
  UNION ALL SELECT b, a FROM surv_{tag}
),
lab0_{tag} AS MATERIALIZED (
  SELECT node, node::BIGINT AS lbl FROM keep_{tag}
){rounds_sql}""")
        selects.append(f"""
SELECT '{strategy}' AS strategy, {k}::BIGINT AS k_removed,
       (SELECT count(*) FROM keep_{tag})::BIGINT AS n_nodes_left,
       (SELECT count(*) FROM surv_{tag})::BIGINT AS n_edges_left,
       (SELECT max(sz) FROM (SELECT count(*) AS sz FROM {last}
        GROUP BY lbl))::BIGINT AS giant_size,
       (SELECT count(DISTINCT lbl) FROM {last})::BIGINT AS n_components""")
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
         greatest(s_nationkey, c_nationkey) AS b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg,
         {X.hash64_duck("CAST(node AS VARCHAR) || ':rob'")} AS rnd
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY node
),{",".join(ctes)}
SELECT * FROM ({" UNION ALL ".join(selects)})
ORDER BY strategy, k_removed
"""


ROUND8_ORACLES["graph_robustness_attack"] = _rob_oracle()


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
    from pyprima_spark.operators.exactmath import bounded_collect

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
    return spark.createDataFrame(out, schema=schema).orderBy("brand")


ROUND8_QUERIES["maxmin_fair_allocation"] = maxmin_fair_allocation

ROUND8_ORACLES["maxmin_fair_allocation"] = f"""
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


ROUND8_QUERIES["knapsack_density_bound"] = knapsack_density_bound

ROUND8_ORACLES["knapsack_density_bound"] = f"""
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
    ).orderBy("nation")


ROUND8_QUERIES["james_stein_shrinkage"] = james_stein_shrinkage

_js_keep = (
    "least(greatest(10000 - (10000 * (k - 3) * sigma2)"
    " // nullif(s_between, 0), 0), 10000)"
)

ROUND8_ORACLES["james_stein_shrinkage"] = f"""
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
        .orderBy("nation")
    )


ROUND8_QUERIES["empirical_bayes_rates"] = empirical_bayes_rates

ROUND8_ORACLES["empirical_bayes_rates"] = """
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
# pca_power_iteration — leading eigenvector of the embedding covariance
# ---------------------------------------------------------------------------

_PCA_ROUNDS = 4
_PCA_VSCALE = 1000000


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEADING PRINCIPAL COMPONENT by unrolled power iteration
    (SURVEY §2 #315) — the eigen step on top of embedding_covariance's
    matrix (the covariance key publishes structure; this extracts the
    direction PCA/whitening/PQ rotation actually needs — von Mises
    iteration, the method behind every truncated-SVD at scale): the
    same one-pass gramian moments build the 8×8 integer covariance
    (cov_q2 units, sign outside the division), then 4 unrolled
    matvec+renormalize rounds run on the 8-row vector census — each
    round renormalizes by max|component| with floor division, so the
    published ppm components and the Rayleigh quotient are exact
    integers on both engines (the HITS contract, matrix edition).

    Scale shape: ONE fact-sized aggregate (the gramian trick — no
    explode, no self-join) collapses everything to a single moments
    row; the 8×8 covariance and the matvec rounds then run
    driver-side in exact Python integers with the oracle's
    truncate-toward-zero division (``_tdiv``) — constant work, zero
    cluster barriers, where the previous all-DataFrame unroll paid a
    job per round on an 8-row state.  Dimension count and round count
    are operator constants.
    """
    emb = _t(spark, sf_dir, "embeddings").select(
        *[
            F.expr(
                f"cast(floor(cast(element_at(embedding, {i + 1}) as double)"
                f" * {_COV_SCALE}) as bigint)"
            ).alias(f"q{i}")
            for i in range(_COV_D)
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.sum(F.expr(f"cast(q{i} as decimal(38,0))")).alias(f"s{i}")
        for i in range(_COV_D)
    ]
    pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]
    aggs += [
        F.sum(F.expr(f"cast(q{i} as decimal(38,0)) * q{j}")).alias(
            f"p{i}_{j}"
        )
        for i, j in pairs
    ]
    mrow = _bounded_collect(
        emb.agg(*aggs), 1, "pca_power_iteration: exact moment row"
    )[0]  # ONE row of exact moments
    n = int(mrow["n"])
    if n == 0:
        # SQL: every moment is NULL over an empty table, so the oracle's
        # covariance, iterated vector and Rayleigh quotient all publish
        # NULL — its v0 seed still emits one row per dimension. Mirror
        # the 8 (dim, NULL, NULL) rows instead of int(None) raising.
        return spark.createDataFrame(
            [(i, None, None) for i in range(_COV_D)],
            schema="dim bigint, component_ppm bigint, lambda_q2 bigint",
        )
    s = [int(mrow[f"s{i}"]) for i in range(_COV_D)]
    cov: dict = {}
    for i, j in pairs:
        cov_n = n * int(mrow[f"p{i}_{j}"]) - s[i] * s[j]
        c = _tdiv(cov_n, n * n)
        cov[(i, j)] = c
        if i != j:
            cov[(j, i)] = c
    v = [_PCA_VSCALE] * _COV_D
    for _ in range(_PCA_ROUNDS):
        w = [
            sum(cov[(i, j)] * v[j] for j in range(_COV_D)
                if v[j] is not None)
            for i in range(_COV_D)
        ]
        m = max(abs(x) for x in w)
        v = [_tdiv(_PCA_VSCALE * x, m if m != 0 else None) for x in w]
    cv = [
        sum(cov[(i, j)] * v[j] for j in range(_COV_D) if v[j] is not None)
        for i in range(_COV_D)
    ]
    num = sum(cv[i] * v[i] for i in range(_COV_D) if v[i] is not None)
    den = sum(v[i] * v[i] for i in range(_COV_D) if v[i] is not None)
    # SQL `num div nullif(den, 0)`: a zero vector (all-None renorm) must
    # publish NULL, not raise (ADVICE r9).
    lam = _tdiv(num, den if den != 0 else None)
    out = [(i, v[i], lam) for i in range(_COV_D)]
    return spark.createDataFrame(
        out, schema="dim bigint, component_ppm bigint, lambda_q2 bigint"
    )


ROUND8_QUERIES["pca_power_iteration"] = pca_power_iteration


def _pca_oracle() -> str:
    pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(f"""
w{r} AS MATERIALIZED (
  SELECT cov.i AS j, sum(cov.c::HUGEINT * v.val) AS w
  FROM cov JOIN {prev} v ON v.j = cov.j
  GROUP BY cov.i
),
v{r} AS MATERIALIZED (
  SELECT j, CAST(({_PCA_VSCALE} * w)
                 // nullif((SELECT max(abs(w)) FROM w{r}), 0) AS BIGINT)
           AS val
  FROM w{r}
)""")
        prev = f"v{r}"
    body = ",".join(rounds)
    return f"""
WITH q AS (
  SELECT {", ".join(f"CAST(floor((embedding)[{i + 1}]::DOUBLE * {_COV_SCALE}) AS BIGINT) AS q{i}" for i in range(_COV_D))}
  FROM embeddings
),
moments AS (
  SELECT count(*) AS n,
         {", ".join(f"sum(q{i}) AS s{i}" for i in range(_COV_D))},
         {", ".join(f"sum(q{i}::HUGEINT * q{j}) AS p{i}_{j}" for i, j in pairs)}
  FROM q
),
upper_t AS (
  {" UNION ALL ".join(f"SELECT {i} AS i, {j} AS j, CAST(CASE WHEN n * p{i}_{j} - s{i} * s{j} < 0 THEN -1 ELSE 1 END * (abs(n * p{i}_{j} - s{i} * s{j}) // (n::HUGEINT * n)) AS BIGINT) AS c FROM moments" for i, j in pairs)}
),
cov AS MATERIALIZED (
  SELECT i, j, c FROM upper_t
  UNION ALL SELECT j, i, c FROM upper_t WHERE i != j
),
v0 AS (
  SELECT CAST(d AS INT) AS j, {_PCA_VSCALE}::BIGINT AS val
  FROM unnest(generate_series(0, {_COV_D - 1})) AS t(d)
),{body},
cv AS (
  SELECT cov.i, sum(cov.c::HUGEINT * v.val) AS cv
  FROM cov JOIN v{_PCA_ROUNDS} v ON v.j = cov.j
  GROUP BY cov.i
),
ray AS (
  SELECT CAST(sum(cv.cv * v.val) // sum(v.val::HUGEINT * v.val) AS BIGINT)
           AS lambda_q2
  FROM cv JOIN v{_PCA_ROUNDS} v ON v.j = cv.i
)
SELECT CAST(v.j AS BIGINT) AS dim,
       CAST(v.val AS BIGINT) AS component_ppm,
       CAST(ray.lambda_q2 AS BIGINT) AS lambda_q2
FROM v{_PCA_ROUNDS} v CROSS JOIN ray
ORDER BY dim
"""


ROUND8_ORACLES["pca_power_iteration"] = _pca_oracle()


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
        .orderBy("segment")
    )


ROUND8_QUERIES["drf_allocation"] = drf_allocation

ROUND8_ORACLES["drf_allocation"] = f"""
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


# ---------------------------------------------------------------------------
# assignment_exhaustive — optimal 5x5 assignment vs greedy, exhaustively
# ---------------------------------------------------------------------------

from itertools import permutations as _permutations

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
        for r in _bounded_collect(
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


ROUND8_QUERIES["assignment_exhaustive"] = assignment_exhaustive


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


ROUND8_ORACLES["assignment_exhaustive"] = _assign_oracle()


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
        .orderBy("segment")
    )


ROUND8_QUERIES["median_of_means"] = median_of_means

ROUND8_ORACLES["median_of_means"] = f"""
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
# fagin_ta_depth — Threshold Algorithm stopping-depth simulation
# ---------------------------------------------------------------------------

_TA_K = 10


def fagin_ta_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THRESHOLD-ALGORITHM depth census (SURVEY §2 #319) — Fagin's TA
    (PODS 2001, the Gödel-prize rank-aggregation algorithm behind
    every "top-k over multiple rankings without scanning everything"
    middleware): two sorted access lists over parts (revenue rank,
    quantity rank), combined score = sum, and the published number is
    the DEPTH at which TA can certifiably stop — the exact positions
    both lists must scan before the running threshold T(d) = sa(d) +
    sb(d) drops to the true k-th best combined score AND the true
    top-k have all been seen (max of both conditions, each computed
    exactly on the census).  depth/n in bp is the sorted-access
    saving TA buys over the full join.

    Scale shape: two aggs to the part census; ranks ride the
    DIM-BOUNDED census (pareto allowlisted class); the two stopping
    conditions are census folds against broadcast scalars.
    """
    li = _t(spark, sf_dir, "lineitem")
    items = materialize(
        li.groupBy("l_partkey").agg(
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2)) * 100)"
                " div 100000 as bigint)"
            ).alias("sa"),
            F.expr("cast(sum(l_quantity) as bigint)").alias("sb"),
        )
    )
    wa = Window.orderBy(F.desc("sa"), F.asc("l_partkey"))
    wb = Window.orderBy(F.desc("sb"), F.asc("l_partkey"))
    ranked = materialize(
        items.withColumn("ra", F.row_number().over(wa)).withColumn(
            "rb", F.row_number().over(wb)
        ).withColumn("combined", F.expr("sa + sb"))
    )
    wk = Window.orderBy(F.desc("combined"), F.asc("l_partkey"))
    topk = materialize(
        ranked.withColumn("crank", F.row_number().over(wk)).filter(
            f"crank <= {_TA_K}"
        )
    )
    kth = topk.agg(F.min("combined").alias("kth_score"))
    d2 = topk.agg(
        F.max(F.expr("greatest(ra, rb)")).alias("d_seen")
    )
    # T(d) = sa at rank d + sb at rank d; d1 = min d with T(d) <= kth
    la = ranked.select(F.col("ra").alias("d"), F.col("sa").alias("sad"))
    lb = ranked.select(F.col("rb").alias("d"), F.col("sb").alias("sbd"))
    thresholds = la.join(lb, "d").select(
        "d", F.expr("sad + sbd").alias("t_d")
    )
    d1 = (
        thresholds.crossJoin(F.broadcast(kth))
        .filter("t_d <= kth_score")
        .agg(F.min("d").alias("d_thresh"))
    )
    n = items.agg(F.count(F.lit(1)).alias("n_items"))
    return (
        kth.crossJoin(F.broadcast(d1))
        .crossJoin(F.broadcast(d2))
        .crossJoin(F.broadcast(n))
        .select(
            F.lit(_TA_K).cast("bigint").alias("k"),
            F.col("n_items").cast("bigint").alias("n_items"),
            F.col("kth_score").cast("bigint").alias("kth_combined_score"),
            F.expr(
                "cast(greatest(coalesce(d_thresh, n_items), d_seen)"
                " as bigint)"
            ).alias("ta_stop_depth"),
            F.expr(
                "cast((10000 * greatest(coalesce(d_thresh, n_items),"
                " d_seen)) div n_items as bigint)"
            ).alias("depth_vs_full_bp"),
        )
    )


ROUND8_QUERIES["fagin_ta_depth"] = fagin_ta_depth

ROUND8_ORACLES["fagin_ta_depth"] = f"""
WITH items AS MATERIALIZED (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS sa,
         CAST(sum(l_quantity) AS BIGINT) AS sb
  FROM lineitem GROUP BY 1
),
ranked AS MATERIALIZED (
  SELECT l_partkey, sa, sb, sa + sb AS combined,
         row_number() OVER (ORDER BY sa DESC, l_partkey) AS ra,
         row_number() OVER (ORDER BY sb DESC, l_partkey) AS rb
  FROM items
),
topk AS MATERIALIZED (
  SELECT * FROM ranked
  QUALIFY row_number() OVER (ORDER BY combined DESC, l_partkey)
          <= {_TA_K}
),
kth AS (SELECT min(combined) AS kth_score FROM topk),
d2 AS (SELECT max(greatest(ra, rb)) AS d_seen FROM topk),
thresholds AS (
  SELECT a.ra AS d, a.sa + b.sb AS t_d
  FROM ranked a JOIN ranked b ON b.rb = a.ra
),
d1 AS (
  SELECT min(d) AS d_thresh FROM thresholds CROSS JOIN kth
  WHERE t_d <= kth_score
),
n AS (SELECT count(*) AS n_items FROM items)
SELECT {_TA_K}::BIGINT AS k,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(kth_score AS BIGINT) AS kth_combined_score,
       CAST(greatest(coalesce(d_thresh, n_items), d_seen) AS BIGINT)
         AS ta_stop_depth,
       CAST((10000 * greatest(coalesce(d_thresh, n_items), d_seen))
            // n_items AS BIGINT) AS depth_vs_full_bp
FROM kth CROSS JOIN d1 CROSS JOIN d2 CROSS JOIN n
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
    from pyprima_spark.operators.exactmath import bounded_collect, tdiv

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
                tdiv(
                    1000 * (na * nb_tot - nb * na_tot) * syb,
                    na_tot * nb_tot * nb,
                ),
                tdiv(
                    1000 * na * (sya * nb - syb * na),
                    na_tot * na * nb,
                ),
                1000 * (tdiv(sya_tot, na_tot) - tdiv(syb_tot, nb_tot)),
            )
        )
    return spark.createDataFrame(
        out,
        schema="nation string, n_building bigint, n_rest bigint,"
        " explained_milli bigint, unexplained_milli bigint,"
        " total_gap_milli bigint",
    ).orderBy("nation")


ROUND8_QUERIES["oaxaca_blinder_decomposition"] = oaxaca_blinder_decomposition

ROUND8_ORACLES["oaxaca_blinder_decomposition"] = """
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
# ransac_consensus_fit — sample-consensus robust line fit
# ---------------------------------------------------------------------------

_RANSAC_CANDS = 16
_RANSAC_TOL_MILLI = 150  # inlier tolerance: 15% of the median |y|


def ransac_consensus_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC consensus line fit (SURVEY §2 #321) — Fischler-Bolles
    1981, the third robust-fitting paradigm in the catalog and the
    one that tolerates the most contamination: grouped_regression's
    OLS breaks at one outlier, theil_sen_trend's pairwise median
    survives ~29%, RANSAC survives ANY rate as long as one clean
    sample pair exists.  16 candidate lines from hash-selected day
    pairs of the 1997 daily-revenue census (deterministic sampling —
    the aa_test replicate pattern, no RNG), each scored by its exact
    INLIER count (|cross-multiplied residual| within a scale
    tolerance — no division ever enters the comparison), the
    consensus winner published with slope/intercept/inlier share next
    to every candidate's count so the consensus landscape is visible.

    Scale shape: fact → day census; candidate pairs are hash-rank
    selections from the census; the score join is candidates x census
    (16 x |days|, broadcast); argmax by census election.  Windowless
    except the census hash-rank.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= date'1997-01-01'")
        & F.expr("o_orderdate < date'1998-01-01'")
    )
    daily = materialize(
        orders.groupBy(
            F.expr(
                "datediff(cast(o_orderdate as date), date'1997-01-01')"
            ).alias("x")
        ).agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2)) * 100)"
                " as decimal(38,0)) div 100000"
            ).alias("y")
        )
    )
    wh = Window.orderBy(
        F.expr(X.hash64_spark("cast(x as string) || ':ransac'")), F.asc("x")
    )
    hashed = daily.withColumn("hrk", F.row_number().over(wh))
    p1 = hashed.filter(f"hrk <= {_RANSAC_CANDS}").select(
        F.col("hrk").alias("cand"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    p2 = hashed.filter(
        f"hrk > {_RANSAC_CANDS} AND hrk <= {2 * _RANSAC_CANDS}"
    ).select(
        (F.col("hrk") - _RANSAC_CANDS).alias("cand"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    cands = materialize(
        p1.join(p2, "cand").filter("x1 != x2")
    )
    scale = daily.agg(
        F.expr(
            "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(y))"
            " as bigint)"
        ).alias("med_abs_y")
    )
    # residual of (x, y) vs the candidate line through (x1,y1),(x2,y2):
    # r = (y - y1)*(x2 - x1) - (y2 - y1)*(x - x1), inlier iff
    # |r| <= tol * med|y| * |x2 - x1| / 1000  (all cross-multiplied)
    scored = (
        cands.join(F.broadcast(daily))
        .crossJoin(F.broadcast(scale))
        .groupBy("cand", "x1", "y1", "x2", "y2")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN 1000 * abs((y - y1) * (x2 - x1)"
                    " - (y2 - y1) * (x - x1))"
                    f" <= {_RANSAC_TOL_MILLI} * med_abs_y * abs(x2 - x1)"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("inliers"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    wbest = Window.orderBy(F.desc("inliers"), F.asc("cand"))
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .select(
            F.col("cand").cast("bigint").alias("candidate"),
            F.col("inliers").cast("bigint").alias("inliers"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.expr("cast((10000 * inliers) div n_days as bigint)").alias(
                "inlier_share_bp"
            ),
            F.expr(
                "cast((1000 * (y2 - y1)) div (x2 - x1) as bigint)"
            ).alias("slope_milli"),
            F.expr(
                "cast(y1 - ((y2 - y1) * x1) div (x2 - x1) as bigint)"
            ).alias("intercept_k"),
            F.expr("cast(CASE WHEN rk = 1 THEN 1 ELSE 0 END as bigint)")
            .alias("is_consensus"),
        )
        .orderBy("candidate")
    )


ROUND8_QUERIES["ransac_consensus_fit"] = ransac_consensus_fit

ROUND8_ORACLES["ransac_consensus_fit"] = f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1997-01-01', CAST(o_orderdate AS DATE)) AS x,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
           // 100000 AS y
  FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
  GROUP BY 1
),
hashed AS MATERIALIZED (
  SELECT x, y,
         row_number() OVER (ORDER BY
           {X.hash64_duck("CAST(x AS VARCHAR) || ':ransac'")}, x) AS hrk
  FROM daily
),
cands AS MATERIALIZED (
  SELECT p1.hrk AS cand, p1.x AS x1, p1.y AS y1, p2.x AS x2, p2.y AS y2
  FROM hashed p1
  JOIN hashed p2 ON p2.hrk = p1.hrk + {_RANSAC_CANDS}
  WHERE p1.hrk <= {_RANSAC_CANDS} AND p1.x != p2.x
),
scale AS (
  SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(y))
              AS BIGINT) AS med_abs_y
  FROM daily
),
scored AS MATERIALIZED (
  SELECT cand, x1, y1, x2, y2,
         sum(CASE WHEN 1000 * abs((d.y - y1) * (x2 - x1)
                        - (y2 - y1) * (d.x - x1))
                  <= {_RANSAC_TOL_MILLI} * s.med_abs_y * abs(x2 - x1)
                  THEN 1 ELSE 0 END) AS inliers,
         count(*) AS n_days
  FROM cands CROSS JOIN daily d CROSS JOIN scale s
  GROUP BY cand, x1, y1, x2, y2
)
SELECT CAST(cand AS BIGINT) AS candidate,
       CAST(inliers AS BIGINT) AS inliers,
       CAST(n_days AS BIGINT) AS n_days,
       CAST((10000 * inliers) // n_days AS BIGINT) AS inlier_share_bp,
       CAST((1000 * (y2 - y1)) // (x2 - x1) AS BIGINT) AS slope_milli,
       CAST(y1 - ((y2 - y1) * x1) // (x2 - x1) AS BIGINT) AS intercept_k,
       CAST(CASE WHEN row_number() OVER (ORDER BY inliers DESC, cand) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS is_consensus
FROM scored
ORDER BY candidate
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
        .orderBy("segment")
    )


ROUND8_QUERIES["tail_dependence_lambda"] = tail_dependence_lambda

ROUND8_ORACLES["tail_dependence_lambda"] = f"""
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
        .orderBy("priority")
    )


ROUND8_QUERIES["survival_rmst"] = survival_rmst

ROUND8_ORACLES["survival_rmst"] = f"""
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
from pyprima_spark.operators.exactmath import tdiv as _tdiv  # noqa: E402


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
    pairs = _bounded_collect(
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


ROUND8_QUERIES["bradley_terry_strength"] = bradley_terry_strength


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


ROUND8_ORACLES["bradley_terry_strength"] = _bt_oracle()


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
        .orderBy("segment")
    )


ROUND8_QUERIES["ratio_metric_variance"] = ratio_metric_variance

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

ROUND8_ORACLES["ratio_metric_variance"] = f"""
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


ROUND8_QUERIES["cluster_design_effect"] = cluster_design_effect

ROUND8_ORACLES["cluster_design_effect"] = """
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
# ripley_k_function — multi-scale spatial clustering census
# ---------------------------------------------------------------------------

_RIPLEY_RADII = (1, 2, 4, 8)


def ripley_k_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIPLEY'S K FUNCTION (SURVEY §2 #327) — the multi-SCALE
    companion of morans_i_autocorrelation's single global number
    (Ripley 1977): Moran says WHETHER the map clusters; K(r) says AT
    WHICH RADIUS — clustering at r=1 with dispersion at r=8 is a
    checkerboard, the opposite is blobs, and only the K curve tells
    them apart.  Customer counts on the same deterministic 36x16
    lattice; K(r) is the average number of neighbors within Chebyshev
    radius r, normalized by the expected count under uniformity
    ((2r+1)^2 - 1 cells x mean density) so k_ratio_milli = 1000 means
    CSR (complete spatial randomness), above = clustered at that
    scale.  Exact integers: pair counts x cell populations,
    cross-multiplied against the uniform expectation.

    Scale shape: fact -> cell census (<= 576 rows); the neighbor
    count is a census self-join bounded by |dx| <= r, |dy| <= r (the
    largest radius caps the fanout at (2*8+1)^2 per cell); one fold
    per radius.  Windowless.
    """
    cust = _t(spark, sf_dir, "customer").select(
        F.expr(
            f"cast((c_custkey * 104729 % 360) div {360 // _MOR_LON_CELLS}"
            " as int)"
        ).alias("cx"),
        F.expr(
            f"cast((c_custkey * 7919 % 160) div {160 // _MOR_LAT_CELLS}"
            " as int)"
        ).alias("cy"),
    )
    cells = materialize(
        cust.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("w"))
    )
    b = cells.select(
        F.col("cx").alias("cx2"),
        F.col("cy").alias("cy2"),
        F.col("w").alias("w2"),
    )
    rmax = max(_RIPLEY_RADII)
    pairs = materialize(
        cells.join(
            F.broadcast(b),
            (F.expr(f"abs(cx2 - cx) <= {rmax}"))
            & (F.expr(f"abs(cy2 - cy) <= {rmax}"))
            & (F.expr("NOT (cx2 = cx AND cy2 = cy)")),
        ).select(
            F.expr("greatest(abs(cx2 - cx), abs(cy2 - cy))").alias("d"),
            F.expr("cast(w as decimal(38,0)) * w2").alias("ww"),
        )
    )
    tot = cells.agg(
        F.sum("w").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    radii = spark.range(1).select(
        F.explode(
            F.expr(f"array({', '.join(str(r) for r in _RIPLEY_RADII)})")
        ).alias("r")
    )
    counts = (
        radii.join(F.broadcast(pairs), F.expr("d <= r"))
        .groupBy("r")
        .agg(F.sum("ww").alias("n_pairs"))
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("bigint").alias("radius"),
            F.expr("cast(n_pairs as bigint)").alias("n_neighbor_pairs"),
            # expected under CSR: pairs * ((2r+1)^2 - 1) / n_cells per
            # source point; ratio cross-multiplied
            F.expr(
                "cast((1000 * n_pairs * n_cells)"
                " div (cast(n as decimal(38,0)) * n"
                " * ((2 * r + 1) * (2 * r + 1) - 1)) as bigint)"
            ).alias("k_ratio_milli"),
        )
        .orderBy("radius")
    )


ROUND8_QUERIES["ripley_k_function"] = ripley_k_function

ROUND8_ORACLES["ripley_k_function"] = f"""
WITH cust AS (
  SELECT CAST((c_custkey * 104729 % 360) // {360 // _MOR_LON_CELLS} AS INT)
           AS cx,
         CAST((c_custkey * 7919 % 160) // {160 // _MOR_LAT_CELLS} AS INT)
           AS cy
  FROM customer
),
cells AS MATERIALIZED (
  SELECT cx, cy, count(*) AS w FROM cust GROUP BY cx, cy
),
pairs AS MATERIALIZED (
  SELECT greatest(abs(b.cx - a.cx), abs(b.cy - a.cy)) AS d,
         a.w::HUGEINT * b.w AS ww
  FROM cells a JOIN cells b
    ON abs(b.cx - a.cx) <= {max(_RIPLEY_RADII)}
   AND abs(b.cy - a.cy) <= {max(_RIPLEY_RADII)}
   AND NOT (b.cx = a.cx AND b.cy = a.cy)
),
tot AS (SELECT sum(w) AS n, count(*) AS n_cells FROM cells),
radii AS (
  SELECT r FROM unnest([{', '.join(str(r) for r in _RIPLEY_RADII)}]) AS t(r)
)
SELECT CAST(r AS BIGINT) AS radius,
       CAST(sum(ww) AS BIGINT) AS n_neighbor_pairs,
       CAST((1000 * sum(ww) * max(n_cells))
            // (max(n)::HUGEINT * max(n)
                * ((2 * r + 1) * (2 * r + 1) - 1)) AS BIGINT)
         AS k_ratio_milli
FROM radii JOIN pairs ON d <= r CROSS JOIN tot
GROUP BY r ORDER BY radius
"""


# ---------------------------------------------------------------------------
# spectral_bisection — Fiedler-vector graph partition
# ---------------------------------------------------------------------------

_SPB_ROUNDS = 6
_SPB_VSCALE = 1000


def spectral_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL BISECTION of the trade graph (SURVEY §2 #328) —
    Fiedler 1973 / the partitioning method inside METIS and every
    balanced-min-cut placement tool, and a genuinely different
    clustering mechanism from the catalog's modularity/label-prop
    keys (those optimize locally; the Fiedler vector is a GLOBAL
    eigen-structure): power iteration on the shifted matrix
    M = cI - L (c = 2*max_deg + 1 keeps M positive), DEFLATING the
    trivial all-ones eigenvector by exact integer mean-subtraction
    each round — the surviving dominant direction IS the Fiedler
    vector, its signs the bisection.  Published per nation with the
    cut size and conductance (cut / min-side volume) so the partition
    quality is visible.  All rounds milli-renormalized integer
    censuses (the HITS/PCA contract).

    Scale shape: the fact-sized work is ONE distributed collapse to
    the <= 25-node / <= 300-edge DISTINCT census; the census is
    collected once and the 6 power-iteration rounds (plus the
    cut/conductance bookkeeping) run driver-side in exact Python
    integers with the oracle's truncate-toward-zero division
    (``_tdiv``) — zero cluster barriers per round at any data scale,
    where the previous all-DataFrame unroll paid a job + shuffle per
    round on a 25-row state.  Round count is an operator constant;
    the surviving component structure is dense, so 6 rounds separate
    the eigen-gap comfortably (and identically on both engines
    regardless).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.expr("s_nationkey != c_nationkey"))
        .select(
            F.expr("least(s_nationkey, c_nationkey)").alias("a"),
            F.expr("greatest(s_nationkey, c_nationkey)").alias("b"),
        )
        .distinct()
    )
    e_rows = [
        (r["a"], r["b"])
        for r in _bounded_collect(
            edges, 625, "spectral_bisection: nation-pair edge census"
        )
    ]  # dim-bounded (≤ |nations|²)
    both = e_rows + [(b, a) for a, b in e_rows]
    deg: dict = {}
    for a, _b in both:
        deg[a] = deg.get(a, 0) + 1
    n = len(deg)
    c = 2 * max(deg.values()) + 1 if deg else 1
    v = {node: _SPB_VSCALE * (2 * node - (n - 1)) for node in deg}
    for _ in range(_SPB_ROUNDS):
        nsum = {node: 0 for node in deg}
        for a, b in both:
            nb = v.get(b)
            if nb is not None:
                nsum[a] += nb
        w = {
            node: ((c - deg[node]) * v[node] + nsum[node]
                   if v[node] is not None else None)
            for node in deg
        }
        # one fold yields the deflation mean AND the renorm bound:
        # max|w - mean| = max(max - mean, mean - min)
        vals = [x for x in w.values() if x is not None]
        mean_w = _tdiv(sum(vals), len(vals)) if vals else None
        max_w = max(vals) if vals else None
        min_w = min(vals) if vals else None
        bound = (
            max(max_w - mean_w, mean_w - min_w)
            if vals is not None and mean_w is not None
            else None
        )
        v = {
            node: _tdiv(
                _SPB_VSCALE * (w[node] - mean_w)
                if w[node] is not None and mean_w is not None
                else None,
                bound if bound != 0 else None,
            )
            for node in deg
        }
    # CASE WHEN val < 0 → 'A' (null falls through to 'B', like SQL)
    side = {
        node: "A" if (v[node] is not None and v[node] < 0) else "B"
        for node in deg
    }
    cut_edges = sum(1 for a, b in e_rows if side[a] != side[b])
    vols: dict = {}
    for node in deg:
        vols[side[node]] = vols.get(side[node], 0) + deg[node]
    min_vol = min(vols.values()) if vols else None
    cond = _tdiv(1000 * cut_edges, min_vol if min_vol != 0 else None)
    cond = -1 if cond is None else cond
    out = [
        (int(node), v[node], side[node], int(cut_edges), int(cond))
        for node in sorted(deg)
    ]
    return spark.createDataFrame(
        out,
        schema=(
            "nationkey bigint, fiedler_milli bigint, side string,"
            " cut_edges bigint, conductance_milli bigint"
        ),
    )


ROUND8_QUERIES["spectral_bisection"] = spectral_bisection


def _spb_oracle() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _SPB_ROUNDS + 1):
        rounds.append(f"""
w{r} AS MATERIALIZED (
  SELECT v.node,
         (cs.c - d.deg)::HUGEINT * v.val
           + coalesce((SELECT sum(v2.val) FROM both_e e
                       JOIN {prev} v2 ON v2.node = e.b
                       WHERE e.a = v.node), 0) AS w
  FROM {prev} v JOIN deg d ON d.node = v.node CROSS JOIN cshift cs
),
st{r} AS MATERIALIZED (
  SELECT sum(w) // count(*) AS mean_w, max(w) AS max_w, min(w) AS min_w
  FROM w{r}
),
v{r} AS MATERIALIZED (
  SELECT node,
         CAST(({_SPB_VSCALE} * (w - mean_w))
              // nullif(greatest(max_w - mean_w, mean_w - min_w), 0)
              AS BIGINT) AS val
  FROM w{r} CROSS JOIN st{r}
)""")
        prev = f"v{r}"
    body = ",".join(rounds)
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
         greatest(s_nationkey, c_nationkey) AS b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
),
both_e AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
),
deg AS MATERIALIZED (
  SELECT a AS node, count(*) AS deg FROM both_e GROUP BY a
),
cshift AS (SELECT 2 * max(deg) + 1 AS c, count(*) AS n FROM deg),
v0 AS MATERIALIZED (
  SELECT node, ({_SPB_VSCALE} * (2 * node - (cs.n - 1)))::BIGINT AS val
  FROM deg CROSS JOIN cshift cs
),{body},
sides AS MATERIALIZED (
  SELECT node, val, CASE WHEN val < 0 THEN 'A' ELSE 'B' END AS side
  FROM v{_SPB_ROUNDS}
),
cut AS (
  SELECT sum(CASE WHEN sa.side != sb.side THEN 1 ELSE 0 END) AS cut_edges
  FROM edges e
  JOIN sides sa ON sa.node = e.a
  JOIN sides sb ON sb.node = e.b
),
minvol AS (
  SELECT min(vol) AS min_vol FROM (
    SELECT s.side, sum(d.deg) AS vol
    FROM sides s JOIN deg d ON d.node = s.node
    GROUP BY s.side
  )
)
SELECT CAST(s.node AS BIGINT) AS nationkey,
       CAST(s.val AS BIGINT) AS fiedler_milli,
       s.side,
       CAST(c.cut_edges AS BIGINT) AS cut_edges,
       CAST(coalesce((1000 * c.cut_edges) // nullif(m.min_vol, 0), -1)
            AS BIGINT) AS conductance_milli
FROM sides s CROSS JOIN cut c CROSS JOIN minvol m
ORDER BY nationkey
"""


ROUND8_ORACLES["spectral_bisection"] = _spb_oracle()


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
    from pyprima_spark.operators.exactmath import bounded_collect

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
    ).orderBy("segment")


ROUND8_QUERIES["seat_apportionment"] = seat_apportionment

ROUND8_ORACLES["seat_apportionment"] = f"""
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
    rows = _bounded_collect(
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


ROUND8_QUERIES["voting_methods_compare"] = voting_methods_compare

ROUND8_ORACLES["voting_methods_compare"] = f"""
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


ROUND8_QUERIES["littles_law_audit"] = littles_law_audit

ROUND8_ORACLES["littles_law_audit"] = f"""
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
        .orderBy("segment", "nation")
    )


ROUND8_QUERIES["cell_suppression_audit"] = cell_suppression_audit

ROUND8_ORACLES["cell_suppression_audit"] = f"""
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


ROUND8_QUERIES["energy_distance_test"] = energy_distance_test

ROUND8_ORACLES["energy_distance_test"] = """
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
        .orderBy("decile")
    )


ROUND8_QUERIES["quantile_treatment_effect"] = quantile_treatment_effect

_qte_t = " ".join(f"WHEN d.decile = {i} THEN t.q{i}" for i in range(1, 10))
_qte_c = " ".join(f"WHEN d.decile = {i} THEN c.q{i}" for i in range(1, 10))
_qte_cols = ",\n         ".join(
    f"CAST(percentile_disc(0.{i}) WITHIN GROUP (ORDER BY y) AS BIGINT)"
    f" AS q{i}"
    for i in range(1, 10)
)

ROUND8_ORACLES["quantile_treatment_effect"] = f"""
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
        .orderBy("segment", "decile")
    )


ROUND8_QUERIES["positivity_overlap_audit"] = positivity_overlap_audit

ROUND8_ORACLES["positivity_overlap_audit"] = f"""
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
        .orderBy("segment")
    )


ROUND8_QUERIES["german_tank_estimate"] = german_tank_estimate

ROUND8_ORACLES["german_tank_estimate"] = """
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
    from pyprima_spark.functions.text import tokens_spark

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
    ).orderBy("source")


ROUND8_QUERIES["chao1_richness"] = chao1_richness

ROUND8_ORACLES["chao1_richness"] = f"""
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
        .orderBy("year")
    )


ROUND8_QUERIES["running_records_test"] = running_records_test

ROUND8_ORACLES["running_records_test"] = """
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
    from pyprima_spark.operators.exactmath import bounded_collect, tdiv

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
            tdiv(10000 * chosen[2], best_y or None)
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
    ).orderBy("segment")


ROUND8_QUERIES["secretary_stopping_replay"] = secretary_stopping_replay

ROUND8_ORACLES["secretary_stopping_replay"] = f"""
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
    ).orderBy("segment")


ROUND8_QUERIES["kelly_fraction_sizing"] = kelly_fraction_sizing

_kelly_num = (
    "(1000 * (n_up::HUGEINT * (up_sum::HUGEINT * n_dn"
    " + dn_sum::HUGEINT * n_up)"
    " - (n_up + n_dn) * dn_sum::HUGEINT * n_up))"
)
_kelly_den = "((n_up + n_dn) * up_sum::HUGEINT * n_dn)"

ROUND8_ORACLES["kelly_fraction_sizing"] = f"""
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


ROUND8_QUERIES["hotelling_t2_test"] = hotelling_t2_test

_ht2_stat = (
    "(n1::HUGEINT * n0 * (n1 + n0 - 2)"
    " * (dx_milli * dx_milli * wyy - 2 * dx_milli * dy_milli * wxy"
    " + dy_milli * dy_milli * wxx))"
    " // ((n1::HUGEINT + n0) * 1000 * nullif(wxx * wyy - wxy * wxy, 0))"
)

ROUND8_ORACLES["hotelling_t2_test"] = f"""
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
        .orderBy("rank")
    )


ROUND8_QUERIES["mahalanobis_outlier_census"] = mahalanobis_outlier_census

ROUND8_ORACLES["mahalanobis_outlier_census"] = f"""
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
    ).orderBy("segment")


ROUND8_QUERIES["mcnemar_test"] = mcnemar_test

_mcn_chi = (
    "coalesce((1000 * (abs(b - c) - 1) * (abs(b - c) - 1)::HUGEINT)"
    " // nullif(b + c, 0), -1)"
)

ROUND8_ORACLES["mcnemar_test"] = f"""
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
    ).orderBy("segment")


ROUND8_QUERIES["cochran_q_test"] = cochran_q_test

_coq_q = (
    "(2000 * (3 * (c1::HUGEINT * c1 + c2::HUGEINT * c2 + c3::HUGEINT * c3)"
    " - sr::HUGEINT * sr)) // nullif(3 * sr::HUGEINT - sr2, 0)"
)

ROUND8_ORACLES["cochran_q_test"] = f"""
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


ROUND8_QUERIES["friedman_test"] = friedman_test

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

ROUND8_ORACLES["friedman_test"] = f"""
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


ROUND8_QUERIES["page_trend_test"] = page_trend_test

ROUND8_ORACLES["page_trend_test"] = f"""
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
        .orderBy("nation")
    )


ROUND8_QUERIES["indirect_standardization"] = indirect_standardization

ROUND8_ORACLES["indirect_standardization"] = """
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
        .orderBy("nation")
    )


ROUND8_QUERIES["dissimilarity_index"] = dissimilarity_index

ROUND8_ORACLES["dissimilarity_index"] = """
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


# ---------------------------------------------------------------------------
# local_morans_hotspots — LISA hotspot census on the lattice
# ---------------------------------------------------------------------------

_LISA_TOPK = 10


def local_morans_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL MORAN'S I hotspots (SURVEY §2 #349) — Anselin 1995's
    LISA, the WHERE to morans_i_autocorrelation's global WHETHER: the
    global I can be near zero while strong hot and cold spots cancel;
    the local statistic I_i proportional to z_i * sum_j w_ij z_j finds
    them cell by cell, and its sum RECONSTRUCTS the global numerator
    (published as a cross-check column — the decomposition identity
    is the LISA contract).  Same 36x16 balance lattice and rook
    weights as the global key; the top-10 |I_i| cells publish with a
    hotspot class (high-high / low-low / high-low outlier — the
    Moran-scatterplot quadrants, exact sign tests).

    Scale shape: identical censuses to the global key (materialized
    once); I_i is a per-cell projection after the neighbor fold; the
    top-k election is a WindowGroupLimit rank over the cell census.
    """
    cust = _t(spark, sf_dir, "customer").select(
        F.expr(
            f"cast((c_custkey * 104729 % 360) div {360 // _MOR_LON_CELLS}"
            " as int)"
        ).alias("cx"),
        F.expr(
            f"cast((c_custkey * 7919 % 160) div {160 // _MOR_LAT_CELLS}"
            " as int)"
        ).alias("cy"),
        F.expr(
            "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
        ).alias("bal"),
    )
    cells = materialize(
        cust.groupBy("cx", "cy").agg(
            F.expr("sum(bal) div count(*)").alias("x")
        )
    )
    tot = cells.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    z = materialize(
        cells.crossJoin(F.broadcast(tot)).select(
            "cx",
            "cy",
            F.expr("cast(n as decimal(38,0)) * x - sx").alias("z"),
        )
    )
    zb = z.select(
        F.col("cx").alias("cx2"), F.col("cy").alias("cy2"),
        F.col("z").alias("z2"),
    )
    nbr = (
        z.join(
            zb,
            (
                (F.col("cx2") == F.col("cx") + 1)
                & (F.col("cy2") == F.col("cy"))
            )
            | (
                (F.col("cx2") == F.col("cx") - 1)
                & (F.col("cy2") == F.col("cy"))
            )
            | (
                (F.col("cy2") == F.col("cy") + 1)
                & (F.col("cx2") == F.col("cx"))
            )
            | (
                (F.col("cy2") == F.col("cy") - 1)
                & (F.col("cx2") == F.col("cx"))
            ),
        )
        .groupBy("cx", "cy", "z")
        .agg(F.sum("z2").alias("zlag"), F.count(F.lit(1)).alias("n_nbr"))
    )
    scored = materialize(
        nbr.withColumn(
            "ii", F.expr("cast(z as decimal(38,0)) * zlag")
        )
    )
    glob_num = scored.agg(F.sum("ii").alias("global_num"))
    wtop = Window.orderBy(F.desc(F.expr("abs(ii)")), F.asc("cx"), F.asc("cy"))
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_LISA_TOPK}")
        .crossJoin(F.broadcast(glob_num))
        .select(
            F.col("rk").cast("bigint").alias("rank"),
            F.col("cx").cast("bigint").alias("cell_x"),
            F.col("cy").cast("bigint").alias("cell_y"),
            F.col("n_nbr").cast("bigint").alias("n_neighbors"),
            F.expr("cast(ii div 1000000000 as bigint)").alias("i_local_g"),
            F.expr(
                "CASE WHEN z > 0 AND zlag > 0 THEN 'high_high'"
                " WHEN z < 0 AND zlag < 0 THEN 'low_low'"
                " WHEN z > 0 THEN 'high_low_outlier'"
                " ELSE 'low_high_outlier' END"
            ).alias("quadrant"),
            F.expr(
                "cast(global_num div 1000000000 as bigint)"
            ).alias("global_numerator_g"),
        )
        .orderBy("rank")
    )


ROUND8_QUERIES["local_morans_hotspots"] = local_morans_hotspots

ROUND8_ORACLES["local_morans_hotspots"] = f"""
WITH cust AS (
  SELECT CAST((c_custkey * 104729 % 360) // {360 // _MOR_LON_CELLS} AS INT)
           AS cx,
         CAST((c_custkey * 7919 % 160) // {160 // _MOR_LAT_CELLS} AS INT)
           AS cy,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
  FROM customer
),
cells AS MATERIALIZED (
  SELECT cx, cy, sum(bal) // count(*) AS x FROM cust GROUP BY cx, cy
),
tot AS (SELECT count(*) AS n, sum(x) AS sx FROM cells),
z AS MATERIALIZED (
  SELECT cx, cy, t.n::HUGEINT * x - t.sx AS z
  FROM cells CROSS JOIN tot t
),
nbr AS MATERIALIZED (
  SELECT a.cx, a.cy, a.z, sum(b.z) AS zlag, count(*) AS n_nbr
  FROM z a JOIN z b
    ON (b.cx = a.cx + 1 AND b.cy = a.cy)
    OR (b.cx = a.cx - 1 AND b.cy = a.cy)
    OR (b.cy = a.cy + 1 AND b.cx = a.cx)
    OR (b.cy = a.cy - 1 AND b.cx = a.cx)
  GROUP BY a.cx, a.cy, a.z
),
scored AS MATERIALIZED (
  SELECT cx, cy, z, zlag, n_nbr, z::HUGEINT * zlag AS ii FROM nbr
),
gnum AS (SELECT sum(ii) AS global_num FROM scored)
SELECT CAST(row_number() OVER (ORDER BY abs(ii) DESC, cx, cy) AS BIGINT)
         AS rank,
       CAST(cx AS BIGINT) AS cell_x,
       CAST(cy AS BIGINT) AS cell_y,
       CAST(n_nbr AS BIGINT) AS n_neighbors,
       CAST(ii // 1000000000 AS BIGINT) AS i_local_g,
       CASE WHEN z > 0 AND zlag > 0 THEN 'high_high'
            WHEN z < 0 AND zlag < 0 THEN 'low_low'
            WHEN z > 0 THEN 'high_low_outlier'
            ELSE 'low_high_outlier' END AS quadrant,
       CAST(global_num // 1000000000 AS BIGINT) AS global_numerator_g
FROM scored CROSS JOIN gnum
QUALIFY rank <= {_LISA_TOPK}
ORDER BY rank
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
        .orderBy("brand")
    )


ROUND8_QUERIES["arc_elasticity"] = arc_elasticity

ROUND8_ORACLES["arc_elasticity"] = f"""
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
        .orderBy("window_days")
    )


ROUND8_QUERIES["rescaled_range_census"] = rescaled_range_census

ROUND8_ORACLES["rescaled_range_census"] = f"""
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
        .orderBy("tau_days")
    )


ROUND8_QUERIES["allan_variance"] = allan_variance

ROUND8_ORACLES["allan_variance"] = f"""
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


ROUND8_QUERIES["price_index_bias"] = price_index_bias

ROUND8_ORACLES["price_index_bias"] = """
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
    ).orderBy("n_servers")


ROUND8_QUERIES["erlang_b_blocking"] = erlang_b_blocking


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


ROUND8_ORACLES["erlang_b_blocking"] = _erlang_oracle()


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
    from pyprima_spark.operators.exactmath import bounded_collect, tdiv

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
            tdiv(10000 * w, tw if tw != 0 else None),
            ns,
            tdiv(10000 * ns, tot_swings if tot_swings != 0 else None),
        )
        for (seg, w), ns in zip(wrows, swings)
    ]
    return spark.createDataFrame(
        out,
        schema="segment string, weight bigint, weight_share_bp bigint,"
        " n_swings bigint, banzhaf_share_bp bigint",
    ).orderBy("segment")


ROUND8_QUERIES["banzhaf_power_index"] = banzhaf_power_index

ROUND8_ORACLES["banzhaf_power_index"] = """
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
        .orderBy("segment")
    )


ROUND8_QUERIES["shapley_shubik_index"] = shapley_shubik_index

_ss_perm_values = ", ".join(
    "({}, {})".format(pid, ", ".join(str(v) for v in p))
    for pid, p in enumerate(_permutations(range(5)))
)

ROUND8_ORACLES["shapley_shubik_index"] = f"""
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


# ---------------------------------------------------------------------------
# birthday_collision_audit — hash uniformity vs the birthday expectation
# ---------------------------------------------------------------------------

_BDAY_BUCKETS = 1 << 20


def birthday_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIRTHDAY-COLLISION audit (SURVEY §2 #357) — the trust check
    underneath EVERY hash-split key in the catalog (aa_test_fpr's
    arms, deterministic_sample, the ring and rendezvous placements,
    median_of_means' groups all assume the 60-bit hash spreads like
    uniform randomness): hash every customer into 2^20 buckets and
    compare the observed collision-pair count sum C(c_k, 2) against
    the birthday expectation m(m-1)/(2n) — a biased hash shows up as
    a collision excess long before any downstream key visibly fails.
    Exact integers; the ratio publishes in milli (1000 = perfectly
    uniform), alongside max bucket load vs the balls-in-bins rough
    bound.

    Scale shape: one map-side bucket assignment + count agg; the
    collision fold runs over the occupied-bucket census.  Windowless.
    """
    cust = _t(spark, sf_dir, "customer").select(
        (
            F.expr(X.hash64_spark("cast(c_custkey as string) || ':bday'"))
            % _BDAY_BUCKETS
        ).alias("bucket")
    )
    buckets = cust.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    folded = buckets.agg(
        F.sum("c").alias("m"),
        F.count(F.lit(1)).alias("occupied"),
        F.sum(
            F.expr("(cast(c as decimal(38,0)) * (c - 1)) div 2")
        ).alias("collisions"),
        F.max("c").alias("max_load"),
    )
    return folded.select(
        F.col("m").cast("bigint").alias("n_keys"),
        F.lit(_BDAY_BUCKETS).cast("bigint").alias("n_buckets"),
        F.col("occupied").cast("bigint").alias("buckets_occupied"),
        F.col("collisions").cast("bigint").alias("collision_pairs"),
        F.expr(
            f"cast((cast(m as decimal(38,0)) * (m - 1))"
            f" div (2 * {_BDAY_BUCKETS}) as bigint)"
        ).alias("expected_pairs"),
        F.expr(
            f"cast(coalesce((1000 * collisions)"
            f" div nullif((cast(m as decimal(38,0)) * (m - 1))"
            f" div (2 * {_BDAY_BUCKETS}), 0), -1) as bigint)"
        ).alias("observed_vs_expected_milli"),
        F.col("max_load").cast("bigint").alias("max_bucket_load"),
    )


ROUND8_QUERIES["birthday_collision_audit"] = birthday_collision_audit

ROUND8_ORACLES["birthday_collision_audit"] = f"""
WITH buckets AS MATERIALIZED (
  SELECT ({X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':bday'")})
           % {_BDAY_BUCKETS} AS bucket,
         count(*) AS c
  FROM customer GROUP BY 1
),
folded AS (
  SELECT sum(c) AS m, count(*) AS occupied,
         sum((c::HUGEINT * (c - 1)) // 2) AS collisions,
         max(c) AS max_load
  FROM buckets
)
SELECT CAST(m AS BIGINT) AS n_keys,
       {_BDAY_BUCKETS}::BIGINT AS n_buckets,
       CAST(occupied AS BIGINT) AS buckets_occupied,
       CAST(collisions AS BIGINT) AS collision_pairs,
       CAST((m::HUGEINT * (m - 1)) // (2 * {_BDAY_BUCKETS}) AS BIGINT)
         AS expected_pairs,
       CAST(coalesce((1000 * collisions)
                     // nullif((m::HUGEINT * (m - 1))
                               // (2 * {_BDAY_BUCKETS}), 0), -1)
            AS BIGINT) AS observed_vs_expected_milli,
       CAST(max_load AS BIGINT) AS max_bucket_load
FROM folded
"""
