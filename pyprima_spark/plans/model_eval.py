"""Model evaluation and feature preparation: ranking and calibration
metrics (ROC-AUC, average precision, ECE, isotonic, Brier, Youden, lift),
conformal intervals, simple classifiers and cluster quality, agreement
statistics, and the binning and normalisation of features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


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
    out of equidepth_histogram and rfm_segments).
    Now the 9 per-segment cut values come from percentile_disc over
    the deterministic 4% md5-gated sample (percentile_disc returns an
    actual data value — bit-identical across engines), the 5×9 cut
    table is BROADCAST, bucket assignment is a row-local comparison
    chain, and the rollup is one map-combined aggregation. Bucket
    counts are near-equal rather than exactly equal — what a sampled
    equi-depth binning IS (Spark's own RangePartitioner accepts the
    same tolerance); n doubles as the balance proof.

    Small-segment safety (review finding): a segment whose 4%
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


QUERIES["ntile_features"] = ntile_features


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
    )


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
    )


QUERIES["quantile_normalize"] = quantile_normalize

ORACLES["quantile_normalize"] = """
SELECT event_id, event_type, value,
       round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6)
         AS pr
FROM events
QUALIFY user_id % 50 = 0
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# woe_iv_binning — weight-of-evidence / information-value feature census
# ---------------------------------------------------------------------------

_WOE_BINS = 5


def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value binning (SURVEY §2 #197)
    — the credit-scoring / feature-selection staple: bin a continuous
    feature (per-user total event value in cents), label each user by
    an outcome (made >=1 purchase), and report per bin the WoE
    ln(good share / bad share) and its IV contribution. The census
    that ranks features before a model ever trains.

    Scale shape: the per-user profile is one shuffle; the four
    quintile cuts come from ONE exact percentile_disc aggregation
    (broadcast-cut pattern — no sort window), bin assignment is
    row-local, and the bin census is map-side combinable into
    ``_WOE_BINS`` rows. Determinism: counts are exact integers;
    WoE = ln of an exact integer rational with add-one smoothing
    (psi_drift's guard for empty cells), truncated to DECIMAL(18,12)
    (bigram_lm_score precedent) before any reuse; the IV term
    multiplies that decimal by the exact share difference and
    truncates again — one double cast per column at the output edge.
    """
    ev = _t(spark, sf_dir, "events")
    # Two boundaries kill the plan's three events passes (guide §2.4):
    # prof feeds the percentile-cut aggregate AND the bin assignment,
    # and per_bin (≤ |bins| rows) feeds the totals AND the smoothed
    # output — without them every consumer re-ran the events
    # aggregation (executed plan: 3 events scans → 1).

    prof = materialize(
        ev.groupBy("user_id").agg(
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
                "cents"
            ),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("good"),
        )
    )
    qs = [i / _WOE_BINS for i in range(1, _WOE_BINS)]
    cuts = prof.agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY cents)"
            ).alias(f"c{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bin_col = F.lit(1)
    for i in range(1, _WOE_BINS):
        bin_col = bin_col + (F.col("cents") > F.col(f"c{i}")).cast("int")
    binned = prof.crossJoin(F.broadcast(cuts)).select(
        bin_col.alias("bin"), "good"
    )
    per_bin = materialize(
        binned.groupBy("bin").agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("good").alias("n_good"),
            F.sum(F.lit(1) - F.col("good")).alias("n_bad"),
        )
    )
    tot = per_bin.agg(
        F.sum("n_good").alias("tot_good"), F.sum("n_bad").alias("tot_bad")
    )
    smoothed = per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_users",
        "n_good",
        "n_bad",
        F.log(
            (
                (F.col("n_good") + 1)
                * (F.col("tot_bad") + _WOE_BINS)
            ).cast("double")
            / (
                (F.col("n_bad") + 1)
                * (F.col("tot_good") + _WOE_BINS)
            ).cast("double")
        )
        .cast("decimal(18,12)")
        .alias("woe_d"),
        (
            (F.col("n_good") + 1).cast("double")
            / (F.col("tot_good") + _WOE_BINS).cast("double")
            - (F.col("n_bad") + 1).cast("double")
            / (F.col("tot_bad") + _WOE_BINS).cast("double")
        ).alias("share_diff"),
    )
    return (
        smoothed.select(
            "bin",
            "n_users",
            "n_good",
            "n_bad",
            F.col("woe_d").cast("double").alias("woe"),
            (F.col("share_diff") * F.col("woe_d").cast("double"))
            .cast("decimal(18,12)")
            .cast("double")
            .alias("iv_term"),
        )
    )


QUERIES["woe_iv_binning"] = woe_iv_binning


def _woe_oracle() -> str:
    qs = [i / _WOE_BINS for i in range(1, _WOE_BINS)]
    cut_cols = ", ".join(
        f"quantile_disc(cents, {q}) AS c{i}" for i, q in enumerate(qs, start=1)
    )
    bin_expr = " + ".join(
        ["1"]
        + [
            f"CASE WHEN cents > c{i} THEN 1 ELSE 0 END"
            for i in range(1, _WOE_BINS)
        ]
    )
    return f"""
WITH prof AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS good
  FROM events GROUP BY user_id
),
cuts AS (SELECT {cut_cols} FROM prof),
binned AS (
  SELECT {bin_expr} AS bin, good FROM prof CROSS JOIN cuts
),
per_bin AS (
  SELECT bin, count(*) AS n_users,
         CAST(sum(good) AS BIGINT) AS n_good,
         CAST(sum(1 - good) AS BIGINT) AS n_bad
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n_good) AS BIGINT) AS tot_good,
         CAST(sum(n_bad) AS BIGINT) AS tot_bad
  FROM per_bin
),
smoothed AS (
  SELECT bin, n_users, n_good, n_bad,
         CAST(ln(CAST((n_good + 1) * (tot_bad + {_WOE_BINS}) AS DOUBLE)
                 / CAST((n_bad + 1) * (tot_good + {_WOE_BINS}) AS DOUBLE))
              AS DECIMAL(18,12)) AS woe_d,
         CAST(n_good + 1 AS DOUBLE) / CAST(tot_good + {_WOE_BINS} AS DOUBLE)
           - CAST(n_bad + 1 AS DOUBLE) / CAST(tot_bad + {_WOE_BINS} AS DOUBLE)
           AS share_diff
  FROM per_bin CROSS JOIN tot
)
SELECT bin, n_users, n_good, n_bad,
       woe_d::DOUBLE AS woe,
       CAST(share_diff * woe_d::DOUBLE AS DECIMAL(18,12))::DOUBLE AS iv_term
FROM smoothed ORDER BY bin
"""

ORACLES["woe_iv_binning"] = _woe_oracle()


# ---------------------------------------------------------------------------
# cohens_kappa — inter-annotator agreement in exact rational space
# ---------------------------------------------------------------------------

_KAPPA_LANGS = ["de", "en", "es", "fr", "zh"]


def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA inter-annotator agreement (SURVEY §2 #231) —
    Cohen 1960, the labeling-QA statistic every annotation pipeline
    reports (raw percent agreement is inflated by chance; kappa
    removes the marginal-product baseline).  Annotator A is the stored
    lang label; annotator B is a deterministic noisy relabeler (keeps
    A's label unless its md5 coin lands < 15%, then draws uniformly
    from the label set) — the standard synthetic-agreement fixture.
    kappa = (n·Σagree − Σ mᵢ·kᵢ) / (n² − Σ mᵢ·kᵢ) is computed as ONE
    exact integer rational and published in parts-per-million
    (div-truncated), alongside observed/chance agreement in ppm — no
    float crosses an engine boundary.

    Scale shape: relabel is map-side; the confusion marginals are two
    label-bounded groupBys joined at label-set size (25 cells max);
    the final kappa is a 1-row exact-integer reduction.
    """
    docs = _t(spark, sf_dir, "documents")
    coin = X.hash64_spark("cast(doc_id as string) || ':anno'")
    pick = X.hash64_spark("cast(doc_id as string) || ':pick'")
    arr = "array(" + ", ".join(f"'{l}'" for l in _KAPPA_LANGS) + ")"
    labeled = docs.select(
        F.col("lang").alias("a"),
        F.expr(
            f"CASE WHEN ({coin}) % 100 < 15 "
            f"THEN element_at({arr}, cast(({pick}) % {len(_KAPPA_LANGS)} as int) + 1) "
            f"ELSE lang END"
        ).alias("b"),
    )
    # NOTE (r10, measured): the confusion census feeds stats, ma and
    # kb, so the md5-relabel fact pass evaluates three times; a
    # materialize boundary here was A/B'd (min-of-3 interleaved) and
    # measured ~1.16× SLOWER — the three consumers pipeline inside one
    # job and the eager boundary serializes the pass (the
    # model_export_bundle mechanism). Left duplicated at bench scale.
    cells = labeled.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    stats = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(0)).alias(
            "agree"
        ),
    )
    ma = cells.groupBy("a").agg(F.sum("c").alias("m"))
    kb = cells.groupBy("b").agg(F.sum("c").alias("k"))
    chance = (
        ma.join(kb, ma.a == kb.b)
        .agg(F.sum(F.expr("m * k")).alias("mk"))
    )
    return (
        stats.join(chance)
        .select(
            "n",
            "agree",
            F.expr("(1000000 * agree) div n").alias("po_ppm"),
            F.expr("(1000000 * mk) div (n * n)").alias("pe_ppm"),
            F.expr(
                "(1000000 * (n * agree - mk)) div (n * n - mk)"
            ).alias("kappa_ppm"),
        )
    )


QUERIES["cohens_kappa"] = cohens_kappa


_KAPPA_ARR = "[" + ", ".join(f"'{l}'" for l in _KAPPA_LANGS) + "]"


_KAPPA_COIN = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':anno'")
_KAPPA_PICK = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':pick'")

ORACLES["cohens_kappa"] = f"""
WITH labeled AS (
  SELECT lang AS a,
         CASE WHEN ({_KAPPA_COIN}) % 100 < 15
              THEN ({_KAPPA_ARR})[CAST(({_KAPPA_PICK}) % {len(_KAPPA_LANGS)} AS INT) + 1]
              ELSE lang END AS b
  FROM documents
),
cells AS (
  SELECT a, b, count(*) AS c FROM labeled GROUP BY a, b
),
stats AS (
  SELECT sum(c) AS n,
         sum(CASE WHEN a = b THEN c ELSE 0 END) AS agree
  FROM cells
),
chance AS (
  SELECT sum(m * k) AS mk FROM
    (SELECT a, sum(c) AS m FROM cells GROUP BY a) ma
    JOIN (SELECT b, sum(c) AS k FROM cells GROUP BY b) kb ON ma.a = kb.b
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(agree AS BIGINT) AS agree,
       CAST((1000000 * agree) // n AS BIGINT) AS po_ppm,
       CAST((1000000 * mk) // (n * n) AS BIGINT) AS pe_ppm,
       CAST((1000000 * (n * agree - mk)) // (n * n - mk) AS BIGINT)
         AS kappa_ppm
FROM stats, chance
"""


# ---------------------------------------------------------------------------
# kendall_tau_topk — rank correlation between two signals
# ---------------------------------------------------------------------------

_TAU_K = 50


def kendall_tau_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL TAU rank correlation over the per-lang top-{k}
    (SURVEY §2 #235) — the third leg of the ranking-eval family:
    ndcg_eval scores one ranking against graded labels, rrf_fusion
    merges rankings, tau measures how much two ranking SIGNALS agree
    before anyone fuses them (Kendall 1938; concordant minus
    discordant pairs).  Within each lang the top-{k} docs by signal A
    (char length, doc_id-pinned) are taken as the item set, both
    signals are compared on every item pair, and tau-a is published
    ppm from exact integer C/D counts, with tied pairs counted
    separately (ties join neither C nor D — the report shows exactly
    what was dropped).

    Scale shape: the top-{k} election is a lang-partitioned
    WindowGroupLimit; the pair join is RANK-BOUNDED ({k}·({k}−1)/2
    pairs per lang regardless of corpus size) and lang-keyed — never
    fact×fact.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "doc_id",
        F.col("n_chars").alias("sa"),
        F.expr(f"size(array_distinct({X.tokens_spark('text')}))").alias("sb"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("sa"), F.asc("doc_id"))
    top = (
        base.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _TAU_K)
        .select("lang", "doc_id", "sa", "sb")
    )
    top = materialize(top)
    a = top.select("lang", F.col("doc_id").alias("i"), F.col("sa").alias("sa_i"), F.col("sb").alias("sb_i"))
    b = top.select("lang", F.col("doc_id").alias("j"), F.col("sa").alias("sa_j"), F.col("sb").alias("sb_j"))
    pairs = a.join(b, "lang").filter(F.col("i") < F.col("j"))
    scored = pairs.select(
        "lang",
        F.when(
            (F.col("sa_i") != F.col("sa_j")) & (F.col("sb_i") != F.col("sb_j")),
            F.when(
                (F.col("sa_i") > F.col("sa_j")) == (F.col("sb_i") > F.col("sb_j")),
                1,
            ).otherwise(-1),
        )
        .otherwise(0)
        .alias("cd"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("cd") == 1, 1).otherwise(0)).alias("concordant"),
            F.sum(F.when(F.col("cd") == -1, 1).otherwise(0)).alias("discordant"),
            F.sum(F.when(F.col("cd") == 0, 1).otherwise(0)).alias("tied"),
        )
        .withColumn(
            "tau_ppm",
            F.expr("(1000000 * (concordant - discordant)) div n_pairs"),
        )
    )


QUERIES["kendall_tau_topk"] = kendall_tau_topk

ORACLES["kendall_tau_topk"] = f"""
WITH base AS (
  SELECT lang, doc_id, n_chars AS sa,
         len(list_distinct({X.tokens_duck('text')})) AS sb
  FROM documents
),
top AS MATERIALIZED (
  SELECT lang, doc_id, sa, sb FROM (
    SELECT lang, doc_id, sa, sb,
           row_number() OVER (PARTITION BY lang
                              ORDER BY sa DESC, doc_id) AS r
    FROM base
  ) WHERE r <= {_TAU_K}
),
scored AS (
  SELECT a.lang,
         CASE WHEN a.sa <> b.sa AND a.sb <> b.sb
              THEN CASE WHEN (a.sa > b.sa) = (a.sb > b.sb)
                        THEN 1 ELSE -1 END
              ELSE 0 END AS cd
  FROM top a JOIN top b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN cd = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS concordant,
       CAST(sum(CASE WHEN cd = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS discordant,
       CAST(sum(CASE WHEN cd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tied,
       CAST((1000000 * (sum(CASE WHEN cd = 1 THEN 1 ELSE 0 END)
             - sum(CASE WHEN cd = -1 THEN 1 ELSE 0 END))) // count(*)
            AS BIGINT) AS tau_ppm
FROM scored
GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# decile_lift — gains chart via broadcast percentile cuts
# ---------------------------------------------------------------------------


def decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT / cumulative-gains chart (SURVEY §2 #236) — the
    score-quality readout campaign and churn models actually ship
    with (does the top decile capture outsized response?): customers
    are scored by FIRST-half spend, the outcome is SECOND-half
    activity, scores cut into deciles by the broadcast percentile-cut
    pattern (the r5-verdict prescription — percentile_disc boundaries
    broadcast back, bucket assignment map-side, NO global ntile sort),
    and each decile reports its responder capture plus the cumulative
    share in exact basis points.

    Scale shape: two per-customer aggregates (map-combined), 9 cut
    values from one percentile_disc aggregate broadcast to the
    assignment projection, the final cumulative window over the
    10-row decile census.
    """
    orders = _t(spark, sf_dir, "orders")
    # materialized: BOTH the percentile-cut aggregate and the bucket
    # assignment scan this table — without the boundary the first-half
    # orders scan + aggregate ran once per consumer (guide §2.4).
    first = materialize(
        orders.filter(
            F.expr("o_orderdate < date'1998-07-01'")
        ).groupBy(F.col("o_custkey").alias("cust")).agg(
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
            F.coalesce("responded", F.lit(0)).alias("responded"),
        )
    )
    census = assigned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("responded").alias("n_responders"),
    )
    # The responder total rides as a whole-partition window on the
    # cumulative window's existing single-partition exchange — the
    # former separate aggregate + broadcast join re-evaluated the whole
    # census subtree (guide §2.4; the abc_xyz_inventory pattern).
    # Identical integer operands, so the published bp are unchanged.
    return census.select(
        "decile",
        "n_customers",
        "n_responders",
        F.expr("(10000 * n_responders) div n_customers").alias(
            "response_bp"
        ),
        F.expr(
            "(10000 * sum(n_responders) over ("
            "order by decile desc rows between unbounded preceding "
            "and current row)) div (sum(n_responders) over ())"
        ).alias("cum_capture_bp"),
    )


QUERIES["decile_lift"] = decile_lift

ORACLES["decile_lift"] = """
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
  SELECT {cuts} FROM first_half
),
assigned AS (
  SELECT {cut_case} AS decile,
         coalesce(s.responded, 0) AS responded
  FROM first_half f CROSS JOIN cuts LEFT JOIN second_half s USING (cust)
),
census AS (
  SELECT decile, count(*) AS n_customers, sum(responded) AS n_responders
  FROM assigned GROUP BY decile
),
tot AS (SELECT sum(n_responders) AS all_resp FROM census)
SELECT decile,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(n_responders AS BIGINT) AS n_responders,
       CAST((10000 * n_responders) // n_customers AS BIGINT)
         AS response_bp,
       CAST((10000 * sum(n_responders) OVER (ORDER BY decile DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            // all_resp AS BIGINT) AS cum_capture_bp
FROM census CROSS JOIN tot
ORDER BY decile DESC
""".replace(
    "{cuts}",
    ", ".join(
        f"quantile_disc(spend_cents, 0.{d}) AS c{d}" for d in range(1, 10)
    ),
).replace(
    "{cut_case}",
    "CASE "
    + " ".join(f"WHEN spend_cents <= c{d} THEN {d}" for d in range(1, 10))
    + " ELSE 10 END",
)


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
    )


QUERIES["roc_auc_rank"] = roc_auc_rank

ORACLES["roc_auc_rank"] = """
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
    )


QUERIES["conformal_interval_eval"] = conformal_interval_eval

ORACLES["conformal_interval_eval"] = """
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
    )


QUERIES["calibration_ece"] = calibration_ece

ORACLES["calibration_ece"] = f"""
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
    )


QUERIES["silhouette_eval"] = silhouette_eval

ORACLES["silhouette_eval"] = """
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
    cent_rows = bounded_collect(
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
    )


QUERIES["nearest_centroid_confusion"] = nearest_centroid_confusion

ORACLES["nearest_centroid_confusion"] = f"""
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


def _spend_label_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: the score ``spend_c``, order value in cents before
    1998, and the label ``y``, 1 when the customer ordered in 1998 —
    the honest score/outcome split the calibration and threshold keys
    evaluate. One map-combined agg over orders."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.expr(
            "cast(sum(CASE WHEN o_orderdate < date'1998-01-01'"
            " THEN cast(o_totalprice as decimal(18,2)) * 100"
            " ELSE 0 END) as bigint)"
        ).alias("spend_c"),
        F.max(
            F.expr("o_orderdate >= date'1998-01-01'").cast("int")
        ).alias("y"),
    )


# The DuckDB form of _spend_label_frame, as the ``per_cust`` CTE.
_SPEND_LABEL_CTE = """per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       ELSE 0 END) AS BIGINT) AS spend_c,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
)"""


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
    per_cust = _spend_label_frame(spark, sf_dir)
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
    )


QUERIES["isotonic_calibration"] = isotonic_calibration

ORACLES["isotonic_calibration"] = f"""
WITH {_SPEND_LABEL_CTE},
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
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    per_cust = _spend_label_frame(spark, sf_dir)
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
    )


QUERIES["average_precision_eval"] = average_precision_eval

ORACLES["average_precision_eval"] = f"""
WITH {_SPEND_LABEL_CTE},
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
    )


QUERIES["brier_decomposition"] = brier_decomposition

ORACLES["brier_decomposition"] = f"""
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
    )


QUERIES["rank_biased_overlap"] = rank_biased_overlap

ORACLES["rank_biased_overlap"] = f"""
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
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_mktsegment").alias("segment")
    )
    per_cust = _spend_label_frame(spark, sf_dir)
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
    )


QUERIES["youden_threshold"] = youden_threshold

ORACLES["youden_threshold"] = f"""
WITH {_SPEND_LABEL_CTE},
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
    )


QUERIES["decision_stump_1r"] = decision_stump_1r

ORACLES["decision_stump_1r"] = f"""
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
    )


QUERIES["ransac_consensus_fit"] = ransac_consensus_fit

ORACLES["ransac_consensus_fit"] = f"""
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
