"""Round-7 operators (SURVEY §2 #191–199).

Families / what each adds that the existing 223 keys do not:

- curriculum_phases: curriculum-learning phase assignment — the
  training-order counterpart of data_mixture_plan (WHICH data per
  phase, where the mixture plan decides HOW MUCH per source). Built on
  the broadcast percentile-cut pattern the r5 verdict prescribed for
  rfm_segments/equidepth_histogram: no global sort anywhere.
- countmin_heavy_hitters: Count-Min sketch built from primitives with
  the exact answer riding along as its own error eval (the
  kmv_distinct_sketch pattern applied to FREQUENCY estimation — the
  sketch family now covers distinct-count, set-overlap, and frequency).
- cluster_size_histogram: size distribution of the near-dup clusters —
  the dedup-observability census (a handful of mega-clusters vs a long
  tail of pairs demand different dedup strategies).
- tokenizer_fertility: per-language chars-per-token / tokens-per-doc /
  whitespace share — the multilingual tokenizer-efficiency census
  (fertility differences are why multilingual token budgets skew).
- moving_average_decompose: classical trend + day-of-week seasonal
  decomposition of the daily revenue series, all in integer-cent
  arithmetic (residuals kept at ×7 scale so no division rounds).
- contamination_attribution: WHICH train sources leak into which eval
  sources — the actionable readout on top of decontaminate_ngrams'
  how-much census (same split gate, same 8-gram hash space).
- woe_iv_binning: Weight-of-Evidence / Information-Value feature
  binning — percentile cuts + DECIMAL-truncated ln of exact integer
  rationals (the credit-scoring feature-ranking staple).
- kaplan_meier_fulfillment: survival analysis with right-censoring —
  time-to-event semantics plain distribution ops cannot express.
- markov_attribution: first-order Markov removal-effect channel
  attribution — scenario-keyed fixed-point mass propagation in exact
  BIGINT fixed-point arithmetic, the data-driven counterpart of
  attribution_models' rule-based splits.

Each key has an exact-match DuckDB oracle in ``ORACLES``;
determinism rules follow functions/agg.py (integer arithmetic at every
reported edge; `div`/`//` truncation on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import dec_avg
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.dedup import gram_set_sizes, ngram_gram_table
from pyprima_spark.operators.exactmath import bounded_collect, tdiv as _tdiv
from pyprima_spark.operators.multimodal import png_ahash_roundtrip
from pyprima_spark.plans.constants import NGRAM_DF_MAX, NGRAM_LEN_BAND
from pyprima_spark.plans.core import _edge_aggregate, _t
from pyprima_spark.sources import fsio
from pyprima_spark.sources.avro_ocf import read_avro, write_avro_file
from pyprima_spark.sources.fixedwidth import read_fixed_width, write_fixed_width
from pyprima_spark.sources.xlsx import read_xlsx_sheet, write_xlsx_book


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# curriculum_phases — percentile-cut curriculum assignment
# ---------------------------------------------------------------------------


def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment (SURVEY §2 #191): order the
    corpus into three training phases by a difficulty proxy — integer
    chars-per-token (longer words ≈ harder text; any per-doc score
    slots in) — and report the per-(phase, source) doc/token census a
    curriculum schedule consumes. data_mixture_plan decides how much
    of each source to sample; this decides WHEN each document enters
    training.

    Scale shape: the two tercile cut values come from one exact
    percentile_disc aggregation over per-doc integers (partial-merge
    aggregate — no sort window anywhere, the broadcast-cut pattern
    that replaced rfm_segments' global ntiles), the 1-row cut set is
    broadcast, phase assignment is a row-local CASE, and the census is
    one map-combined aggregation. Ties share a phase — the order-free
    semantics a distributed curriculum wants (ntile's positional split
    would depend on a global sort).
    """
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.expr(f"size({X.tokens_spark('text')})").alias("n_tok"),
        "n_chars",
    ).filter(F.col("n_tok") > 0)
    scored = scored.withColumn(
        "difficulty", F.expr("n_chars * 10000 div n_tok")
    )
    cuts = scored.agg(
        F.expr(
            "percentile_disc(0.3333333333333333) WITHIN GROUP"
            " (ORDER BY difficulty)"
        ).alias("c1"),
        F.expr(
            "percentile_disc(0.6666666666666666) WITHIN GROUP"
            " (ORDER BY difficulty)"
        ).alias("c2"),
    )
    phased = scored.crossJoin(F.broadcast(cuts)).select(
        "source",
        "n_tok",
        "difficulty",
        (
            F.lit(1)
            + (F.col("difficulty") > F.col("c1")).cast("int")
            + (F.col("difficulty") > F.col("c2")).cast("int")
        ).alias("phase"),
    )
    return (
        phased.groupBy("phase", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.min("difficulty").alias("diff_min"),
            F.max("difficulty").alias("diff_max"),
        )
        .orderBy("phase", "source")
    )


QUERIES["curriculum_phases"] = curriculum_phases

ORACLES["curriculum_phases"] = f"""
WITH scored AS (
  SELECT source,
         len({X.tokens_duck('text')}) AS n_tok,
         n_chars
  FROM documents
),
nz AS (
  SELECT source, n_tok, n_chars * 10000 // n_tok AS difficulty
  FROM scored WHERE n_tok > 0
),
cuts AS (
  SELECT quantile_disc(difficulty, 0.3333333333333333) AS c1,
         quantile_disc(difficulty, 0.6666666666666666) AS c2
  FROM nz
)
SELECT 1 + CASE WHEN difficulty > c1 THEN 1 ELSE 0 END
         + CASE WHEN difficulty > c2 THEN 1 ELSE 0 END AS phase,
       source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       min(difficulty) AS diff_min,
       max(difficulty) AS diff_max
FROM nz CROSS JOIN cuts
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# countmin_heavy_hitters — Count-Min frequency sketch with riding eval
# ---------------------------------------------------------------------------

_CM_D = 4  # hash rows
_CM_W = 512  # counters per row
_CM_TOPK = 10


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (SURVEY §2 #192), built
    from primitives with the exact answer riding along as its own
    error eval (kmv_distinct_sketch's design applied to the frequency
    question): a d×w counter matrix over user event counts, point
    queries for the exact top-k users, and the per-user overcount —
    Count-Min never undercounts, so ``cm_estimate - exact_n >= 0`` is
    a structural invariant the oracle checks for free.

    Scale shape: the sketch build is ONE map-side-combinable
    aggregation over a d-way explode (output bounded at d·w = 2048
    rows regardless of input scale — that boundedness is the entire
    point of a sketch); the top-k query side is a row_number ≤ k over
    the per-user census (WindowGroupLimit pushdown — map-local top-k),
    and the point queries join the k·d probe rows to the counter table
    by (row, bucket) — the counter table rides the BROADCAST side.
    Every count is an exact integer; the sketch hashes are the house
    60-bit hash, so the oracle reproduces the matrix bit-for-bit.
    """
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    # Sketch counters from the per-user census, not the raw event
    # stream (guide §2.3: aggregate before you shuffle): every event
    # of a user lands in the same (cm_i, bucket), so counting exploded
    # event rows equals summing per-user counts — identical integers —
    # while the d-way explode and its d md5s per row run over |users|
    # census rows instead of |events| fact rows, and the fact table is
    # scanned with nothing but a map-combined count.
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(_CM_D)])
    ).alias("cm_i")
    keyed = per_user.select("exact_n", F.col("user_id"), rows).select(
        "exact_n",
        "cm_i",
        (
            F.expr(
                X.hash64_spark(
                    "cast(user_id as string) || ':cm' || cast(cm_i as string)"
                )
            )
            % _CM_W
        ).alias("bucket"),
    )
    counters = keyed.groupBy("cm_i", "bucket").agg(
        F.sum("exact_n").alias("c")
    )
    w = Window.orderBy(F.desc("exact_n"), F.asc("user_id"))
    topk = (
        per_user.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CM_TOPK)
    )
    probes = topk.select(
        "rank",
        "user_id",
        "exact_n",
        F.explode(F.array(*[F.lit(i) for i in range(_CM_D)])).alias("cm_i"),
    ).select(
        "rank",
        "user_id",
        "exact_n",
        "cm_i",
        (
            F.expr(
                X.hash64_spark(
                    "cast(user_id as string) || ':cm' || cast(cm_i as string)"
                )
            )
            % _CM_W
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["cm_i", "bucket"])
        .groupBy("rank", "user_id", "exact_n")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            "rank",
            "user_id",
            "exact_n",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("rank")
    )


QUERIES["countmin_heavy_hitters"] = countmin_heavy_hitters


def _cm_oracle() -> str:
    hash_expr = X.hash64_duck(
        "cast(user_id as VARCHAR) || ':cm' || cast(cm_i as VARCHAR)"
    )
    return f"""
WITH keyed AS (
  SELECT cm_i, {hash_expr} % {_CM_W} AS bucket
  FROM events, unnest([{', '.join(str(i) for i in range(_CM_D))}]) r(cm_i)
),
counters AS (
  SELECT cm_i, bucket, count(*) AS c FROM keyed GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
),
topk AS (
  SELECT user_id, exact_n,
         row_number() OVER (ORDER BY exact_n DESC, user_id ASC) AS rank
  FROM per_user QUALIFY rank <= {_CM_TOPK}
),
probes AS (
  SELECT rank, user_id, exact_n, cm_i,
         {hash_expr} % {_CM_W} AS bucket
  FROM topk, unnest([{', '.join(str(i) for i in range(_CM_D))}]) r(cm_i)
)
SELECT rank, user_id, exact_n,
       CAST(min(c) AS BIGINT) AS cm_estimate,
       CAST(min(c) - exact_n AS BIGINT) AS overcount
FROM probes JOIN counters USING (cm_i, bucket)
GROUP BY rank, user_id, exact_n
ORDER BY rank
"""


ORACLES["countmin_heavy_hitters"] = _cm_oracle()


# ---------------------------------------------------------------------------
# cluster_size_histogram — dedup-cluster observability census
# ---------------------------------------------------------------------------


def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution (SURVEY §2 #193): how many
    clusters of size 1, 2, 3… does the dedup fingerprint induce, and
    how many documents sit in each size class — the observability
    census that tells a dedup operator whether it faces a long tail of
    pairs (cheap) or boilerplate mega-clusters (needs the df-cutoff
    path). Uses golden_record's fingerprint (md5 of the first-40-char
    normalized prefix) so the histogram describes the same clustering
    the consolidation operators act on.

    Scale shape: two map-side-combinable aggregations — per
    fingerprint, then per size; output bounded by the largest cluster
    size. No joins, no windows.
    """
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    clusters = (
        docs.select(F.md5(F.substring(norm, 1, 40)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("size"))
    )
    return (
        clusters.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("size").alias("n_docs"),
        )
        .orderBy("size")
    )


QUERIES["cluster_size_histogram"] = cluster_size_histogram

ORACLES["cluster_size_histogram"] = """
WITH clusters AS (
  SELECT md5(substr(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), 1, 40)) AS fp,
         count(*) AS size
  FROM documents GROUP BY 1
)
SELECT size, count(*) AS n_clusters, CAST(sum(size) AS BIGINT) AS n_docs
FROM clusters GROUP BY size ORDER BY size
"""


# ---------------------------------------------------------------------------
# tokenizer_fertility — per-language tokenizer-efficiency census
# ---------------------------------------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census per language (SURVEY §2 #194):
    chars-per-token (×100), tokens-per-doc (×100), and whitespace
    share in basis points — the efficiency profile that explains why
    equal-byte multilingual corpora yield unequal token budgets
    (fertility varies ~2–4× across languages under one tokenizer) and
    feeds data_mixture_plan's token censuses.

    Scale shape: fully row-local per-doc integers (token count via the
    house tokenizer expression, whitespace count by length
    difference), then ONE map-side-combinable per-lang aggregation;
    every reported ratio is integer-divided once at the output edge.
    """
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.expr(f"size({X.tokens_spark('text')})").alias("n_tok"),
        F.length("text").alias("n_ch"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[ \\t\\n\\r\\f]", ""))
        ).alias("n_ws"),
    ).filter(F.col("n_tok") > 0)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("n_ch").alias("chars"),
            F.sum("n_ws").alias("ws_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "tokens",
            F.expr("cast(chars * 100 div tokens as int)").alias(
                "chars_per_tok_x100"
            ),
            F.expr("cast(tokens * 100 div n_docs as int)").alias(
                "toks_per_doc_x100"
            ),
            F.expr("cast(ws_chars * 10000 div chars as int)").alias(
                "ws_share_bp"
            ),
        )
        .orderBy("lang")
    )


QUERIES["tokenizer_fertility"] = tokenizer_fertility

ORACLES["tokenizer_fertility"] = f"""
WITH d AS (
  SELECT lang,
         len({X.tokens_duck('text')}) AS n_tok,
         length(text) AS n_ch,
         length(text) - length(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g')) AS n_ws
  FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS tokens,
         CAST(sum(n_ch) AS BIGINT) AS chars,
         CAST(sum(n_ws) AS BIGINT) AS ws_chars
  FROM d WHERE n_tok > 0 GROUP BY lang
)
SELECT lang, n_docs, tokens,
       CAST(chars * 100 // tokens AS INT) AS chars_per_tok_x100,
       CAST(tokens * 100 // n_docs AS INT) AS toks_per_doc_x100,
       CAST(ws_chars * 10000 // chars AS INT) AS ws_share_bp
FROM agg ORDER BY lang
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
        .orderBy("event_type", "dow")
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
# contamination_attribution — which train sources leak into which evals
# ---------------------------------------------------------------------------

_CA_K = 8  # n-gram width, matches decontaminate_ngrams


def contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination ATTRIBUTION (SURVEY §2 #196): for each
    (train source → eval source) pair, how many distinct 8-gram hashes
    leak and how many eval docs are touched — the actionable readout
    on top of decontaminate_ngrams' per-source totals (same split
    gate, same hash space): it names WHICH ingest pipeline to fix.

    Scale shape: grams ride as 60-bit hashes; the train side reduces
    to DISTINCT (hash, source) — bounded by grams×|sources|, same
    order as the train set itself — and the leak join is a shuffle
    equi-join on the uniform hash key (never broadcast; train is
    corpus-sized at 100 TB). The census counts distinct grams and
    distinct docs per source pair, so output is |sources|² at most.
    """
    docs = _t(spark, sf_dir, "documents")
    h = F.expr(X.hash64_spark("cast(doc_id as string) || ':split'")) % 100
    grams = materialize(
        docs.select(
            "doc_id",
            "source",
            (h < 80).alias("is_train"),
            F.expr(X.tokens_spark("text")).alias("toks"),
        )
        .filter(F.size("toks") >= _CA_K)
        .select(
            "doc_id",
            "source",
            "is_train",
            F.explode(F.expr(X.shingles_spark("toks", _CA_K))).alias("g"),
        )
        .withColumn("gh", F.expr(X.hash64_spark("g")))
        .drop("g")
    )
    train = grams.filter("is_train").select(
        F.col("source").alias("train_source"), "gh"
    ).distinct()
    eval_g = grams.filter(~F.col("is_train")).select(
        F.col("source").alias("eval_source"), "doc_id", "gh"
    ).distinct()
    hits = eval_g.join(train, "gh")
    return (
        hits.groupBy("train_source", "eval_source")
        .agg(
            F.countDistinct("gh").alias("leaked_grams"),
            F.countDistinct("doc_id").alias("eval_docs_touched"),
        )
        .orderBy("train_source", "eval_source")
    )


QUERIES["contamination_attribution"] = contamination_attribution

ORACLES["contamination_attribution"] = f"""
WITH tok AS (
  SELECT doc_id, source,
         {X.hash64_duck("cast(doc_id as VARCHAR) || ':split'")} % 100 < 80
           AS is_train,
         {X.tokens_duck('text')} AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, source, is_train,
         {X.hash64_duck('g')} AS gh
  FROM (
    SELECT doc_id, source, is_train,
           unnest({X.shingles_duck('toks', _CA_K)}) AS g
    FROM tok WHERE len(toks) >= {_CA_K}
  )
),
train AS (
  SELECT DISTINCT source AS train_source, gh FROM grams WHERE is_train
),
eval_g AS (
  SELECT DISTINCT source AS eval_source, doc_id, gh
  FROM grams WHERE NOT is_train
)
SELECT train_source, eval_source,
       count(DISTINCT gh) AS leaked_grams,
       count(DISTINCT doc_id) AS eval_docs_touched
FROM eval_g JOIN train USING (gh)
GROUP BY 1, 2 ORDER BY 1, 2
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
        .orderBy("bin")
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
        .orderBy("o_orderpriority", "t_obs")
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
# model_workbook_roundtrip — urbs/evrys xlsx format driven through catalog
# ---------------------------------------------------------------------------


def model_workbook_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The urbs/evrys model-WORKBOOK format exercised through the
    correctness gate (SURVEY §2 #200; the xlsx counterpart of
    raster_export_manifest's GeoTIFF closure): assemble the Site and
    Commodity sheets of the model bundle (model_export_bundle's
    lineage, round4.py), write them as ONE multi-sheet .xlsx from a
    single executor task (stdlib ZIP/XML encoder — the reference's
    generate_models.py output format, config.py:778), re-read every
    sheet through the binaryFile + executor-side decoder, and emit a
    per-sheet census. The oracle computes the same census from the
    same relational lineage in pure SQL — any byte defect in the
    workbook encoder/decoder breaks the match.

    Determinism across the file hop: values cross the format as
    ``repr(float)`` which round-trips doubles exactly; the census sums
    CENTS (bigint) so no double addition order matters.

    Deployment contract (VERDICT r6 item 2): the workbook hop rides
    :func:`pyprima_spark.sources.fsio.scratch_dir` — set
    ``spark.pyprima.scratchDir`` to a shared/HDFS/object-store URI on
    a multi-node cluster; the default driver tempdir is correct only
    where driver and executors share a disk (local[k], the tested
    env). Bytes route through PyArrow's FileSystem API either way.
    """

    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    site = nat.select(
        F.lit("site").alias("sheet"),
        F.col("n_name").alias("site"),
        F.lit("area").alias("attr"),
        (F.col("n_nationkey") * 13 % 50 + 10).cast("double").alias("value"),
    )
    commodity = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(dec_avg("o_totalprice", 2).alias("value"))
        .select(
            F.lit("commodity").alias("sheet"),
            F.col("n_name").alias("site"),
            F.col("o_orderpriority").alias("attr"),
            "value",
        )
    )
    book_path = fsio.join(
        fsio.scratch_dir(spark, "pyprima_model_"), "model.xlsx"
    )
    manifest = write_xlsx_book(
        site.unionByName(commodity),
        book_path,
        order_by=["site", "attr"],
    )
    manifest.count()  # force the write before planning the read-back

    schema = "site string, attr string, value double"
    read_back = read_xlsx_sheet(
        spark, book_path, "site", schema
    ).withColumn("sheet", F.lit("site")).unionByName(
        read_xlsx_sheet(spark, book_path, "commodity", schema).withColumn(
            "sheet", F.lit("commodity")
        )
    )
    return (
        read_back.groupBy("sheet")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("site").alias("n_sites"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
                "value_cents"
            ),
        )
        .orderBy("sheet")
    )


QUERIES["model_workbook_roundtrip"] = model_workbook_roundtrip

ORACLES["model_workbook_roundtrip"] = """
WITH site AS (
  SELECT 'site' AS sheet, n_name AS site, 'area' AS attr,
         CAST(n_nationkey * 13 % 50 + 10 AS DOUBLE) AS value
  FROM nation
),
commodity AS (
  SELECT 'commodity' AS sheet, n_name AS site, o_orderpriority AS attr,
         round(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE
               / count(o_totalprice), 2) AS value
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_orderpriority
),
allrows AS (SELECT * FROM site UNION ALL SELECT * FROM commodity)
SELECT sheet, count(*) AS n_rows,
       count(DISTINCT site) AS n_sites,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM allrows GROUP BY sheet ORDER BY sheet
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
        .orderBy("o_orderpriority")
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
        .orderBy("digit")
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
        .orderBy("regionkey")
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
        .orderBy("event_type")
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
# neyman_allocation — optimal stratified-sample design
# ---------------------------------------------------------------------------

_NEYMAN_N = 1000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (SURVEY §2 #204):
    split a sampling budget across strata proportionally to
    N_h·S_h (stratum size × stratum std) — the design that minimizes
    estimator variance, and the planning step BEFORE
    stratified_sample/deterministic_sample draw anything.

    Determinism: per-stratum sufficient statistics in integer cents
    (n, Σc, Σc²), the population-variance NUMERATOR n·Σc² − (Σc)² is
    an exact BIGINT, and N_h·S_h = √(that numerator) floors into
    integer space (data_mixture_plan's floor(sqrt) pattern) before the
    single allocation division. Σc² bounds BIGINT up to ~3e18 — at
    petabyte scale the census upgrades to DECIMAL(38,0), documented
    here. One map-combined aggregation; |strata| rows.
    """
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("s1"),
        F.sum(
            F.expr(
                "cast(round(value * 100) as bigint)"
                " * cast(round(value * 100) as bigint)"
            )
        ).alias("s2"),
    )
    stats = stats.withColumn(
        "w",
        F.expr(
            "cast(floor(sqrt(cast(n * s2 - s1 * s1 as double))) as bigint)"
        ),
    )
    tot = stats.agg(F.sum("w").alias("tw"))
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            F.col("event_type").alias("stratum"),
            "n",
            "w",
            F.expr(
                f"cast({_NEYMAN_N} * w div tw as int)"
            ).alias("alloc"),
            F.expr("cast(w * 10000 div tw as int)").alias("share_bp"),
        )
        .orderBy("stratum")
    )


QUERIES["neyman_allocation"] = neyman_allocation

ORACLES["neyman_allocation"] = f"""
WITH stats AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY event_type
),
weighted AS (
  SELECT event_type, n,
         CAST(floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS w
  FROM stats
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM weighted)
SELECT event_type AS stratum, n, w,
       CAST({_NEYMAN_N} * w // tw AS INT) AS alloc,
       CAST(w * 10000 // tw AS INT) AS share_bp
FROM weighted CROSS JOIN tot
ORDER BY stratum
"""


# ---------------------------------------------------------------------------
# label_propagation — synchronous LPA community detection
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community DETECTION on the
    sparsified trade graph (SURVEY §2 #205) — the missing half of the
    community story: graph_modularity SCORES a given partition, LPA
    produces one. ``_LPA_ROUNDS`` deterministic sync rounds: every
    node adopts the most frequent label among its neighbors, ties
    broken toward the SMALLEST label (classic LPA is tie-random; the
    pinned tie-break makes the fixed point engine-reproducible).

    Scale shape: the fact table collapses once into the dim-bounded
    (|nations|²) edge aggregate; the sparsified census is collected
    and the ``_LPA_ROUNDS`` synchronous rounds run driver-side on the
    constant-size graph — zero cluster barriers per round at any data
    scale (the previous all-DataFrame unroll paid a shuffle + two
    folds per round on a ≤25-row label table). The oracle unrolls
    identical rounds as chained CTEs with a row_number pick matching
    the (count, smallest-label) tie-break.
    """

    # Materialize the dim-bounded edge census once: tot and sparse
    # both reference it, so without the boundary the 4-way lineitem
    # fact join runs twice (guide §2.4 duplicate-subtree removal).
    edges = materialize(
        _edge_aggregate(spark, sf_dir).select("edge_a", "edge_b", "n_lines")
    )
    tot = edges.agg(
        F.sum("n_lines").alias("tot"), F.count(F.lit(1)).alias("ne")
    )
    sparse = (
        edges.crossJoin(F.broadcast(tot))
        .filter(F.col("n_lines") * F.col("ne") * 10 >= 11 * F.col("tot"))
        .select("edge_a", "edge_b")
    )

    s_rows = {
        (r["edge_a"], r["edge_b"])
        for r in bounded_collect(
            sparse, 625, "label_propagation: nation-pair edge census"
        )
    }  # dim-bounded sparsified census (≤ |nations|²)
    sym = sorted(s_rows | {(b, a) for a, b in s_rows})
    nodes = sorted({a for a, _ in sym})
    labels = {node: node for node in nodes}
    for _ in range(_LPA_ROUNDS):
        new_labels = {}
        for v in nodes:
            counts: dict = {}
            for a, b in sym:
                if b == v:
                    counts[labels[a]] = counts.get(labels[a], 0) + 1
            if counts:
                # most frequent label, ties toward the SMALLEST label
                new_labels[v] = max(
                    counts, key=lambda lab: (counts[lab], -lab)
                )
            else:
                new_labels[v] = v
        labels = new_labels
    sizes: dict = {}
    for node in nodes:
        lab = labels[node]
        cnt, mn = sizes.get(lab, (0, node))
        sizes[lab] = (cnt + 1, min(mn, node))
    out = [
        (int(lab), int(cnt), int(mn))
        for lab, (cnt, mn) in sorted(sizes.items())
    ]
    return spark.createDataFrame(
        out, schema="community int, n_nodes bigint, min_node int"
    )


QUERIES["label_propagation"] = label_propagation


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
c{r} AS MATERIALIZED (
  SELECT e.edge_b AS v, l.label, count(*) AS c
  FROM sym e JOIN {prev} l ON e.edge_a = l.node
  GROUP BY 1, 2
),
p{r} AS MATERIALIZED (
  SELECT v AS node, label AS new_label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC)
             AS rn
    FROM c{r}
  ) WHERE rn = 1
),
l{r} AS MATERIALIZED (
  SELECT n.node, coalesce(p.new_label, n.node) AS label
  FROM nodes n LEFT JOIN p{r} p USING (node)
)""")
        prev = f"l{r}"
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT c_nationkey AS cn, s_nationkey AS sn
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
),
agg AS MATERIALIZED (
  SELECT least(cn, sn) AS edge_a, greatest(cn, sn) AS edge_b,
         count(*) AS n_lines
  FROM pairs GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_lines) AS BIGINT) AS tot, count(*) AS ne FROM agg),
sparse AS MATERIALIZED (
  SELECT edge_a, edge_b FROM agg CROSS JOIN tot
  WHERE n_lines * ne * 10 >= 11 * tot
),
sym AS MATERIALIZED (
  SELECT edge_a, edge_b FROM sparse
  UNION
  SELECT edge_b, edge_a FROM sparse
),
nodes AS MATERIALIZED (SELECT DISTINCT edge_a AS node FROM sym),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
{','.join(rounds)}
SELECT label AS community, count(*) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node
FROM {prev}
GROUP BY label ORDER BY community
"""


ORACLES["label_propagation"] = _lpa_oracle()


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
        .orderBy("event_type")
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


# ---------------------------------------------------------------------------
# hll_distinct_sketch — HyperLogLog from primitives, mergeable, self-eval
# ---------------------------------------------------------------------------

_HLL_M = 256  # 2^8 buckets; 52-bit rho field from the 60-bit md5 hash
# floor(alpha_256 * 1e9) * m^2 * 2^53  with  alpha_256 = 0.7213/(1+1.079/m)
_HLL_NUMERATOR = 423993302343383768578933129216
_HLL_DENOM_SCALE = 1_000_000_000


def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch IMPLEMENTED FROM PRIMITIVES
    (SURVEY §2 #207): distinct active customers per order-YEAR, plus a
    '__union__' row whose registers are the by-bucket MAX of the yearly
    registers — the register-merge design behind Spark's own
    approx_count_distinct, built so every intermediate is a
    DETERMINISTIC integer and the oracle checks the ESTIMATE itself
    (kmv_distinct_sketch's gate applied to the mergeable sketch; the
    family now covers KMV, Count-Min, Bloom, and HLL).

    Per (year, customer-hash): bucket = h mod 256, rho = 1 + leading
    zeros of the remaining 52-bit field (``53 − bitlen`` via
    ``length(bin(w))`` — exact on both engines).  Registers are the
    per-bucket MAX rho; mergeability is why HLL is the cluster-scale
    distinct sketch (a 1000-executor union is a 256-row shuffle, not a
    re-scan — exactly what the '__union__' row exercises).  The raw
    estimate ``alpha·m²·2⁵³ div Σ 2^(53−M_j)`` is one truncated
    DECIMAL(38,0) division (HUGEINT in the oracle) with alpha pinned at
    parts-per-billion; no float touches a reported value.  Small-range
    linear counting is deliberately NOT applied — empty_registers rides
    along so a consumer can, and err_bp reports the raw bias honestly
    (at sf0.01 every year has ~1.3k customers, inside the raw regime).

    Scale shape: the only fact-sized stage is the map-combined
    (year, custkey) distinct; registers are 256·|years| rows,
    materialize()d once and reused by the union branch.
    """
    orders = _t(spark, sf_dir, "orders")
    hashed = materialize(
        orders.select(
            F.year("o_orderdate").cast("string").alias("period"),
            F.col("o_custkey"),
        )
        .distinct()
        .select(
            "period",
            F.expr(
                X.hash64_spark("cast(o_custkey as string)")
            ).alias("h"),
        )
        .distinct()
    )
    rho = F.expr(
        "CASE WHEN h div 256 = 0 THEN 53"
        " ELSE 53 - length(bin(h div 256)) END"
    )
    regs = materialize(
        hashed.select("period", F.expr("h % 256").alias("bucket"), rho.alias("r"))
        .groupBy("period", "bucket")
        .agg(F.max("r").alias("m"))
    )
    union_regs = (
        regs.groupBy("bucket")
        .agg(F.max("m").alias("m"))
        .select(F.lit("__union__").alias("period"), "bucket", "m")
    )
    stats = (
        regs.unionByName(union_regs)
        .groupBy("period")
        .agg(
            F.expr(
                "sum(shiftleft(cast(1 as bigint), 53 - m))"
                f" + ({_HLL_M} - count(1)) * shiftleft(cast(1 as bigint), 53)"
            ).alias("s"),
            F.expr(f"cast({_HLL_M} - count(1) as int)").alias(
                "empty_registers"
            ),
        )
    )
    exact = hashed.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_exact")
    ).unionByName(
        hashed.select("h")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .select(F.lit("__union__").alias("period"), "n_exact")
    )
    return (
        stats.join(exact, "period")
        .select(
            "period",
            "n_exact",
            F.expr(
                f"cast(cast('{_HLL_NUMERATOR}' as decimal(38,0))"
                f" div (cast(s as decimal(38,0)) * {_HLL_DENOM_SCALE})"
                " as bigint)"
            ).alias("hll_estimate"),
            F.expr(
                "cast(abs(hll_estimate - n_exact) * 10000 div n_exact as int)"
            ).alias("err_bp"),
            "empty_registers",
        )
        .orderBy("period")
    )


QUERIES["hll_distinct_sketch"] = hll_distinct_sketch

ORACLES["hll_distinct_sketch"] = f"""
WITH hashed AS MATERIALIZED (
  SELECT DISTINCT CAST(year(o_orderdate) AS VARCHAR) AS period,
         {X.hash64_duck("cast(o_custkey as varchar)")} AS h
  FROM orders
),
regs AS MATERIALIZED (
  SELECT period, h % 256 AS bucket,
         max(CASE WHEN h // 256 = 0 THEN 53
                  ELSE 53 - length(bin(h // 256)) END) AS m
  FROM hashed GROUP BY 1, 2
),
all_regs AS (
  SELECT period, bucket, m FROM regs
  UNION ALL
  SELECT '__union__' AS period, bucket, max(m) AS m
  FROM regs GROUP BY bucket
),
stats AS (
  SELECT period,
         sum(1::BIGINT << (53 - m))
           + ({_HLL_M} - count(*)) * (1::BIGINT << 53) AS s,
         CAST({_HLL_M} - count(*) AS INT) AS empty_registers
  FROM all_regs GROUP BY period
),
exact AS (
  SELECT period, count(*) AS n_exact FROM hashed GROUP BY period
  UNION ALL
  SELECT '__union__' AS period, count(DISTINCT h) AS n_exact FROM hashed
),
est AS (
  SELECT period, n_exact,
         CAST({_HLL_NUMERATOR}::HUGEINT
              // (s::HUGEINT * {_HLL_DENOM_SCALE}) AS BIGINT)
           AS hll_estimate,
         empty_registers
  FROM stats JOIN exact USING (period)
)
SELECT period, CAST(n_exact AS BIGINT) AS n_exact, hll_estimate,
       CAST(abs(hll_estimate - n_exact) * 10000 // n_exact AS INT) AS err_bp,
       empty_registers
FROM est
ORDER BY period
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
        .orderBy("price_cents", "p_partkey")
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
        .orderBy("stratum_year")
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
# fuzzy_name_match — multi-pass blocked edit-distance similarity join
# ---------------------------------------------------------------------------


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked EDIT-DISTANCE similarity join over part names (SURVEY
    §2 #210) — the record-linkage primitive the token-set family
    (ngram_jaccard / ppjoin) cannot express: levenshtein tolerates
    in-token typos and transposed characters, not just token overlap.
    Both engines evaluate the SAME built-in ``levenshtein`` (JVM-side
    in Spark — no UDF).

    Scale design — the edit-distance work NEVER touches fact×fact:
    names are first collapsed to their distinct-value census with
    multiplicities (the name domain is adjective×noun bounded, unlike
    the part table), candidate pairs come from TWO blocking passes
    (same noun OR same adjective — multi-pass blocking, the standard
    recall hedge for single-key blocking misses), deduplicated, THEN
    scored; matched pairs re-attribute to fact scale by multiplicity
    product.  At 100 TB the census groupBy is the only fact-sized
    stage and is map-combined.
    """
    part = _t(spark, sf_dir, "part")
    names = materialize(
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "p_name",
            "cnt",
            F.expr("element_at(split(p_name, ' '), 1)").alias("adj"),
            F.expr("element_at(split(p_name, ' '), -1)").alias("noun"),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
        F.col("adj").alias("adj_a"),
        F.col("noun").alias("noun_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
        F.col("adj").alias("adj_b"),
        F.col("noun").alias("noun_b"),
    )
    by_noun = a.join(b, (F.col("noun_a") == F.col("noun_b")))
    by_adj = a.join(b, (F.col("adj_a") == F.col("adj_b")))
    cand = (
        by_noun.unionByName(by_adj)
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "cnt_a", "cnt_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b")
        )
        .filter(F.col("dist") <= 2)
        .select(
            "name_a",
            "name_b",
            "dist",
            F.expr("cnt_a * cnt_b").alias("pair_count"),
        )
        .orderBy("name_a", "name_b")
    )


QUERIES["fuzzy_name_match"] = fuzzy_name_match

ORACLES["fuzzy_name_match"] = """
WITH names AS MATERIALIZED (
  SELECT p_name, count(*) AS cnt,
         string_split(p_name, ' ')[1] AS adj,
         string_split(p_name, ' ')[-1] AS noun
  FROM part GROUP BY p_name
),
cand AS (
  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
         a.cnt AS cnt_a, b.cnt AS cnt_b
  FROM names a JOIN names b
    ON (a.noun = b.noun OR a.adj = b.adj) AND a.p_name < b.p_name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS dist,
       CAST(cnt_a * cnt_b AS BIGINT) AS pair_count
FROM cand
WHERE levenshtein(name_a, name_b) <= 2
ORDER BY name_a, name_b
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
        .orderBy("lang")
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
# triangle_count — degree-oriented wedge join with DOULION edge sampling
# ---------------------------------------------------------------------------

_TRI_Q = 8  # keep 1/8 of edges; DOULION estimate multiplier q^3 = 512


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRIANGLE COUNTING on the co-purchase projection
    (parts sharing an order), per root-part brand (SURVEY §2 #212) —
    the clustering-structure primitive the existing graph family
    (k-core, PageRank, LPA, modularity, reachability) does not cover.

    Two published scale techniques compose here:
    (1) DEGREE ORIENTATION — every edge points from its lower-
    (degree, id) endpoint to the higher, so wedge enumeration joins
    out-edges on their root and out-degrees are O(√E)-bounded: the
    Σd² blowup of naive wedge counting cannot happen, and each
    triangle is found exactly once at its unique root.
    (2) DOULION edge sparsification (Tsourakakis et al., KDD'09) —
    a DETERMINISTIC hash keeps 1/{q} of the canonical edges before
    any join; triangles survive with probability q⁻³, so
    ``estimate = found · {q}³`` rides along with the exact sampled
    count.  Determinism makes the oracle exact: both engines keep the
    identical edge subset (same md5 gate as deterministic_sample).

    Scale shape: per-order pair expansion is bounded by line-count²
    per order (market_basket_pairs' bound); everything downstream runs
    on the sampled edge table (materialize()d once) via key-
    partitioned equi-joins; the brand rollup joins the part dim.
    """
    li = _t(spark, sf_dir, "lineitem")
    # Order-key-partitioned dedup, materialized ONCE (guide §2.4, the
    # market_basket_pairs layout): hash(l_orderkey) clusters every
    # duplicate (order, part) row, so the dedup aggregate plans with no
    # second exchange, and BOTH pair-expansion sides below consume the
    # checkpoint partitioning — previously the scan+distinct subtree
    # evaluated once per side and the self-join re-shuffled both.
    lp = materialize(
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates()
    )
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        # DOULION gate BEFORE the distinct: the deterministic hash is a
        # pure row predicate, so filter∘distinct = distinct∘filter, and
        # the dedup shuffle now moves 1/Q of the pair rows (guide §2.3,
        # shuffle fewer bytes — the pair table is this key's largest
        # intermediate at every scale).
        .filter(
            F.expr(
                X.hash64_spark(
                    "cast(pa as string) || ':' || cast(pb as string)"
                )
            )
            % _TRI_Q
            == 0
        )
        .distinct()
    )
    edges = materialize(edges)
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    oriented = (
        edges.join(deg.withColumnRenamed("node", "pa").withColumnRenamed("deg", "da"), "pa")
        .join(deg.withColumnRenamed("node", "pb").withColumnRenamed("deg", "db"), "pb")
        .select(
            F.when(
                F.struct("da", "pa") < F.struct("db", "pb"), F.col("pa")
            ).otherwise(F.col("pb")).alias("src"),
            F.when(
                F.struct("da", "pa") < F.struct("db", "pb"), F.col("pb")
            ).otherwise(F.col("pa")).alias("dst"),
        )
    )
    # Root-keyed boundary: the wedge self-join probes src on BOTH
    # sides, so materializing under hash(src) lets it run exchange-free
    # (the checkpoint preserves partitioning; guide §2.4).
    oriented = materialize(oriented.repartition("src"))
    w1 = oriented.select("src", F.col("dst").alias("v1"))
    w2 = oriented.select("src", F.col("dst").alias("v2"))
    wedges = w1.join(w2, "src").filter(F.col("v1") < F.col("v2"))
    tri = wedges.join(
        edges,
        (F.col("v1") == F.col("pa")) & (F.col("v2") == F.col("pb")),
    ).select(F.col("src").alias("root"))
    part = _t(spark, sf_dir, "part")
    return (
        tri.join(part.select(F.col("p_partkey").alias("root"), "p_brand"), "root")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_triangles_sampled"))
        .select(
            "p_brand",
            "n_triangles_sampled",
            F.expr(
                f"n_triangles_sampled * {_TRI_Q * _TRI_Q * _TRI_Q}"
            ).alias("doulion_estimate"),
        )
        .orderBy("p_brand")
    )


QUERIES["triangle_count"] = triangle_count

ORACLES["triangle_count"] = f"""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS MATERIALIZED (
  SELECT pa, pb FROM (
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lp a JOIN lp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  )
  WHERE {X.hash64_duck("cast(pa as varchar) || ':' || cast(pb as varchar)")}
        % {_TRI_Q} = 0
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
  ) GROUP BY node
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN (da, pa) < (db, pb) THEN pa ELSE pb END AS src,
         CASE WHEN (da, pa) < (db, pb) THEN pb ELSE pa END AS dst
  FROM edges
  JOIN deg x ON x.node = edges.pa
  JOIN deg y ON y.node = edges.pb,
  LATERAL (SELECT x.deg AS da, y.deg AS db) d
),
tri AS (
  SELECT w1.src AS root
  FROM oriented w1
  JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst
  JOIN edges e ON e.pa = w1.dst AND e.pb = w2.dst
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_triangles_sampled,
       CAST(count(*) * {_TRI_Q * _TRI_Q * _TRI_Q} AS BIGINT)
         AS doulion_estimate
FROM tri JOIN part p ON p.p_partkey = tri.root
GROUP BY p.p_brand ORDER BY p.p_brand
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
    (morton_tiles, round3.py, demos the same interleave primitive on a
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
        .orderBy("file_id")
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
# phrase_search — positional postings + adjacency join
# ---------------------------------------------------------------------------

_PHRASE_TOPQ = 5


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index PHRASE SEARCH (SURVEY §2 #214): exact
    two-word-phrase retrieval via a POSITIONAL postings table and an
    adjacency self-join — the IR capability champion_postings' (term →
    doc) index cannot answer (bag-of-words indexes lose order; "hot
    gear" ≠ "gear hot").  Queries are self-generated for determinism:
    the top-{q} corpus bigrams (count desc, phrase asc) are answered
    through the index, reporting per phrase the matching-doc and
    total-occurrence counts — so the key also validates that the
    index AGREES with the direct bigram census it was picked from.

    Scale shape: postings = posexplode (fact-sized, map-side); the
    phrase table is {q} rows broadcast to BOTH sides so term pruning
    happens before the adjacency join; the join key is (doc, position)
    — key-partitioned, never term-keyed (no hot-term skew).
    """
    docs = _t(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.posexplode(F.expr(X.tokens_spark("text"))).alias("pos", "term"),
    )
    postings = materialize(postings)
    bigrams = (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.pos").alias("pos"),
            F.col("a.term").alias("w1"),
            F.col("b.term").alias("w2"),
        )
    )
    bigrams = materialize(bigrams)
    queries = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .orderBy(F.desc("n_total"), "w1", "w2")
        .limit(_PHRASE_TOPQ)
        .select("w1", "w2")
    )
    return (
        bigrams.join(F.broadcast(queries), ["w1", "w2"])
        .groupBy("w1", "w2")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            F.expr("w1 || ' ' || w2").alias("phrase"),
            "n_docs",
            "n_occurrences",
        )
        .orderBy("phrase")
    )


QUERIES["phrase_search"] = phrase_search

ORACLES["phrase_search"] = f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_duck('text')} AS ts FROM documents
),
postings AS MATERIALIZED (
  SELECT doc_id, pos, ts[pos + 1] AS term FROM (
    SELECT doc_id, ts, unnest(range(len(ts))) AS pos FROM toks
  )
),
bigrams AS MATERIALIZED (
  SELECT a.doc_id, a.pos, a.term AS w1, b.term AS w2
  FROM postings a
  JOIN postings b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
queries AS (
  SELECT w1, w2 FROM (
    SELECT w1, w2, count(*) AS n_total
    FROM bigrams GROUP BY w1, w2
    ORDER BY n_total DESC, w1, w2 LIMIT {_PHRASE_TOPQ}
  )
)
SELECT w1 || ' ' || w2 AS phrase,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM bigrams JOIN queries USING (w1, w2)
GROUP BY w1, w2 ORDER BY phrase
"""


# ---------------------------------------------------------------------------
# rrf_fusion — reciprocal rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF damping constant
_RRF_SCALE = 10**9   # 1/(k+r) as floor(1e9/(k+r)) — exact on both engines
_RRF_TOPN = 10


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION (SURVEY §2 #215) — the standard
    score-free method for combining heterogeneous retrieval rankings
    (Cormack et al., SIGIR'09; what hybrid BM25+vector search engines
    run): per language, documents are ranked by two independent
    signals (char length; distinct-token count — rank-only fusion is
    the point: the signals' scales never have to be commensurable),
    and fused by ``Σ floor(10⁹ div (60 + rankᵢ))`` — the reciprocal
    sum in EXACT integer space, so fused scores and the final top-10
    are engine-identical.  Ties pinned by doc_id at every ranking
    stage.

    Scale shape: both rankings and the fused re-rank are windows
    PARTITIONED by lang; the final cut is row_number ≤ 10 →
    WindowGroupLimit pushes the partial top-k map-side.  One
    fact-sized token census (map-combined), no self-joins.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.expr(f"size(array_distinct({X.tokens_spark('text')}))").alias(
            "n_types"
        ),
    )
    w_a = Window.partitionBy("lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    w_b = Window.partitionBy("lang").orderBy(
        F.desc("n_types"), F.asc("doc_id")
    )
    ranked = base.select(
        "lang",
        "doc_id",
        F.row_number().over(w_a).alias("ra"),
        F.row_number().over(w_b).alias("rb"),
    )
    scored = ranked.select(
        "lang",
        "doc_id",
        F.expr(
            f"{_RRF_SCALE} div ({_RRF_K} + ra)"
            f" + {_RRF_SCALE} div ({_RRF_K} + rb)"
        ).alias("rrf_score"),
    )
    w_f = Window.partitionBy("lang").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= _RRF_TOPN)
        .select("lang", "fused_rank", "doc_id", "rrf_score")
        .orderBy("lang", "fused_rank")
    )


QUERIES["rrf_fusion"] = rrf_fusion

ORACLES["rrf_fusion"] = f"""
WITH base AS (
  SELECT lang, doc_id, n_chars,
         len(list_distinct({X.tokens_duck('text')})) AS n_types
  FROM documents
),
ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS ra,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_types DESC, doc_id) AS rb
  FROM base
),
scored AS (
  SELECT lang, doc_id,
         {_RRF_SCALE} // ({_RRF_K} + ra)
           + {_RRF_SCALE} // ({_RRF_K} + rb) AS rrf_score
  FROM ranked
)
SELECT lang,
       CAST(fused_rank AS INT) AS fused_rank,
       doc_id,
       CAST(rrf_score AS BIGINT) AS rrf_score
FROM (
  SELECT lang, doc_id, rrf_score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY rrf_score DESC, doc_id) AS fused_rank
  FROM scored
)
WHERE fused_rank <= {_RRF_TOPN}
ORDER BY lang, fused_rank
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
        .orderBy("source")
    )


QUERIES["randomized_response_audit"] = randomized_response_audit

_RR_KEEP = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':rrkeep'")
_RR_BIT = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':rrbit'")

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
# random_projection_sketch — Johnson-Lindenstrauss ±1 projection
# ---------------------------------------------------------------------------

_RP_DIMS = 8        # projected dimensionality
_RP_QSCALE = 1000   # fixed-point quantization of the float components


def random_projection_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss RANDOM PROJECTION sketch (SURVEY §2 #218)
    — Achlioptas 2001's database-friendly ±1 projection, the
    dimensionality-reduction leg of the embedding family (ann_* search
    it, vector_quantize_sq compresses components, this key compresses
    DIMENSIONS: 64 -> 8 while approximately preserving distances).
    The projection matrix is never materialized: sign(d, j) =
    1 - 2*(md5(d:j) mod 2) is recomputed map-side on both engines, and
    components are fixed-point quantized (floor(e*1000)) FIRST so every
    projected value is an exact BIGINT — float sum order can never
    diverge.  Report: per (label, projected dim) census of the
    projected mass (n, sum, min, max) — the downstream sanity check
    that each sketch dimension is balanced and label-separated.

    Scale shape: posexplode (map-side) -> x8 sign expansion (map-side
    transform, no join) → one groupBy(vec_id, j) keyed on the vector id
    (co-partitioned with the source), then the tiny label x 8 rollup.
    No window, no self-join; matrix-free exactly like the hyperplane-
    LSH stages.
    """
    emb = _t(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("d", "e"),
    ).select(
        "vec_id",
        "label",
        "d",
        F.expr(
            f"cast(floor(cast(e as double) * {_RP_QSCALE}) as bigint)"
        ).alias("q"),
    )
    sign_h = X.hash64_spark(
        "cast(d as string) || ':' || cast(j as string)"
    )
    signed = elems.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_RP_DIMS - 1}), "
                f"j -> q * (1 - 2 * (({sign_h}) % 2)))"
            )
        ).alias("j", "v"),
    )
    proj = signed.groupBy("vec_id", "label", "j").agg(
        F.sum("v").alias("p")
    )
    return (
        proj.groupBy("label", "j")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("p").alias("sum_p"),
            F.min("p").alias("min_p"),
            F.max("p").alias("max_p"),
        )
        .orderBy("label", "j")
    )


QUERIES["random_projection_sketch"] = random_projection_sketch

_RP_SIGN_DUCK = X.hash64_duck("CAST(d AS VARCHAR) || ':' || CAST(j AS VARCHAR)")

ORACLES["random_projection_sketch"] = f"""
WITH elems AS (
  SELECT vec_id, label, d,
         CAST(floor(CAST(e[d + 1] AS DOUBLE) * {_RP_QSCALE}) AS BIGINT) AS q
  FROM (
    SELECT vec_id, label, embedding AS e,
           unnest(range(len(embedding))) AS d
    FROM embeddings
  )
),
signed AS (
  SELECT vec_id, label, j,
         q * (1 - 2 * (({_RP_SIGN_DUCK}) % 2)) AS v
  FROM elems, (SELECT unnest(range({_RP_DIMS})) AS j)
),
proj AS (
  SELECT vec_id, label, j, sum(v) AS p
  FROM signed GROUP BY 1, 2, 3
)
SELECT label,
       CAST(j AS INT) AS j,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(p) AS BIGINT) AS sum_p,
       CAST(min(p) AS BIGINT) AS min_p,
       CAST(max(p) AS BIGINT) AS max_p
FROM proj
GROUP BY label, j ORDER BY label, j
"""


# ---------------------------------------------------------------------------
# ndcg_eval — graded ranking quality in exact integer space
# ---------------------------------------------------------------------------

# floor-free integer nDCG: discount weights round(1e9 / log2(r+1)) are
# precomputed ONCE here and inlined as literals into BOTH dialects, so
# no engine ever evaluates log2 — the classic cross-libm divergence.
_NDCG_W = [
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
]
_NDCG_AT = len(_NDCG_W)


def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 ranking-quality evaluation (SURVEY §2 #219) —
    Järvelin & Kekäläinen 2002, the graded-relevance metric the
    retrieval family reports in practice (ann_recall_eval checks
    set overlap, lsh_precision_eval checks pair quality, rrf_fusion
    produces rankings — this key SCORES a ranking against graded
    labels).  Per label group, vectors are ranked by their exact
    quantized squared norm; graded relevance (0–3) is md5-derived per
    vec_id.  DCG and ideal-DCG are exact BIGINT dot products with the
    precomputed discount literals (no log2 at query time on either
    engine), and nDCG is published parts-per-million:
    (1e6 * dcg) div idcg.

    Scale shape: norm census is one map-side aggregate per vector;
    both rankings are windows PARTITIONED by label with row_number <=
    10 -> WindowGroupLimit partial top-k map-side; final rollup is
    label-sized.
    """
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(embedding, 0L, (acc, e) -> "
            "acc + cast(floor(cast(e as double) * 1000) as bigint) "
            "* cast(floor(cast(e as double) * 1000) as bigint))"
        ).alias("norm2q"),
        (
            F.expr(X.hash64_spark("cast(vec_id as string) || ':rel'")) % 4
        ).alias("rel"),
    )
    w_rank = Window.partitionBy("label").orderBy(
        F.desc("norm2q"), F.asc("vec_id")
    )
    w_ideal = Window.partitionBy("label").orderBy(
        F.desc("rel"), F.asc("vec_id")
    )
    ranked = base.select(
        "label",
        "rel",
        F.row_number().over(w_rank).alias("r"),
        F.row_number().over(w_ideal).alias("ir"),
    )
    wmap = F.expr(
        "element_at(array({}), cast(r as int))".format(
            ", ".join(f"{w}L" for w in _NDCG_W)
        )
    )
    iwmap = F.expr(
        "element_at(array({}), cast(ir as int))".format(
            ", ".join(f"{w}L" for w in _NDCG_W)
        )
    )
    gain = F.expr("cast(pow(2, rel) as bigint) - 1")
    scored = ranked.select(
        "label",
        F.when(F.col("r") <= _NDCG_AT, gain * wmap)
        .otherwise(F.lit(0))
        .alias("dg"),
        F.when(F.col("ir") <= _NDCG_AT, gain * iwmap)
        .otherwise(F.lit(0))
        .alias("ig"),
    )
    return (
        scored.groupBy("label")
        .agg(F.sum("dg").alias("dcg_x"), F.sum("ig").alias("idcg_x"))
        .filter(F.col("idcg_x") > 0)
        .select(
            "label",
            "dcg_x",
            "idcg_x",
            F.expr("(1000000 * dcg_x) div idcg_x").alias("ndcg_ppm"),
        )
        .orderBy("label")
    )


QUERIES["ndcg_eval"] = ndcg_eval

_NDCG_W_SQL = ", ".join(str(w) for w in _NDCG_W)
_NDCG_REL_DUCK = X.hash64_duck("CAST(vec_id AS VARCHAR) || ':rel'")

ORACLES["ndcg_eval"] = f"""
WITH base AS (
  SELECT vec_id, label,
         list_sum(list_transform(embedding, e ->
           CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)
           * CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT))) AS norm2q,
         ({_NDCG_REL_DUCK}) % 4 AS rel
  FROM embeddings
),
ranked AS (
  SELECT label, rel,
         row_number() OVER (PARTITION BY label
                            ORDER BY norm2q DESC, vec_id) AS r,
         row_number() OVER (PARTITION BY label
                            ORDER BY rel DESC, vec_id) AS ir
  FROM base
),
scored AS (
  SELECT label,
         CASE WHEN r <= {_NDCG_AT}
              THEN ((1::BIGINT << rel) - 1) * ([{_NDCG_W_SQL}])[r]
              ELSE 0 END AS dg,
         CASE WHEN ir <= {_NDCG_AT}
              THEN ((1::BIGINT << rel) - 1) * ([{_NDCG_W_SQL}])[ir]
              ELSE 0 END AS ig
  FROM ranked
)
SELECT label,
       CAST(sum(dg) AS BIGINT) AS dcg_x,
       CAST(sum(ig) AS BIGINT) AS idcg_x,
       CAST((1000000 * sum(dg)) // sum(ig) AS BIGINT) AS ndcg_ppm
FROM scored
GROUP BY label HAVING sum(ig) > 0
ORDER BY label
"""


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs — sliding-window ER blocking census
# ---------------------------------------------------------------------------

_SNM_W = 4        # sliding-window width (each name pairs with the next w-1)
_SNM_EDIT = 2     # match threshold: levenshtein <= 2


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD blocking census (SURVEY §2 #220) —
    Hernández & Stolfo 1995, the OTHER classic entity-resolution
    blocking scheme next to key blocking (fuzzy_name_match blocks on
    equal noun/adjective; sorted neighborhood sorts on a key and
    pairs each record with its w-1 successors, catching near-misses
    that share NO exact block key).  Names are collapsed to the
    domain-bounded distinct census first, sorted within their 2-char
    prefix block, candidates generated by lead(1..3) windows, and
    scored with built-in ``levenshtein`` <= 2.  Report: per block,
    the names/candidates/matches funnel — the blocking-efficiency
    readout (pairs considered vs pairs matched) that decides the
    window width in production ER.

    Scale shape: the census groupBy is the only fact-sized stage
    (map-combined); the sort is a WINDOW PARTITIONED by the 2-char
    prefix (never a global sort — block count grows with the key
    domain, not the fact table); lead() is O(w) per row; the final
    rollup is block-sized.
    """
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("cnt"))
    names = names.withColumn("block", F.expr("substring(p_name, 1, 2)"))
    w = Window.partitionBy("block").orderBy("p_name")
    laggy = names.select(
        "block",
        "p_name",
        *[
            F.lead("p_name", i).over(w).alias(f"nxt{i}")
            for i in range(1, _SNM_W)
        ],
    )
    cand = laggy.select(
        "block",
        "p_name",
        F.explode(
            F.array(*[F.col(f"nxt{i}") for i in range(1, _SNM_W)])
        ).alias("p_other"),
    ).filter(F.col("p_other").isNotNull())
    scored = cand.select(
        "block",
        F.when(
            F.levenshtein("p_name", "p_other") <= _SNM_EDIT, 1
        ).otherwise(0).alias("is_match"),
    )
    blocks = names.groupBy("block").agg(F.count(F.lit(1)).alias("n_names"))
    funnel = scored.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("is_match").alias("n_matches"),
    )
    return (
        blocks.join(funnel, "block", "left")
        .select(
            "block",
            "n_names",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
        .orderBy("block")
    )


QUERIES["sorted_neighborhood_pairs"] = sorted_neighborhood_pairs

ORACLES["sorted_neighborhood_pairs"] = f"""
WITH names AS (
  SELECT p_name, count(*) AS cnt, substring(p_name, 1, 2) AS block
  FROM part GROUP BY p_name
),
laggy AS (
  SELECT block, p_name,
         {", ".join(
             f"lead(p_name, {i}) OVER (PARTITION BY block ORDER BY p_name)"
             f" AS nxt{i}" for i in range(1, _SNM_W)
         )}
  FROM names
),
cand AS (
  SELECT block, p_name, p_other
  FROM laggy,
       unnest([{", ".join(f"nxt{i}" for i in range(1, _SNM_W))}])
         AS t(p_other)
  WHERE p_other IS NOT NULL
),
funnel AS (
  SELECT block, count(*) AS n_candidates,
         sum(CASE WHEN levenshtein(p_name, p_other) <= {_SNM_EDIT}
                  THEN 1 ELSE 0 END) AS n_matches
  FROM cand GROUP BY block
)
SELECT b.block,
       CAST(b.n_names AS BIGINT) AS n_names,
       CAST(coalesce(f.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(f.n_matches, 0) AS BIGINT) AS n_matches
FROM (SELECT block, count(*) AS n_names FROM names GROUP BY block) b
LEFT JOIN funnel f USING (block)
ORDER BY block
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
        .orderBy("dest")
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
# bitmap_flag_index — roaring-style bitmap index from primitives
# ---------------------------------------------------------------------------

_BM_WORD = 60  # docs per bitmap word (low 60 bits keep BIGINT positive)


def bitmap_flag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP FLAG INDEX from primitives (SURVEY §2 #222) — the
    compressed-bitmap-index / deletion-vector mechanic (roaring
    bitmaps, Delta deletion vectors, Iceberg positional deletes)
    expressed with nothing but ``bit_or`` aggregates and bitwise ops:
    per (source, word = doc_id div 60) each boolean flag becomes one
    BIGINT whose bit (doc_id mod 60) is set, and multi-flag set
    algebra (AND / OR / NOT-within-existing) is evaluated by
    ``bit_count`` over the combined words — set intersection without
    touching a row.  Each bitmap-derived count travels NEXT TO its
    direct rowwise count, so the result row itself proves the index
    agrees with the ground truth on both engines.

    Scale shape: one map-combinable groupBy builds the word table
    (60:1 compression over row ids); the set algebra is a second tiny
    rollup over words.  No joins, no windows — exactly why engines
    push deletes/filters down as bitmaps at 100 TB.
    """
    docs = _t(spark, sf_dir, "documents")
    bit = f"shiftleft(1L, cast(doc_id % {_BM_WORD} as int))"
    words = (
        docs.select(
            "source",
            F.expr(f"doc_id div {_BM_WORD}").alias("word"),
            F.expr(bit).alias("b"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("f_en"),
            F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("f_long"),
            F.when(F.expr("text rlike '[0-9]'"), 1).otherwise(0).alias(
                "f_digit"
            ),
        )
        .groupBy("source", "word")
        .agg(
            F.expr("bit_or(b)").alias("b_all"),
            F.expr("bit_or(case when f_en = 1 then b else 0 end)").alias(
                "b_en"
            ),
            F.expr("bit_or(case when f_long = 1 then b else 0 end)").alias(
                "b_long"
            ),
            F.expr("bit_or(case when f_digit = 1 then b else 0 end)").alias(
                "b_digit"
            ),
            F.sum(F.expr("f_en * f_long")).alias("d_en_long"),
            F.sum(F.expr("least(f_long + f_digit, 1)")).alias(
                "d_long_or_digit"
            ),
            F.sum(F.expr("f_en * (1 - f_digit)")).alias("d_en_not_digit"),
        )
    )
    return (
        words.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.expr("sum(bit_count(b_all))").alias("n_docs"),
            F.expr("sum(bit_count(b_en & b_long))").alias("en_and_long"),
            F.expr("sum(d_en_long)").alias("en_and_long_direct"),
            F.expr("sum(bit_count(b_long | b_digit))").alias(
                "long_or_digit"
            ),
            F.expr("sum(d_long_or_digit)").alias("long_or_digit_direct"),
            F.expr("sum(bit_count(b_en & (b_all ^ b_digit)))").alias(
                "en_not_digit"
            ),
            F.expr("sum(d_en_not_digit)").alias("en_not_digit_direct"),
        )
        .orderBy("source")
    )


QUERIES["bitmap_flag_index"] = bitmap_flag_index

ORACLES["bitmap_flag_index"] = f"""
WITH flagged AS (
  SELECT source,
         doc_id // {_BM_WORD} AS word,
         (1::BIGINT << CAST(doc_id % {_BM_WORD} AS INT)) AS b,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f_en,
         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS f_long,
         CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END AS f_digit
  FROM documents
),
words AS (
  SELECT source, word,
         bit_or(b) AS b_all,
         bit_or(CASE WHEN f_en = 1 THEN b ELSE 0 END) AS b_en,
         bit_or(CASE WHEN f_long = 1 THEN b ELSE 0 END) AS b_long,
         bit_or(CASE WHEN f_digit = 1 THEN b ELSE 0 END) AS b_digit,
         sum(f_en * f_long) AS d_en_long,
         sum(least(f_long + f_digit, 1)) AS d_long_or_digit,
         sum(f_en * (1 - f_digit)) AS d_en_not_digit
  FROM flagged GROUP BY source, word
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(bit_count(b_all)) AS BIGINT) AS n_docs,
       CAST(sum(bit_count(b_en & b_long)) AS BIGINT) AS en_and_long,
       CAST(sum(d_en_long) AS BIGINT) AS en_and_long_direct,
       CAST(sum(bit_count(b_long | b_digit)) AS BIGINT) AS long_or_digit,
       CAST(sum(d_long_or_digit) AS BIGINT) AS long_or_digit_direct,
       CAST(sum(bit_count(b_en & xor(b_all, b_digit))) AS BIGINT)
         AS en_not_digit,
       CAST(sum(d_en_not_digit) AS BIGINT) AS en_not_digit_direct
FROM words
GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# image_phash_groups — perceptual-hash duplicate census from real pixels
# ---------------------------------------------------------------------------


def _ahash_g(x: int, y: int) -> str:
    """Closed-form sampled grayscale for the oracle: the deterministic
    RGB gradient (attach_png_media) evaluated at the 8x8 nearest-
    neighbor sample point, grayscaled in exact integers. Mirrors
    operators/multimodal.py:image_ahash_png bit for bit."""
    return (
        f"((((({x} * w) // 8) * 7 + d) % 256) + "
        f"(((({y} * h) // 8) * 11 + 2 * d) % 256) + "
        f"(((({x} * w) // 8) + (({y} * h) // 8) + 3 * d) % 256)) // 3"
    )


def image_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL-HASH image duplicate groups (SURVEY §2 #223) — the
    standard near-duplicate-image primitive (aHash: grayscale, 8x8
    nearest-neighbor resample, threshold against the mean) run over
    REAL pixels: PNGs are synthesized, encoded (zlib/struct), decoded
    back by the stdlib parser, and hashed from the decoded array —
    extending the multimodal leg from per-image features
    (multimodal_image) to CROSS-image dedup.  Every step is integer-
    exact, so the DuckDB oracle predicts each 64-bit hash in closed
    form without touching a pixel: a bug anywhere in encode, deflate,
    unfilter, resample, or bit packing breaks the match.

    The report is the duplicate-group census (hash -> n_images,
    first doc): hash-equality grouping is the scale-safe primitive —
    one map-combinable groupBy on a 64-bit key, no pairs ever
    materialized (the gradient corpus is heavily self-similar, so a
    banded hamming join would fan out exactly like stop-grams; the
    near-dup extension at scale is dedup_simhash's banded plan with
    df-cutoffs, already in the catalog).
    """

    # r11: fused single-worker round-trip (same bytes, same hashes) —
    # see multimodal_image's note; this key shared the chained
    # double-worker shape and its 32-core spawn stampede.
    docs = _t(spark, sf_dir, "documents")
    hashes = png_ahash_roundtrip(docs)
    return (
        hashes.groupBy("hash_hi", "hash_lo")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_images") >= 2)
        .orderBy("hash_hi", "hash_lo")
    )


QUERIES["image_phash_groups"] = image_phash_groups

_AHASH_TOTAL = " + ".join(_ahash_g(x, y) for y in range(8) for x in range(8))
_AHASH_HI = " + ".join(
    f"(CASE WHEN ({_ahash_g(x, y)}) > m THEN (1::BIGINT << {y * 8 + x}) "
    f"ELSE 0 END)"
    for y in range(4)
    for x in range(8)
)
_AHASH_LO = " + ".join(
    f"(CASE WHEN ({_ahash_g(x, y)}) > m THEN (1::BIGINT << {(y - 4) * 8 + x}) "
    f"ELSE 0 END)"
    for y in range(4, 8)
    for x in range(8)
)

ORACLES["image_phash_groups"] = f"""
WITH dims AS (
  SELECT doc_id, doc_id AS d,
         8 + doc_id % 13 AS w,
         6 + doc_id % 9 AS h
  FROM documents
),
means AS (
  SELECT doc_id, d, w, h, ({_AHASH_TOTAL}) // 64 AS m FROM dims
),
hashes AS (
  SELECT doc_id,
         CAST(({_AHASH_HI}) AS BIGINT) AS hash_hi,
         CAST(({_AHASH_LO}) AS BIGINT) AS hash_lo
  FROM means
)
SELECT hash_hi, hash_lo,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM hashes
GROUP BY hash_hi, hash_lo
HAVING count(*) >= 2
ORDER BY hash_hi, hash_lo
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
        .orderBy("source")
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

    rows = (
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
    return rows.orderBy("table_name")


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
        .orderBy("shard_new")
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
    ).orderBy("nation")


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
        .orderBy("day")
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
        .orderBy("nation")
    )


QUERIES["luhn_check_audit"] = luhn_check_audit

_LUHN_PAY = X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':acct'")
_LUHN_COIN = X.hash64_duck("CAST(c_custkey AS VARCHAR) || ':corrupt'")
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

_KAPPA_COIN = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':anno'")
_KAPPA_PICK = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':pick'")
_KAPPA_ARR = "[" + ", ".join(f"'{l}'" for l in _KAPPA_LANGS) + "]"

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
# mutual_nn_mining — reciprocal best-match bitext-style pairing
# ---------------------------------------------------------------------------


def mutual_nn_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL NEAREST-NEIGHBOR mining (SURVEY §2 #232) — the bitext /
    parallel-pair mining primitive (LASER-style margin mining's
    reciprocal core): across two embedding populations, keep only
    pairs where each side is the OTHER side's top-1 — one-directional
    top-1 (ann_topk) over-matches hubs; mutuality is the precision
    gate corpus-alignment pipelines rely on.  Similarity is the exact
    integer dot product of fixed-point-quantized components
    (floor(e*1000) — float sum order can never diverge); each side's
    best is a WindowGroupLimit row_number over its own partition; the
    mutual join is an equi-join on the candidate pair.

    Scale shape: the exact cross-score here mirrors ann_topk's brute-
    force-baseline precedent (label-0 × label-1 at test scale); at
    100 TB the candidate pairs come from the banded hyperplane-LSH
    buckets (ann_lsh / embedding_dedup machinery) and everything from
    the per-side top-1 election on stays IDENTICAL — mutuality never
    needs more than the candidate table.
    """
    emb = _t(spark, sf_dir, "embeddings")
    q = (
        "transform(embedding, e -> "
        "cast(floor(cast(e as double) * 1000) as bigint))"
    )
    a = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("a_id"), F.expr(q).alias("qa")
    )
    b = emb.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("b_id"), F.expr(q).alias("qb")
    )
    scored = a.join(F.broadcast(b)).select(
        "a_id",
        "b_id",
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (s, v) -> s + v)"
        ).alias("dot"),
    )
    scored = materialize(scored)
    wa = Window.partitionBy("a_id").orderBy(F.desc("dot"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("dot"), F.asc("a_id"))
    best_a = (
        scored.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") == 1)
        .select("a_id", "b_id", "dot")
    )
    best_b = (
        scored.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select(
            F.col("a_id").alias("a2"), F.col("b_id").alias("b2")
        )
    )
    return (
        best_a.join(
            best_b,
            (best_a.a_id == best_b.a2) & (best_a.b_id == best_b.b2),
        )
        .select("a_id", "b_id", "dot")
        .orderBy("a_id")
    )


QUERIES["mutual_nn_mining"] = mutual_nn_mining

ORACLES["mutual_nn_mining"] = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, e ->
           CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings WHERE label IN (0, 1)
),
scored AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_sum(list_transform(range(len(a.qv)),
           i -> a.qv[i + 1] * b.qv[i + 1])) AS dot
  FROM (SELECT * FROM q WHERE label = 0) a,
       (SELECT * FROM q WHERE label = 1) b
),
best_a AS (
  SELECT a_id, b_id, dot FROM (
    SELECT a_id, b_id, dot,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY dot DESC, b_id) AS r
    FROM scored
  ) WHERE r = 1
),
best_b AS (
  SELECT a_id, b_id FROM (
    SELECT a_id, b_id,
           row_number() OVER (PARTITION BY b_id
                              ORDER BY dot DESC, a_id) AS r
    FROM scored
  ) WHERE r = 1
)
SELECT a.a_id, a.b_id, CAST(a.dot AS BIGINT) AS dot
FROM best_a a JOIN best_b b ON a.a_id = b.a_id AND a.b_id = b.b_id
ORDER BY a.a_id
"""


# ---------------------------------------------------------------------------
# ipf_raking — iterative proportional fitting (one full sweep)
# ---------------------------------------------------------------------------

_IPF_SCALE = 10**6  # weights in parts-per-million


def ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF / RAKING calibration weights (SURVEY §2 #233) — Deming &
    Stephan 1940, the survey-statistics rebalancer dataset curation
    borrows when a corpus must match TWO marginal targets at once
    (lang share AND source share): data_mixture_plan reweights ONE
    marginal; raking alternates proportional fits so both approach
    their targets.  One full sweep (rows then columns) runs in exact
    integer ppm arithmetic: w = (target_row ppm-fit) then column-
    corrected, every division a truncating div so both engines agree
    bit for bit.  Targets are the UNIFORM marginals (equal share per
    lang, per source) — the standard balance objective.  The report
    is the (lang, source) cell census with its raked weight and the
    achieved column share after the sweep, the readout that decides
    whether another sweep is worth running.

    Scale shape: one fact-sized groupBy to the (lang × source) cell
    census (bounded: |langs|·|sources| — the only fact-sized stage,
    still distributed), then the sweep runs DRIVER-SIDE on the
    bounded_collect'ed census in exact Python integers — a
    census-collect-then-iterate key (SURVEY §7.24a): the former
    marginal aggregates + broadcast joins were ~11 Spark jobs /
    ~18 exchanges of arithmetic on <= |langs|·|sources| rows, pure
    scheduler overhead at every scale.  Truncating integer divisions
    on positive operands, so the collapse is bit-identical.
    """

    docs = _t(spark, sf_dir, "documents")
    cells = [
        (r["lang"], r["source"], int(r["n"]))
        for r in bounded_collect(
            docs.groupBy("lang", "source").agg(
                F.count(F.lit(1)).alias("n")
            ),
            4096,
            "ipf_raking: lang x source cell census",
        )
    ]
    # SQL semantics preserved exactly: countDistinct skips NULLs, and
    # the former inner joins on lang/source dropped NULL-keyed cells
    # (vacuous on the test data — zero NULLs — but the equivalence is
    # by construction, not by luck).
    total = sum(n for _, _, n in cells)
    n_langs = len({l for l, _, _ in cells if l is not None})
    n_sources = len({s for _, s, _ in cells if s is not None})
    row_n: dict = {}
    for l, _, n in cells:
        row_n[l] = row_n.get(l, 0) + n
    # row fit: scale each lang row to the uniform lang target
    w1 = [(l, s, n) for l, s, n in cells if l is not None]
    w_row = {
        (l, s): (total * _IPF_SCALE) // (n_langs * row_n[l])
        for l, s, n in w1
    }
    # column fit: correct each source column to the uniform source target
    col_mass: dict = {}
    for l, s, n in w1:
        col_mass[s] = col_mass.get(s, 0) + n * w_row[(l, s)]
    all_mass = sum(n * w_row[(l, s)] for l, s, n in w1)
    out = [
        (
            l,
            s,
            n,
            (w_row[(l, s)] * (all_mass // n_sources)) // col_mass[s],
            (10000 * col_mass[s]) // all_mass,
        )
        for l, s, n in w1
        if s is not None
    ]
    return spark.createDataFrame(
        out,
        schema="lang string, source string, n bigint, w_ppm bigint,"
        " col_share_before_bp bigint",
    ).orderBy("lang", "source")


QUERIES["ipf_raking"] = ipf_raking

ORACLES["ipf_raking"] = f"""
WITH cells AS MATERIALIZED (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
),
tot AS (
  SELECT sum(n) AS total,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources
  FROM cells
),
w1 AS (
  SELECT c.lang, c.source, c.n, t.n_sources,
         (CAST(t.total AS BIGINT) * {_IPF_SCALE})
           // (t.n_langs * r.row_n) AS w_row
  FROM cells c
  JOIN (SELECT lang, sum(n) AS row_n FROM cells GROUP BY lang) r
    ON c.lang = r.lang
  CROSS JOIN tot t
),
col_m AS (
  SELECT source, sum(n * w_row) AS col_mass FROM w1 GROUP BY source
),
tm AS (
  SELECT sum(n * w_row) AS all_mass FROM w1
)
SELECT w1.lang, w1.source AS source,
       CAST(w1.n AS BIGINT) AS n,
       CAST((w_row * (all_mass // n_sources)) // col_mass AS BIGINT)
         AS w_ppm,
       CAST((10000 * col_mass) // all_mass AS BIGINT)
         AS col_share_before_bp
FROM w1 JOIN col_m ON w1.source = col_m.source CROSS JOIN tm
ORDER BY w1.lang, w1.source
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
        .orderBy("event_type")
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
        .orderBy("lang")
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
    ).orderBy(F.desc("decile"))


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
        .orderBy("day", "event_type")
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
        .orderBy("nation")
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
        .orderBy("col_name")
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
        .orderBy("source")
    )


QUERIES["majority_vote_repair"] = majority_vote_repair

_MVR_TRUTH = X.hash64_duck("CAST(doc_id AS VARCHAR) || ':payload'")


def _mvr_coin_duck(i: int) -> str:
    return X.hash64_duck(f"CAST(doc_id AS VARCHAR) || ':r{i}'")


_MVR_REPS = [
    f"CASE WHEN ({_mvr_coin_duck(i)}) % 23 = 0 "
    f"THEN ({_MVR_TRUTH}) + {i} + 1 ELSE ({_MVR_TRUTH}) END"
    for i in range(3)
]
_MVR_COINS = [f"({_mvr_coin_duck(i)}) % 23 = 0" for i in range(3)]

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
# similarity_band_census — the dedup-threshold tuning curve
# ---------------------------------------------------------------------------


def similarity_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMILARITY BAND CENSUS (SURVEY §2 #241) — the tuning curve
    UNDER the dedup family's thresholds: ngram_jaccard ships pairs
    above NGRAM_JACCARD_TAU and lsh_precision_eval scores one
    operating point, but choosing tau in the first place needs the
    DISTRIBUTION of candidate-pair similarity — this key buckets every
    df-bounded candidate pair into ten Jaccard deciles per source and
    reports pair counts and cumulative share (basis points), the
    histogram a dedup rollout reads to pick its threshold.  Jaccard
    is the exact integer rational (100·shared) div (union), bucketed
    by integer percent — no float crosses an engine.

    Scale shape: identical candidate discipline to ngram_jaccard
    (char-3-gram table, per-(source, len-band) df cutoff, materialized
    once before the self-join); the census collapses pairs immediately
    to 10 buckets per source — the output is bounded regardless of
    pair count, and the cumulative window runs over that bounded
    census. Growth law (STRESS r10): the pair mass under the census is
    Σ_gram df², so wall grows faster than rows wherever replication
    thickens grams below the df cutoff — measured by the
    band_census_pairs stress leg (tools/stress_probe.py).
    """
    return _band_census_over(_t(spark, sf_dir, "documents"))


def _band_census_over(raw_docs: DataFrame) -> DataFrame:
    """The band-census core over an arbitrary documents frame
    (doc_id, source, text) — extracted so the stress probe can drive
    the identical plan at N× replication (the _ppjoin_over template)."""

    docs = raw_docs.withColumn(
        "len_band", F.floor(F.length("text") / NGRAM_LEN_BAND)
    )
    grams = materialize(
        ngram_gram_table(
            docs, "doc_id", "text", ["source", "len_band"], df_max=NGRAM_DF_MAX
        )
    )
    sizes = gram_set_sizes(grams)
    a = grams.select(F.col("doc").alias("doc_a"), "source", "len_band", "gram")
    b = grams.select(F.col("doc").alias("doc_b"), "source", "len_band", "gram")
    shared = (
        a.join(b, ["source", "len_band", "gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("source", "doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    pairs = (
        shared.join(
            sizes.select(
                F.col("doc").alias("doc_a"), F.col("gset_size").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc").alias("doc_b"), F.col("gset_size").alias("sb")
            ),
            "doc_b",
        )
        .select(
            "source",
            F.expr(
                "least((100 * shared) div (sa + sb - shared), 99) div 10"
            ).alias("band"),
        )
    )
    census = pairs.groupBy("source", "band").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    # The per-source total rides as a whole-partition window sum over
    # the SAME partitioning the cumulative window already establishes —
    # the former separate groupBy + re-join added an aggregate and a
    # join exchange to re-derive a value the window partition already
    # holds (guide §2.4: window keyed like the preceding aggregation
    # needs no second shuffle). Integer div on the same exact operands,
    # so the published basis points are unchanged.
    return (
        census.select(
            "source",
            "band",
            "n_pairs",
            F.expr(
                "(10000 * sum(n_pairs) over (partition by source"
                " order by band desc rows between unbounded preceding"
                " and current row)) div (sum(n_pairs) over"
                " (partition by source))"
            ).alias("cum_ge_bp"),
        )
        .orderBy("source", F.desc("band"))
    )


QUERIES["similarity_band_census"] = similarity_band_census

ORACLES["similarity_band_census"] = f"""
WITH docs AS (
  SELECT doc_id, source,
         cast(floor(length(text) / {NGRAM_LEN_BAND}) AS bigint) AS len_band,
         {X.char_ngrams_duck(X.normtext_duck('text'))} AS grams
  FROM documents
),
exploded AS (
  SELECT doc_id AS doc, source, len_band, unnest(grams) AS gram
  FROM docs WHERE len(grams) > 0
),
kept AS (
  SELECT doc, source, len_band, gram FROM (
    SELECT *, count(*) OVER (PARTITION BY source, len_band, gram) AS df
    FROM exploded
  ) WHERE df <= {NGRAM_DF_MAX}
),
grams AS (
  SELECT *, count(*) OVER (PARTITION BY doc) AS gset_size FROM kept
),
shared AS (
  SELECT a.source, a.doc AS doc_a, b.doc AS doc_b, a.gset_size AS sa,
         b.gset_size AS sb, count(*) AS shared
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.len_band = b.len_band
   AND a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4, 5
),
pairs AS (
  SELECT source,
         least((100 * shared) // (sa + sb - shared), 99) // 10 AS band
  FROM shared
),
census AS (
  SELECT source, band, count(*) AS n_pairs
  FROM pairs GROUP BY source, band
),
tot AS (
  SELECT source, sum(n_pairs) AS src_pairs FROM census GROUP BY source
)
SELECT c.source AS source,
       CAST(band AS BIGINT) AS band,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST((10000 * sum(n_pairs) OVER (PARTITION BY c.source
              ORDER BY band DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            // src_pairs AS BIGINT) AS cum_ge_bp
FROM census c JOIN tot t ON c.source = t.source
ORDER BY c.source, band DESC
"""


# ---------------------------------------------------------------------------
# mrl_truncation_eval — Matryoshka dimension-truncation recall
# ---------------------------------------------------------------------------

_MRL_DIMS = 16      # truncated prefix length under evaluation
_MRL_K = 10         # recall@k
_MRL_N_QUERIES = 20


def mrl_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION recall eval (SURVEY §2 #242) — Kusupati
    et al. 2022 (MRL): modern embedding models are trained so a
    PREFIX of the vector is itself a usable embedding, and the
    deployment question is how much retrieval quality the first
    16 of 64 dims keep.  Ground truth is exact top-10 under the
    full vector; the candidate ranking repeats under the truncated
    prefix, and recall@10 per query is published in exact basis
    points — the dimension-budget counterpart of ann_recall_eval
    (which evaluates INDEX approximation at full width).  Dot
    products are exact BIGINTs over fixed-point-quantized components
    (the mutual_nn_mining discipline), ranks pinned by vec_id.

    Scale shape: query side bounded (20 vectors, broadcast);
    both rankings are query-partitioned WindowGroupLimit elections
    over the same scored table (scored ONCE, both dots in one pass);
    the overlap join is on (query, candidate) top-10 pairs.
    """
    emb = _t(spark, sf_dir, "embeddings")
    q = (
        "transform(embedding, e -> "
        "cast(floor(cast(e as double) * 1000) as bigint))"
    )
    base = emb.select("vec_id", F.expr(q).alias("qv"))
    queries = base.filter(F.col("vec_id") < _MRL_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    scored = base.join(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        F.expr(
            "aggregate(zip_with(qq, qv, (x, y) -> x * y), 0L, (s, v) -> s + v)"
        ).alias("dot_full"),
        F.expr(
            f"aggregate(zip_with(slice(qq, 1, {_MRL_DIMS}),"
            f" slice(qv, 1, {_MRL_DIMS}), (x, y) -> x * y),"
            " 0L, (s, v) -> s + v)"
        ).alias("dot_trunc"),
    )
    # NOTE (r10, measured): repartition("query_id") before this
    # checkpoint (one exchange serving both top-k windows) was A/B'd
    # at sf0.1 (ABBA) and measured ~15% SLOWER (1.85 -> 2.14 s): the
    # pre-checkpoint exchange job costs more than the two post-
    # checkpoint window exchanges it replaces at bench scale (the
    # dedup_simhash lesson). Reverted; the unkeyed boundary stays.
    scored = materialize(scored)
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("dot_full"), F.asc("vec_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("dot_trunc"), F.asc("vec_id")
    )
    top_full = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= _MRL_K)
        .select("query_id", "vec_id")
    )
    top_trunc = (
        scored.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= _MRL_K)
        .select("query_id", "vec_id")
    )
    hits = top_full.join(top_trunc, ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        top_full.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr(
                f"(10000 * coalesce(n_hits, 0)) div {_MRL_K}"
            ).alias("recall_bp"),
        )
        .orderBy("query_id")
    )


QUERIES["mrl_truncation_eval"] = mrl_truncation_eval

ORACLES["mrl_truncation_eval"] = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, e ->
           CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_sum(list_transform(range(len(q.qv)),
           i -> q.qv[i + 1] * c.qv[i + 1])) AS dot_full,
         list_sum(list_transform(range({_MRL_DIMS}),
           i -> q.qv[i + 1] * c.qv[i + 1])) AS dot_trunc
  FROM (SELECT * FROM base WHERE vec_id < {_MRL_N_QUERIES}) q
  JOIN base c ON c.vec_id <> q.vec_id
),
top_full AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_full DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {_MRL_K}
),
top_trunc AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_trunc DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {_MRL_K}
),
hits AS (
  SELECT f.query_id, count(*) AS n_hits
  FROM top_full f JOIN top_trunc t
    ON f.query_id = t.query_id AND f.vec_id = t.vec_id
  GROUP BY f.query_id
)
SELECT f.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((10000 * coalesce(h.n_hits, 0)) // {_MRL_K} AS BIGINT)
         AS recall_bp
FROM (SELECT query_id, count(*) AS k FROM top_full GROUP BY query_id) f
LEFT JOIN hits h ON f.query_id = h.query_id
ORDER BY f.query_id
"""
