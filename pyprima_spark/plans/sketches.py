"""Synopses built from primitives: distinct-count, frequency and
moment sketches (KMV, HyperLogLog, Count-Min, AMS), approximate
statistics, histograms, bitmap and learned indexes, and the survey
sampling designs (PPS, priority, Neyman, raking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import DEC, dec_sum
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of extended prices (SURVEY §2 #64): fixed
    bucket width so the bucket id is a row-local expression — one
    map-side-combined aggregation, no range computation pass and no
    sort. (histogram_numeric is approximate and engine-specific; fixed
    buckets are the deterministic, scale-stable form.)
    """
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("l_extendedprice").alias("sum_price"),
        )
        .withColumn("lo", (F.col("bucket") * 5000).cast("double"))
        .select("bucket", "lo", "n", "sum_price")
    )


QUERIES["price_histogram"] = price_histogram

ORACLES["price_histogram"] = """
SELECT cast(floor(l_extendedprice / 5000.0::DOUBLE) AS INT) AS bucket,
       cast(floor(l_extendedprice / 5000.0::DOUBLE) AS INT) * 5000.0::DOUBLE AS lo,
       count(*) AS n,
       round(sum(CAST(l_extendedprice AS DECIMAL(27,6))), 2)::DOUBLE AS sum_price
FROM lineitem
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# table_profile_approx — HLL-sketch statistics, self-validated
# ---------------------------------------------------------------------------

def table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-path statistics with HLL approximate distincts (SURVEY §2
    #90) — the 100 TB companion of ``table_profile`` (warehouse.py): exact
    COUNT(DISTINCT) on a high-cardinality key is a full shuffle of the
    keyspace, while approx_count_distinct is a fixed-size HLL++ sketch
    merged map-side (one small exchange, no Expand).

    Raw sketch estimates are engine-specific, so the cross-engine
    contract is the ERROR BOUND, not the estimate: each column emits its
    exact distinct count plus a boolean `approx_within_10pct` asserting
    the engine's own sketch (rsd=0.05) landed within 10% of its own
    exact value — true on any compliant engine, hash-comparable, and an
    honest statement of what a sketch guarantees.
    """
    orders = _t(spark, sf_dir, "orders")

    # Exact distincts and the HLL sketches are computed in SEPARATE
    # aggregates, cross-joined as two 1-row frames (optimization guide
    # §2.3): attached to the multi-distinct aggregate, each partial HLL
    # (rsd=0.05 -> 2.3 KB of registers) is allocated PER GROUP of the
    # Expand's first-level aggregate — one sketch buffer per distinct
    # value per column (~450k groups x 4 sketches ~ 1 GB of buffer
    # churn at sf0.1; measured 1.7 s for a 2-exchange plan, and the r9
    # "unexplained 1.51->2.35 s regression" in VERDICT §6). Split, the
    # sketch side is ONE map-side-merged fixed-size buffer per column
    # (the 100 TB design intent stated below) and the exact side is a
    # pure long-buffer Expand aggregate. Values are identical: both
    # aggregates see the same rows, and the 10% bound is computed from
    # the same two columns afterwards.
    exact = orders.agg(
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_orderpriority").alias("d_prio"),
        F.countDistinct("o_custkey").alias("d_cust"),
        F.countDistinct("o_totalprice").alias("d_price"),
    )
    approx = orders.agg(
        F.approx_count_distinct("o_orderstatus", 0.05).alias("a_status"),
        F.approx_count_distinct("o_orderpriority", 0.05).alias("a_prio"),
        F.approx_count_distinct("o_custkey", 0.05).alias("a_cust"),
        F.approx_count_distinct("o_totalprice", 0.05).alias("a_price"),
    )

    def ok(name: str):
        d = F.col(f"d_{name}").cast("double")
        return (
            F.abs(F.col(f"a_{name}").cast("double") - d) <= 0.10 * d
        ).alias(f"ok_{name}")

    wide = exact.crossJoin(approx).select(
        "d_status", "d_prio", "d_cust", "d_price",
        ok("status"), ok("prio"), ok("cust"), ok("price"),
    )
    return wide.select(
        F.expr(
            "stack(4,"
            " 'o_custkey',       d_cust,   ok_cust,"
            " 'o_orderpriority', d_prio,   ok_prio,"
            " 'o_orderstatus',   d_status, ok_status,"
            " 'o_totalprice',    d_price,  ok_price)"
            " AS (column_name, n_distinct, approx_within_10pct)"
        )
    )


QUERIES["table_profile_approx"] = table_profile_approx

ORACLES["table_profile_approx"] = """
SELECT 'o_custkey' AS column_name,
       count(DISTINCT o_custkey) AS n_distinct,
       abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
         <= 0.10 * count(DISTINCT o_custkey) AS approx_within_10pct
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(DISTINCT o_orderpriority),
       abs(approx_count_distinct(o_orderpriority) - count(DISTINCT o_orderpriority))
         <= 0.10 * count(DISTINCT o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(DISTINCT o_orderstatus),
       abs(approx_count_distinct(o_orderstatus) - count(DISTINCT o_orderstatus))
         <= 0.10 * count(DISTINCT o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(DISTINCT o_totalprice),
       abs(approx_count_distinct(o_totalprice) - count(DISTINCT o_totalprice))
         <= 0.10 * count(DISTINCT o_totalprice)
FROM orders
ORDER BY column_name
"""


# ---------------------------------------------------------------------------
# approx_quantile_bands — sketch percentiles, self-validated
# ---------------------------------------------------------------------------

def approx_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-sketch companion of ``value_percentiles`` (the
    table_profile_approx pattern): exact p50/p90 per event type are
    hash-compared, and each engine additionally asserts its OWN
    percentile sketch (Spark KLL-style ``approx_percentile``, DuckDB
    t-digest ``approx_quantile``) landed within 5% of its own exact
    value — the error-bound contract, which IS engine-portable, rather
    than the raw estimates, which are not.

    At 100 TB the sketch is the only viable path (mergeable, map-side,
    no per-group sort); this query records that the sketch path is
    wired and within tolerance while keeping the gate exact.
    """
    ev = _t(spark, sf_dir, "events")

    def band(p: float, name: str) -> list:
        exact = F.expr(f"percentile(value, {p})")
        approx = F.expr(f"approx_percentile(value, {p}, 10000)")
        return [
            F.round(exact, 4).alias(name),
            (F.abs(approx - exact) <= 0.05 * exact).alias(f"ok_{name}"),
        ]

    return (
        ev.groupBy("event_type")
        .agg(*band(0.5, "p50"), *band(0.9, "p90"))
    )


QUERIES["approx_quantile_bands"] = approx_quantile_bands

ORACLES["approx_quantile_bands"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
         <= 0.05 * quantile_cont(value, 0.5) AS ok_p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       abs(approx_quantile(value, 0.9) - quantile_cont(value, 0.9))
         <= 0.05 * quantile_cont(value, 0.9) AS ok_p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# kmv_distinct_sketch — k-minimum-values sketch built from primitives
# ---------------------------------------------------------------------------

_KMV_K = 16  # below the synthetic vocab size so the estimate path exercises
_KMV_BITS = 40  # 60-bit md5 base hash >> 20 — keeps (k-1)·2^bits in bigint


def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A K-Minimum-Values distinct sketch IMPLEMENTED FROM PRIMITIVES
    (not a built-in): per source, the k=16 smallest 40-bit token hashes
    estimate the distinct count as (k−1)·2⁴⁰ / h₍ₖ₎ — the mergeable
    sketch design (union = k smallest of the union) behind theta
    sketches.  Unlike approx_count_distinct's HLL, every intermediate
    here is a DETERMINISTIC integer, so the oracle checks the
    ESTIMATE itself, not just an error band — the strongest possible
    gate on a sketch implementation.

    One map-combined distinct on (source, token-hash), a per-source
    bottom-k window (WindowGroupLimit — partial bottom-k map-side),
    and integer division.  At 100 TB the bottom-k becomes the
    mergeable per-partition k-smallest + re-merge, same arithmetic.
    """
    docs = _t(spark, sf_dir, "documents")
    hashed = (
        docs.select(
            "source", F.explode(F.expr(X.tokens_spark("text"))).alias("token")
        )
        .select("source", "token")
        .distinct()
        .select(
            "source",
            F.expr(
                f"shiftright({X.hash64_spark('token')}, {60 - _KMV_BITS})"
            ).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    bottomk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
    )
    exact = hashed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    kth = bottomk.groupBy("source").agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth")
    )
    est = F.when(
        F.col("k_used") < _KMV_K, F.col("n_exact")  # fewer distincts than k
    ).otherwise(
        F.expr(f"cast(({_KMV_K} - 1) * cast(pow(2, {_KMV_BITS}) as bigint)"
               f" div kth as bigint)")
    )
    return (
        kth.join(exact, "source")
        .select(
            "source",
            "n_exact",
            est.alias("kmv_estimate"),
            F.expr(
                "cast(abs(kmv_estimate - n_exact) * 10000 div n_exact as int)"
            ).alias("err_bp"),
        )
    )


QUERIES["kmv_distinct_sketch"] = kmv_distinct_sketch

ORACLES["kmv_distinct_sketch"] = f"""
WITH hashed AS (
  SELECT DISTINCT source,
         {X.hash64_duck('token')} >> {60 - _KMV_BITS} AS h
  FROM (SELECT DISTINCT source, unnest({X.tokens_duck('text')}) AS token
        FROM documents)
),
bottomk AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
),
exact AS (SELECT source, count(*) AS n_exact FROM hashed GROUP BY source),
kth AS (
  SELECT source, count(*) AS k_used, max(h) AS kth FROM bottomk GROUP BY source
),
est AS (
  SELECT source, n_exact,
         CASE WHEN k_used < {_KMV_K} THEN n_exact
              ELSE ({_KMV_K} - 1) * CAST(pow(2, {_KMV_BITS}) AS BIGINT) // kth
         END AS kmv_estimate
  FROM kth JOIN exact USING (source)
)
SELECT source, n_exact, CAST(kmv_estimate AS BIGINT) AS kmv_estimate,
       CAST(abs(kmv_estimate - n_exact) * 10000 // n_exact AS INT) AS err_bp
FROM est
ORDER BY source
"""


# ---------------------------------------------------------------------------
# equidepth_histogram — NTILE-based equal-count buckets with boundaries
# ---------------------------------------------------------------------------

_EQUIDEPTH_BUCKETS = 10


def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: ten near-equal-count
    buckets with their value boundaries — the histogram shape a
    cost-based optimizer actually stores (equi-width,
    price_histogram's shape, wastes buckets on empty ranges under
    skew; equi-depth adapts).

    VERDICT r5 rewrite: the original plan ran ntile(10) over an
    UNPARTITIONED window — a single-partition sort of the whole fact
    table (Spark does NOT range-partition an unpartitioned ntile).
    Now the 9 bucket boundaries come from percentile_disc over the
    deterministic 4% md5-gated sample (the range_partition_bounds
    machinery — percentile_disc returns an actual data
    value, bit-identical across engines; the sample bounds memory at
    |table|/25 regardless of scale), the 1-row bound set is
    broadcast, bucket assignment is a row-local CASE chain, and the
    rollup is one map-combined aggregation. Bucket counts are
    near-equal rather than exactly equal — which is what a sampled
    equi-depth histogram IS (Spark's own RangePartitioner accepts the
    same tolerance); the n column now doubles as the balance proof.
    """
    orders = _t(spark, sf_dir, "orders")
    qs = [i / _EQUIDEPTH_BUCKETS for i in range(1, _EQUIDEPTH_BUCKETS)]
    gate = F.expr(X.hash64_spark("cast(o_orderkey as string)")) % 100 < 4
    bounds = orders.filter(gate).agg(
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias(f"b{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, _EQUIDEPTH_BUCKETS):
        bucket = bucket + (F.col("o_totalprice") > F.col(f"b{i}")).cast("int")
    return (
        orders.select(
            "o_totalprice", F.col("o_totalprice").cast(DEC).alias("v")
        )
        .crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "v")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v"), 2).cast("double").alias("lo"),
            F.round(F.max("v"), 2).cast("double").alias("hi"),
            F.round(F.sum("v"), 2).cast("double").alias("total"),
        )
    )


QUERIES["equidepth_histogram"] = equidepth_histogram


def _equidepth_oracle() -> str:
    qs = [i / _EQUIDEPTH_BUCKETS for i in range(1, _EQUIDEPTH_BUCKETS)]
    bound_cols = ", ".join(
        f"quantile_disc(o_totalprice, {q}) AS b{i}"
        for i, q in enumerate(qs, start=1)
    )
    bucket_expr = " + ".join(
        ["1"]
        + [
            f"CASE WHEN o_totalprice > b{i} THEN 1 ELSE 0 END"
            for i in range(1, _EQUIDEPTH_BUCKETS)
        ]
    )
    gate = X.hash64_duck("cast(o_orderkey as VARCHAR)")
    return f"""
WITH bounds AS (
  SELECT {bound_cols} FROM orders WHERE {gate} % 100 < 4
),
bucketed AS (
  SELECT {bucket_expr} AS bucket,
         CAST(o_totalprice AS DECIMAL(27,6)) AS v
  FROM orders CROSS JOIN bounds
)
SELECT bucket, count(*) AS n,
       round(min(v), 2)::DOUBLE AS lo,
       round(max(v), 2)::DOUBLE AS hi,
       round(sum(v), 2)::DOUBLE AS total
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""

ORACLES["equidepth_histogram"] = _equidepth_oracle()


# ---------------------------------------------------------------------------
# kmv_source_overlap — KMV sketch ALGEBRA: pairwise vocabulary Jaccard
# ---------------------------------------------------------------------------


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap from KMV sketch ALGEBRA
    (SURVEY §2 #182): kmv_distinct_sketch (#170) builds one sketch per
    source; this is why sketches exist — MERGE them. For every source
    pair, the union sketch is the k smallest of the two sketches'
    union, the union cardinality is the usual (k−1)·2^b/h₍ₖ₎, and the
    Jaccard estimate is the fraction of union-sketch members present
    in BOTH input sketches (the theta-sketch intersection rule). The
    exact Jaccard rides along (one equi-join on the token hash) so the
    operator doubles as its own error evaluation, the ann_recall_eval
    pattern.

    Scale story: the exact side is the thing the sketch REPLACES at
    100 TB — the sketch path touches only P sketch rows of k integers
    (a broadcast-sized dim table even at thousands of partitions), so
    cross-source overlap costs O(P²k) after one corpus scan, instead
    of a corpus-sized self-join per pair. Every sketch value is a
    deterministic integer; the oracle gates the ESTIMATES themselves.
    """
    docs = _t(spark, sf_dir, "documents")
    hashed = (
        docs.select(
            "source", F.explode(F.expr(X.tokens_spark("text"))).alias("token")
        )
        .select(
            "source",
            F.expr(
                f"shiftright({X.hash64_spark('token')}, {60 - _KMV_BITS})"
            ).alias("h"),
        )
        # NOTE (r10, measured): repartition("h") before this distinct
        # (the cross_source_overlap subset-clustering move) was A/B'd
        # and measured ~25% SLOWER — unlike the fingerprint case, the
        # keyed exchange here carries the UN-deduplicated exploded
        # token table (the distinct's map-side partial aggregation
        # normally shrinks the shuffle first), so the saved join
        # exchanges cost more than they buy. The (source, h) distinct
        # layout stays.
        .distinct()
    )
    hashed = materialize(hashed)  # feeds sketches AND the exact join
    w = Window.partitionBy("source").orderBy("h")
    sketches = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    pairs = (
        sketches.select(
            F.col("source").alias("source_a"), F.col("sk").alias("sk_a")
        )
        .crossJoin(
            F.broadcast(
                sketches.select(
                    F.col("source").alias("source_b"), F.col("sk").alias("sk_b")
                )
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    est = pairs.select(
        "source_a",
        "source_b",
        "sk_a",
        "sk_b",
        F.expr(
            f"slice(array_sort(array_union(sk_a, sk_b)), 1, {_KMV_K})"
        ).alias("merged"),
    ).select(
        "source_a",
        "source_b",
        F.expr("size(merged)").alias("k_used"),
        F.expr("element_at(merged, size(merged))").alias("kth"),
        F.expr(
            "size(filter(merged, v -> array_contains(sk_a, v)"
            " and array_contains(sk_b, v)))"
        ).alias("n_both"),
    )
    exact = (
        hashed.alias("x")
        .join(hashed.alias("y"), "h")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = hashed.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return (
        est.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")).withColumnRenamed(
                "n", "n_a"
            ),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b")).withColumnRenamed(
                "n", "n_b"
            ),
            "source_b",
        )
        .join(exact, ["source_a", "source_b"], "left")
        .fillna({"n_inter": 0})
        .select(
            "source_a",
            "source_b",
            F.expr(
                f"cast(case when k_used < {_KMV_K} then k_used"
                f" else ({_KMV_K} - 1) * cast(pow(2, {_KMV_BITS}) as bigint)"
                f" div kth end as bigint)"
            ).alias("union_est"),
            F.expr("cast(n_a + n_b - n_inter as bigint)").alias("union_exact"),
            F.expr("cast(n_both * 10000 div k_used as int)").alias(
                "jaccard_est_bp"
            ),
            F.expr(
                "cast(n_inter * 10000 div (n_a + n_b - n_inter) as int)"
            ).alias("jaccard_exact_bp"),
            F.expr(
                "cast(abs(n_both * 10000 div k_used"
                " - n_inter * 10000 div (n_a + n_b - n_inter)) as int)"
            ).alias("err_bp"),
        )
    )


QUERIES["kmv_source_overlap"] = kmv_source_overlap

ORACLES["kmv_source_overlap"] = f"""
WITH hashed AS MATERIALIZED (
  SELECT DISTINCT source,
         ({X.hash64_duck('token')}) >> {60 - _KMV_BITS} AS h
  FROM (
    SELECT source, unnest({X.tokens_duck('text')}) AS token FROM documents
  )
),
sketches AS (
  SELECT source, list_sort(list(h)) AS sk FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
  GROUP BY source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.sk AS sk_a, b.sk AS sk_b
  FROM sketches a JOIN sketches b ON a.source < b.source
),
est AS (
  SELECT source_a, source_b,
         len(merged) AS k_used,
         merged[len(merged)] AS kth,
         len(list_filter(merged,
             v -> list_contains(sk_a, v) AND list_contains(sk_b, v)))
           AS n_both
  FROM (
    SELECT *,
           list_sort(list_distinct(list_concat(sk_a, sk_b)))[1:{_KMV_K}]
             AS merged
    FROM pairs
  )
),
exact AS (
  SELECT x.source AS source_a, y.source AS source_b,
         count(*) AS n_inter
  FROM hashed x JOIN hashed y ON x.h = y.h AND x.source < y.source
  GROUP BY 1, 2
),
sizes AS (SELECT source, count(*) AS n FROM hashed GROUP BY source)
SELECT e.source_a, e.source_b,
       CAST(CASE WHEN k_used < {_KMV_K} THEN k_used
            ELSE ({_KMV_K} - 1) * CAST(pow(2, {_KMV_BITS}) AS BIGINT) // kth
            END AS BIGINT) AS union_est,
       CAST(sa.n + sb.n - coalesce(n_inter, 0) AS BIGINT) AS union_exact,
       CAST(n_both * 10000 // k_used AS INT) AS jaccard_est_bp,
       CAST(coalesce(n_inter, 0) * 10000
            // (sa.n + sb.n - coalesce(n_inter, 0)) AS INT)
         AS jaccard_exact_bp,
       CAST(abs(n_both * 10000 // k_used
            - coalesce(n_inter, 0) * 10000
              // (sa.n + sb.n - coalesce(n_inter, 0))) AS INT) AS err_bp
FROM est e
JOIN sizes sa ON sa.source = e.source_a
JOIN sizes sb ON sb.source = e.source_b
LEFT JOIN exact x ON x.source_a = e.source_a AND x.source_b = e.source_b
ORDER BY e.source_a, e.source_b
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
    )


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
    )


QUERIES["ams_f2_sketch"] = ams_f2_sketch

ORACLES["ams_f2_sketch"] = f"""
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
    )


QUERIES["pps_systematic_sample"] = pps_systematic_sample

ORACLES["pps_systematic_sample"] = f"""
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
    )


QUERIES["priority_sample_estimate"] = priority_sample_estimate

ORACLES["priority_sample_estimate"] = f"""
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


QUERIES["interpolation_search_error"] = interpolation_search_error

ORACLES["interpolation_search_error"] = f"""
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
    )


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
    )


QUERIES["voptimal_histogram"] = voptimal_histogram

ORACLES["voptimal_histogram"] = f"""
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


QUERIES["birthday_collision_audit"] = birthday_collision_audit

ORACLES["birthday_collision_audit"] = f"""
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
