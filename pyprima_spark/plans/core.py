"""Core catalog: the first 82 operators of SURVEY.md §2 and the helpers
and oracle SQL fragments that later plan modules share.

Each plan function takes ``(spark, sf_dir)`` and returns a DataFrame
whose column names match its DuckDB oracle in ``ORACLES`` exactly — the
correctness check sorts columns by name and hashes values. Floats
passing through arithmetic are rounded identically on both sides.

All plans are declarative DataFrame compositions — Catalyst handles
pushdown/pruning/join strategy; dimension tables are broadcast
explicitly where the optimizer cannot know they stay small at 100 TB
fact scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyprima_spark.catalog import load_table, widen_scan
from pyprima_spark.functions import text as X, vectors as V
from pyprima_spark.functions.agg import DEC, dec_avg, dec_avg_exact, dec_sum
from pyprima_spark.functions.binning import interval_bin, interval_bin_sql
from pyprima_spark.functions.calendar import daytype, daytype_sql, season, season_sql
from pyprima_spark.functions.geo import (
    haversine_km,
    haversine_km_sql,
    synth_lat,
    SYNTH_LAT_SQL,
    synth_lon,
    SYNTH_LON_SQL,
)
from pyprima_spark.functions.skew import salted_join
from pyprima_spark.functions.strings import clean_name, clean_name_sql
from pyprima_spark.functions.text import tokens_duck, tokens_spark
from pyprima_spark.operators.allocate import capped_allocate
from pyprima_spark.operators.asof import asof_join as _asof
from pyprima_spark.operators.bloom import bloom_build, bloom_probe
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.cohorts import cohort_of
from pyprima_spark.operators.components import connected_components
from pyprima_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    gram_set_sizes,
    minhash_candidate_pairs,
    ngram_gram_table,
    simhash_pair_hamming,
    winnow_fingerprints as winnow_op,
)
from pyprima_spark.operators.dedup_names import dedup_names as dd
from pyprima_spark.operators.disaggregate import disaggregate
from pyprima_spark.operators.edges import canonicalize_edges
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.expand import expand_multivalue as expand
from pyprima_spark.operators.gapfill import (
    forward_fill,
    trend_fill_day_before,
    trend_fill_sql,
)
from pyprima_spark.operators.grids import expansion_grid as grid_op
from pyprima_spark.operators.impute import mode_impute as mi
from pyprima_spark.operators.multimodal import (
    attach_fake_media,
    audio_features,
    decode_media,
    frame_sample,
    resize_stub,
)
from pyprima_spark.operators.normalize import group_share
from pyprima_spark.operators.ranges import interval_overlap_join
from pyprima_spark.operators.recode import mapping_values_sql, recode_column
from pyprima_spark.operators.resample import resample
from pyprima_spark.operators.scd import scd2_from_log
from pyprima_spark.operators.similarity import (
    ann_ivf as ivf_op,
    ann_lsh as lsh_op,
    ann_topk as topk_op,
    embedding_dedup as emb_dedup_op,
)
from pyprima_spark.operators.spatial import (
    box_overlap_join,
    point_in_box_grid_join,
    point_in_box_join,
)
from pyprima_spark.plans.constants import (
    ANN_K,
    ANN_N_QUERIES,
    COHORT_WIDTH,
    EFF_PER_1000KM,
    EMB_DEDUP_TAU,
    INV_COST_FIX,
    INV_COST_LENGTH,
    IVF_CENTROID_IDS,
    IVF_N_PROBE,
    LENGTH_BINS,
    LENGTH_DEFAULT,
    MINHASH_BANDS,
    NATION_RECODE,
    NGRAM_DF_MAX,
    NGRAM_JACCARD_TAU,
    NGRAM_LEN_BAND,
    SIZE_BINS,
    SIZE_DEFAULT,
    STOPWORDS,
)
from pyprima_spark.sources import fsio
from pyprima_spark.streaming.events import (
    hourly_event_stats,
    run_sliding_stream,
    stream_events,
)
from pyprima_spark.streaming.joins import purchase_click_pairs
from pyprima_spark.streaming.sessions import run_sessions_stream, sessionize as _sess


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog table ``name`` under ``sf_dir``; every plan module loads
    its inputs through this one function."""
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Core relational engine
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the flagship grouped aggregation.

    Exercises scan→filter→project→partial/final agg. The filter and the
    4-column projection push down to the parquet scan; the aggregate is
    map-side partial then a 6-group shuffle (trivially skew-free).
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + grouped agg + deterministic top-10."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join with broadcast dims, region-filtered agg."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"))
    )


# ---------------------------------------------------------------------------
# Cleaning / correction operators (SURVEY §2 #4-15)
# ---------------------------------------------------------------------------


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
        .orderBy("country")
    )


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
    return piv.select(*cols).orderBy("c_mktsegment")


def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of lineitem measures, then aggregate.

    Reference: evrys suplm stacks the wide TS matrix into
    (t, sit, co, value) rows (generate_models.py:349-368).
    """
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(dec_sum("val").alias("total"))
        .orderBy("l_returnflag", "metric")
    )


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
        .orderBy("word")
    )


def dedup_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumcount-suffix name dedup (first occurrence unsuffixed).

    Reference: correction_functions.py:474.
    """

    part = _t(spark, sf_dir, "part")
    return dd(part, "p_brand", "p_partkey").select(
        "p_partkey", "p_brand", "name_dedup"
    )


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
        .orderBy("size_class")
    )


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
        .orderBy("k_filled")
    )


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
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Intermediate-generation operators (SURVEY §2 #16-18)
# ---------------------------------------------------------------------------


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
        .orderBy("season", "daytype")
    )


def profile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize each series so its values sum to 1 per entity.

    Reference: load profiles normalized to integral 1
    (correction_functions.py:46-47), per sector. Here per user.
    """

    ev = _t(spark, sf_dir, "events")
    return group_share(ev, ["user_id"], "value", "share").select(
        "event_id", "user_id", "share"
    )


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


# ---------------------------------------------------------------------------
# Intermediate-generation operators (SURVEY §2 #19-25)
# ---------------------------------------------------------------------------


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
        .orderBy("c_mktsegment")
    )


def _edge_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected nation-pair aggregate of lineitem revenue.

    Shared by canonical_edges / neighbor_expansion / transmission_attrs —
    the analogue of the cleaned+grouped GridKit line table.
    """

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("c_nationkey").alias("cn"),
            F.col("s_nationkey").alias("sn"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )
    edges = canonicalize_edges(pairs, "cn", "sn")
    return edges.groupBy("edge_a", "edge_b").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum("rev").alias("cap"),
    )


def canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge canonicalization + symmetric aggregation.

    Reference: reverse_lines (util.py:139-155) + the grouped line
    aggregation (generate_intermediate_files.py:463-469), dropping
    intra-regional (loop) edges.
    """
    return _edge_aggregate(spark, sf_dir).orderBy("edge_a", "edge_b")


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
        .orderBy("r_name", "edge_a", "edge_b")
    )


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
    ).orderBy("edge_a", "edge_b")


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
        .orderBy("cohort", "o_orderstatus")
    )


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
    return (
        grid_op([sites, techs], existing, ["n_name", "o_orderpriority"], {"inst_cap": 0.0})
        .orderBy("n_name", "o_orderpriority")
    )


DEMAND_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def export_demand_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide hour × region demand matrix with a leading t column.

    Reference: the urbs Demand sheet — regions as columns, hour index t
    as rows (generate_models.py:159-166).
    """
    ev = _t(spark, sf_dir, "events")
    region = _t(spark, sf_dir, "region")
    labelled = ev.withColumn("rk", F.col("user_id") % 5).join(
        F.broadcast(region), F.col("rk") == region.r_regionkey
    )
    piv = (
        labelled.withColumn("t", F.hour("ts"))
        .groupBy("t")
        .pivot("r_name", DEMAND_REGIONS)
        .agg(F.sum(F.col("value").cast(DEC)))
    )
    cols = [F.col("t")]
    for r in DEMAND_REGIONS:
        cols.append(
            F.round(F.coalesce(F.col(f"`{r}`"), F.lit(0.0)), 2).alias(
                r.replace(" ", "_")
            )
        )
    return piv.select(*cols).orderBy("t")


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (SURVEY §2 #26-36)
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 hash-groupBy (SURVEY §2 #26)."""

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup (SURVEY §2 #27)."""

    docs = _t(spark, sf_dir, "documents")
    return fingerprint_dedup(docs, "doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (SURVEY §2 #28).

    16 minhashes over word 3-shingles, 4 bands × 4 rows; pairs share
    >= 1 band. The signature is computed in one narrow pass — only the
    (doc, band, sig) table shuffles.
    """

    docs = _t(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text").orderBy(
        "doc_a", "doc_b"
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming distances for chunk-sharing pairs (SURVEY §2 #29)."""

    docs = _t(spark, sf_dir, "documents")
    return simhash_pair_hamming(docs, "doc_id", "text").orderBy("doc_a", "doc_b")


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Jaccard similarity pairs >= tau within (source,
    length-band) buckets (SURVEY §2 #30)."""

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_band", F.floor(F.length("text") / NGRAM_LEN_BAND)
    )
    # Stop-grams (bucket df > NGRAM_DF_MAX) are cut before the
    # self-join: they dominate join fanout without signal. The gram
    # table is materialized once — the per-side renames below the join
    # exchanges defeat exchange reuse, so without the stage boundary
    # the explode+normalize+window derivation runs twice, and at corpus
    # scale the derivation is the dominant stage.
    grams = materialize(
        ngram_gram_table(
            docs, "doc_id", "text", ["source", "len_band"], df_max=NGRAM_DF_MAX
        )
    )
    # Set sizes ride on the (tiny) per-doc count, joined onto the
    # aggregated pairs — not window-attached to every gram row, which
    # would sort-shuffle the full gram table once more. (The size
    # subtree feeds both pair-side joins and does evaluate twice; an
    # r10 A/B of a persist/checkpoint boundary here measured the
    # barrier slightly SLOWER than the duplicate aggregate over the
    # already-checkpointed gram blocks, so the duplication stays.)
    sizes = gram_set_sizes(grams)
    a = grams.select(F.col("doc").alias("doc_a"), "source", "len_band", "gram")
    b = grams.select(F.col("doc").alias("doc_b"), "source", "len_band", "gram")
    shared = (
        a.join(b, ["source", "len_band", "gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    withsizes = (
        shared.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("gset_size").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("gset_size").alias("size_b")),
            "doc_b",
        )
    )
    jacc = F.round(
        F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")), 4
    )
    return (
        withsizes.withColumn("jacc", jacc)
        .filter(F.col("jacc") >= NGRAM_JACCARD_TAU)
        .select("doc_a", "doc_b", "jacc")
        .orderBy("doc_a", "doc_b")
    )


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k per query vector (SURVEY §2 #31)."""

    emb = _t(spark, sf_dir, "embeddings")
    return topk_op(emb, ANN_N_QUERIES, ANN_K).orderBy("query_id", "rank")


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN per query vector (SURVEY §2 #32)."""

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_op(emb, ANN_N_QUERIES, ANN_K).orderBy("query_id", "rank")


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer approximate NN — the cluster-scale path
    (SURVEY §2 #32b). Uses the deterministic fixed-id quantizer so the
    full plan (cell assignment → probe selection → per-cell verify) is
    hash-checkable against the SQL oracle; the KMeans variant shares
    every downstream stage and is exercised by the recall unit test."""

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_op(
        emb,
        ANN_N_QUERIES,
        ANN_K,
        n_probe=IVF_N_PROBE,
        centroid_ids=IVF_CENTROID_IDS,
    ).orderBy("query_id", "rank")


def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs via banded multi-table LSH (SURVEY §2 #33)."""

    emb = _t(spark, sf_dir, "embeddings")
    return emb_dedup_op(emb, EMB_DEDUP_TAU).orderBy("vec_a", "vec_b")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID, reported as a confusion matrix
    against the labelled lang column (SURVEY §2 #34). No joins — the
    scores are per-row higher-order-function sums; argmax is a CASE
    with alphabetical tie-break.
    """

    docs = _t(spark, sf_dir, "documents")
    toks = X.tokens_spark("text")
    scored = docs.withColumn("tokens", F.expr(toks))
    for lang, words in STOPWORDS.items():
        scored = scored.withColumn(
            f"s_{lang}", F.expr(X.stopword_count_spark("tokens", words))
        )
    scored = scored.withColumn("s_zh", F.expr(X.cjk_count_spark("text")))
    m = F.greatest(*[F.col(f"s_{l}") for l in sorted(STOPWORDS)])
    pred = F.when(F.col("s_zh") > 0, F.lit("zh")).otherwise(
        F.when(m == 0, F.lit("unknown"))
        .when(F.col("s_de") == m, F.lit("de"))
        .when(F.col("s_en") == m, F.lit("en"))
        .when(F.col("s_es") == m, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return (
        scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def _quality_frame(docs: DataFrame) -> DataFrame:
    """documents + raw (unrounded) quality components and composite
    score. Rational arithmetic only — no transcendental functions — so
    Spark and a sequential oracle compute bit-identical doubles; shared
    by `quality_score` (rounds for output) and `corpus_curation` (gates
    on the raw score)."""

    toks = X.tokens_spark("text")
    d = (
        docs.withColumn("tokens", F.expr(toks))
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("n_ch", F.length("text"))
        .withColumn(
            "punct_cnt",
            F.col("n_ch")
            - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", "")),
        )
        .withColumn(
            "word_chars",
            F.length(F.regexp_replace(F.lower("text"), r"\s", "")),
        )
        .withColumn(
            "stop_cnt", F.expr(X.stopword_count_spark("tokens", STOPWORDS["en"]))
        )
    )
    n_tok = F.col("n_tok")
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(F.col("stop_cnt") / n_tok)
    punct_ratio = F.when(F.col("n_ch") == 0, F.lit(0.0)).otherwise(
        F.col("punct_cnt") / F.col("n_ch")
    )
    mean_wl = F.when(n_tok == 0, F.lit(0.0)).otherwise(F.col("word_chars") / n_tok)
    score = (
        F.lit(2.0) * stop_ratio
        - F.lit(3.0) * punct_ratio
        + F.least(n_tok, F.lit(100)) / F.lit(100.0)
        - F.abs(mean_wl - F.lit(5.0)) / F.lit(10.0)
    )
    return (
        d.withColumn("stop_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("mean_wl", mean_wl)
        .withColumn("score", score)
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: token count, stopword ratio, punct
    ratio, mean word length, composite score (SURVEY §2 #35). Rational
    arithmetic only — no transcendental functions.

    Every reported value rounds HALF-AWAY-FROM-ZERO in exact integer
    space over its rational's own denominator (``round(double, 4)``
    proved engine-divergent at sf0.1: Spark rounds the shortest
    decimal repr HALF_UP, DuckDB rounds the binary value — 4/5000 docs
    straddled a .00005 boundary). The integer form is
    ``(2·10⁴·NUM ± DEN) div (2·DEN)`` — Spark ``div`` and DuckDB
    ``//`` both truncate toward zero — then one exact division by 10⁴.
    """
    docs = _t(spark, sf_dir, "documents")
    d = _quality_frame(docs)

    def rnd(num_sql: str, den_sql: str) -> F.Column:
        num = f"cast(({num_sql}) as bigint)"
        den = f"cast(({den_sql}) as bigint)"
        return F.expr(
            f"CASE WHEN {den} = 0 THEN 0.0D ELSE "
            f"cast((20000 * {num} + IF({num} >= 0, {den},"
            f" -{den})) div (2 * {den}) as double) / 10000 END"
        )

    return d.select(
        "doc_id",
        "n_tok",
        rnd("stop_cnt", "n_tok").alias("stop_ratio"),
        rnd("punct_cnt", "n_ch").alias("punct_ratio"),
        rnd("word_chars", "n_tok").alias("mean_word_len"),
        rnd(
            "2 * stop_cnt * 100 * n_ch - 3 * punct_cnt * 100 * n_tok"
            " + least(n_tok, 100) * n_tok * n_ch"
            " - 10 * abs(word_chars - 5 * n_tok) * n_ch",
            "100 * n_tok * n_ch",
        ).alias("score"),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization stats per source (SURVEY §2 #36)."""

    docs = _t(spark, sf_dir, "documents")
    toks = X.tokens_spark("text")
    d = (
        docs.withColumn("tokens", F.expr(toks))
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("n_distinct", F.size(F.array_distinct("tokens")))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            dec_avg("n_tok").alias("avg_tokens"),
            F.sum("n_distinct").alias("total_distinct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Non-relational surfaces exposed as catalog entries (SURVEY §2, tail)
# ---------------------------------------------------------------------------


def streaming_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed hourly stats, run to completion
    with an availableNow trigger — must equal the batch aggregate.
    Checkpoint rides fsio.scratch_dir (``spark.pyprima.scratchDir`` on
    a cluster — Spark's checkpoint manager accepts any Hadoop-FS URI).
    """
    import uuid

    name = f"hourly_{uuid.uuid4().hex[:8]}"
    out = hourly_event_stats(stream_events(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", fsio.scratch_dir(spark, "ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "total",
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → Arrow-batched decode stub → resize.

    The mapInPandas plumbing is the product; the fake decoder derives
    dimensions from the payload md5, so an independent SQL oracle can
    reproduce it.
    """

    docs = _t(spark, sf_dir, "documents")
    out = resize_stub(decode_media(attach_fake_media(docs)))
    return out.select(
        "doc_id", "n_bytes", "width", "height", "out_width", "out_height",
        "fingerprint",
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON column with a declared schema
    (from_json — JVM-side, no UDF) and aggregate by a derived bucket.
    The schema-on-read path for semi-structured event payloads.

    The parse is heavy per-row compute BEFORE the first shuffle, so a
    degenerate scan (one row group locally) would run it on one core —
    widen_scan spreads it; a no-op once the file has >= cores splits
    (measured: 3.5s -> 0.8s at sf0.1 local[32])."""

    ev = widen_scan(_t(spark, sf_dir, "events"))
    parsed = ev.withColumn(
        "k", F.from_json("props", "k int").getField("k")
    )
    return (
        parsed.withColumn("k_bucket", F.floor(F.col("k") / 10).cast("int"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_avg("value").alias("avg_value"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


def zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal raster statistics (SURVEY §2 #49): aggregate a pixel grid
    per containing region — spatial_functions.py:zonal_stats, which
    sums/counts raster cells (population, land use) inside each region
    polygon.

    The raster is a deterministic 160x360 1-degree grid generated
    DISTRIBUTIVELY from `spark.range` (no driver-side materialization —
    at real raster resolution this is billions of cells and range()
    splits across executors). Region boxes broadcast; one narrow pass
    assigns cells, one shuffle aggregates per region.
    """

    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .select(
            (F.col("latidx") - 80 + F.lit(0.5)).alias("lat"),
            (F.col("lonidx") - 180 + F.lit(0.5)).alias("lon"),
            ((F.col("latidx") * 7 + F.col("lonidx") * 13) % 100).alias("pixval"),
        )
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    return (
        point_in_box_join(pix, nat)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("pixval").alias("total"),
            dec_avg("pixval").alias("mean_val"),
            F.max("pixval").alias("max_val"),
        )
        .orderBy("n_name")
    )


def nearest_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (SURVEY §2 #51): map each customer
    point to the closest nation centroid by haversine distance —
    spatial_functions.py:get_sites / crd point-to-site assignment.

    The centroid table is dim-sized and BROADCAST; the fact side streams
    through one narrow pass (cross join × 25 + per-key min-rank), no
    shuffle until the final count-per-site agg. At huge centroid counts
    the layout switches to the same grid-cell candidate join as
    point-in-box.
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    sites = _t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") * 13 % 140) - 70 + F.lit(0.0)).alias("slat"),
        ((F.col("n_nationkey") * 29 % 340) - 170 + F.lit(0.0)).alias("slon"),
    )
    from pyspark.sql import Window

    d = F.round(
        haversine_km(F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")), 6
    )
    w = Window.partitionBy("c_custkey").orderBy(F.asc("dist"), F.asc("n_name"))
    assigned = (
        cust.crossJoin(F.broadcast(sites))
        .withColumn("dist", d)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        assigned.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            dec_avg("dist").alias("avg_dist_km"),
        )
        .orderBy("n_name")
    )


def grid_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D grid downsampling (SURVEY §2 #52): resample the 1-degree pixel
    grid to 4x4-degree blocks by mean — util.py:resizem, the raster
    coarsening every map-based input goes through.

    Pure groupBy on (block_lat, block_lon): uniform keys, map-side
    partial means, one shuffle of block aggregates only.
    """
    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .select(
            "latidx",
            "lonidx",
            ((F.col("latidx") * 7 + F.col("lonidx") * 13) % 100).alias("pixval"),
        )
    )
    return (
        pix.groupBy(
            (F.col("latidx") / 4).cast("int").alias("block_lat"),
            (F.col("lonidx") / 4).cast("int").alias("block_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            dec_avg("pixval").alias("mean_val"),
        )
        .orderBy("block_lat", "block_lon")
    )


def incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup (SURVEY §2 #47): keep only incoming
    docs whose normalized fingerprint is NOT already in the seen-set —
    the don't-re-ingest gate of a continuously-fed training corpus.

    A LEFT ANTI join on the 128-bit fingerprint: one shuffle on a
    uniformly-distributed key. At 100 TB the seen-set side stays a
    compact (fingerprint) table; AQE turns the probe into a broadcast
    when a partition's seen-slice is small, and a bloom-filter pushdown
    prunes most incoming rows before the exchange.
    """
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    # Materialized ONCE: both anti-join sides derive from fp, so the
    # two-regex normalize + md5 pass otherwise runs twice (guide §2.4).

    fp = materialize(docs.select("doc_id", F.md5(norm).alias("fingerprint")))
    seen = fp.filter(F.col("doc_id") % 3 == 0).select("fingerprint")
    incoming = fp.filter(F.col("doc_id") % 3 != 0)
    return incoming.join(seen, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    ).orderBy("doc_id")


def incremental_new_docs_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-assisted incremental ingestion dedup (SURVEY §2 #47b) —
    same output as `incremental_new_docs`, with the seen-set compressed
    into a broadcastable Bloom word table probed map-side; only the
    Bloom-positive rows continue to the exact anti-join. At 100 TB this
    turns an |incoming|-row shuffle into a |hits|-row shuffle while the
    definite-news pass straight through.
    """

    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    # Materialized ONCE: fp feeds the Bloom build, the probe side
    # (evaluated twice through `tagged`), and the exact anti-join's
    # seen side — without the boundary the two-regex normalize + md5
    # pass re-runs once per consumer (~4x; guide §2.4, measured 17
    # Exchanges). The checkpoint is the (doc_id, fingerprint) index an
    # incremental ingest persists anyway.

    fp = materialize(docs.select("doc_id", F.md5(norm).alias("fingerprint")))
    seen = fp.filter(F.col("doc_id") % 3 == 0).select("fingerprint")
    incoming = fp.filter(F.col("doc_id") % 3 != 0)

    tagged = bloom_probe(incoming, bloom_build(seen, "fingerprint"), "fingerprint")
    definite_new = tagged.filter(~F.col("bloom_maybe")).select(
        "doc_id", "fingerprint"
    )
    verified_new = (
        tagged.filter(F.col("bloom_maybe"))
        .select("doc_id", "fingerprint")
        .join(seen, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
    )
    return definite_new.unionByName(verified_new).orderBy("doc_id")


def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination check (SURVEY §2 #48): count winnowing
    fingerprints shared between every pair of sources — the train/test
    benchmark-contamination probe over a corpus.

    The (source, fingerprint) table is materialized once before the
    self-join (the per-side source renames defeat exchange reuse, so
    the winnow pass — rolling hashes + two windows — would run twice);
    the join key is the fingerprint hash (uniform), and per-pair
    distinct counting happens after the row-level distinct, so the pair
    space is bounded by real overlap, never |docs|^2.
    """

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_op(docs, "doc_id", "text")
    # repartition(fingerprint) BEFORE the distinct: hash(fingerprint)
    # co-locates every duplicate (source, fingerprint) row, so the
    # distinct plans exchange-free on top of it, the checkpoint
    # preserves the layout, and BOTH self-join sides (join key =
    # fingerprint) consume it with zero further exchanges (guide §2.4;
    # the market_basket_pairs subset-clustering layout).
    fsrc = materialize(
        fps.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "fingerprint")
        .repartition("fingerprint")
        .distinct()
    )
    a = fsrc.select(F.col("source").alias("source_a"), "fingerprint")
    b = fsrc.select(F.col("source").alias("source_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .orderBy("source_a", "source_b")
    )


def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: last-write-wins snapshot per (user, type) key
    (SURVEY §2 #45).

    Implemented as a `max_by` AGGREGATION, not a row_number window: the
    aggregate gets map-side partial combine (each task keeps one winner
    per key before the shuffle), where a window would shuffle and sort
    every raw event. At 100 TB of change-log this is the difference
    between shuffling the keyspace and shuffling the log.
    """
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max_by("event_id", ordk).alias("last_event_id"),
            F.round(F.max_by("value", ordk), 2).alias("last_value"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id", "event_type")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension)
    (SURVEY §2 #46) — the vector aggregation under KMeans/IVF training.

    posexplode keeps the plan JVM-side and columnar; the agg shuffles
    (label, dim) pairs — uniformly distributed, 64×|labels| groups —
    with map-side partial sums, never whole vectors.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(dec_avg("v", 5).alias("centroid"))
        .orderBy("label", "dim")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters from minhash LSH candidate pairs
    (SURVEY §2 #44): iterative hash-min connected components — the
    operator class (iterative graph algorithm) no single SQL pass
    expresses; see operators/components.py for the scale layout.
    """

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    return (
        connected_components(pairs, "doc_a", "doc_b")
        .select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .orderBy("doc_id")
    )


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: ROLLUP over (nation, order-year).

    OLAP cube surface (reference runs separate groupbys per level, e.g.
    generate_intermediate_files.py:469 then re-aggregation; ROLLUP
    computes all levels in one pass). Spark evaluates rollup with a
    single Expand + one shuffle — no per-level rescan of the fact side.
    """
    ord_ = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    joined = (
        ord_.join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate"))
    )
    return (
        joined.rollup("n_name", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_year", F.lit(-1)).alias("o_year"),
            "n_orders",
            "total_price",
        )
        .orderBy("nation", "o_year")
    )


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, priority): all 4 grouping combinations in one
    Expand pass (SURVEY §2 #50) — completes the grouping-set matrix next
    to `rollup_sales` (which emits only the 3 hierarchical levels)."""
    ord_ = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = ord_.join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
    return (
        joined.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("segment", "priority")
    )


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
        .orderBy("event_type")
    )


def point_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-region spatial bounding-box join (SURVEY §2 #40).

    Deterministic synthetic geometry: each customer gets a lat/lon from
    integer arithmetic on its key; each nation a bounding box from its
    nationkey. The broadcast inequality join assigns points to regions
    — the pyPRIMA point-in-polygon analogue (see operators/spatial.py).
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    return (
        point_in_box_join(cust, nat)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            # dec_avg_exact: the sf0.001 sweep caught a half-ulp round
            # tie here (5739.32375 -> .3238 Spark vs .3237 DuckDB)
            dec_avg_exact("c_acctbal").alias("avg_bal"),
        )
        .orderBy("n_name")
    )


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
        .orderBy("purchase_id", "c_ts")
    )


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient join demo (SURVEY §2 #57): orders keyed so one
    hot key holds most rows, joined to a priority dim through
    `salted_join` — the explicit fallback when AQE cannot split a
    heavy-hitter partition (post-join co-grouping pins the layout).
    Salting must not change semantics: the oracle is the plain join.
    """

    orders = _t(spark, sf_dir, "orders")
    # ~60% of rows land on hot_key 0 (URGENT+HIGH+MEDIUM collapse).
    fact = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"), 0)
        .otherwise(F.substring("o_orderpriority", 1, 1).cast("int"))
        .alias("hot_key"),
    )
    dim = spark.createDataFrame(
        [(0, "compressed"), (4, "deferred"), (5, "background")],
        "hot_key int, tier string",
    )
    return (
        salted_join(fact, dim, "hot_key")
        .groupBy("hot_key", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("hot_key")
    )


def point_in_region_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell spatial join (SURVEY §2 #40b) — same semantics and
    output as `point_in_region`, via the cell-bucketed equi-join that
    replaces the broadcast when the region table is itself fact-sized.
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    return (
        point_in_box_grid_join(cust, nat)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            dec_avg_exact("c_acctbal").alias("avg_bal"),
        )
        .orderBy("n_name")
    )


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (SURVEY §2 #27b)."""

    docs = _t(spark, sf_dir, "documents")
    return winnow_op(docs, "doc_id", "text").orderBy("doc_id", "fingerprint")


def quality_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: top 10 documents per source by quality score
    (rounded score + doc_id tiebreak keeps ranking deterministic across
    engines). The per-group top-k is a rank window over one shuffle on
    source — the standard quota-filter shape for corpus curation."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = X.tokens_spark("text")
    d = (
        docs.withColumn("tokens", F.expr(toks))
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("n_ch", F.length("text"))
        .withColumn(
            "punct_cnt",
            F.col("n_ch")
            - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", "")),
        )
        .withColumn(
            "word_chars",
            F.length(F.regexp_replace(F.lower("text"), r"\s", "")),
        )
        .withColumn(
            "stop_cnt", F.expr(X.stopword_count_spark("tokens", STOPWORDS["en"]))
        )
    )
    n_tok = F.col("n_tok")
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(F.col("stop_cnt") / n_tok)
    punct_ratio = F.when(F.col("n_ch") == 0, F.lit(0.0)).otherwise(
        F.col("punct_cnt") / F.col("n_ch")
    )
    mean_wl = F.when(n_tok == 0, F.lit(0.0)).otherwise(F.col("word_chars") / n_tok)
    score = F.round(
        F.lit(2.0) * stop_ratio
        - F.lit(3.0) * punct_ratio
        + F.least(n_tok, F.lit(100)) / F.lit(100.0)
        - F.abs(mean_wl - F.lit(5.0)) / F.lit(10.0),
        4,
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        d.withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("source", "rnk", "doc_id", "score")
        .orderBy("source", "rnk")
    )


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep a doc iff its id-hash
    falls under its source's rate (5-50%). Hash-gated filters are the
    reproducible sampling primitive for training-data pipelines — no
    rand(), so retries, re-runs, and other engines agree row-for-row."""

    docs = _t(spark, sf_dir, "documents")
    rate = 5 + (F.substring("source", 4, 10).cast("int") % 4) * 15
    gate = F.expr(X.hash64_spark("cast(doc_id as string)")) % 100
    return (
        docs.withColumn("rate", rate)
        .filter(gate < F.col("rate"))
        .select("doc_id", "source", "rate")
        .orderBy("doc_id")
    )


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 1h/15m sliding-window event counts, computed by the
    streaming engine (availableNow) — each event lands in 4 windows."""

    return run_sliding_stream(spark, sf_dir)


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling stub: k evenly spaced frame fingerprints per
    payload via mapInPandas (one output row per frame)."""

    docs = _t(spark, sf_dir, "documents")
    return frame_sample(attach_fake_media(docs)).orderBy("doc_id", "frame_idx")


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature-extraction stub over the binary payload column."""

    docs = _t(spark, sf_dir, "documents")
    return audio_features(attach_fake_media(docs)).orderBy("doc_id")


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
        .orderBy("event_id")
    )


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
    ).orderBy("event_id")


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessions via session_window (SURVEY §2
    sessionize)."""

    return _sess(_t(spark, sf_dir, "events"))


def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming sessionizer (applyInPandasWithState);
    same output contract as the batch sessionize."""

    return run_sessions_stream(spark, sf_dir)


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
        .orderBy("day", "tech", "n_name")
    )


def region_overlap_disaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted overlay disaggregation (SURVEY §2 #53).

    Reference: ``intersection_subregions_countries``
    (lib/spatial_functions.py:225-277) overlays subregions with
    countries and names each piece sub_country; downstream load
    disaggregation weights by the piece areas — which the reference
    computes in a cylindrical EQUAL-AREA projection first
    (generate_intermediate_files.py:79-82 ``to_crs('+proj=cea')``;
    initialization.py:39), not in raw degrees. Here: nation boxes ×
    region boxes via the broadcast box-overlap join; each region's
    revenue total is split over its pieces by EQUAL-AREA overlap
    share — for a lat/lon box the cea-projected area is
    Δlon·(sin(lat_hi)−sin(lat_lo)), the exact spherical-zone formula,
    no geo library needed (VERDICT r8 item 4).

    Determinism: the equal-area weight is quantized to integer
    millionths (``area_ea``) before the share division, so group sums
    and shares stay bit-identical across engines (sin(radians(k·5°))
    itself verified bit-equal Spark vs DuckDB for every latitude the
    synthetic boxes can produce); the planar integer ``area`` column
    is kept for the overlay-extent readout.
    """
    from pyspark.sql import Window

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    sub = nation.select(
        F.col("n_name").alias("name"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    country = region.select(
        F.col("r_regionkey").alias("rkey"),
        F.col("r_name").alias("name"),
        ((F.col("r_regionkey") * 13 % 8) * 20 - 80).alias("lat_min"),
        ((F.col("r_regionkey") * 13 % 8) * 20 - 80 + 60).alias("lat_max"),
        ((F.col("r_regionkey") * 17 % 10) * 36 - 180).alias("lon_min"),
        ((F.col("r_regionkey") * 17 % 10) * 36 - 180 + 108).alias("lon_max"),
    )
    pieces = box_overlap_join(sub, country).select(
        F.concat_ws("_", F.col("a_name"), F.col("b_name")).alias("piece"),
        F.col("a_name").alias("subregion"),
        F.col("b_name").alias("country"),
        F.col("b_rkey").alias("rkey"),
        F.col("overlap_area").alias("area"),
        F.expr(
            "cast(round((least(a_lon_max, b_lon_max)"
            " - greatest(a_lon_min, b_lon_min))"
            " * (sin(radians(least(a_lat_max, b_lat_max)))"
            "    - sin(radians(greatest(a_lat_min, b_lat_min))))"
            " * 1000000) as bigint)"
        ).alias("area_ea"),
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat_dim = nation.select("n_nationkey", "n_regionkey")
    totals = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_dim), cust.c_nationkey == nat_dim.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("rkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC))
            .cast("double")
            .alias("region_total")
        )
    )
    wr = Window.partitionBy("rkey")
    share_raw = F.col("area_ea").cast("double") / F.sum("area_ea").over(
        wr
    ).cast("double")
    return (
        pieces.join(totals, "rkey")
        .withColumn("share_raw", share_raw)
        .select(
            "piece",
            "subregion",
            "country",
            "area",
            "area_ea",
            F.round("share_raw", 6).alias("share"),
            F.round(F.col("region_total") * F.col("share_raw"), 4).alias(
                "allocated"
            ),
        )
        .orderBy("piece")
    )


def grid_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 2D grid upsampling (SURVEY §2 #54).

    Reference: ``resizem``'s enlarge path (lib/util.py:68-93) repeats
    each pixel of a coarse raster into an r×c block. Spark-first: a
    sequence+explode per axis fans each pixel row out to its block —
    pure map-side Generate, no shuffle at any scale; the inverse of
    ``grid_downsample``'s block-mean.
    """
    pix = (
        spark.range(40 * 90)
        .withColumn("i", (F.col("id") / 90).cast("int"))
        .withColumn("j", (F.col("id") % 90).cast("int"))
        .select(
            "i", "j", ((F.col("i") * 7 + F.col("j") * 13) % 100).alias("val")
        )
    )
    rep = pix.withColumn(
        "a", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(3))))
    return rep.select(
        (F.col("i") * 4 + F.col("a")).alias("row_idx"),
        (F.col("j") * 4 + F.col("b")).alias("col_idx"),
        "val",
    ).orderBy("row_idx", "col_idx")


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
    ).orderBy("c_custkey")


def region_mask_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize region geometries onto a shared pixel grid with an
    equal-share population burn-in (SURVEY §2 #66) — the analogue of
    input_maps.py generate_landsea/generate_population, which burn each
    region's shape (and its attribute total) into a global raster
    window by window.

    Distribution: each region row fans out to its covered pixel indices
    via sequence+explode ON THE EXECUTORS (no driver-side raster
    array), then one (latidx, lonidx) aggregation overlays all regions.
    A region covers 40x72 index cells here; at real resolution the same
    plan shape holds — fanout per region is bounded by its bbox, and
    the overlay shuffle is keyed by uniformly-distributed pixel ids.
    """
    reg = _t(spark, sf_dir, "region")
    nat = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    pop = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("pop"))
    )
    boxes = (
        reg.join(F.broadcast(pop), reg.r_regionkey == pop.n_regionkey)
        .select(
            "r_regionkey",
            "pop",
            (F.col("r_regionkey") * 37 % 120).alias("la0"),
            (F.col("r_regionkey") * 53 % 288).alias("lo0"),
        )
    )
    cells = boxes.select(
        "pop",
        F.explode(F.sequence(F.col("la0"), F.col("la0") + 39)).alias("latidx"),
        "lo0",
    ).select(
        "pop",
        "latidx",
        F.explode(F.sequence(F.col("lo0"), F.col("lo0") + 71)).alias("lonidx"),
    )
    return (
        cells.groupBy("latidx", "lonidx")
        .agg(
            F.count(F.lit(1)).alias("n_regions"),
            dec_sum(F.col("pop") / F.lit(2880.0), 6).alias("pop_alloc"),
        )
        .orderBy("latidx", "lonidx")
    )


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
        .orderBy("bucket")
    )


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
        .orderBy("event_type")
    )


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
        .orderBy("signup_date")
    )


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
        .orderBy("cohort_day", "offset_days")
    )


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution Shannon entropy (SURVEY §2 #67) —
    the corpus-diversity metric curation pipelines track alongside
    quality scores (low entropy flags templated/boilerplate sources).

    H = -sum p ln p over the source's term frequencies: one explode,
    one (source, term) count, one source-level aggregation. p is a
    ratio of exact counts (identical doubles both engines); each
    p·ln p term is cast DECIMAL(18,12) before summing so the total is
    order-insensitive (see functions/agg.py).
    """

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(F.expr(tokens_spark("text"))).alias("term")
    )
    tf = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    tot = F.sum("tf").over(Window.partitionBy("source"))
    p = F.col("tf") / tot
    return (
        tf.withColumn("p", p)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(
                -F.sum((F.col("p") * F.log("p")).cast("decimal(18,12)")).cast(
                    "double"
                ),
                4,
            ).alias("entropy"),
        )
        .orderBy("source")
    )


CURATION_TAU = 0.35  # quality gate; mirrored verbatim in the oracle


def curation_flags(spark: SparkSession, sf_dir: str):
    """Per-document curation stage flags: (frame, kept_final_column).

    The frame carries (doc_id, source, n_tok, text, passq, keptx,
    component); the returned Column is the final-survivor predicate.
    Shared by `corpus_curation` (funnel counts) and
    `pipeline.run_curation` (materializes the curated corpus).
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # Stage boundary: evaluate the (large) quality expression tree ONCE
    # into a narrow materialized table. Downstream flags reference the
    # score/hash columns several times (window arg, partition key, flag
    # conjunctions); without the boundary CollapseProject inlines the
    # whole tokenize+stopword tree into each reference — measured 3x
    # the gate cost. In production this boundary is a parquet write.
    d = materialize(
        _quality_frame(docs).select(
            "doc_id",
            "source",
            "n_tok",
            "text",
            F.md5("text").alias("h"),
            (F.col("score") > F.lit(CURATION_TAU)).alias("passq"),
        )
    )
    d = d.withColumn(
        "keptx",
        F.col("passq")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("passq"), F.col("doc_id"))).over(
                Window.partitionBy("h")
            )
        ),
    )
    survivors = d.filter("keptx").select("doc_id", "text")
    pairs = minhash_candidate_pairs(survivors, "doc_id", "text")
    clusters = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )
    keptn = F.col("keptx") & (
        F.col("component").isNull() | (F.col("doc_id") == F.col("component"))
    )
    return d.join(clusters, "doc_id", "left"), keptn


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation funnel (SURVEY §2 #63):
    quality gate → exact dedup (md5 keep-min) → MinHash-LSH near-dup
    cluster dedup — reported as per-source survivor counts and retained
    tokens. The composition every corpus pipeline runs before
    tokenization, assembled from the already-oracled stage operators.

    Stage flags are computed in ONE wide per-doc plan (no per-stage
    re-aggregation): quality is a row-local expression, the exact-dedup
    winner is a conditional-min window over the md5 partition, and the
    near-dup winner is a left join against hash-min connected-component
    labels (operators/components.py) built over survivors only. All
    outputs are integer counts — nothing float-hashable in the result.
    """
    d, keptn = curation_flags(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count(F.when(F.col("passq"), 1)).alias("n_quality"),
            F.count(F.when(F.col("keptx"), 1)).alias("n_exact"),
            F.count(F.when(keptn, 1)).alias("n_final"),
            F.coalesce(F.sum(F.when(keptn, F.col("n_tok"))), F.lit(0)).alias(
                "tokens_final"
            ),
        )
        .orderBy("source")
    )


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
        .orderBy("incident_id")
    )


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
        .orderBy("user_id")
    )


def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build (SURVEY §2 #60): the events log compacted
    into versioned (user, event_type) validity ranges via
    `scd2_from_log` (operators/scd.py). Open rows close at a sentinel
    so the output stays one fully-typed string column per boundary.
    """

    ev = _t(spark, sf_dir, "events")
    scd = scd2_from_log(ev, "user_id", "event_type")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        scd.select(
            "user_id",
            "event_type",
            "version",
            F.date_format("valid_from", fmt).alias("valid_from"),
            F.coalesce(
                F.date_format("valid_to", fmt), F.lit("9999-12-31 00:00:00.000000")
            ).alias("valid_to"),
        )
        .orderBy("user_id", "version")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF keywords (SURVEY §2 #61): top-5 characteristic
    terms per source. Term frequency aggregates within each source;
    document frequency is corpus-global; idf = ln(N/df). All JVM-side:
    one explode of the token array, one aggregation, one term-window
    for global df, one rank window — the corpus text is scanned once.

    Ranking compares `round(score, 4)`, not the raw double — ln() may
    differ in the last ulp across engines, and a rank flip would swap
    whole output rows (the one failure rounding the OUTPUT cannot fix).
    """

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", "source", F.explode(F.expr(tokens_spark("text"))).alias("term")
    )
    # Single-pass tf+df: a doc belongs to exactly ONE source (doc_id is
    # the documents PK), so global document frequency per term is the
    # sum of per-(term, source) distinct-doc counts — one aggregation
    # chain plus a term-window, instead of two independent aggregations
    # that would each scan and tokenize the corpus text.
    from pyspark.sql import Window

    per_ts = terms.groupBy("term", "source").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("dfp"),
    )
    tf = per_ts.withColumn(
        "df", F.sum("dfp").over(Window.partitionBy("term"))
    ).drop("dfp")

    scored = (
        tf.withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("tfidf"), F.asc("term")
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
    )
    return scored.select("source", "rnk", "term", "tf", "df", "tfidf").orderBy(
        "source", "rnk"
    )


def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (SURVEY §2 #62) over the symmetrized
    canonical trade-edge graph — importance scoring of network nodes,
    the principled version of pyPRIMA's connected-capacity node ranking
    (generate_intermediate_files.py:463-490). 3 synchronous rounds,
    decimal contribution sums; see operators/graph.py for the scale
    and determinism story.
    """
    from decimal import ROUND_HALF_UP, Decimal

    # The graph is the DIM-BOUNDED nation-pair census (≤ |nations|² =
    # 625 rows): the fact-sized stage (the 4-way lineitem join inside
    # _edge_aggregate) stays distributed, and the 3 synchronous rounds
    # run driver-side on the collected census — the same
    # census-collect-then-iterate adjudication as the other 13 keys
    # (SURVEY §7.24a): the former operators/graph.py loop ran ~8 Spark
    # jobs of join+agg on ≤ 50-row state per call (32 jobs total at
    # sf0.1; pure scheduler overhead at EVERY scale).  Arithmetic is
    # replicated bit-for-bit: per-edge contribution = the double
    # rank/outdeg cast to DECIMAL(18,12) (Spark casts via the shortest
    # decimal repr — Python's repr() is the same shortest-roundtrip
    # string — then HALF_UP at scale 12), contributions sum exactly in
    # Decimal, and the update is the identical IEEE-double
    # base + 0.85 * double(csum). The final round(rank, 8) stays IN
    # SPARK over the literal frame so the published rounding is the
    # engine's own.
    e_rows = bounded_collect(
        _edge_aggregate(spark, sf_dir).select("edge_a", "edge_b"),
        625,
        "pagerank_nations: nation-pair edge census",
    )
    out_nbrs: dict[int, list[int]] = {}
    for r in e_rows:
        a, b = r["edge_a"], r["edge_b"]
        out_nbrs.setdefault(a, []).append(b)
        out_nbrs.setdefault(b, []).append(a)
    nodes = sorted(out_nbrs)
    n = len(nodes)
    ranks = {v: 1.0 / n for v in nodes}
    base = (1.0 - 0.85) / n
    q12 = Decimal(1).scaleb(-12)
    for _ in range(3):
        csum = {v: Decimal(0) for v in nodes}
        got = set()
        for v in nodes:
            c = Decimal(repr(ranks[v] / len(out_nbrs[v]))).quantize(
                q12, rounding=ROUND_HALF_UP
            )
            for nbr in out_nbrs[v]:
                csum[nbr] += c
                got.add(nbr)
        ranks = {
            v: base + 0.85 * (float(csum[v]) if v in got else 0.0)
            for v in nodes
        }
    lit = spark.createDataFrame(
        [(int(v), ranks[v]) for v in nodes], schema="nationkey int, rank double"
    )
    return lit.select(
        "nationkey", F.round("rank", 8).alias("rank")
    ).orderBy("nationkey")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "region_overlap_disaggregate": region_overlap_disaggregate,
    "point_in_region": point_in_region,
    "point_in_region_grid": point_in_region_grid,
    "incremental_new_docs_bloom": incremental_new_docs_bloom,
    "salted_skew_join": salted_skew_join,
    "purchase_click_attribution": purchase_click_attribution,
    "incident_window_join": incident_window_join,
    "time_weighted_avg": time_weighted_avg,
    "scd2_snapshot": scd2_snapshot,
    "tfidf_top_terms": tfidf_top_terms,
    "pagerank_nations": pagerank_nations,
    "corpus_curation": corpus_curation,
    "price_histogram": price_histogram,
    "outlier_mad": outlier_mad,
    "region_mask_raster": region_mask_raster,
    "token_entropy": token_entropy,
    "funnel_conversion": funnel_conversion,
    "retention_cohorts": retention_cohorts,
    "asof_join": asof_join,
    "rolling_user_stats": rolling_user_stats,
    "token_count": token_count,
    "streaming_hourly_stats": streaming_hourly_stats,
    "streaming_sliding_counts": streaming_sliding_counts,
    "q1_pricing_summary": q1_pricing_summary,
    "interval_binning": interval_binning,
    "json_props_stats": json_props_stats,
    "value_percentiles": value_percentiles,
    "zonal_stats": zonal_stats,
    "grid_downsample": grid_downsample,
    "nearest_site": nearest_site,
    "label_centroids": label_centroids,
    "expand_multivalue": expand_multivalue,
    "recode_group": recode_group,
    "shares_normalize": shares_normalize,
    "pivot_wide": pivot_wide,
    "unpivot_long": unpivot_long,
    "dedup_names": dedup_names,
    "ffill_impute": ffill_impute,
    "clean_names_ascii": clean_names_ascii,
    "calendar_enrich": calendar_enrich,
    "sessionize": sessionize,
    "streaming_sessions": streaming_sessions,
    "lang_id": lang_id,
    "quality_score": quality_score,
    "multimodal_decode": multimodal_decode,
    "multimodal_frames": multimodal_frames,
    "multimodal_audio": multimodal_audio,
    "mode_impute": mode_impute,
    "gap_fill_trend": gap_fill_trend,
    "flh_pivot": flh_pivot,
    "profile_normalize": profile_normalize,
    "resample_hourly": resample_hourly,
    "export_demand_matrix": export_demand_matrix,
    "latest_snapshot": latest_snapshot,
    "canonical_edges": canonical_edges,
    "neighbor_expansion": neighbor_expansion,
    "transmission_attrs": transmission_attrs,
    "ann_ivf": ann_ivf,
    "embedding_dedup": embedding_dedup,
    "grid_upsample": grid_upsample,
    "capped_distribution": capped_distribution,
    "supply_ts_assembly": supply_ts_assembly,
    "ngram_jaccard": ngram_jaccard,
    "weighted_disaggregate": weighted_disaggregate,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "cohort_rollup": cohort_rollup,
    "expansion_grid": expansion_grid,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "incremental_new_docs": incremental_new_docs,
    "cross_source_overlap": cross_source_overlap,
    "dedup_clusters": dedup_clusters,
    "rollup_sales": rollup_sales,
    "cube_sales": cube_sales,
    "winnow_fingerprints": winnow_fingerprints,
    "quality_topk_per_source": quality_topk_per_source,
    "deterministic_sample": deterministic_sample,
    "ann_topk": ann_topk,
    "ann_lsh": ann_lsh,
}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {}

ORACLES["q1_pricing_summary"] = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(CAST(l_quantity AS DECIMAL(27,6))), 2)::DOUBLE                                        AS sum_qty,
  round(sum(CAST(l_extendedprice AS DECIMAL(27,6))), 2)::DOUBLE                                   AS sum_base_price,
  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))), 2)::DOUBLE                AS sum_disc_price,
  round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(27,6))), 2)::DOUBLE  AS sum_charge,
  round(sum(CAST(l_quantity AS DECIMAL(27,6)))::DOUBLE / count(l_quantity), 4)                                        AS avg_qty,
  round(sum(CAST(l_extendedprice AS DECIMAL(27,6)))::DOUBLE / count(l_extendedprice), 4)                                   AS avg_price,
  round(sum(CAST(l_discount AS DECIMAL(27,6)))::DOUBLE / count(l_discount), 4)                                        AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLES["q3_shipping_priority"] = """
SELECT
  l_orderkey,
  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))), 2)::DOUBLE AS revenue,
  strftime(o_orderdate, '%Y-%m-%d')                 AS o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

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

ORACLES["unpivot_long"] = """
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
)
SELECT l_returnflag, metric, round(sum(CAST(val AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM long GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["expand_multivalue"] = """
WITH words AS (
  SELECT unnest(string_split(p_name, ' ')) AS word, p_size FROM part
)
SELECT word, count(*) AS n_parts, round(sum(CAST(p_size AS DECIMAL(27,6)))::DOUBLE / count(p_size), 4) AS avg_size
FROM words GROUP BY word ORDER BY word
"""

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

ORACLES["interval_binning"] = f"""
SELECT
  {interval_bin_sql('p_size', SIZE_BINS, SIZE_DEFAULT)} AS size_class,
  count(*) AS n,
  round(sum(CAST(p_retailprice AS DECIMAL(27,6)))::DOUBLE / count(p_retailprice), 4) AS avg_price
FROM part
GROUP BY 1 ORDER BY 1
"""

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

ORACLES["clean_names_ascii"] = f"""
SELECT
  doc_id,
  {clean_name_sql('text')} AS name_clean,
  length({clean_name_sql('text')}) AS n_ascii
FROM documents
"""

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

ORACLES["calendar_enrich"] = f"""
SELECT
  {season_sql('o_orderdate')} AS season,
  {daytype_sql('o_orderdate')} AS daytype,
  count(*) AS n_orders,
  round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM orders
GROUP BY 1, 2 ORDER BY 1, 2
"""

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

ORACLES["resample_hourly"] = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
  event_type,
  count(*) AS n,
  round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""

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

_EDGE_AGG_CTE = """
pairs AS (
  SELECT
    least(c_nationkey, s_nationkey)    AS edge_a,
    greatest(c_nationkey, s_nationkey) AS edge_b,
    l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
),
edges AS MATERIALIZED (
  SELECT edge_a, edge_b, count(*) AS n_lines, round(sum(CAST(rev AS DECIMAL(27,6))), 2)::DOUBLE AS cap
  FROM pairs GROUP BY 1, 2
)
"""
# MATERIALIZED: edges is a <=625-row nation-pair census over the
# lineitem 4-way join; pagerank's unrolled rounds (and any other
# multi-reference consumer) must not re-inline that join per
# reference — the graph_modularity oracle lesson (SURVEY §6 r10 d).

ORACLES["canonical_edges"] = f"""
WITH {_EDGE_AGG_CTE}
SELECT edge_a, edge_b, n_lines, cap FROM edges ORDER BY edge_a, edge_b
"""

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

ORACLES["cohort_rollup"] = f"""
SELECT
  cast(floor(year(o_orderdate) / {COHORT_WIDTH}) * {COHORT_WIDTH} AS int) AS cohort,
  o_orderstatus,
  count(*) AS n_orders,
  round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""

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

ORACLES["export_demand_matrix"] = """
WITH labelled AS (
  SELECT hour(ts) AS t, r_name, value
  FROM events JOIN region ON (user_id % 5) = r_regionkey
)
SELECT
  t,
  round(coalesce(sum(value) FILTER (r_name = 'AFRICA'), 0), 2)      AS AFRICA,
  round(coalesce(sum(value) FILTER (r_name = 'AMERICA'), 0), 2)     AS AMERICA,
  round(coalesce(sum(value) FILTER (r_name = 'ASIA'), 0), 2)        AS ASIA,
  round(coalesce(sum(value) FILTER (r_name = 'EUROPE'), 0), 2)      AS EUROPE,
  round(coalesce(sum(value) FILTER (r_name = 'MIDDLE EAST'), 0), 2) AS MIDDLE_EAST
FROM labelled
GROUP BY t ORDER BY t
"""

ORACLES["dedup_exact"] = """
SELECT md5(text) AS text_hash, min(doc_id) AS kept_doc, count(*) AS n_dups
FROM documents GROUP BY 1
"""

ORACLES["dedup_fingerprint"] = """
SELECT
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                          '\\s+', ' ', 'g'))) AS fingerprint,
  min(doc_id) AS kept_doc,
  count(*)    AS n_dups
FROM documents GROUP BY 1
"""

def _minhash_bands_cte(rel: str) -> str:
    """MinHash band-table CTE over an arbitrary (doc_id, text) relation
    — `documents` for the standalone dedup oracles, a filtered survivor
    CTE for the curation-pipeline oracle."""
    return f"""sigs AS (
  SELECT doc_id AS doc,
         {X.bands_duck(X.minhashes_duck('bh'), MINHASH_BANDS)} AS bands
  FROM (
    SELECT doc_id, {X.base_hashes_duck('shingles')} AS bh
    FROM (
      SELECT doc_id, {X.shingles_duck(X.tokens_duck('text'))} AS shingles
      FROM {rel}
    )
    WHERE len(shingles) > 0
  )
),
bands AS (
  SELECT doc, unnest(bands) AS band_sig,
         unnest(generate_series(1, len(bands))) AS band_idx
  FROM sigs
)"""


_MINHASH_BANDS_CTE = _minhash_bands_cte("documents")

ORACLES["dedup_minhash_lsh"] = f"""
WITH {_MINHASH_BANDS_CTE}
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc < b.doc
ORDER BY doc_a, doc_b
"""

_SIMHASH_CTE = f"""
sims AS (
  SELECT doc_id AS doc, {X.simhash_duck('hashes')} AS simhash
  FROM (
    SELECT doc_id, {X.token_hashes_duck('tokens')} AS hashes
    FROM (SELECT doc_id, {X.tokens_duck('text')} AS tokens FROM documents)
    WHERE len(tokens) > 0
  )
),
chunks AS (
  SELECT doc, simhash, c, (simhash >> (c * 15)) & 32767 AS chunk
  FROM sims, (SELECT unnest(generate_series(0, 3)) AS c)
)
"""

ORACLES["dedup_simhash"] = f"""
WITH {_SIMHASH_CTE}
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.chunk = b.chunk AND a.doc < b.doc
)
ORDER BY doc_a, doc_b
"""

ORACLES["ngram_jaccard"] = f"""
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
  -- stop-gram cutoff: same per-bucket document-frequency guard as the
  -- Spark plan (grams in > NGRAM_DF_MAX docs of a bucket are dropped)
  SELECT doc, source, len_band, gram FROM (
    SELECT *, count(*) OVER (PARTITION BY source, len_band, gram) AS df
    FROM exploded
  ) WHERE df <= {NGRAM_DF_MAX}
),
grams AS (
  SELECT *, count(*) OVER (PARTITION BY doc) AS gset_size FROM kept
),
shared AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.gset_size AS size_a,
         b.gset_size AS size_b, count(*) AS shared
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.len_band = b.len_band
   AND a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(shared / (size_a + size_b - shared), 4) AS jacc
FROM shared
WHERE round(shared / (size_a + size_b - shared), 4) >= {NGRAM_JACCARD_TAU}
ORDER BY doc_a, doc_b
"""

_COS = V.cosine_duck("qvec", "cvec", V.EMB_DIM)

ORACLES["ann_topk"] = f"""
WITH base AS (
  SELECT vec_id, {V.to_double_duck('embedding')} AS vec FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round({_COS}, 4) AS cos
  FROM (SELECT vec_id, vec AS qvec FROM base WHERE vec_id < {ANN_N_QUERIES}) q
  CROSS JOIN (SELECT vec_id, vec AS cvec FROM base) c
  WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K}
ORDER BY query_id, rank
"""

ORACLES["ann_lsh"] = f"""
WITH base AS (
  SELECT vec_id, vec, {V.lsh_bucket_duck('vec')} AS bucket
  FROM (SELECT vec_id, {V.to_double_duck('embedding')} AS vec FROM embeddings)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round({_COS}, 4) AS cos
  FROM (SELECT vec_id, vec AS qvec, bucket FROM base WHERE vec_id < {ANN_N_QUERIES}) q
  JOIN (SELECT vec_id, vec AS cvec, bucket FROM base) c USING (bucket)
  WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K}
ORDER BY query_id, rank
"""

_BAND_SIG_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT vec_id, {b} AS band, {V.band_bucket_duck('vec', b)} AS bucket FROM base"
    for b in range(V.LSH_BANDS)
)

ORACLES["embedding_dedup"] = f"""
WITH base AS (
  SELECT vec_id, {V.to_double_duck('embedding')} AS vec FROM embeddings
),
sig AS (
{_BAND_SIG_SELECTS}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos FROM (
  SELECT vec_a, vec_b,
         round({V.cosine_duck('x.vec', 'y.vec', V.EMB_DIM)}, 4) AS cos
  FROM pairs
  JOIN base x ON x.vec_id = vec_a
  JOIN base y ON y.vec_id = vec_b
)
WHERE cos >= {EMB_DEDUP_TAU}
ORDER BY vec_a, vec_b
"""

_IVF_CELLS = ", ".join(
    f"({i}, {cid})" for i, cid in enumerate(IVF_CENTROID_IDS)
)

ORACLES["ann_ivf"] = f"""
WITH base AS (
  SELECT vec_id, {V.to_double_duck('embedding')} AS vec FROM embeddings
),
cents AS (
  SELECT c.cell, b.vec AS centroid
  FROM (VALUES {_IVF_CELLS}) AS c(cell, cid)
  JOIN base b ON b.vec_id = c.cid
),
assigned AS (
  SELECT vec_id, cvec, cell FROM (
    SELECT d.vec_id, d.cvec, d.cell,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY d.d2 ASC, d.cell ASC) AS pr
    FROM (
      SELECT b.vec_id, b.vec AS cvec, c.cell,
             {V.l2sq_duck('b.vec', 'c.centroid', V.EMB_DIM)} AS d2
      FROM base b CROSS JOIN cents c
    ) d
  ) WHERE pr = 1
),
probes AS (
  SELECT query_id, qvec, cell FROM (
    SELECT d.query_id, d.qvec, d.cell,
           row_number() OVER (PARTITION BY d.query_id
                              ORDER BY d.d2 ASC, d.cell ASC) AS pr
    FROM (
      SELECT q.vec_id AS query_id, q.vec AS qvec, c.cell,
             {V.l2sq_duck('q.vec', 'c.centroid', V.EMB_DIM)} AS d2
      FROM base q CROSS JOIN cents c
      WHERE q.vec_id < {ANN_N_QUERIES}
    ) d
  ) WHERE pr <= {IVF_N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({V.cosine_duck('p.qvec', 'a.cvec', V.EMB_DIM)}, 4) AS cos
  FROM assigned a JOIN probes p USING (cell)
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= {ANN_K}
ORDER BY query_id, rank
"""


def _lang_scores_duck() -> str:
    cols = []
    for lang, words in STOPWORDS.items():
        cols.append(f"{X.stopword_count_duck('tokens', words)} AS s_{lang}")
    cols.append(f"{X.cjk_count_duck('text')} AS s_zh")
    return ", ".join(cols)


ORACLES["lang_id"] = f"""
WITH scored AS (
  SELECT lang, {_lang_scores_duck()}
  FROM (SELECT lang, text, {X.tokens_duck('text')} AS tokens FROM documents)
),
pred AS (
  SELECT lang,
    CASE WHEN s_zh > 0 THEN 'zh'
         WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END AS pred_lang
  FROM scored
)
SELECT lang, pred_lang, count(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["quality_score"] = f"""
WITH d AS (
  SELECT
    doc_id,
    len(tokens) AS n_tok,
    length(text) AS n_ch,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_cnt,
    length(regexp_replace(lower(text), '\\s', '', 'g')) AS word_chars,
    {X.stopword_count_duck('tokens', STOPWORDS['en'])} AS stop_cnt
  FROM (SELECT doc_id, text, {X.tokens_duck('text')} AS tokens FROM documents)
)
-- Each value rounds half-away-from-zero in exact integer space over
-- its rational's own denominator (mirror of the Spark side's `rnd`;
-- round(double, 4) diverged between engines near .00005 boundaries).
SELECT doc_id, n_tok,
  CASE WHEN n_tok = 0 THEN 0.0 ELSE
    ((20000 * stop_cnt + n_tok) // (2 * n_tok)) / 10000.0 END AS stop_ratio,
  CASE WHEN n_ch = 0 THEN 0.0 ELSE
    ((20000 * punct_cnt + n_ch) // (2 * n_ch)) / 10000.0 END AS punct_ratio,
  CASE WHEN n_tok = 0 THEN 0.0 ELSE
    ((20000 * word_chars + n_tok) // (2 * n_tok)) / 10000.0 END
    AS mean_word_len,
  CASE WHEN 100 * n_tok * n_ch = 0 THEN 0.0 ELSE
    ((20000 * (2 * stop_cnt * 100 * n_ch - 3 * punct_cnt * 100 * n_tok
               + least(n_tok, 100) * n_tok * n_ch
               - 10 * abs(word_chars - 5 * n_tok) * n_ch)
      + (CASE WHEN (2 * stop_cnt * 100 * n_ch - 3 * punct_cnt * 100 * n_tok
                    + least(n_tok, 100) * n_tok * n_ch
                    - 10 * abs(word_chars - 5 * n_tok) * n_ch) >= 0
              THEN 100 * n_tok * n_ch ELSE -(100 * n_tok * n_ch) END))
     // (2 * 100 * n_tok * n_ch)) / 10000.0 END AS score
FROM d
"""

ORACLES["token_count"] = f"""
WITH d AS (
  SELECT source, len(tokens) AS n_tok, len(list_distinct(tokens)) AS n_distinct
  FROM (SELECT source, {X.tokens_duck('text')} AS tokens FROM documents)
)
SELECT source, count(*) AS n_docs, cast(sum(n_tok) AS BIGINT) AS total_tokens,
       round(sum(CAST(n_tok AS DECIMAL(27,6)))::DOUBLE / count(n_tok), 4) AS avg_tokens,
       cast(sum(n_distinct) AS BIGINT) AS total_distinct
FROM d GROUP BY source ORDER BY source
"""

ORACLES["streaming_hourly_stats"] = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
  event_type,
  count(*) AS n,
  round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM events
GROUP BY 1, 2
"""

ORACLES["multimodal_decode"] = """
WITH m AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS fp,
         16 + cast('0x' || substring(md5(text), 1, 4) AS int) % 2048 AS width,
         16 + cast('0x' || substring(md5(text), 5, 4) AS int) % 2048 AS height
  FROM documents
),
r AS (
  SELECT *, least(1.0, 256.0 / greatest(width, height)) AS scale FROM m
)
SELECT doc_id, n_bytes, width, height,
       greatest(cast(floor(width * scale) AS int), 1)  AS out_width,
       greatest(cast(floor(height * scale) AS int), 1) AS out_height,
       fp AS fingerprint
FROM r
"""

ORACLES["q5_local_supplier"] = """
SELECT
  n_name,
  round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


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
ORACLES["streaming_sessions"] = _SESSIONIZE_SQL


ORACLES["multimodal_frames"] = """
WITH m AS (
  SELECT doc_id, md5(text) AS base,
         8 + cast('0x' || substring(md5(text), 1, 2) AS INT) % 56 AS n_frames
  FROM documents
)
SELECT doc_id, n_frames,
       cast(floor(j * (n_frames - 1) / 3.0) AS INT) AS frame_idx,
       md5(base || ':' || cast(floor(j * (n_frames - 1) / 3.0) AS INT)) AS frame_fp
FROM m CROSS JOIN generate_series(0, 3) AS t(j)
ORDER BY doc_id, frame_idx
"""

ORACLES["multimodal_audio"] = """
SELECT doc_id,
       round(1 + (2 * cast('0x' || substring(md5(text), 1, 4) AS BIGINT) + 1)
             / 131.072, 3) AS duration_s,
       round((2 * cast('0x' || substring(md5(text), 5, 4) AS BIGINT) + 1)
             / 131072.0, 6) AS rms,
       round((2 * cast('0x' || substring(md5(text), 9, 4) AS BIGINT) + 1)
             / 131072.0, 6) AS peak
FROM documents
ORDER BY doc_id
"""


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


_WINNOW_CTE = f"""
pos AS (
  SELECT doc_id, norm, unnest(generate_series(0, length(norm) - 5)) AS i
  FROM (
    SELECT doc_id, {X.normtext_duck('text')} AS norm FROM documents
  )
  WHERE length(norm) >= 12
),
hashes AS (
  SELECT doc_id, i, {X.hash64_duck("substring(norm, i + 1, 5)")} AS h
  FROM pos
),
wins AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win_min,
         max(i) OVER (PARTITION BY doc_id) AS max_i
  FROM hashes
),
fps AS (
  SELECT DISTINCT doc_id, win_min AS fingerprint
  FROM wins
  WHERE i <= max_i - 7
)
"""

ORACLES["winnow_fingerprints"] = f"""
WITH {_WINNOW_CTE}
SELECT doc_id, fingerprint FROM fps
ORDER BY doc_id, fingerprint
"""

ORACLES["cross_source_overlap"] = f"""
WITH {_WINNOW_CTE},
fsrc AS (
  SELECT DISTINCT d.source, f.fingerprint
  FROM fps f JOIN documents d USING (doc_id)
)
SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_fps
FROM fsrc a JOIN fsrc b
  ON a.fingerprint = b.fingerprint AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""

ORACLES["zonal_stats"] = """
WITH pix AS (
  SELECT (cast(id // 360 AS INT) - 80 + 0.5) AS lat,
         (cast(id % 360 AS INT) - 180 + 0.5) AS lon,
         (cast(id // 360 AS INT) * 7 + cast(id % 360 AS INT) * 13) % 100 AS pixval
  FROM (SELECT unnest(range(57600)) AS id)
), boxes AS (
  SELECT n_name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
)
SELECT n_name,
       count(*) AS n_cells,
       cast(sum(pixval) AS BIGINT) AS total,
       round(sum(CAST(pixval AS DECIMAL(27,6)))::DOUBLE / count(pixval), 4) AS mean_val,
       max(pixval) AS max_val
FROM pix JOIN boxes
  ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
GROUP BY n_name
ORDER BY n_name
"""


ORACLES["nearest_site"] = f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 160) - 80 + 0.5 AS lat,
         (c_custkey * 104729 % 360) - 180 + 0.5 AS lon
  FROM customer
), sites AS (
  SELECT n_name,
         cast((n_nationkey * 13 % 140) - 70 AS DOUBLE) AS slat,
         cast((n_nationkey * 29 % 340) - 170 AS DOUBLE) AS slon
  FROM nation
), scored AS (
  SELECT c_custkey, n_name,
         round({haversine_km_sql('lat', 'lon', 'slat', 'slon')}, 6) AS dist
  FROM pts CROSS JOIN sites
), best AS (
  SELECT c_custkey, n_name, dist
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY c_custkey
                             ORDER BY dist ASC, n_name ASC) = 1
)
SELECT n_name, count(*) AS n_assigned, round(sum(CAST(dist AS DECIMAL(27,6)))::DOUBLE / count(dist), 4) AS avg_dist_km
FROM best
GROUP BY n_name
ORDER BY n_name
"""


ORACLES["grid_downsample"] = """
WITH pix AS (
  SELECT cast(id // 360 AS INT) AS latidx,
         cast(id % 360 AS INT) AS lonidx,
         (cast(id // 360 AS INT) * 7 + cast(id % 360 AS INT) * 13) % 100 AS pixval
  FROM (SELECT unnest(range(57600)) AS id)
)
SELECT cast(latidx // 4 AS INT) AS block_lat,
       cast(lonidx // 4 AS INT) AS block_lon,
       count(*) AS n_cells,
       round(sum(CAST(pixval AS DECIMAL(27,6)))::DOUBLE / count(pixval), 4) AS mean_val
FROM pix
GROUP BY 1, 2
ORDER BY 1, 2
"""


ORACLES["incremental_new_docs"] = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                 '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint
FROM fp
WHERE doc_id % 3 <> 0
  AND NOT EXISTS (SELECT 1 FROM fp s
                  WHERE s.doc_id % 3 = 0 AND s.fingerprint = fp.fingerprint)
ORDER BY doc_id
"""

ORACLES["quality_topk_per_source"] = f"""
WITH d AS (
  SELECT
    doc_id, source,
    len(tokens) AS n_tok,
    length(text) AS n_ch,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_cnt,
    length(regexp_replace(lower(text), '\\s', '', 'g')) AS word_chars,
    {X.stopword_count_duck('tokens', STOPWORDS['en'])} AS stop_cnt
  FROM (SELECT doc_id, source, text, {X.tokens_duck('text')} AS tokens FROM documents)
),
scored AS (
  SELECT doc_id, source,
    round(2.0 * (CASE WHEN n_tok = 0 THEN 0 ELSE stop_cnt / n_tok END)
          - 3.0 * (CASE WHEN n_ch = 0 THEN 0 ELSE punct_cnt / n_ch END)
          + least(n_tok, 100) / 100.0
          - abs((CASE WHEN n_tok = 0 THEN 0 ELSE word_chars / n_tok END) - 5.0) / 10.0,
          4) AS score
  FROM d
),
ranked AS (
  SELECT source, doc_id, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
SELECT source, rnk, doc_id, score
FROM ranked WHERE rnk <= 10
ORDER BY source, rnk
"""

ORACLES["deterministic_sample"] = f"""
SELECT doc_id, source,
       5 + (cast(substring(source, 4) AS INT) % 4) * 15 AS rate
FROM documents
WHERE {X.hash64_duck("cast(doc_id AS VARCHAR)")} % 100
      < 5 + (cast(substring(source, 4) AS INT) % 4) * 15
ORDER BY doc_id
"""


ORACLES["json_props_stats"] = """
SELECT cast(floor(cast(json_extract(props, '$.k') AS INT) / 10.0) AS INT) AS k_bucket,
       count(*) AS n,
       round(sum(CAST(value AS DECIMAL(27,6)))::DOUBLE / count(value), 4) AS avg_value,
       max(cast(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY 1
ORDER BY 1
"""


ORACLES["latest_snapshot"] = """
SELECT user_id, event_type, event_id AS last_event_id,
       round(value, 2) AS last_value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type
"""


ORACLES["label_centroids"] = """
SELECT label, i AS dim, round(sum(CAST(embedding[i + 1] AS DECIMAL(27,6)))::DOUBLE / count(embedding[i + 1]), 5) AS centroid
FROM embeddings, (SELECT unnest(range(64)) AS i) dims
GROUP BY label, i
ORDER BY label, dim
"""


ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE {_MINHASH_BANDS_CTE},
pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc < b.doc
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(lbl) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


ORACLES["rollup_sales"] = """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(cast(year(o_orderdate) AS INT), -1) AS o_year,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, year(o_orderdate))
ORDER BY 1, 2
"""


ORACLES["cube_sales"] = """
SELECT coalesce(c_mktsegment, 'ALL') AS segment,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
ORDER BY 1, 2
"""


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


ORACLES["point_in_region"] = """
WITH pts AS (
  SELECT c_custkey, c_acctbal,
         (c_custkey * 7919 % 160) - 80 + 0.5 AS lat,
         (c_custkey * 104729 % 360) - 180 + 0.5 AS lon
  FROM customer
), boxes AS (
  SELECT n_name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
)
SELECT n_name,
       count(*) AS n_points,
       -- dec_avg_exact mirror: half-away-from-zero in exact integers,
       -- no double round (the sf0.001 half-ulp tie fix, round 9)
       ((CASE WHEN CAST(sum(CAST(c_acctbal AS DECIMAL(27,6)) * 1000000)
                   AS HUGEINT) < 0 THEN -1 ELSE 1 END)
        * ((2 * abs(CAST(sum(CAST(c_acctbal AS DECIMAL(27,6)) * 1000000)
                         AS HUGEINT)) + 100 * count(c_acctbal))
           // (200 * count(c_acctbal))))::DOUBLE / 10000.0 AS avg_bal
FROM pts JOIN boxes
  ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
GROUP BY n_name
ORDER BY n_name
"""


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

ORACLES["region_overlap_disaggregate"] = """
WITH sub AS (
  SELECT n_name AS name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
),
country AS (
  SELECT r_regionkey AS rkey, r_name AS name,
         (r_regionkey * 13 % 8) * 20 - 80 AS lat_min,
         (r_regionkey * 13 % 8) * 20 - 80 + 60 AS lat_max,
         (r_regionkey * 17 % 10) * 36 - 180 AS lon_min,
         (r_regionkey * 17 % 10) * 36 - 180 + 108 AS lon_max
  FROM region
),
pieces AS (
  SELECT s.name || '_' || c.name AS piece,
         s.name AS subregion, c.name AS country, c.rkey,
         (least(s.lat_max, c.lat_max) - greatest(s.lat_min, c.lat_min)) *
         (least(s.lon_max, c.lon_max) - greatest(s.lon_min, c.lon_min)) AS area,
         CAST(round((least(s.lon_max, c.lon_max)
                     - greatest(s.lon_min, c.lon_min))
                    * (sin(radians(least(s.lat_max, c.lat_max)))
                       - sin(radians(greatest(s.lat_min, c.lat_min))))
                    * 1000000) AS BIGINT) AS area_ea
  FROM sub s JOIN country c
    ON s.lat_min < c.lat_max AND c.lat_min < s.lat_max
   AND s.lon_min < c.lon_max AND c.lon_min < s.lon_max
),
totals AS (
  SELECT n_regionkey AS rkey,
         sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE AS region_total
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1
),
shared AS (
  SELECT piece, subregion, country, area, area_ea, region_total,
         area_ea::DOUBLE / (sum(area_ea) OVER (PARTITION BY p.rkey))::DOUBLE
           AS share_raw
  FROM pieces p JOIN totals USING (rkey)
)
SELECT piece, subregion, country, area, area_ea,
       round(share_raw, 6) AS share,
       round(region_total * share_raw, 4) AS allocated
FROM shared
ORDER BY piece
"""

ORACLES["grid_upsample"] = """
WITH pix AS (
  SELECT (s.k // 90) AS i, (s.k % 90) AS j,
         ((s.k // 90) * 7 + (s.k % 90) * 13) % 100 AS val
  FROM generate_series(0, 3599) s(k)
)
SELECT i * 4 + a AS row_idx, j * 4 + b AS col_idx, val
FROM pix
CROSS JOIN generate_series(0, 3) t(a)
CROSS JOIN generate_series(0, 3) u(b)
ORDER BY row_idx, col_idx
"""


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

ORACLES["salted_skew_join"] = """
WITH fact AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM') THEN 0
              ELSE substring(o_orderpriority, 1, 1)::INT END AS hot_key
  FROM orders
),
dim AS (
  SELECT * FROM (VALUES (0, 'compressed'), (4, 'deferred'), (5, 'background'))
    d(hot_key, tier)
)
SELECT hot_key, tier, count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM fact JOIN dim USING (hot_key)
GROUP BY 1, 2 ORDER BY 1
"""

# Bloom pre-filter must not change the anti-join result.
ORACLES["incremental_new_docs_bloom"] = ORACLES["incremental_new_docs"]

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

ORACLES["scd2_snapshot"] = """
WITH runs AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
starts AS (
  SELECT user_id, event_type, ts, event_id FROM runs
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type,
       row_number() OVER w AS version,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f'),
                '9999-12-31 00:00:00.000000') AS valid_to
FROM starts
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""

ORACLES["tfidf_top_terms"] = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({tokens_duck('text')}) AS term FROM documents
),
tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
scored AS (
  SELECT source, term, tf, df,
         round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 4) AS tfidf
  FROM tf JOIN df USING (term)
)
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rnk,
       term, tf, df, tfidf
FROM scored
QUALIFY rnk <= 5
ORDER BY source, rnk
"""


ORACLES["region_mask_raster"] = """
WITH pop AS (
  SELECT n_regionkey, count(*) AS pop
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
boxes AS (
  SELECT r_regionkey, pop,
         (r_regionkey * 37) % 120 AS la0,
         (r_regionkey * 53) % 288 AS lo0
  FROM region JOIN pop ON r_regionkey = n_regionkey
),
cells AS (
  SELECT pop, la.latidx, lo.lonidx
  FROM boxes,
       unnest(generate_series(la0, la0 + 39)) la(latidx),
       unnest(generate_series(lo0, lo0 + 71)) lo(lonidx)
)
SELECT latidx, lonidx, count(*) AS n_regions,
       round(sum(CAST(pop / 2880.0::DOUBLE AS DECIMAL(27,6))), 6)::DOUBLE AS pop_alloc
FROM cells GROUP BY 1, 2 ORDER BY 1, 2
"""

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

ORACLES["token_entropy"] = f"""
WITH terms AS (
  SELECT source, unnest({tokens_duck('text')}) AS term FROM documents
),
tf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY 1, 2),
probs AS (
  SELECT source, tf / sum(tf) OVER (PARTITION BY source) AS p FROM tf
)
SELECT source, count(*) AS n_terms,
       round(-sum(CAST(p * ln(p) AS DECIMAL(18,12)))::DOUBLE, 4) AS entropy
FROM probs GROUP BY source ORDER BY source
"""

ORACLES["price_histogram"] = """
SELECT cast(floor(l_extendedprice / 5000.0::DOUBLE) AS INT) AS bucket,
       cast(floor(l_extendedprice / 5000.0::DOUBLE) AS INT) * 5000.0::DOUBLE AS lo,
       count(*) AS n,
       round(sum(CAST(l_extendedprice AS DECIMAL(27,6))), 2)::DOUBLE AS sum_price
FROM lineitem
GROUP BY 1 ORDER BY 1
"""

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


# Curation funnel: quality gate -> exact dedup -> minhash-cluster dedup.
# The quality CTE mirrors ORACLES["quality_score"]'s expressions
# verbatim (bit-identical rational arithmetic); the gate compares the
# RAW score — rounding first could hit exact-.5 dyadic ties where the
# engines' rounding modes differ. All outputs are integer counts.
# Parameterized over the docs relation so the round-9 pipeline oracle
# (corpus_pipeline_manifest) can run the IDENTICAL funnel over the
# WARC-remapped document ids; `documents` here reproduces the original
# corpus_curation CTE chain verbatim (perdoc additionally exposes
# doc_id for the pipeline oracle's id checksum).


def curation_funnel_ctes(docs_rel: str) -> str:
    """The full curation-funnel CTE chain (quality gate → exact dedup →
    minhash-cluster dedup) ending at ``perdoc``; callers append their
    own final SELECT."""
    return f"""WITH RECURSIVE qd AS (
  SELECT
    doc_id, source, text,
    len(tokens) AS n_tok,
    length(text) AS n_ch,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_cnt,
    length(regexp_replace(lower(text), '\\s', '', 'g')) AS word_chars,
    {X.stopword_count_duck('tokens', STOPWORDS['en'])} AS stop_cnt
  FROM (SELECT doc_id, source, text, {X.tokens_duck('text')} AS tokens FROM {docs_rel})
),
ratios AS (
  SELECT doc_id, source, text, n_tok,
    CASE WHEN n_tok = 0 THEN 0 ELSE stop_cnt / n_tok END AS stop_ratio,
    CASE WHEN n_ch = 0 THEN 0 ELSE punct_cnt / n_ch END AS punct_ratio,
    CASE WHEN n_tok = 0 THEN 0 ELSE word_chars / n_tok END AS mean_wl
  FROM qd
),
flagged AS (
  SELECT doc_id, source, text, n_tok,
    (2.0 * stop_ratio - 3.0 * punct_ratio + least(n_tok, 100) / 100.0
     - abs(mean_wl - 5.0) / 10.0) > 0.35::DOUBLE AS passq,
    md5(text) AS h
  FROM ratios
),
flag2 AS (
  SELECT *,
    passq AND doc_id = min(CASE WHEN passq THEN doc_id END)
                         OVER (PARTITION BY h) AS keptx
  FROM flagged
),
kept2 AS (SELECT doc_id, text FROM flag2 WHERE keptx),
{_minhash_bands_cte('kept2')},
pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc < b.doc
),
cedges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT a, a FROM cedges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN cedges e ON e.a = r.node
),
clusters AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
perdoc AS (
  SELECT f.doc_id, f.source, f.passq, f.keptx, f.n_tok,
         f.keptx AND (c.component IS NULL OR f.doc_id = c.component) AS keptn
  FROM flag2 f LEFT JOIN clusters c ON f.doc_id = c.node
)"""


ORACLES["corpus_curation"] = f"""
{curation_funnel_ctes('documents')}
SELECT source,
  count(*) AS n_raw,
  count(CASE WHEN passq THEN 1 END) AS n_quality,
  count(CASE WHEN keptx THEN 1 END) AS n_exact,
  count(CASE WHEN keptn THEN 1 END) AS n_final,
  cast(coalesce(sum(CASE WHEN keptn THEN n_tok END), 0) AS BIGINT) AS tokens_final
FROM perdoc GROUP BY source ORDER BY source
"""


def _pr_round(prev: str, nxt: str) -> str:
    """One unrolled synchronous PageRank round (mirror of
    operators/graph.py: decimal contribution sum, double update).
    Float literals are ::DOUBLE so DuckDB does not read them as
    DECIMAL; `base` is injected as the exact repr of the Python double
    Spark uses, so both engines start from identical bits."""
    base = repr((1.0 - 0.85) / 25.0)
    return f"""{nxt} AS (
  SELECT n.node,
         {base}::DOUBLE + 0.85::DOUBLE * coalesce(s.csum, 0)::DOUBLE AS rank
  FROM pr_nodes n LEFT JOIN (
    SELECT d.dst AS node,
           sum(CAST(r.rank / g.outdeg AS DECIMAL(18,12))) AS csum
    FROM pr_dir d
    JOIN {prev} r ON d.src = r.node
    JOIN pr_deg g ON d.src = g.src
    GROUP BY 1
  ) s ON n.node = s.node
)"""


_PR_ROUNDS = ",\n".join(_pr_round(f"pr_r{i}", f"pr_r{i + 1}") for i in range(3))

# 25 nations all trade cross-nation, so the symmetric graph has all 25
# nodes and 1/N = 1/25 (asserted by the Spark side's nodes.count()).
ORACLES["pagerank_nations"] = f"""
WITH {_EDGE_AGG_CTE},
pr_dir AS MATERIALIZED (
  SELECT edge_a AS src, edge_b AS dst FROM edges
  UNION ALL
  SELECT edge_b AS src, edge_a AS dst FROM edges
),
pr_deg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM pr_dir GROUP BY 1
),
pr_nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM pr_dir),
pr_r0 AS (SELECT node, {repr(1.0 / 25.0)}::DOUBLE AS rank FROM pr_nodes),
{_PR_ROUNDS}
SELECT node AS nationkey, round(rank, 8) AS rank
FROM pr_r3 ORDER BY nationkey
"""

# Same semantics as point_in_region — the grid variant must produce the
# identical result through the cell-bucketed candidate join.
ORACLES["point_in_region_grid"] = ORACLES["point_in_region"]
