"""What the plan modules share: the catalog loader every plan reads
through, and the derivations that more than one domain module builds
on. This module registers no catalog key.

Every other module under ``plans/`` owns the keys of one domain: the
plan functions in its ``QUERIES`` and the DuckDB oracle SQL in its
``ORACLES`` (merged by :mod:`pyprima_spark.plans.queries`). A plan
module imports only from this module and :mod:`~.constants`, never
from a sibling; a helper that a second domain needs moves here.

Each plan function takes ``(spark, sf_dir)`` and returns a DataFrame
whose column names match its oracle exactly — the correctness check
sorts columns by name and hashes values. Determinism rules follow
functions/agg.py: integer arithmetic wherever possible, DECIMAL sums
for doubles, single correctly-rounded double divisions, and rounding
only at the output edge, identically on both sides.

All plans are declarative DataFrame compositions — Catalyst handles
pushdown/pruning/join strategy; dimension tables are broadcast
explicitly where the optimizer cannot know they stay small at 100 TB
fact scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyprima_spark.catalog import load_table
from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import dec_sum
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.components import connected_components
from pyprima_spark.operators.dedup import minhash_candidate_pairs
from pyprima_spark.operators.edges import canonicalize_edges
from pyprima_spark.plans.constants import MINHASH_BANDS, STOPWORDS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog table ``name`` under ``sf_dir``; every plan module loads
    its inputs through this one function."""
    return load_table(spark, sf_dir, name)


def _trade_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ supplier: every line item with its
    order, customer and supplier — the fact join behind the nation
    trade graph."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
    )


def _edge_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected nation-pair aggregate of lineitem revenue.

    Shared by canonical_edges / neighbor_expansion / transmission_attrs —
    the analogue of the cleaned+grouped GridKit line table.
    """

    pairs = (
        _trade_lines(spark, sf_dir)
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
