"""Round-5 operators (59 keys, SURVEY §2 #115–172 + streaming 39b).

Families:
- CDC / warehouse: snapshot_diff, incremental_agg_maintenance,
  scd2_temporal_lookup (as-of rewrite proof), time_rollup_grouping_sets,
  nested_order_items, equidepth_histogram, order_aging.
- Sampling / splits: stratified_sample, holdout_contamination,
  training_manifest (capstone composition).
- Temporal joins: asof_tolerance_join, nearest_event_join,
  interval_union_coverage, peak_concurrency, late_data_census,
  debounce_dedup, rate_limit_flags (+ streaming_rate_limit online form).
- Drift / stats: drift_tv_distance, ks_drift, cusum_changepoint,
  streaming_hourly_drift, ab_test_chi2, weighted_median,
  winsorized_mean, approx_quantile_bands, kmv_distinct_sketch.
- Training-data text/embedding: sequence_packing, vocab_coverage,
  bpe_token_count, bigram_lm_score, boilerplate_position,
  mixed_language_flags, centroid_outliers, hard_negative_mining,
  cluster_representatives, ppjoin_similarity (exact prefix-filtered),
  ann_recall_eval, lsh_precision_eval.
- Graph / CF: trade_reachability (native WITH RECURSIVE),
  graph_modularity, copurchase_similarity, market_basket_pairs.
- Audits / layout: fk_orphan_audit, pk_uniqueness_audit,
  price_reconciliation, contract_violations, partition_pruning_stats,
  key_gini, join_cardinality_estimate, salted_aggregation.
- Business analytics: session_paths, funnel_with_timeout, cohort_ltv,
  rfm_segments, attribution_models, bounce_rate, pareto_revenue,
  props_variant_stats (Spark 4 VARIANT).

Each query has an exact-match DuckDB oracle in ``ORACLES``.
Determinism rules follow functions/agg.py: integer arithmetic wherever
possible, DECIMAL sums for doubles, single correctly-rounded double
divisions, rounding only at the output edge — and, after this round's
sf0.1 boundary finds, half-away-from-zero rounding in exact integer
space wherever a reported value is a rational of integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.catalog import widen_scan
from pyprima_spark.functions import text as X, vectors as V
from pyprima_spark.functions.agg import DEC, dec_avg
from pyprima_spark.operators.asof import asof_join as _asof
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.components import connected_components
from pyprima_spark.operators.dedup import minhash_candidate_pairs
from pyprima_spark.operators.exactmath import (
    bounded_collect,
    min_label_components,
    tdiv as _tdiv,
)
from pyprima_spark.operators.scd import scd2_from_log
from pyprima_spark.operators.similarity import (
    ann_lsh as op_lsh,
    ann_topk as op_exact,
    cosine_prenorm_col,
    with_lsh_bucket,
    with_vec_norm,
)
from pyprima_spark.plans.constants import ANN_K, ANN_N_QUERIES, STOPWORDS
from pyprima_spark.plans.core import (
    _edge_aggregate,
    _MINHASH_BANDS_CTE,
    _minhash_bands_cte,
    _quality_frame,
    _t,
    curation_flags,
    ORACLES as _CORE_ORACLES,
)
from pyprima_spark.streaming.events import stream_events
from pyprima_spark.streaming.quota import run_quota_stream


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# snapshot_diff — CDC-style keyed diff between two table snapshots
# ---------------------------------------------------------------------------

def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff of two table snapshots — the change-data-capture
    census every incremental pipeline runs before a merge (the
    reference re-derives whole intermediate files per run,
    e.g. generate_intermediate_files in initialization.py; a diff
    census is how a distributed engine decides what actually changed).

    Snapshot A = orders booked before 1997-07-01; snapshot B = orders
    before 1998-01-01 with a simulated price correction on keys
    divisible by 97.  One full-outer sort-merge join on the key
    classifies every row as added / removed / changed / unchanged and
    totals the price drift per class.

    Scale shape: a single shuffle of both snapshots on the primary key
    (Catalyst picks SMJ; with bucketed snapshot tables even that
    exchange disappears).  Column values are compared directly here;
    a wide production table would compare an md5 of the non-key columns
    computed in the scan projection — same plan, one column.
    """
    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1997-07-01").cast("date")).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price_a"),
        F.col("o_orderstatus").alias("status_a"),
    )
    new = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date")).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 97 == 0, F.lit(10.0)).otherwise(F.lit(0.0))
        ).alias("price_b"),
        F.col("o_orderstatus").alias("status_b"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("price_a").isNull(), F.lit("added"))
        .when(F.col("price_b").isNull(), F.lit("removed"))
        .when(
            (F.col("price_a") != F.col("price_b"))
            | (F.col("status_a") != F.col("status_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("price_b"), F.lit(0.0)) - F.coalesce(
        F.col("price_a"), F.lit(0.0)
    )
    return (
        j.select(change.alias("change_type"), delta.alias("delta"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("delta").cast(DEC)), 2)
            .cast("double")
            .alias("price_delta"),
        )
        .orderBy("change_type")
    )


QUERIES["snapshot_diff"] = snapshot_diff

ORACLES["snapshot_diff"] = """
WITH old AS (
  SELECT o_orderkey, o_totalprice AS price_a, o_orderstatus AS status_a
  FROM orders WHERE o_orderdate < DATE '1997-07-01'
),
new AS (
  SELECT o_orderkey,
         o_totalprice + CASE WHEN o_orderkey % 97 = 0 THEN 10.0 ELSE 0.0 END
           AS price_b,
         o_orderstatus AS status_b
  FROM orders WHERE o_orderdate < DATE '1998-01-01'
)
SELECT CASE WHEN price_a IS NULL THEN 'added'
            WHEN price_b IS NULL THEN 'removed'
            WHEN price_a <> price_b OR status_a <> status_b THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       count(*) AS n_rows,
       round(sum(CAST(coalesce(price_b, 0.0) - coalesce(price_a, 0.0)
                      AS DECIMAL(27,6))), 2)::DOUBLE AS price_delta
FROM old FULL OUTER JOIN new USING (o_orderkey)
GROUP BY 1
ORDER BY change_type
"""


# ---------------------------------------------------------------------------
# stratified_sample — fixed-size-per-stratum deterministic sampling
# ---------------------------------------------------------------------------

_STRAT_TARGET = 40  # docs per source stratum


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional-rate stratified sampling census: target a fixed
    ~40 docs per ``source`` stratum, derive each stratum's keep-rate in
    basis points from its population, and gate rows on an id-hash —
    the reproducible equivalent of ``df.sampleBy`` (whose rates a user
    must precompute the same way, and whose RNG is partition-order
    dependent).

    Two passes over the corpus: a dim-sized count aggregation
    (broadcast back — never a shuffle of the fact table) and the gated
    scan itself.  At 100 TB the counts come from table statistics or a
    first pass that is a map-side partial count; the sample gate is a
    pure scan predicate with no shuffle at all.
    """
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    counts = counts.withColumn(
        "rate_bp",
        F.least(
            F.lit(10000),
            F.expr(f"cast(({_STRAT_TARGET} * 10000 + n_total - 1) div n_total as int)"),
        ),
    )
    gate = F.expr(X.hash64_spark("cast(doc_id as string)")) % 10000
    sampled = (
        docs.join(F.broadcast(counts), "source")
        .filter(gate < F.col("rate_bp"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        counts.join(sampled, "source", "left")
        .select(
            "source",
            "n_total",
            "rate_bp",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
        .orderBy("source")
    )


QUERIES["stratified_sample"] = stratified_sample

ORACLES["stratified_sample"] = f"""
WITH counts AS (
  SELECT source, count(*) AS n_total,
         least(10000, ({_STRAT_TARGET} * 10000 + count(*) - 1) // count(*))
           AS rate_bp
  FROM documents GROUP BY source
),
sampled AS (
  SELECT source, count(*) AS n_sampled
  FROM documents JOIN counts USING (source)
  WHERE {X.hash64_duck("cast(doc_id as varchar)")} % 10000 < rate_bp
  GROUP BY source
)
SELECT source, n_total, CAST(rate_bp AS INT) AS rate_bp,
       coalesce(n_sampled, 0) AS n_sampled
FROM counts LEFT JOIN sampled USING (source)
ORDER BY source
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
    ).orderBy("event_id")


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
# sequence_packing — greedy token-budget packing of docs into chunks
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per training sequence
# Docs per packing shard: bounds the applyInPandas group to at most this
# many (doc_id, n_tok) rows regardless of source size. 200 gives 3 shards
# per source at sf0.01 and 25 at sf0.1, so the shard-offset renumbering is
# exercised at every test scale; production would size it to executor RAM.
_PACK_SHARD_DOCS = 200


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing of documents into fixed-token-budget
    training sequences — the step between a curated corpus and a
    tokenized training shard: walk docs in id order, append while the
    running token total stays within the budget, start a new chunk
    otherwise (an over-budget doc gets a chunk of its own).

    The walk is inherently order-sequential (each chunk boundary
    depends on every prior length), so it runs as an Arrow
    ``applyInPandas`` — but the group key is (source, shard) with
    ``shard = doc_id div K``, NOT source alone: one pandas group holds
    at most K rows of (doc_id, n_tok), so the executor-side buffer is
    bounded by a constant the operator chooses, not by how big a
    source grows (VERDICT r4 flagged the source-keyed form as the
    repo's one 100 TB scale-killer).  Chunks never span a shard
    boundary — shards are independent packing units, which is exactly
    how production tokenizer shards work — and the global chunk_id is
    recovered afterwards without any sequential pass: each chunk is
    one census row, so ``row_number() - 1`` over (shard, local chunk)
    per source IS the cumulative chunk offset.  That window sorts only
    the chunk CENSUS (~docs·avg_tok/budget rows, three orders of
    magnitude smaller than the corpus), and the token-count scan stays
    JVM-side.  Census per (source, chunk): docs, tokens, fill ratio in
    basis points (integer arithmetic).
    """
    docs = _t(spark, sf_dir, "documents")
    with_tok = docs.select(
        "source",
        "doc_id",
        F.expr(f"doc_id div {_PACK_SHARD_DOCS}").alias("shard"),
        F.size(F.expr(X.tokens_spark("text"))).alias("n_tok"),
    )

    budget = _PACK_BUDGET

    def pack_partition(batches):
        # ONE Python invocation per shuffle partition instead of one
        # per (source, shard) group: groupBy().applyInPandas called the
        # UDF ~|sources|·|shards| times (500 calls of ≤200 rows at
        # sf0.1 — per-call overhead dominated the stage, guide §4.1);
        # here the hash-repartition below co-locates every group's rows
        # and the walk runs per group inside ONE pandas frame. Rows are
        # 4 narrow columns, so holding a shuffle partition in pandas is
        # the same memory shape applyInPandas already required per
        # group, bounded by the partition size.
        import pandas as pd

        frames = [b for b in batches]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True).sort_values(
            ["source", "shard", "doc_id"]
        )
        out = []
        for (source, shard), g in pdf.groupby(["source", "shard"], sort=False):
            chunk, acc, ndocs = 0, 0, 0
            for t in g["n_tok"]:
                t = int(t)
                if ndocs > 0 and acc + t > budget:
                    out.append((source, int(shard), chunk, ndocs, acc))
                    chunk, acc, ndocs = chunk + 1, 0, 0
                acc += t
                ndocs += 1
            out.append((source, int(shard), chunk, ndocs, acc))
        yield pd.DataFrame(
            out,
            columns=["source", "shard", "local_chunk", "n_docs", "total_tokens"],
        )

    packed = with_tok.repartition("source", "shard").mapInPandas(
        pack_partition,
        "source string, shard long, local_chunk int, "
        "n_docs long, total_tokens long",
    )
    renumber = Window.partitionBy("source").orderBy("shard", "local_chunk")
    return packed.select(
        "source",
        (F.row_number().over(renumber) - F.lit(1)).cast("int").alias("chunk_id"),
        "n_docs",
        "total_tokens",
        F.expr(f"cast(total_tokens * 10000 div {budget} as int)").alias("fill_bp"),
    ).orderBy("source", "chunk_id")


QUERIES["sequence_packing"] = sequence_packing

ORACLES["sequence_packing"] = f"""
WITH RECURSIVE d AS (
  SELECT source, doc_id // {_PACK_SHARD_DOCS} AS shard,
         row_number() OVER (
           PARTITION BY source, doc_id // {_PACK_SHARD_DOCS}
           ORDER BY doc_id) AS rn,
         len({X.tokens_duck('text')}) AS t
  FROM documents
),
walk AS (
  SELECT source, shard, rn, t, 0 AS local_chunk, t AS acc
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.shard, d.rn, d.t,
         CASE WHEN w.acc + d.t > {_PACK_BUDGET}
              THEN w.local_chunk + 1 ELSE w.local_chunk END,
         CASE WHEN w.acc + d.t > {_PACK_BUDGET}
              THEN d.t ELSE w.acc + d.t END
  FROM walk w
  JOIN d ON d.source = w.source AND d.shard = w.shard AND d.rn = w.rn + 1
),
census AS (
  SELECT source, shard, local_chunk,
         count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS total_tokens
  FROM walk GROUP BY source, shard, local_chunk
)
SELECT source,
       CAST(row_number() OVER (
         PARTITION BY source ORDER BY shard, local_chunk) - 1 AS INT)
         AS chunk_id,
       n_docs, total_tokens,
       CAST(total_tokens * 10000 // {_PACK_BUDGET} AS INT) AS fill_bp
FROM census
ORDER BY source, chunk_id
"""


# ---------------------------------------------------------------------------
# vocab_coverage — top-N vocabulary token-coverage curve
# ---------------------------------------------------------------------------

_VOCAB_NS = (10, 100, 1000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus tokens do
    the top-N most frequent words cover?  The tokenizer-budget question
    every BPE/WordPiece training run starts with.

    The heavy stage — token explode + per-word count — is a single
    map-combined aggregation on the word key.  Ranking then runs over
    the AGGREGATED vocabulary (sublinear in corpus size; Heaps' law),
    so the unpartitioned row_number window is over a dim-sized table,
    never the corpus.  Coverage fractions are integer basis points.
    """
    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.expr(X.tokens_spark("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = freq.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("word"))),
    )
    covered = [
        F.sum(F.when(F.col("rank") <= n, F.col("freq")).otherwise(F.lit(0))).alias(
            f"c_{n}"
        )
        for n in _VOCAB_NS
    ]
    wide = ranked.agg(
        F.sum("freq").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        *covered,
    )
    stack = ", ".join(f"{n}, c_{n}" for n in _VOCAB_NS)
    return (
        wide.select(
            F.expr(f"stack({len(_VOCAB_NS)}, {stack}) AS (top_n, covered_tokens)"),
            "total_tokens",
            "vocab_size",
        )
        .select(
            "top_n",
            "covered_tokens",
            "total_tokens",
            "vocab_size",
            F.expr("cast(covered_tokens * 10000 div total_tokens as int)").alias(
                "covered_bp"
            ),
        )
        .orderBy("top_n")
    )


QUERIES["vocab_coverage"] = vocab_coverage

_VOCAB_SELECTS = "\nUNION ALL\n".join(
    f"SELECT {n} AS top_n,"
    f" CAST(sum(CASE WHEN rank <= {n} THEN freq ELSE 0 END) AS BIGINT)"
    f" AS covered_tokens,"
    f" CAST(sum(freq) AS BIGINT) AS total_tokens,"
    f" count(*) AS vocab_size,"
    f" CAST(sum(CASE WHEN rank <= {n} THEN freq ELSE 0 END) * 10000"
    f" // sum(freq) AS INT) AS covered_bp"
    f" FROM ranked"
    for n in _VOCAB_NS
)

ORACLES["vocab_coverage"] = f"""
WITH words AS (
  SELECT unnest({X.tokens_duck('text')}) AS word FROM documents
),
freqs AS (
  SELECT word, count(*) AS freq FROM words GROUP BY word
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, word ASC) AS rank
  FROM freqs
)
{_VOCAB_SELECTS}
ORDER BY top_n
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
    return ranked.filter(F.col("rank") <= _PATHS_TOPK).orderBy("rank")


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
# centroid_outliers — per-label embedding outlier screen
# ---------------------------------------------------------------------------

_OUTLIER_K = 5


def centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen: the 5 vectors per label with the LOWEST
    cosine to their own label centroid — the embedding-space sanity
    check a labeled training set goes through before a fine-tune
    (mislabeled or off-distribution rows surface at the bottom).

    The centroid pass is the ``label_centroids`` aggregation
    (posexplode + (label, dim) partial sums — never whole vectors
    through the shuffle); the dim-sized centroid table is re-assembled
    into arrays and BROADCAST, so scoring is a map-side zip_with over
    one scan of the vector table, and the per-label bottom-k compiles
    to WindowGroupLimit (partial top-k before the single shuffle).
    """

    emb = _t(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(dec_avg("v", 5).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("s"))
        .select("label", F.expr("transform(s, x -> x.c)").alias("cvec"))
    )
    dot = V.dot_spark("vec", "cvec")
    scored = (
        with_vec_norm(emb)
        .join(F.broadcast(cent), "label")
        .withColumn("cn", F.expr(V.norm_spark("cvec")))
        .withColumn(
            "cos",
            F.round(
                F.expr(
                    f"CASE WHEN nrm = 0D OR cn = 0D THEN 0D"
                    f" ELSE {dot} / (nrm * cn) END"
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _OUTLIER_K)
        .select("label", "vec_id", "cos", "rank")
        .orderBy("label", "rank")
    )


QUERIES["centroid_outliers"] = centroid_outliers


def _centroid_outliers_oracle() -> str:
    return f"""
WITH cent AS (
  SELECT label, i AS dim,
         round(sum(CAST(embedding[i + 1] AS DECIMAL(27,6)))::DOUBLE
               / count(embedding[i + 1]), 5) AS c
  FROM embeddings, (SELECT unnest(range({V.EMB_DIM})) AS i) dims
  GROUP BY label, i
),
carr AS (
  SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
         round({V.cosine_duck('vec', 'cvec', V.EMB_DIM)}, 4) AS cos
  FROM (SELECT label, vec_id, {V.to_double_duck('embedding')} AS vec
        FROM embeddings) e
  JOIN carr USING (label)
)
SELECT label, vec_id, cos, rank FROM (
  SELECT label, vec_id, cos,
         row_number() OVER (PARTITION BY label
                            ORDER BY cos ASC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_OUTLIER_K}
ORDER BY label, rank
"""


ORACLES["centroid_outliers"] = _centroid_outliers_oracle()


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
        .orderBy("event_type")
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
        .orderBy("event_type")
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
# market_basket_pairs — co-purchase association mining with lift
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 2
_BASKET_TOPK = 50


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs with support and lift — the
    association-rule primitive (market-basket analysis) over order
    baskets.

    The pair space is generated by a SELF-JOIN ON THE ORDER KEY, so
    fanout is bounded by basket size squared (TPC-H ~4 items/order),
    never |parts|² — the property that keeps this tractable at any
    order count.  Per-part order frequencies are a dim-sized aggregate
    broadcast into the pair table; lift is reported as integer basis
    points (support·N·10⁴ / (c_a·c_b), one integer division), so
    nothing float-hashable leaves the plan.  The final top-k ranks the
    support-filtered aggregate (dim-sized after the min-support cut).

    Exchange layout (optimization guide §2.4 — share one exchange):
    the distinct basket table is repartitioned by l_orderkey FIRST, so
    the (l_orderkey, l_partkey) dedup aggregate runs on that
    partitioning (a hash(l_orderkey) clustering co-locates every
    duplicate pair; Spark plans the dedup with NO second exchange),
    and the materialized result feeds all four consumers — n_orders,
    both part-frequency broadcasts, and BOTH sides of the basket
    self-join, which therefore joins with zero further exchanges.
    Before this, the scan+distinct subtree evaluated once per consumer
    (the per-side renames defeat exchange reuse) and the self-join
    re-shuffled both sides: measured 13 exchanges -> 6, 1.85 s ->
    re-measured after, same rows.
    """

    li = materialize(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates()
    )
    n_orders = li.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    part_counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    enriched = (
        pairs.join(
            F.broadcast(part_counts.select(F.col("l_partkey").alias("part_a"),
                                           F.col("c").alias("c_a"))),
            "part_a",
        )
        .join(
            F.broadcast(part_counts.select(F.col("l_partkey").alias("part_b"),
                                           F.col("c").alias("c_b"))),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    ranked = enriched.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        ),
    )
    return (
        ranked.filter(F.col("rank") <= _BASKET_TOPK)
        .select(
            "part_a",
            "part_b",
            "support",
            "c_a",
            "c_b",
            F.expr("cast(support * n_orders * 10000 div (c_a * c_b) as bigint)").alias(
                "lift_bp"
            ),
            "rank",
        )
        .orderBy("rank")
    )


QUERIES["market_basket_pairs"] = market_basket_pairs

ORACLES["market_basket_pairs"] = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
pc AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_SUPPORT}
),
ranked AS (
  SELECT part_a, part_b, support, ca.c AS c_a, cb.c AS c_b, n.n_orders,
         row_number() OVER (ORDER BY support DESC, part_a ASC, part_b ASC)
           AS rank
  FROM pairs
  JOIN pc ca ON ca.l_partkey = part_a
  JOIN pc cb ON cb.l_partkey = part_b
  CROSS JOIN n
)
SELECT part_a, part_b, support, c_a, c_b,
       CAST(support * n_orders * 10000 // (c_a * c_b) AS BIGINT) AS lift_bp,
       rank
FROM ranked
WHERE rank <= {_BASKET_TOPK}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# cluster_representatives — best-quality doc per near-dup cluster
# ---------------------------------------------------------------------------

def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election per MinHash near-dup cluster: keep
    the HIGHEST-QUALITY member (corpus_curation keeps the min-id root;
    real pipelines keep the best copy — longest, cleanest — and drop
    the rest).

    Cluster labels come from the hash-min connected components over
    LSH candidate pairs (operators/components.py — O(V) state,
    converges in O(diameter) rounds); quality is the row-local
    rational-arithmetic score shared with quality_score/corpus_curation
    (bit-identical across engines, so the argmax is deterministic).
    Members + election run in ONE window pass per cluster partition
    (count + row_number share the shuffle).  Only real clusters
    (≥2 members) are reported.

    The oracle shares core's minhash band CTE.
    """

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    # Exact integer-rational quality score: the _quality_frame double
    # is a chain of divisions whose round(.., 4) can straddle a decimal
    # boundary differently per engine (found at sf0.1: 0.3763 vs
    # 0.3762). Over the common denominator D = 100·n_tok·n_ch the score
    # is NUM/D exactly; the election orders by the ONE correctly-
    # rounded division NUM/D (identical doubles both engines) and the
    # reported value rounds half-away-from-zero in integer space
    # ((2·10⁴·NUM ± D) div 2D — Spark `div` and DuckDB `//` both
    # truncate toward zero).
    scored = _quality_frame(docs).select(
        "doc_id",
        (
            2 * F.col("stop_cnt") * 100 * F.col("n_ch")
            - 3 * F.col("punct_cnt") * 100 * F.col("n_tok")
            + F.least("n_tok", F.lit(100)) * F.col("n_tok") * F.col("n_ch")
            - 10
            * F.abs(F.col("word_chars") - 5 * F.col("n_tok"))
            * F.col("n_ch")
        ).cast("bigint").alias("num"),
        (100 * F.col("n_tok") * F.col("n_ch")).cast("bigint").alias("den"),
    )
    members = comp.join(scored, "doc_id")
    wp = Window.partitionBy("cluster_id")
    wr = wp.orderBy(
        F.desc(F.col("num") / F.col("den")), F.asc("doc_id")
    )
    rounded = F.expr(
        "cast((20000 * num + IF(num >= 0, den, -den)) div (2 * den) as double)"
        " / 10000"
    )
    return (
        members.withColumn("n_members", F.count(F.lit(1)).over(wp))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            rounded.alias("rep_score"),
        )
        .orderBy("cluster_id")
    )


QUERIES["cluster_representatives"] = cluster_representatives

ORACLES["cluster_representatives"] = f"""
WITH RECURSIVE {_MINHASH_BANDS_CTE},
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
clusters AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
qd AS (
  SELECT
    doc_id,
    len(tokens) AS n_tok,
    length(text) AS n_ch,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_cnt,
    length(regexp_replace(lower(text), '\\s', '', 'g')) AS word_chars,
    {X.stopword_count_duck('tokens', STOPWORDS['en'])} AS stop_cnt
  FROM (SELECT doc_id, text, {X.tokens_duck('text')} AS tokens FROM documents)
),
scored AS (
  -- exact integer-rational score over D = 100*n_tok*n_ch (the double
  -- chain's round(..,4) straddles decimal boundaries differently per
  -- engine; one NUM/D division is bit-identical everywhere)
  SELECT doc_id,
    CAST(2 * stop_cnt * 100 * n_ch
         - 3 * punct_cnt * 100 * n_tok
         + least(n_tok, 100) * n_tok * n_ch
         - 10 * abs(word_chars - 5 * n_tok) * n_ch AS BIGINT) AS num,
    CAST(100 * n_tok * n_ch AS BIGINT) AS den
  FROM qd
),
members AS (
  SELECT c.cluster_id, c.node AS doc_id, s.num, s.den,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY s.num / s.den DESC, c.node ASC) AS rn
  FROM clusters c JOIN scored s ON s.doc_id = c.node
)
SELECT cluster_id, doc_id AS rep_doc_id, n_members,
       ((20000 * num + CASE WHEN num >= 0 THEN den ELSE -den END)
        // (2 * den)) / 10000.0 AS rep_score
FROM members WHERE rn = 1
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# bpe_token_count — BPE-style pretokenization census
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer, restricted to ASCII classes that Java
# (Spark) and RE2-ish (DuckDB) regex engines treat identically: letter
# runs, digit runs, non-alphanumeric-non-space runs.
_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"
# Spark SQL string literals process backslash escapes ('\s' -> 's'),
# DuckDB's standard-conforming literals do not — so the Spark side
# needs the backslash doubled to reach the regex engine intact.
_BPE_PATTERN_SPARK = _BPE_PATTERN.replace("\\", "\\\\")


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretokenization census with a BPE-style regex (letter runs /
    digit runs / symbol runs — the split every BPE/WordPiece trainer
    applies before merges), per source: piece totals, distinct piece
    counts, and pieces-per-doc in basis points.

    ``regexp_extract_all`` runs row-local in the scan projection; the
    per-source totals are map-combined, and the distinct-piece count
    shuffles (source, piece) pairs — bounded by the vocabulary, not
    the corpus. The whitespace-tokenizer counterpart is
    ``token_count``; this is the tokenizer-accurate version of the
    same census (SURVEY §2 #126).
    """
    docs = _t(spark, sf_dir, "documents")
    pieces = docs.select(
        "source",
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '{_BPE_PATTERN_SPARK}', 0)").alias(
            "pieces"
        ),
    )
    per_doc = pieces.select("source", "doc_id", F.size("pieces").alias("n_pieces"))
    totals = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pieces").alias("total_pieces"),
    )
    distincts = (
        pieces.select("source", F.explode("pieces").alias("piece"))
        .groupBy("source")
        .agg(F.countDistinct("piece").alias("distinct_pieces"))
    )
    return (
        totals.join(distincts, "source")
        .select(
            "source",
            "n_docs",
            "total_pieces",
            "distinct_pieces",
            F.expr("cast(total_pieces * 10000 div n_docs as int)").alias(
                "pieces_per_doc_bp"
            ),
        )
        .orderBy("source")
    )


QUERIES["bpe_token_count"] = bpe_token_count

ORACLES["bpe_token_count"] = f"""
WITH pieces AS (
  SELECT source, doc_id,
         regexp_extract_all(lower(text), '{_BPE_PATTERN}') AS pieces
  FROM documents
),
totals AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(pieces)) AS BIGINT) AS total_pieces
  FROM pieces GROUP BY source
),
dst AS (
  SELECT source, count(DISTINCT piece) AS distinct_pieces
  FROM (SELECT source, unnest(pieces) AS piece FROM pieces)
  GROUP BY source
)
SELECT source, n_docs, total_pieces, distinct_pieces,
       CAST(total_pieces * 10000 // n_docs AS INT) AS pieces_per_doc_bp
FROM totals JOIN dst USING (source)
ORDER BY source
"""


# ---------------------------------------------------------------------------
# partition_pruning_stats — zone-map / file-skipping census
# ---------------------------------------------------------------------------

_PRUNE_THRESHOLD = 400.0


def partition_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map effectiveness census: per (event_type, day) partition,
    min/max of ``value``; then per event type, how many partitions a
    ``value >= 400`` predicate could SKIP outright (max < threshold)
    and how many rows that skips — the data-layout question behind
    every file-skipping / partition-pruning design at 100 TB (a scan
    that cannot prune reads everything no matter how good the engine).

    Two dim-sized aggregations over one scan: the (type, day) zone
    stats are map-combined partials; the rollup is over the partition
    census itself.  All integer outputs.
    """
    ev = _t(spark, sf_dir, "events")
    zones = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("value").alias("vmax"),
        )
    )
    prunable = F.col("vmax") < F.lit(_PRUNE_THRESHOLD)
    return (
        zones.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum(F.when(prunable, 1).otherwise(0)).alias("n_prunable"),
            F.sum(F.when(prunable, F.col("n_rows")).otherwise(0)).alias(
                "rows_skipped"
            ),
            F.sum("n_rows").alias("rows_total"),
        )
        .select(
            "event_type",
            "n_partitions",
            "n_prunable",
            "rows_skipped",
            "rows_total",
            F.expr("cast(n_prunable * 10000 div n_partitions as int)").alias(
                "prunable_bp"
            ),
        )
        .orderBy("event_type")
    )


QUERIES["partition_pruning_stats"] = partition_pruning_stats

ORACLES["partition_pruning_stats"] = f"""
WITH zones AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         count(*) AS n_rows, max(value) AS vmax
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_partitions,
       CAST(sum(CASE WHEN vmax < {_PRUNE_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_prunable,
       CAST(sum(CASE WHEN vmax < {_PRUNE_THRESHOLD} THEN n_rows ELSE 0 END)
            AS BIGINT) AS rows_skipped,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN vmax < {_PRUNE_THRESHOLD} THEN 1 ELSE 0 END) * 10000
            // count(*) AS INT) AS prunable_bp
FROM zones
GROUP BY event_type
ORDER BY event_type
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
        .orderBy("event_type")
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
        .orderBy("l_returnflag")
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
        .orderBy("event_type")
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
# join_cardinality_estimate — optimizer-statistics validation
# ---------------------------------------------------------------------------

def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistics check: estimate the
    orders⋈lineitem output size from per-key frequency histograms
    (Σ c₁(k)·c₂(k) — the exact formula a CBO evaluates from its
    column histograms) and compare against the true join count.

    Both inputs are map-combined per-key counts; the estimate is a
    dim-against-dim join of the two histograms — the actual fact-table
    join never runs, which is the entire point of estimating.  The
    'actual' column here runs it anyway (that is what makes the check
    a check); est_over_actual_bp is one integer division.  Per order
    priority so the histogram skew shows.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_hist = orders.groupBy("o_orderpriority", "o_orderkey").agg(
        F.count(F.lit(1)).alias("c_o")
    )
    l_hist = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c_l"))
    est = (
        o_hist.join(
            l_hist, o_hist["o_orderkey"] == l_hist["l_orderkey"]
        )
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("c_o") * F.col("c_l")).alias("estimated"))
    )
    actual = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    return (
        est.join(actual, "o_orderpriority")
        .select(
            "o_orderpriority",
            "estimated",
            "actual",
            F.expr("cast(estimated * 10000 div actual as int)").alias(
                "est_over_actual_bp"
            ),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["join_cardinality_estimate"] = join_cardinality_estimate

ORACLES["join_cardinality_estimate"] = """
WITH o_hist AS (
  SELECT o_orderpriority, o_orderkey, count(*) AS c_o
  FROM orders GROUP BY 1, 2
),
l_hist AS (
  SELECT l_orderkey, count(*) AS c_l FROM lineitem GROUP BY 1
),
est AS (
  SELECT o_orderpriority, CAST(sum(c_o * c_l) AS BIGINT) AS estimated
  FROM o_hist JOIN l_hist ON o_orderkey = l_orderkey
  GROUP BY 1
),
act AS (
  SELECT o_orderpriority, count(*) AS actual
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1
)
SELECT o_orderpriority, estimated, actual,
       CAST(estimated * 10000 // actual AS INT) AS est_over_actual_bp
FROM est JOIN act USING (o_orderpriority)
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# holdout_contamination — train/eval near-dup leakage check
# ---------------------------------------------------------------------------

def holdout_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination audit: how many held-out (val/test) documents
    have a MinHash near-duplicate in the TRAIN split?  The leakage
    check every benchmark-honest training pipeline runs — a test doc
    with a train near-dup inflates eval scores without the model
    generalizing.

    Splits are the deterministic ``sample_split`` id-hash gate
    (row-local, no shuffle); candidates are the same banded LSH
    self-join every dedup op here uses (bounded fanout, signature
    table materialized once).  Cross-split pairs are a post-filter on
    the candidate table; the census counts DISTINCT contaminated eval
    docs per source.  The oracle shares
    core's minhash band CTE.
    """

    docs = _t(spark, sf_dir, "documents")
    h = F.expr(X.hash64_spark("cast(doc_id as string) || ':split'")) % 100
    split = docs.select(
        "doc_id",
        "source",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split"),
    )
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    sa = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    sided = pairs.join(sa, "doc_a").join(sb, "doc_b")
    # ONE pass over the sided candidates: the former two-filter union
    # referenced `sided` twice, re-running the band self-join and both
    # split joins per branch (guide §2.4, duplicate subtree). The two
    # branch conditions are mutually exclusive per row, so an explode
    # of a conditional array emits the identical doc stream.
    contaminated = (
        sided.select(
            F.explode(
                F.when(
                    (F.col("split_a") == "train")
                    & (F.col("split_b") != "train"),
                    F.array("doc_b"),
                )
                .when(
                    (F.col("split_b") == "train")
                    & (F.col("split_a") != "train"),
                    F.array("doc_a"),
                )
                .otherwise(F.expr("cast(array() as array<bigint>)"))
            ).alias("doc_id")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = split.filter(F.col("split") != "train")
    return (
        ev.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "source",
            "n_eval_docs",
            "n_contaminated",
            F.expr("cast(n_contaminated * 10000 div n_eval_docs as int)").alias(
                "contaminated_bp"
            ),
        )
        .orderBy("source")
    )


QUERIES["holdout_contamination"] = holdout_contamination

_SPLIT_EXPR = (
    "CASE WHEN "
    + X.hash64_duck("cast(doc_id as varchar) || ':split'")
    + " % 100 < 80 THEN 'train' WHEN "
    + X.hash64_duck("cast(doc_id as varchar) || ':split'")
    + " % 100 < 90 THEN 'val' ELSE 'test' END"
)

ORACLES["holdout_contamination"] = f"""
WITH {_MINHASH_BANDS_CTE},
split AS (
  SELECT doc_id, source, {_SPLIT_EXPR} AS split FROM documents
),
pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc < b.doc
),
sided AS (
  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
  FROM pairs p
  JOIN split sa ON sa.doc_id = p.doc_a
  JOIN split sb ON sb.doc_id = p.doc_b
),
contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_b AS doc_id FROM sided
    WHERE split_a = 'train' AND split_b <> 'train'
    UNION ALL
    SELECT doc_a FROM sided
    WHERE split_b = 'train' AND split_a <> 'train'
  )
)
SELECT s.source,
       count(*) AS n_eval_docs,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // count(*) AS INT) AS contaminated_bp
FROM split s LEFT JOIN contaminated c ON c.doc_id = s.doc_id
WHERE s.split <> 'train'
GROUP BY s.source
ORDER BY s.source
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

    return run_quota_stream(
        spark, sf_dir, query_name=f"quota_{abs(hash(sf_dir)) % 10**8}"
    )


QUERIES["streaming_rate_limit"] = streaming_rate_limit
ORACLES["streaming_rate_limit"] = ORACLES["rate_limit_flags"]


# ---------------------------------------------------------------------------
# fk_orphan_audit — referential-integrity orphan census
# ---------------------------------------------------------------------------

def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan census — the referential-integrity audit an
    ETL runs after every load: child rows whose parent key is missing.
    To make the audit provably non-vacuous, the customer and part
    parents are read as SIMULATED PARTIAL SNAPSHOTS (keys divisible by
    1000/500 dropped — the 'parent partition not yet landed' failure
    mode); orders→lineitem is audited intact.

    Each relation is one left join against the DISTINCT parent-key dim
    with a map-combined null count — at 100 TB the parent-key dim is
    the broadcast/bloom side and the child table never shuffles (Spark
    chooses BHJ for the small parents here; the orders parent goes
    SMJ, which is the right call at its size).
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 1000 != 0)
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 500 != 0)

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
              name: str) -> DataFrame:
        p = parent.select(F.col(pkey).alias("k")).distinct().withColumn(
            "hit", F.lit(1)
        )
        return (
            child.select(F.col(ckey).alias("k"))
            .join(p, "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias(
                    "n_orphans"
                ),
            )
            .select(F.lit(name).alias("relation"), "n_rows", "n_orphans")
        )

    out = (
        audit(orders, "o_custkey", cust, "c_custkey", "orders->customer")
        .unionByName(audit(li, "l_orderkey", orders, "o_orderkey",
                           "lineitem->orders"))
        .unionByName(audit(li, "l_partkey", part, "p_partkey",
                           "lineitem->part"))
    )
    return out.orderBy("relation")


QUERIES["fk_orphan_audit"] = fk_orphan_audit

ORACLES["fk_orphan_audit"] = """
WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 1000 <> 0),
prt AS (SELECT p_partkey FROM part WHERE p_partkey % 500 <> 0)
SELECT 'lineitem->orders' AS relation,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem->part', count(*),
       CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM prt) p
  ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'orders->customer', count(*),
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM cust) c
  ON o.o_custkey = c.c_custkey
ORDER BY relation
"""


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
        .orderBy("variant")
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
        .orderBy("event_type")
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
# ann_recall_eval — measured recall of the LSH index vs brute force
# ---------------------------------------------------------------------------

def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the hyperplane-LSH ANN index against the exact
    brute-force top-k — the evaluation loop every ANN deployment runs
    before trusting the index (an index without a measured recall
    number is a guess).

    Composes the two already-oracled operators and joins their top-k
    sets per query; recall is hits·10⁴/k in integer basis points.  The
    expensive side (brute force) exists precisely because this is the
    ground-truth pass — run at evaluation sample size, never corpus
    size.  The oracle composes the two ANN oracles.
    """

    # r11 (guide §2.4): the two composed passes each re-derived the
    # vec+norm(+bucket) projection from the parquet scan — four
    # embeddings scans with four HOF decodes in the executed plan. One
    # materialized base now feeds both operators' query and candidate
    # sides (identical expressions over identical rows, so the floats
    # are bit-equal). The per-query top-k frames are ≤ n_queries*k
    # rows, so the approx side broadcasts instead of sort-merging. Only
    # the four columns the passes read are checkpointed, not the wide
    # raw embedding beside its decoded copy.
    emb = _t(spark, sf_dir, "embeddings")
    base = materialize(
        with_lsh_bucket(with_vec_norm(emb)).select("vec_id", "vec", "nrm", "bucket")
    )
    exact = op_exact(emb, ANN_N_QUERIES, ANN_K, base=base).select(
        "query_id", "vec_id"
    )
    approx = op_lsh(emb, ANN_N_QUERIES, ANN_K, base=base).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            "query_id",
            "k",
            "n_hits",
            F.expr(f"cast(n_hits * 10000 div {ANN_K} as int)").alias("recall_bp"),
        )
        .orderBy("query_id")
    )


QUERIES["ann_recall_eval"] = ann_recall_eval

ORACLES["ann_recall_eval"] = f"""
WITH exact AS ({_CORE_ORACLES['ann_topk']}),
approx AS ({_CORE_ORACLES['ann_lsh']})
SELECT e.query_id, count(*) AS k,
       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // {ANN_K} AS INT) AS recall_bp
FROM exact e LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


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
    ).orderBy("event_type")


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
        .orderBy("day")
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
# scd2_temporal_lookup — point-in-time dimension lookup (rewrite proof)
# ---------------------------------------------------------------------------

def scd2_temporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: for every
    purchase, the user's versioned state row valid AT that purchase's
    timestamp — the "what did the dimension say when the fact
    happened" join every type-2 warehouse runs.

    The naive form is an equi+range probe (valid_from <= ts <
    valid_to); this implementation REWRITES it as the union+window
    as-of join (operators/asof.py — one shuffle, no per-row range
    probing), and the oracle is the naive BETWEEN SQL, so the gate
    proves the rewrite equivalent.  Ties at equal valid_from resolve
    to the highest version on both sides.
    """

    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_log(ev, "user_id", "event_type").select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.col("version"),
        F.col("event_type").alias("state"),
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = _asof(probe, dim, "user_id", value_cols=["version", "state"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.col("version_asof").alias("version"),
        F.col("state_asof").alias("state"),
    ).orderBy("event_id")


QUERIES["scd2_temporal_lookup"] = scd2_temporal_lookup

ORACLES["scd2_temporal_lookup"] = """
WITH runs AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS version
  FROM runs WHERE prev IS NULL OR prev <> event_type
),
probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
matched AS (
  SELECT p.event_id, p.user_id, p.ts, d.version, d.state,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY d.version DESC) AS rn
  FROM probe p JOIN dim d
    ON d.user_id = p.user_id AND d.valid_from <= p.ts
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       version, state
FROM matched WHERE rn = 1
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# time_rollup_grouping_sets — multi-granularity time rollup
# ---------------------------------------------------------------------------

def time_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day/week/month rollups of event value in ONE pass via GROUPING
    SETS — the multi-granularity time-series materialization a metrics
    store refreshes (three separate aggregations would scan three
    times; the Expand-based plan scans once and partial-aggregates
    map-side).

    Granularity is recovered from GROUPING() flags; totals are
    order-insensitive DECIMAL sums.
    """
    ev = _t(spark, sf_dir, "events")
    ev.select(
        F.to_date("ts").alias("day"),
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date(F.date_trunc("month", "ts")).alias("month"),
        F.col("value").cast(DEC).alias("v"),
    ).createOrReplaceTempView("_ev_grains")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(day) = 0 THEN 'day'
                    WHEN grouping(week) = 0 THEN 'week'
                    ELSE 'month' END AS grain,
               coalesce(day, week, month) AS period,
               count(*) AS n,
               cast(round(sum(v), 2) as double) AS total
        FROM _ev_grains
        GROUP BY GROUPING SETS ((day), (week), (month))
        ORDER BY grain, period
        """
    )


QUERIES["time_rollup_grouping_sets"] = time_rollup_grouping_sets

ORACLES["time_rollup_grouping_sets"] = """
WITH g AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(value AS DECIMAL(27,6)) AS v
  FROM events
)
SELECT CASE WHEN grouping(day) = 0 THEN 'day'
            WHEN grouping(week) = 0 THEN 'week'
            ELSE 'month' END AS grain,
       coalesce(day, week, month) AS period,
       count(*) AS n,
       round(sum(v), 2)::DOUBLE AS total
FROM g
GROUP BY GROUPING SETS ((day), (week), (month))
ORDER BY grain, period
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
        .orderBy("event_type")
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
# hard_negative_mining — contrastive pairs for embedding training
# ---------------------------------------------------------------------------

_HN_N_QUERIES = 10
_HN_K = 3


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor vector, the top-3 most-similar vectors with a
    DIFFERENT label — the pairs a triplet/InfoNCE fine-tune needs most
    (easy negatives teach nothing).

    Same plan skeleton as ann_topk — broadcast anchor set against one
    scan of the vector table, label-mismatch as a pre-rank filter, and
    the per-anchor top-k compiles to WindowGroupLimit (partial top-k
    map-side, the big side never shuffles).  In a real pipeline the
    brute-force pass runs per mini-corpus shard or on an LSH-bucketed
    candidate set (ann_lsh) — the ranking stage is identical.
    """

    emb = _t(spark, sf_dir, "embeddings")
    base = with_vec_norm(emb)
    anchors = base.filter(F.col("vec_id") < _HN_N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    cands = base.select(
        F.col("vec_id"),
        F.col("label"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        cands.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .withColumn("cos", cosine_prenorm_col())
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select("anchor_id", "anchor_label", "vec_id", "label", "cos", "rank")
        .orderBy("anchor_id", "rank")
    )


QUERIES["hard_negative_mining"] = hard_negative_mining


def _hard_negative_oracle() -> str:
    cos = V.cosine_duck("qvec", "cvec", V.EMB_DIM)
    return f"""
WITH base AS (
  SELECT vec_id, label, {V.to_double_duck('embedding')} AS vec FROM embeddings
),
scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         c.vec_id, c.label, round({cos}, 4) AS cos
  FROM (SELECT vec_id, label, vec AS qvec FROM base
        WHERE vec_id < {_HN_N_QUERIES}) a
  CROSS JOIN (SELECT vec_id, label, vec AS cvec FROM base) c
  WHERE c.label <> a.label
)
SELECT anchor_id, anchor_label, vec_id, label, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_HN_K}
ORDER BY anchor_id, rank
"""


ORACLES["hard_negative_mining"] = _hard_negative_oracle()


# ---------------------------------------------------------------------------
# bigram_lm_score — corpus-LM fluency scoring (perplexity proxy)
# ---------------------------------------------------------------------------

def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style fluency filter, reduced to the corpus's own bigram
    model: each doc is scored by the mean log-probability of its
    bigrams under corpus counts (P(w₂|w₁) = c₁₂/c₁) — the
    perplexity-proxy quality signal used to keep fluent text and drop
    gibberish.  Reported per source as the mean doc score.

    Two map-combined count passes (bigrams, unigrams — both
    vocab-bounded) broadcast back into one scoring scan; each
    ln-probability term is cast DECIMAL(18,12) before summing
    (order-insensitive, the token_entropy discipline).  The ratio is
    exact-count/exact-count, so both engines compute identical
    doubles before ln.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.expr(X.tokens_spark("text")).alias("tokens")
    )
    bg = (
        toks.filter(F.size("tokens") >= 2)
        .select(
            "source",
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tokens) - 2),"
                    " i -> struct(tokens[i] as w1, tokens[i + 1] as w2))"
                )
            ).alias("b"),
        )
        .select("source", "doc_id", "b.w1", "b.w2")
    )

    # The bigram census is materialized ONCE (vocab-bounded — one row
    # per distinct (w1, w2), not fact-sized) and the unigram counts are
    # DERIVED from it: c1(w1) = Σ_w2 c12(w1, w2) — the identical exact
    # integers, since every bg row lands in exactly one (w1, w2) group.
    # The former plan evaluated the corpus tokenize+explode subtree
    # THREE times (c1 build, c12 build, probe side); now the corpus is
    # scanned twice — census build and probe (guide §2.4).
    c12 = materialize(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = (
        bg.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .select(
            "source",
            "doc_id",
            (F.log(F.col("c12") / F.col("c1"))).cast("decimal(18,12)").alias("lp"),
        )
    )
    per_doc = scored.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum("lp").alias("lp_sum"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum((F.col("lp_sum") / F.col("n_bg")).cast("decimal(18,12)"))
                .cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_doc_logprob"),
        )
        .orderBy("source")
    )


QUERIES["bigram_lm_score"] = bigram_lm_score

ORACLES["bigram_lm_score"] = f"""
WITH toks AS (
  SELECT source, doc_id, {X.tokens_duck('text')} AS tokens FROM documents
),
bg AS (
  SELECT source, doc_id, b['w1'] AS w1, b['w2'] AS w2
  FROM (
    SELECT source, doc_id,
           unnest(CASE WHEN len(tokens) < 2 THEN []
                  ELSE list_transform(generate_series(1, len(tokens) - 1),
                       i -> {{'w1': tokens[i], 'w2': tokens[i + 1]}}) END) AS b
    FROM toks
  )
),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
scored AS (
  SELECT source, doc_id,
         CAST(ln(c12 / c1) AS DECIMAL(18,12)) AS lp
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
),
per_doc AS (
  SELECT source, doc_id, count(*) AS n_bg, sum(lp) AS lp_sum
  FROM scored GROUP BY source, doc_id
)
SELECT source, count(*) AS n_docs,
       round(sum(CAST(lp_sum / n_bg AS DECIMAL(18,12)))::DOUBLE / count(*), 4)
         AS mean_doc_logprob
FROM per_doc
GROUP BY source
ORDER BY source
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
        .orderBy("cohort_week", "week_idx")
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
# lsh_precision_eval — candidate precision of the MinHash index
# ---------------------------------------------------------------------------

def lsh_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision of the MinHash LSH candidate generator against exact
    shingle Jaccard — the dedup-side companion of ann_recall_eval: of
    the pairs the bands surface, how many are REAL near-dups
    (Jaccard ≥ 0.5)?  Tuning bands/rows without this number is
    guessing.

    Candidates come from the shared banded self-join; verification
    joins each pair to the exploded distinct-shingle table twice and
    counts shared shingles (one aggregation per pair — the standard
    verify pass, run on candidates only, never all pairs).  The
    threshold compare is integer cross-multiplied (2·∩ ≥ ∪).  The oracle
    shares core's minhash band CTE.
    """

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    sh = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.expr(X.tokens_spark("text")).alias("tokens"),
        )
        .filter(F.size("tokens") >= 3)
        .select("doc", F.explode(F.expr(X.shingles_spark("tokens"))).alias("s"))
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.join(sh.select(F.col("doc").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), F.col("s").alias("s2")), "doc_b")
        .filter(F.col("s") == F.col("s2"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    verified = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            F.broadcast(sizes.select(F.col("doc").alias("doc_a"),
                                     F.col("sz").alias("sz_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc").alias("doc_b"),
                                     F.col("sz").alias("sz_b"))),
            "doc_b",
        )
        .select(
            F.coalesce("inter", F.lit(0)).alias("i"),
            (F.col("sz_a") + F.col("sz_b") - F.coalesce("inter", F.lit(0))).alias(
                "u"
            ),
        )
    )
    return verified.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("i") * 2 >= F.col("u"), 1).otherwise(0)).alias(
            "n_verified"
        ),
    ).select(
        "n_candidates",
        "n_verified",
        F.expr(
            "cast(n_verified * 10000 div n_candidates as int)"
        ).alias("precision_bp"),
    )


QUERIES["lsh_precision_eval"] = lsh_precision_eval

# The shingle CTE mirrors minhash_band_table's distinct word-3-shingles.
ORACLES["lsh_precision_eval"] = f"""
WITH {_MINHASH_BANDS_CTE},
pairs AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc < b.doc
),
sh AS (
  SELECT doc, unnest(shingles) AS s FROM (
    SELECT doc_id AS doc, {X.shingles_duck(X.tokens_duck('text'))} AS shingles
    FROM documents
    WHERE len({X.tokens_duck('text')}) >= 3
  )
),
sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p
  JOIN sh a ON a.doc = p.doc_a
  JOIN sh b ON b.doc = p.doc_b AND b.s = a.s
  GROUP BY 1, 2
),
verified AS (
  SELECT coalesce(i.i, 0) AS i,
         sa.sz + sb.sz - coalesce(i.i, 0) AS u
  FROM pairs p
  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sizes sa ON sa.doc = p.doc_a
  JOIN sizes sb ON sb.doc = p.doc_b
)
SELECT count(*) AS n_candidates,
       CAST(sum(CASE WHEN i * 2 >= u THEN 1 ELSE 0 END) AS BIGINT)
         AS n_verified,
       CAST(sum(CASE WHEN i * 2 >= u THEN 1 ELSE 0 END) * 10000 // count(*)
            AS INT) AS precision_bp
FROM verified
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
        .orderBy("signup_date")
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
# key_gini — Gini coefficient of key-frequency skew
# ---------------------------------------------------------------------------

def key_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the key-frequency distribution for the
    shuffle keys that matter here (events.user_id, lineitem.l_partkey)
    — the single-number skew summary behind partition-sizing decisions
    (key_skew_profile reports the head; Gini reports the whole curve).

    Computed exactly from the sorted frequency table:
    G = (2·Σ i·cᵢ − (n+1)·Σ cᵢ) / (n·Σ cᵢ) with i the ascending
    frequency rank — all integer until the one division, reported in
    basis points.  The rank window runs over the AGGREGATED key table
    (dim-sized relative to the fact table); at 100 TB the same number
    comes from a sampled or bucketed frequency sketch.
    """
    def gini_of(df: DataFrame, key: str, label: str) -> DataFrame:
        freq = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        ranked = freq.select(
            F.col("c"),
            F.row_number().over(Window.orderBy(F.asc("c"), F.asc(key))).alias("i"),
        )
        return ranked.agg(
            F.lit(label).alias("key_name"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.expr(
                "cast((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000"
                " div (count(*) * sum(c)) as int)"
            ).alias("gini_bp"),
        ).select("key_name", "n_keys", "n_rows", "gini_bp")

    ev = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    return (
        gini_of(ev, "user_id", "events.user_id")
        .unionByName(gini_of(li, "l_partkey", "lineitem.l_partkey"))
        .orderBy("key_name")
    )


QUERIES["key_gini"] = key_gini

ORACLES["key_gini"] = """
WITH ef AS (
  SELECT count(*) AS c, user_id AS k FROM events GROUP BY user_id
),
er AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM ef
),
lf AS (
  SELECT count(*) AS c, l_partkey AS k FROM lineitem GROUP BY l_partkey
),
lr AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM lf
)
SELECT 'events.user_id' AS key_name, count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000
            // (count(*) * sum(c)) AS INT) AS gini_bp
FROM er
UNION ALL
SELECT 'lineitem.l_partkey', count(*), CAST(sum(c) AS BIGINT),
       CAST((2 * sum(i * c) - (count(*) + 1) * sum(c)) * 10000
            // (count(*) * sum(c)) AS INT)
FROM lr
ORDER BY key_name
"""


# ---------------------------------------------------------------------------
# trade_reachability — depth-bounded closure via NATIVE recursive CTE
# ---------------------------------------------------------------------------

def trade_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many countries can each country reach within 3 hops over
    HIGH-VOLUME trade edges (pairs whose line count is ≥ 1.1× the mean
    — an integer-form relative threshold, so the graph sparsifies
    data-dependently at every scale)?

    The edge derivation is the shared canonical-edges join pipeline
    (the only fact-sized stage); the walk itself touches only the
    dim-sized nation graph, so it is a census-collect-then-iterate key
    (SURVEY §7.24a): the ≤ 2·|nations|² symmetric edge census and the
    ≤ |nations| node census are bounded_collect'ed once and the
    3-hop BFS runs driver-side in exact set arithmetic. The previous
    form ran Spark 4's native WITH RECURSIVE over the same
    materialized 32-row edge table — correct, but each of the four
    recursion levels plus the distinct-count was its own Spark job on
    dim-bounded state (31 jobs, 1.15 s at sf0.1; pure scheduler
    overhead at EVERY scale, the same adjudication as the 13 r10-build
    census collapses). Integer BFS is engine-exact, so results are
    bit-identical.
    """

    edges = _edge_aggregate(spark, sf_dir).select("edge_a", "edge_b", "n_lines")
    tot = edges.agg(
        F.sum("n_lines").alias("tot"), F.count(F.lit(1)).alias("ne")
    )
    sparse = (
        edges.crossJoin(F.broadcast(tot))
        .filter(F.col("n_lines") * F.col("ne") * 10 >= 11 * F.col("tot"))
        .select("edge_a", "edge_b")
    )

    e_rows = [
        (r["edge_a"], r["edge_b"])
        for r in bounded_collect(
            sparse, 625, "trade_reachability: nation-pair edge census"
        )
    ]
    nodes = sorted(
        r["n"]
        for r in bounded_collect(
            _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("n")),
            25,
            "trade_reachability: nation node census",
        )
    )
    adj: dict = {}
    for a, b in e_rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = []
    for src in nodes:
        seen = {src}
        frontier = {src}
        for _ in range(3):
            frontier = {
                nbr for n in frontier for nbr in adj.get(n, ())
            } - seen
            if not frontier:
                break
            seen |= frontier
        out.append((int(src), len(seen) - 1))
    return spark.createDataFrame(
        out, schema="nationkey int, n_reachable_3hops bigint"
    )


QUERIES["trade_reachability"] = trade_reachability

ORACLES["trade_reachability"] = """
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
  -- nation-pair census; MATERIALIZED so the recursive walk below does
  -- not re-inline the lineitem 4-way join per reach iteration (the
  -- SURVEY #205 / section-6(d) pathology)
  SELECT edge_a, edge_b, count(*) AS n_lines FROM pairs GROUP BY 1, 2
),
tot AS (SELECT sum(n_lines) AS tot, count(*) AS ne FROM edges),
sparse AS (
  SELECT edge_a, edge_b FROM edges CROSS JOIN tot
  WHERE n_lines * ne * 10 >= 11 * tot
),
sym AS MATERIALIZED (
  SELECT edge_a AS a, edge_b AS b FROM sparse
  UNION ALL
  SELECT edge_b, edge_a FROM sparse
),
reach(src, node, lvl) AS (
  SELECT n_nationkey, n_nationkey, 0 FROM nation
  UNION ALL
  SELECT r.src, e.b, r.lvl + 1
  FROM reach r JOIN sym e ON e.a = r.node
  WHERE r.lvl < 3
)
SELECT src AS nationkey, count(DISTINCT node) - 1 AS n_reachable_3hops
FROM reach GROUP BY src ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# props_variant_stats — Spark 4 VARIANT path for semi-structured JSON
# ---------------------------------------------------------------------------

def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events.props payload through Spark 4's VARIANT type:
    ``parse_json`` once in the scan projection, typed
    ``variant_get`` extraction, then an ordinary aggregation — the
    schema-flexible cousin of json_props_stats (from_json with a
    declared schema).  VARIANT keeps the parsed binary form, so
    repeated path extractions don't re-parse the string — the path to
    prefer when payload schemas drift across a 100 TB log.
    """

    ev = widen_scan(_t(spark, sf_dir, "events"))
    parsed = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


QUERIES["props_variant_stats"] = props_variant_stats

ORACLES["props_variant_stats"] = """
SELECT event_type,
       count(*) AS n,
       count(k) AS n_with_k,
       CAST(min(k) AS INT) AS min_k,
       CAST(max(k) AS INT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# incremental_agg_maintenance — merge a delta batch into a materialized agg
# ---------------------------------------------------------------------------

_IVM_CUT = "2024-01-21 00:00:00"


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a daily rollup: the
    materialized base aggregate (days before the cut) is MERGED with
    the delta batch's partial aggregate (days from the cut) by a keyed
    full-outer combine — never recomputing the base — and the oracle
    recomputes from scratch, so the gate proves merged ≡ recomputed.
    The pattern that turns a 100 TB nightly rebuild into a
    delta-sized one; counts and DECIMAL sums are the mergeable
    aggregates (avg derives at read time).
    """
    ev = _t(spark, sf_dir, "events")
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.to_date("ts").alias("day"),
                "event_type",
                F.col("value").cast(DEC).alias("v"),
            )
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        )

    base = rollup(ev.filter(F.col("ts") < cut))
    delta = rollup(ev.filter(F.col("ts") >= cut))
    merged = (
        base.select("day", "event_type", F.col("n").alias("n_b"),
                    F.col("total").alias("t_b"))
        .join(
            delta.select("day", "event_type", F.col("n").alias("n_d"),
                         F.col("total").alias("t_d")),
            ["day", "event_type"],
            "full_outer",
        )
        .select(
            "day",
            "event_type",
            (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n"),
            F.round(
                F.coalesce(F.col("t_b"), F.lit(0).cast(DEC))
                + F.coalesce(F.col("t_d"), F.lit(0).cast(DEC)),
                2,
            )
            .cast("double")
            .alias("total"),
        )
    )
    return merged.orderBy("day", "event_type")


QUERIES["incremental_agg_maintenance"] = incremental_agg_maintenance

ORACLES["incremental_agg_maintenance"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n,
       round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
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
    qname = f"hdrift_{abs(hash(sf_dir)) % 10**8}"
    q = (
        hourly.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"""
        WITH dense AS (
          SELECT h.hour_start, b.bin, coalesce(t.c, 0) AS c
          FROM (SELECT DISTINCT hour_start FROM {qname}) h
          CROSS JOIN (SELECT DISTINCT bin FROM {qname}) b
          LEFT JOIN (SELECT hour_start AS th, bin AS tb, c FROM {qname}) t
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
        ORDER BY hour_start
        """
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
        .orderBy("segment")
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
# boilerplate_position — head-vs-tail quality asymmetry
# ---------------------------------------------------------------------------

def boilerplate_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional boilerplate screen: compare the English-stopword
    ratio of each document's FIRST half of tokens against its SECOND
    half — templated headers/footers show up as a persistent head/tail
    asymmetry per source, which tells a cleaner WHERE to trim.

    Entirely row-local (slice + two HOF stopword counts per row, no
    explode), then one dim-sized per-source aggregation of integer
    counts; the two ratios divide once each at the output edge.
    """

    docs = _t(spark, sf_dir, "documents")
    toks = X.tokens_spark("text")
    half = "(size(tokens) div 2)"
    d = (
        docs.select("source", F.expr(toks).alias("tokens"))
        .filter(F.size("tokens") >= 2)
        .select(
            "source",
            F.expr(f"slice(tokens, 1, {half})").alias("head"),
            F.expr(f"slice(tokens, {half} + 1, size(tokens))").alias("tail"),
        )
        .select(
            "source",
            F.size("head").alias("n_head"),
            F.size("tail").alias("n_tail"),
            F.expr(X.stopword_count_spark("head", STOPWORDS["en"])).alias("s_head"),
            F.expr(X.stopword_count_spark("tail", STOPWORDS["en"])).alias("s_tail"),
        )
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("s_head").alias("sh"),
            F.sum("n_head").alias("nh"),
            F.sum("s_tail").alias("st"),
            F.sum("n_tail").alias("nt"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("cast(sh * 10000 div nh as int)").alias("head_stop_bp"),
            F.expr("cast(st * 10000 div nt as int)").alias("tail_stop_bp"),
            F.expr(
                "cast(abs(sh * 10000 div nh - st * 10000 div nt) as int)"
            ).alias("asymmetry_bp"),
        )
        .orderBy("source")
    )


QUERIES["boilerplate_position"] = boilerplate_position


def _boilerplate_oracle() -> str:
    return f"""
WITH d AS (
  SELECT source,
         len(head) AS n_head, len(tail) AS n_tail,
         {X.stopword_count_duck('head', STOPWORDS['en'])} AS s_head,
         {X.stopword_count_duck('tail', STOPWORDS['en'])} AS s_tail
  FROM (
    SELECT source,
           tokens[1:len(tokens) // 2] AS head,
           tokens[len(tokens) // 2 + 1:] AS tail
    FROM (SELECT source, {X.tokens_duck('text')} AS tokens FROM documents)
    WHERE len(tokens) >= 2
  )
)
SELECT source, count(*) AS n_docs,
       CAST(sum(s_head) * 10000 // sum(n_head) AS INT) AS head_stop_bp,
       CAST(sum(s_tail) * 10000 // sum(n_tail) AS INT) AS tail_stop_bp,
       CAST(abs(sum(s_head) * 10000 // sum(n_head)
            - sum(s_tail) * 10000 // sum(n_tail)) AS INT) AS asymmetry_bp
FROM d
GROUP BY source
ORDER BY source
"""


ORACLES["boilerplate_position"] = _boilerplate_oracle()


# ---------------------------------------------------------------------------
# salted_aggregation — two-phase skew-resistant aggregate (rewrite proof)
# ---------------------------------------------------------------------------

_AGG_SALT = 8


def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by total event value, aggregated through an
    EXPLICIT two-phase salted plan: phase one groups on
    (user, salt=id-hash%8) — a hot key's rows spread over 8 reducers —
    phase two merges the partials on the user key alone.  The oracle
    is the direct single-phase SQL, so the gate proves the salted
    rewrite exact (counts and DECIMAL sums are the mergeable forms).

    Spark's own map-side partial aggregation makes this redundant for
    built-in aggs (and AQE handles join skew); the explicit form is
    the shape you reach for when a hot key overwhelms even a single
    reducer's FINAL aggregation — e.g. collect-like or sketch state —
    and it is the same two-phase contract incremental_agg_maintenance
    relies on.
    """
    ev = _t(spark, sf_dir, "events")
    salt = F.expr(X.hash64_spark("cast(event_id as string)")) % _AGG_SALT
    phase1 = (
        ev.select("user_id", salt.alias("salt"), F.col("value").cast(DEC).alias("v"))
        .groupBy("user_id", "salt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("t"))
    )
    phase2 = phase1.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("t"), 2).cast("double").alias("total_value"),
    )
    w = Window.orderBy(F.desc("total_value"), F.asc("user_id"))
    return (
        phase2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("rank", "user_id", "n_events", "total_value")
        .orderBy("rank")
    )


QUERIES["salted_aggregation"] = salted_aggregation

ORACLES["salted_aggregation"] = """
WITH agg AS (
  SELECT user_id, count(*) AS n_events,
         round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
  FROM events GROUP BY user_id
)
SELECT rank, user_id, n_events, total_value FROM (
  SELECT *, row_number() OVER (ORDER BY total_value DESC, user_id ASC) AS rank
  FROM agg
)
WHERE rank <= 10
ORDER BY rank
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
        .orderBy("click_hour")
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
# copurchase_similarity — user-user collaborative-filtering prep
# ---------------------------------------------------------------------------

# Keep parts whose customer-degree is at most 1.5x the mean degree —
# a RELATIVE cutoff, so the wedge fanout bound (Σdeg² over kept parts)
# tightens itself at every scale (an absolute cutoff stops cutting
# once the average degree grows past it).
_CF_DEG_NUM, _CF_DEG_DEN = 3, 2
_CF_TOPK = 5


def copurchase_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User–user similarity from co-purchased parts — the
    item-overlap wedge join that seeds every collaborative-filtering
    recommender: customers sharing rare parts are neighbors; parts
    half the customer base buys say nothing and only quadratically
    inflate the wedge fanout, so parts above a degree cutoff are
    dropped first (the same df-pruning discipline as the n-gram
    dedups — fanout is Σdeg² over KEPT parts, a parameter bound).

    Ranking avoids sqrt: neighbors order by shared-part count with
    id tie-breaks (exact integers); the cosine against the two degree
    counts rides along rounded for display.  Top-5 per customer
    compiles to WindowGroupLimit.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    # Compute-once boundaries: cp feeds both the part-degree census and
    # the kept projection, and kept feeds cust_deg + BOTH wedge-join
    # sides — without the boundaries the lineitem⋈orders distinct
    # pipeline re-runs up to four times (53 Exchanges in the executed
    # plan at sf0.1; guide §2.4 duplicate-subtree removal, every scale).
    # The dedup rides a hash(part) repartition instead of a (cust,part)
    # distinct exchange (part clusters every duplicate pair, so Spark
    # plans the dedup aggregate with no second exchange), and the
    # checkpoint PRESERVES that partitioning — part_deg's groupBy, the
    # kept projection, and both wedge-join sides then consume it with
    # zero further part-side exchanges (guide §2.4: two operations
    # keyed the same way share one exchange).
    cp = materialize(
        li.join(orders.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .repartition("part")
        .dropDuplicates()
    )
    part_deg = cp.groupBy("part").agg(F.count(F.lit(1)).alias("pdeg"))
    deg_stats = part_deg.agg(
        F.sum("pdeg").alias("tot"), F.count(F.lit(1)).alias("np")
    )
    kept_parts = (
        part_deg.crossJoin(F.broadcast(deg_stats))
        .filter(
            F.col("pdeg") * F.col("np") * _CF_DEG_DEN
            <= _CF_DEG_NUM * F.col("tot")
        )
        .select("part")
    )
    kept = materialize(
        cp.join(F.broadcast(kept_parts), "part").select("cust", "part")
    )
    cust_deg = kept.groupBy("cust").agg(F.count(F.lit(1)).alias("deg"))
    # Anchor-scoped: neighbors are computed for a deterministic anchor
    # subset (id gate), not all customers — the production shape
    # (neighbor queries serve ACTIVE users; an all-pairs precompute is
    # the pathological form on uniform-degree data, where no degree
    # cutoff can save the Σdeg² wedge fanout). The anchor side of the
    # wedge join is a small slice of the kept table; the full side
    # never self-joins.
    a = kept.filter(F.col("cust") % 100 == 7).select(
        F.col("cust").alias("cust_a"), "part"
    )
    b = kept.select(F.col("cust").alias("cust_b"), "part")
    wedges = (
        a.join(b, "part")
        .filter(F.col("cust_a") != F.col("cust_b"))
        .groupBy("cust_a", "cust_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    scored = (
        wedges.join(
            F.broadcast(cust_deg.select(F.col("cust").alias("cust_a"),
                                        F.col("deg").alias("deg_a"))),
            "cust_a",
        )
        .join(
            F.broadcast(cust_deg.select(F.col("cust").alias("cust_b"),
                                        F.col("deg").alias("deg_b"))),
            "cust_b",
        )
    )
    w = Window.partitionBy("cust_a").orderBy(
        F.desc("shared"), F.asc("cust_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CF_TOPK)
        .select(
            F.col("cust_a").alias("cust"),
            F.col("cust_b").alias("neighbor"),
            "shared",
            F.col("deg_a"),
            F.col("deg_b"),
            "rank",
        )
        .orderBy("cust", "rank")
    )


QUERIES["copurchase_similarity"] = copurchase_similarity

ORACLES["copurchase_similarity"] = f"""
WITH cp AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
part_deg AS (
  SELECT part, count(*) AS pdeg FROM cp GROUP BY part
),
deg_stats AS (SELECT sum(pdeg) AS tot, count(*) AS np FROM part_deg),
kept AS (
  SELECT cust, part FROM cp JOIN part_deg USING (part) CROSS JOIN deg_stats
  WHERE pdeg * np * {_CF_DEG_DEN} <= {_CF_DEG_NUM} * tot
),
cust_deg AS (SELECT cust, count(*) AS deg FROM kept GROUP BY cust),
wedges AS (
  SELECT a.cust AS cust_a, b.cust AS cust_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.part = b.part AND a.cust <> b.cust
  WHERE a.cust % 100 = 7
  GROUP BY 1, 2
),
scored AS (
  SELECT s.cust_a, s.cust_b, s.shared, da.deg AS deg_a, db.deg AS deg_b,
         row_number() OVER (PARTITION BY s.cust_a
                            ORDER BY s.shared DESC, s.cust_b ASC) AS rank
  FROM wedges s
  JOIN cust_deg da ON da.cust = s.cust_a
  JOIN cust_deg db ON db.cust = s.cust_b
)
SELECT cust_a AS cust, cust_b AS neighbor, shared, deg_a, deg_b, rank
FROM scored
WHERE rank <= {_CF_TOPK}
ORDER BY cust, rank
"""


# ---------------------------------------------------------------------------
# contract_violations — declarative data-contract validation census
# ---------------------------------------------------------------------------

_CONTRACT_TYPES = ("click", "view", "purchase", "signup", "error")


def contract_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation of the events feed: each declared rule
    (non-null user, value range, enum membership, timestamp window,
    well-formed JSON props) is evaluated as a row-local predicate in
    ONE scan, and the census reports violations per rule — the
    quality gate every ingestion contract runs before publishing a
    partition.

    A stack of conditional sums over a single pass; no shuffles beyond
    the final one-row-per-rule aggregate.  Adding a rule is adding a
    column expression — the contract stays declarative.
    """
    ev = _t(spark, sf_dir, "events")
    enum = ", ".join(f"'{t}'" for t in _CONTRACT_TYPES)
    rules = {
        "user_id_not_null": "user_id IS NULL",
        "value_in_range": "value IS NULL OR value < 0 OR value > 1000",
        "type_in_enum": f"event_type NOT IN ({enum})",
        "ts_in_window": "ts < timestamp'2024-01-01 00:00:00'"
                        " OR ts >= timestamp'2024-02-01 00:00:00'",
        "props_valid_json": "props IS NULL OR get_json_object(props, '$.k') IS NULL",
    }
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END")).alias(k)
            for k in rules
            for cond in [rules[k]]
        ],
    )
    stack = ", ".join(f"'{k}', {k}" for k in rules)
    return (
        agg.select(
            F.expr(f"stack({len(rules)}, {stack}) AS (rule, n_violations)"),
            "n_rows",
        )
        .select("rule", "n_violations", "n_rows")
        .orderBy("rule")
    )


QUERIES["contract_violations"] = contract_violations

_CONTRACT_ENUM_SQL = ", ".join(f"'{t}'" for t in _CONTRACT_TYPES)

ORACLES["contract_violations"] = f"""
WITH agg AS (
  SELECT count(*) AS n_rows,
    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS user_id_not_null,
    sum(CASE WHEN value IS NULL OR value < 0 OR value > 1000
        THEN 1 ELSE 0 END) AS value_in_range,
    sum(CASE WHEN event_type NOT IN ({_CONTRACT_ENUM_SQL})
        THEN 1 ELSE 0 END) AS type_in_enum,
    sum(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
              OR ts >= TIMESTAMP '2024-02-01 00:00:00'
        THEN 1 ELSE 0 END) AS ts_in_window,
    sum(CASE WHEN props IS NULL OR json_extract(props, '$.k') IS NULL
        THEN 1 ELSE 0 END) AS props_valid_json
  FROM events
)
SELECT rule, n_violations, n_rows FROM (
  SELECT 'props_valid_json' AS rule,
         CAST(props_valid_json AS BIGINT) AS n_violations, n_rows FROM agg
  UNION ALL
  SELECT 'ts_in_window', CAST(ts_in_window AS BIGINT), n_rows FROM agg
  UNION ALL
  SELECT 'type_in_enum', CAST(type_in_enum AS BIGINT), n_rows FROM agg
  UNION ALL
  SELECT 'user_id_not_null', CAST(user_id_not_null AS BIGINT), n_rows FROM agg
  UNION ALL
  SELECT 'value_in_range', CAST(value_in_range AS BIGINT), n_rows FROM agg
)
ORDER BY rule
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
        .orderBy("event_type")
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
# graph_modularity — partition-quality metric on the trade graph
# ---------------------------------------------------------------------------

def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the connected-component partition of the
    sparsified trade graph — the standard "is this clustering real"
    number for any community assignment (components, label
    propagation, METIS cuts alike).

    Q = Σ_c (in_c/m − (deg_c/2m)²), computed EXACTLY: with integer
    edge counts, Q·(2m)² = Σ_c (2m·2·in_c·... ) — here reported per
    community as integer numerators over the common (2m)² denominator
    and as one final scaled division, so engines agree bit-for-bit.
    The fact table collapses once into the dim-bounded (|nations|²)
    edge aggregate; the sparsified census is collected and the
    component labels (exact min-label union-find — the same fixpoint
    the shared hash-min operator converges to) plus the modularity
    folds run driver-side in exact integers on the constant-size
    graph.
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

    e_rows = [
        (r["edge_a"], r["edge_b"])
        for r in bounded_collect(
            sparse, 625, "graph_modularity: nation-pair edge census"
        )
    ]  # dim-bounded sparsified census (≤ |nations|²)
    comp = min_label_components(e_rows)
    m = len(e_rows)
    in_c: dict = {}
    deg_c: dict = {}
    for a, b in e_rows:
        ca, cb = comp[a], comp[b]
        if ca == cb:
            in_c[ca] = in_c.get(ca, 0) + 1
        deg_c[ca] = deg_c.get(ca, 0) + 1
        deg_c[cb] = deg_c.get(cb, 0) + 1
    out = []
    for c in sorted(deg_c):
        e_in = in_c.get(c, 0)
        # q_num_c = 4m·e_in − deg_c² over denominator (2m)²
        q_num = 4 * m * e_in - deg_c[c] * deg_c[c]
        out.append((
            int(c),
            int(e_in),
            int(deg_c[c]),
            int(q_num),
            int(_tdiv(q_num * 10000, 4 * m * m)),
        ))
    return spark.createDataFrame(
        out,
        schema=(
            "component int, e_in bigint, deg_c bigint, q_num bigint,"
            " q_contrib_bp int"
        ),
    )


QUERIES["graph_modularity"] = graph_modularity

ORACLES["graph_modularity"] = """
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
  SELECT edge_a, edge_b FROM edges CROSS JOIN tot
  WHERE n_lines * ne * 10 >= 11 * tot
),
cedges AS MATERIALIZED (
  SELECT edge_a AS a, edge_b AS b FROM sparse
  UNION
  SELECT edge_b, edge_a FROM sparse
),
reach(node, lbl) AS (
  SELECT DISTINCT a, a FROM cedges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN cedges e ON e.a = r.node
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
sided AS (
  SELECT s.edge_a, s.edge_b, ca.component AS ca, cb.component AS cb
  FROM sparse s
  JOIN comp ca ON ca.node = s.edge_a
  JOIN comp cb ON cb.node = s.edge_b
),
m AS (SELECT count(*) AS m FROM sided),
in_c AS (
  SELECT ca AS component, count(*) AS e_in FROM sided
  WHERE ca = cb GROUP BY ca
),
deg AS (
  SELECT component, count(*) AS deg_c FROM (
    SELECT edge_a AS node FROM sparse
    UNION ALL
    SELECT edge_b FROM sparse
  ) JOIN comp USING (node)
  GROUP BY component
)
SELECT d.component, coalesce(i.e_in, 0) AS e_in, d.deg_c,
       CAST(4 * m.m * coalesce(i.e_in, 0) - d.deg_c * d.deg_c AS BIGINT)
         AS q_num,
       CAST((4 * m.m * coalesce(i.e_in, 0) - d.deg_c * d.deg_c) * 10000
            // (4 * m.m * m.m) AS INT) AS q_contrib_bp
FROM deg d LEFT JOIN in_c i ON i.component = d.component
CROSS JOIN m
ORDER BY d.component
"""


# ---------------------------------------------------------------------------
# mixed_language_flags — intra-document language-mixing screen
# ---------------------------------------------------------------------------

def mixed_language_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-purity screen: a doc whose tokens hit the stopword
    lists of TWO OR MORE languages (or any CJK alongside latin
    stopwords) is language-mixed — the docs machine-translation
    filters and monolingual tokenizer training both want flagged.

    Entirely row-local (one HOF count per language list + the CJK
    regex, no explode), then a per-(source, lang) census of mixed
    flags.  The per-language hit counts ride one scan.
    """

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source", "lang", F.expr(X.tokens_spark("text")).alias("tokens"), "text"
    )
    for lg, words in STOPWORDS.items():
        d = d.withColumn(
            f"h_{lg}",
            (F.expr(X.stopword_count_spark("tokens", words)) > 0).cast("int"),
        )
    d = d.withColumn("h_zh", (F.expr(X.cjk_count_spark("text")) > 0).cast("int"))
    langs = sorted(STOPWORDS) + ["zh"]
    n_hit = sum(F.col(f"h_{lg}") for lg in langs)
    return (
        d.select("source", "lang", (n_hit >= 2).alias("mixed"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("mixed"), 1).otherwise(0)).alias("n_mixed"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "n_mixed",
            F.expr("cast(n_mixed * 10000 div n_docs as int)").alias("mixed_bp"),
        )
        .orderBy("source", "lang")
    )


QUERIES["mixed_language_flags"] = mixed_language_flags


def _mixed_language_oracle() -> str:
    hits = " + ".join(
        f"(CASE WHEN {X.stopword_count_duck('tokens', words)} > 0"
        f" THEN 1 ELSE 0 END)"
        for _, words in sorted(STOPWORDS.items())
    )
    return f"""
WITH d AS (
  SELECT source, lang,
         {hits}
         + (CASE WHEN {X.cjk_count_duck('text')} > 0 THEN 1 ELSE 0 END)
           AS n_hit
  FROM (SELECT source, lang, text, {X.tokens_duck('text')} AS tokens
        FROM documents)
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_hit >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       CAST(sum(CASE WHEN n_hit >= 2 THEN 1 ELSE 0 END) * 10000 // count(*)
            AS INT) AS mixed_bp
FROM d
GROUP BY source, lang
ORDER BY source, lang
"""


ORACLES["mixed_language_flags"] = _mixed_language_oracle()


# ---------------------------------------------------------------------------
# nested_order_items — complex-type (struct array + map) roundtrip
# ---------------------------------------------------------------------------

def nested_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type assembly and consumption in one plan: each order's
    line items become a SORTED ARRAY OF STRUCTS (the denormalized
    shape document stores and event payloads arrive in), and the
    census consumes it back — first-item price by position, item
    counts, flag presence via a higher-order exists().

    array_sort on the struct's leading field makes collect_list's
    partition-order nondeterminism irrelevant (ordered_string_export's
    rule, applied to structs); all downstream access is row-local HOFs
    on the assembled array — no second shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nested = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_partkey").alias("part"),
                F.col("l_extendedprice").alias("price"),
                F.col("l_returnflag").alias("flag"),
            ).alias("item"),
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("item")).alias("items"))
    )
    consumed = nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.expr("items[0].price").alias("first_price"),
        F.expr("exists(items, x -> x.flag = 'R')").alias("any_returned"),
    )
    return (
        consumed.join(
            orders.select("o_orderkey", "o_orderpriority"),
            consumed["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_items").alias("total_items"),
            F.round(F.sum(F.col("first_price").cast(DEC)), 2)
            .cast("double")
            .alias("first_item_revenue"),
            F.sum(F.when(F.col("any_returned"), 1).otherwise(0)).alias(
                "n_with_returns"
            ),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["nested_order_items"] = nested_order_items

ORACLES["nested_order_items"] = """
WITH nested AS (
  SELECT l_orderkey,
         list_sort(list({'ln': l_linenumber, 'part': l_partkey,
                         'price': l_extendedprice, 'flag': l_returnflag}))
           AS items
  FROM lineitem GROUP BY l_orderkey
),
consumed AS (
  SELECT l_orderkey,
         len(items) AS n_items,
         items[1]['price'] AS first_price,
         len(list_filter(items, x -> x['flag'] = 'R')) > 0 AS any_returned
  FROM nested
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(n_items) AS BIGINT) AS total_items,
       round(sum(CAST(first_price AS DECIMAL(27,6))), 2)::DOUBLE
         AS first_item_revenue,
       CAST(sum(CASE WHEN any_returned THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_returns
FROM consumed JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# price_reconciliation — header-vs-lines financial audit
# ---------------------------------------------------------------------------

def price_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: does each order HEADER total match the
    sum of its LINES (extprice·(1+tax)·(1−discount))?  The
    header/detail consistency audit every finance pipeline runs — and
    a deliberate synthetic-data honesty check: the census REPORTS the
    mismatch rate rather than assuming the generator enforced the
    invariant.

    Per-line amounts are row-local doubles (identical op order both
    engines), summed per order in DECIMAL; the header join is the
    natural key SMJ; tolerance compare at one cent.  Census per order
    priority: orders, mismatches, total absolute drift.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    line_tot = (
        li.select(
            "l_orderkey",
            (
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
            )
            .cast(DEC)
            .alias("amt"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("amt").alias("lines_total"))
    )
    j = orders.select("o_orderkey", "o_orderpriority", "o_totalprice").join(
        line_tot, orders["o_orderkey"] == line_tot["l_orderkey"]
    )
    diff = F.abs(F.col("o_totalprice").cast(DEC) - F.col("lines_total"))
    return (
        j.select("o_orderpriority", diff.alias("drift"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("drift") > 0.01, 1).otherwise(0)).alias(
                "n_mismatched"
            ),
            F.round(F.sum("drift"), 2).cast("double").alias("total_drift"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["price_reconciliation"] = price_reconciliation

ORACLES["price_reconciliation"] = """
WITH line_tot AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                  AS DECIMAL(27,6))) AS lines_total
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(27,6))
                              - lines_total) > 0.01
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       round(sum(abs(CAST(o_totalprice AS DECIMAL(27,6)) - lines_total)), 2)
         ::DOUBLE AS total_drift
FROM orders JOIN line_tot ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# pk_uniqueness_audit — natural-key uniqueness census
# ---------------------------------------------------------------------------

def pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary/natural-key uniqueness audit across the lake's
    load-bearing keys — the companion of fk_orphan_audit on the other
    side of referential integrity (a duplicated key silently doubles
    every downstream join).

    Each relation is one map-combined key count + one tiny aggregate
    of the duplicate census; lineitem is audited on its COMPOSITE
    natural key (orderkey, linenumber).
    """
    def audit(df: DataFrame, cols: list, name: str) -> DataFrame:
        per_key = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
        return per_key.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_keys"),
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c") - 1)), F.lit(0)
            ).alias("n_excess_rows"),
        ).select("relation", "n_keys", "n_rows", "n_dup_keys", "n_excess_rows")

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    docs = _t(spark, sf_dir, "documents")
    return (
        audit(orders, ["o_orderkey"], "orders.o_orderkey")
        .unionByName(audit(li, ["l_orderkey", "l_linenumber"],
                           "lineitem.(o,line)"))
        .unionByName(audit(cust, ["c_custkey"], "customer.c_custkey"))
        .unionByName(audit(docs, ["doc_id"], "documents.doc_id"))
        .orderBy("relation")
    )


QUERIES["pk_uniqueness_audit"] = pk_uniqueness_audit

ORACLES["pk_uniqueness_audit"] = """
WITH o AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
),
l AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
),
c AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
),
d AS (
  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
           AS n_excess_rows
  FROM (SELECT count(*) AS c FROM documents GROUP BY doc_id)
)
SELECT 'customer.c_custkey' AS relation, * FROM c
UNION ALL
SELECT 'documents.doc_id', * FROM d
UNION ALL
SELECT 'lineitem.(o,line)', * FROM l
UNION ALL
SELECT 'orders.o_orderkey', * FROM o
ORDER BY relation
"""


# ---------------------------------------------------------------------------
# ppjoin_similarity — prefix-filtered exact set-similarity join
# ---------------------------------------------------------------------------

_PPJ_TAU_NUM, _PPJ_TAU_DEN = 1, 2  # Jaccard >= 1/2


def ppjoin_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard set-similarity self-join with PREFIX FILTERING
    (the PPJoin family): two docs with Jaccard ≥ τ MUST share a token
    within the first |d|−⌈τ·|d|⌉+1 tokens of their canonical order
    (global frequency ascending — rarest first), so only PREFIX tokens
    are exploded into the candidate join and the filter is lossless.
    Blocked additionally by (source, lang) — the standard
    blocking+prefix composition.

    Verification is row-local: the candidate join carries both docs'
    distinct-token arrays and intersects them with one HOF — no second
    shuffle — and the τ gate is integer cross-multiplied
    ((num+den)·∩ ≥ num·(|a|+|b|)).  Fanout is Σ df² over PREFIX
    tokens within a block: on Zipfian vocabularies the prefix holds
    the rare tail and the bound collapses; this synthetic 31-word
    corpus is the worst case and still block-bounded.  Unlike the
    MinHash path this is EXACT — the choice when recall must be 100%.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.array_distinct(F.expr(X.tokens_spark("text"))).alias("tokens"),
        )
        .filter(F.size("tokens") > 0)
    )
    return _ppjoin_over(toks)


def ppjoin_shingles_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realistic-vocabulary PPJoin bench leg (VERDICT r8 item 3) — NOT
    a catalog key.  The graded key runs set elements = single tokens,
    and the synthetic 31-word vocabulary is the prefix filter's
    documented worst case (every prefix token has df ≈ N).  Real
    near-dup joins run over SHINGLE sets, whose vocabulary is wide and
    Zipf-tailed even here (31⁵ possible 5-grams), so the prefix holds
    rare elements and the filter has the selectivity the algorithm is
    built for.  Shingles are xxhash64-packed to longs before the join
    — the production layout (8-byte set elements instead of ~30-byte
    strings crossing the shuffle).  Same `_ppjoin_over` core, timed by
    bench.py under the ppjoin_similarity bench slot (BENCH_OVERRIDES
    documents the substitution)."""
    docs = _t(spark, sf_dir, "documents")
    # Stage boundary before the shingle lambda: CollapseProject would
    # otherwise inline the tokenizer into every one of the k lambda
    # references (k·|doc| regex splits per row — measured 15 s of the
    # leg's 18 s at sf0.1); the ngram_gram_table precedent.
    tk = materialize(
        docs.select(
            "doc_id", "source", "lang",
            F.expr(X.tokens_spark("text")).alias("tk"),
        ),
        eager=False,
    )
    toks = (
        tk.select(
            "doc_id",
            "source",
            "lang",
            F.expr(
                f"array_distinct(transform({X.shingles_spark('tk', 5)},"
                " s -> xxhash64(s)))"
            ).alias("tokens"),
        )
        .filter(F.size("tokens") > 0)
    )
    return _ppjoin_over(toks)


def _ppjoin_over(toks: DataFrame) -> DataFrame:
    """PPJoin core over a (doc_id, source, lang, tokens) frame — the
    prefix-filtered exact-Jaccard self-join shared by the graded key
    (single-token sets) and the shingle-set bench leg."""
    df_tab = (
        toks.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # canonical order: df asc, token asc — rebuilt per doc row-locally
    # after a broadcast join of the (vocab-sized) df table
    with_order = (
        toks.select(
            "doc_id", "source", "lang", F.explode("tokens").alias("token")
        )
        .join(F.broadcast(df_tab), "token")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, token))),"
                " x -> x.token)"
            ).alias("ordered")
        )
        .select(
            "doc_id",
            "source",
            "lang",
            "ordered",
            F.size("ordered").alias("n"),
        )
        .withColumn(
            "prefix",
            F.expr(
                f"slice(ordered, 1, n - cast(({_PPJ_TAU_NUM} * n"
                f" + {_PPJ_TAU_DEN} - 1) div {_PPJ_TAU_DEN} as int) + 1)"
            ),
        )
    )
    # NO materialization boundary here (measured negative, guide §1.1):
    # both candidate sides derive from `pre`, so a localCheckpoint
    # should save the duplicate df-table + canonical-order derivation —
    # and an isolated subset A/B did measure 0.90x — but in the FULL
    # bench run the r10 attempt regressed the shingle bench leg
    # 1.9 -> 18.2 s: `pre` carries the whole ordered-set array on every
    # prefix row (O(set² ) longs per doc on the shingle leg), and
    # pinning that as checkpoint blocks late in a 384-key session
    # thrashes the block manager. The duplicate derivation is the
    # cheaper evil at every tested scale.
    pre = with_order.select(
        "doc_id", "source", "lang", "ordered", "n",
        F.explode("prefix").alias("token"),
    )
    a = pre.select(
        F.col("doc_id").alias("doc_a"), "source", "lang", "token",
        F.col("ordered").alias("set_a"), F.col("n").alias("n_a"),
    )
    b = pre.select(
        F.col("doc_id").alias("doc_b"), "source", "lang", "token",
        F.col("ordered").alias("set_b"), F.col("n").alias("n_b"),
    )
    cands = (
        a.join(b, ["source", "lang", "token"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "set_a", "set_b", "n_a", "n_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    verified = cands.select(
        "doc_a",
        "doc_b",
        inter.alias("inter"),
        (F.col("n_a") + F.col("n_b") - inter).alias("uni"),
    ).filter(
        (F.lit(_PPJ_TAU_NUM) + F.lit(_PPJ_TAU_DEN)) * F.col("inter")
        >= F.lit(_PPJ_TAU_NUM) * (F.col("inter") + F.col("uni"))
    )
    return verified.orderBy("doc_a", "doc_b")


QUERIES["ppjoin_similarity"] = ppjoin_similarity

ORACLES["ppjoin_similarity"] = f"""
WITH toks AS (
  SELECT doc_id, source, lang,
         list_distinct({X.tokens_duck('text')}) AS tokens
  FROM documents
  WHERE len(list_distinct({X.tokens_duck('text')})) > 0
),
df_tab AS (
  SELECT token, count(*) AS df
  FROM (SELECT doc_id, unnest(tokens) AS token FROM toks)
  GROUP BY token
),
ordered AS (
  SELECT doc_id, source, lang,
         list_transform(
           list_sort(list({{'df': df, 'token': token}})),
           x -> x['token']) AS ordered
  FROM (SELECT doc_id, source, lang, unnest(tokens) AS token FROM toks)
  JOIN df_tab USING (token)
  GROUP BY doc_id, source, lang
),
pre AS (
  SELECT doc_id, source, lang, ordered, len(ordered) AS n,
         unnest(ordered[1:len(ordered)
                        - CAST(({_PPJ_TAU_NUM} * len(ordered)
                                + {_PPJ_TAU_DEN} - 1) // {_PPJ_TAU_DEN} AS INT)
                        + 1]) AS token
  FROM ordered
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.ordered AS set_a, b.ordered AS set_b, a.n AS n_a, b.n AS n_b
  FROM pre a JOIN pre b
    ON a.source = b.source AND a.lang = b.lang AND a.token = b.token
   AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         len(list_filter(set_a, x -> list_contains(set_b, x))) AS inter,
         n_a + n_b - len(list_filter(set_a, x -> list_contains(set_b, x)))
           AS uni
  FROM cands
)
SELECT doc_a, doc_b, CAST(inter AS INT) AS inter, CAST(uni AS INT) AS uni
FROM verified
WHERE ({_PPJ_TAU_NUM} + {_PPJ_TAU_DEN}) * inter
      >= {_PPJ_TAU_NUM} * (inter + uni)
ORDER BY doc_a, doc_b
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
        .orderBy("day")
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
        .orderBy("day")
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
    ).orderBy("event_id")


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
# training_manifest — capstone: curate -> split -> shard manifest
# ---------------------------------------------------------------------------

def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data manifest, in ONE plan: the
    curation funnel's survivors (quality gate → exact dedup → MinHash
    cluster dedup, the shared ``curation_flags`` stages) are assigned
    train/val/test by the deterministic id-hash gate, and the manifest
    reports per (split, source): documents, tokens, and the estimated
    shard count at the 256-token packing budget — the artifact a
    training launch actually consumes (est = ⌈tokens/budget⌉; the
    exact greedy chunking is ``sequence_packing``).

    Everything before the final dim-sized rollup reuses already-graded
    stages — this key certifies the COMPOSITION, the way a user would
    actually wire the pipeline together.
    """

    d, keptn = curation_flags(spark, sf_dir)
    h = F.expr(X.hash64_spark("cast(doc_id as string) || ':split'")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    survivors = d.filter(keptn).select(
        split.alias("split"), "source", "n_tok"
    )
    return (
        survivors.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .select(
            "split",
            "source",
            "n_docs",
            "total_tokens",
            F.expr(
                f"cast((total_tokens + {_PACK_BUDGET} - 1)"
                f" div {_PACK_BUDGET} as int)"
            ).alias("est_chunks"),
        )
        .orderBy("split", "source")
    )


QUERIES["training_manifest"] = training_manifest

# Curate -> hash split -> shard manifest, over the curation CTE chain
# and the minhash bands.
ORACLES["training_manifest"] = f"""
WITH RECURSIVE qd AS (
  SELECT
    doc_id, source, text,
    len(tokens) AS n_tok,
    length(text) AS n_ch,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_cnt,
    length(regexp_replace(lower(text), '\\s', '', 'g')) AS word_chars,
    {X.stopword_count_duck('tokens', STOPWORDS['en'])} AS stop_cnt
  FROM (SELECT doc_id, source, text, {X.tokens_duck('text')} AS tokens FROM documents)
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
survivors AS (
  SELECT f.doc_id, f.source, f.n_tok
  FROM flag2 f LEFT JOIN clusters c ON f.doc_id = c.node
  WHERE f.keptx AND (c.component IS NULL OR f.doc_id = c.component)
),
split AS (
  SELECT CASE WHEN {X.hash64_duck("cast(doc_id as varchar) || ':split'")} % 100 < 80 THEN 'train'
              WHEN {X.hash64_duck("cast(doc_id as varchar) || ':split'")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         source, n_tok
  FROM survivors
)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST((sum(n_tok) + {_PACK_BUDGET} - 1) // {_PACK_BUDGET} AS INT)
         AS est_chunks
FROM split
GROUP BY split, source
ORDER BY split, source
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
        .orderBy("source")
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
    machinery, round4.py — percentile_disc returns an actual data
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
        .orderBy("bucket")
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
        .orderBy("o_orderstatus", "age_band")
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
# dedup_savings — storage-savings projection of the dedup stack
# ---------------------------------------------------------------------------

def dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-savings projection per source: bytes (chars) retained
    after the quality gate, after exact dedup, and after near-dup
    cluster dedup — the cost-justification readout for running the
    dedup stack at all (corpus_curation counts documents; storage
    planning needs BYTES).

    Reuses the shared curation stage flags — one wide per-doc plan,
    integer char sums, savings in basis points with one integer
    division against the raw total.
    """

    d, keptn = curation_flags(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sized = d.join(docs, "doc_id")
    return (
        sized.groupBy("source")
        .agg(
            F.sum("n_chars").alias("raw_chars"),
            F.coalesce(
                F.sum(F.when(F.col("passq"), F.col("n_chars"))), F.lit(0)
            ).alias("quality_chars"),
            F.coalesce(
                F.sum(F.when(F.col("keptx"), F.col("n_chars"))), F.lit(0)
            ).alias("exact_chars"),
            F.coalesce(F.sum(F.when(keptn, F.col("n_chars"))), F.lit(0)).alias(
                "final_chars"
            ),
        )
        .select(
            "source",
            "raw_chars",
            "quality_chars",
            "exact_chars",
            "final_chars",
            F.expr(
                "cast((raw_chars - final_chars) * 10000 div raw_chars as int)"
            ).alias("savings_bp"),
        )
        .orderBy("source")
    )


QUERIES["dedup_savings"] = dedup_savings

ORACLES["dedup_savings"] = f"""
WITH RECURSIVE qd AS (
  SELECT
    doc_id, source, text,
    len(tokens) AS n_tok,
    length(text) AS n_ch,
    length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS punct_cnt,
    length(regexp_replace(lower(text), '\\s', '', 'g')) AS word_chars,
    {X.stopword_count_duck('tokens', STOPWORDS['en'])} AS stop_cnt
  FROM (SELECT doc_id, source, text, {X.tokens_duck('text')} AS tokens FROM documents)
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
sized AS (
  SELECT f.source, f.passq, f.keptx,
         f.keptx AND (c.component IS NULL OR f.doc_id = c.component) AS keptn,
         d.n_chars
  FROM flag2 f
  LEFT JOIN clusters c ON f.doc_id = c.node
  JOIN documents d ON d.doc_id = f.doc_id
)
SELECT source,
  CAST(sum(n_chars) AS BIGINT) AS raw_chars,
  CAST(coalesce(sum(CASE WHEN passq THEN n_chars END), 0) AS BIGINT)
    AS quality_chars,
  CAST(coalesce(sum(CASE WHEN keptx THEN n_chars END), 0) AS BIGINT)
    AS exact_chars,
  CAST(coalesce(sum(CASE WHEN keptn THEN n_chars END), 0) AS BIGINT)
    AS final_chars,
  CAST((sum(n_chars) - coalesce(sum(CASE WHEN keptn THEN n_chars END), 0))
       * 10000 // sum(n_chars) AS INT) AS savings_bp
FROM sized
GROUP BY source
ORDER BY source
"""
