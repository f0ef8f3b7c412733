"""Vector and text retrieval: exact and approximate nearest-neighbour
indexes (brute force, LSH, IVF, PQ, binary and truncated embeddings)
with their recall evaluations, embedding audits, inverted indexes,
BM25/TF-IDF ranking, fusion, re-ranking, query expansion and ranking
metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X, vectors as V
from pyprima_spark.functions.agg import dec_avg
from pyprima_spark.functions.text import tokens_duck, tokens_spark
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.operators.similarity import (
    cosine_prenorm_col,
    with_lsh_bucket,
    with_vec_norm,
)
from pyprima_spark.operators.similarity import (
    ann_ivf as ivf_op,
    ann_lsh as lsh_op,
    ann_lsh as op_lsh,
    ann_topk as topk_op,
    ann_topk as op_exact,
)
from pyprima_spark.plans.constants import (
    ANN_K,
    ANN_N_QUERIES,
    IVF_CENTROID_IDS,
    IVF_N_PROBE,
)
from pyprima_spark.plans.constants import STOPWORDS as _STOPWORDS
from pyprima_spark.plans.core import _t


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k per query vector (SURVEY §2 #31)."""

    emb = _t(spark, sf_dir, "embeddings")
    return topk_op(emb, ANN_N_QUERIES, ANN_K)


QUERIES["ann_topk"] = ann_topk


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


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN per query vector (SURVEY §2 #32)."""

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_op(emb, ANN_N_QUERIES, ANN_K)


QUERIES["ann_lsh"] = ann_lsh

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
    )


QUERIES["ann_ivf"] = ann_ivf


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
    )


QUERIES["label_centroids"] = label_centroids

ORACLES["label_centroids"] = """
SELECT label, i AS dim, round(sum(CAST(embedding[i + 1] AS DECIMAL(27,6)))::DOUBLE / count(embedding[i + 1]), 5) AS centroid
FROM embeddings, (SELECT unnest(range(64)) AS i) dims
GROUP BY label, i
ORDER BY label, dim
"""


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
    return scored.select("source", "rnk", "term", "tf", "df", "tfidf")


QUERIES["tfidf_top_terms"] = tfidf_top_terms

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


# ---------------------------------------------------------------------------
# bm25_ranking — query-relevance scoring over the corpus
# ---------------------------------------------------------------------------

_BM25_TERMS = ["join", "hash", "scan", "merge"]
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking of the corpus against a query term set
    (SURVEY §2 #91) — the retrieval scorer used to mine training data
    near a topic (quality_score ranks documents absolutely; BM25 ranks
    them against a query).

    Shape at scale: ONE corpus scan computes doc lengths; the token
    explode is filtered to the (tiny, broadcast) query term set BEFORE
    the per-(doc, term) count, so the shuffled key space is
    |query terms| x |matching docs|, never the full token table. The
    corpus-level stats (N, total length) and per-term document
    frequencies are dim-sized broadcasts. Per-term scores round to a
    DECIMAL before the cross-term sum (double addition is
    order-dependent; token_entropy precedent).
    """

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(tokens_spark("text")).alias("toks")
    )
    # The doc-length table feeds THREE consumers (the corpus stats, and
    # the scored join below) — without a boundary each consumer re-runs
    # the corpus tokenize (guide §2.4 duplicate-subtree removal). The
    # materialized form is 2 ints per doc — the narrow side table every
    # BM25 index persists anyway; the tf explode below is the only
    # other tokenize pass left.
    lens = materialize(docs.select("doc_id", F.size("toks").alias("dl")))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    qterms = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "term string"
    )
    # r11 (guide §2.4): tf feeds BOTH the df broadcast and the scored
    # join — without a boundary the corpus tokenize+explode pass ran
    # twice. tf is |query terms| x |matching docs| rows of three
    # narrow columns (the postings slice every BM25 index persists),
    # so the checkpoint is cheap at every scale and leaves ONE
    # tokenize pass in the plan.
    tf = materialize(
        docs.select("doc_id", F.explode("toks").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0
        - _BM25_B
        + _BM25_B
        * F.col("dl")
        / (F.col("total_dl").cast("double") / F.col("n_docs").cast("double"))
    )
    term_score = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom
    per_doc = scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.round(term_score, 8).cast("decimal(18,10)")), 4
        ).cast("double").alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("rank", "doc_id", "bm25", "n_terms_hit")
    )


QUERIES["bm25_ranking"] = bm25_ranking


def _bm25_oracle() -> str:
    terms_sql = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    return f"""
WITH docs AS (
  SELECT doc_id, {tokens_duck('text')} AS toks FROM documents
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM docs
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens
), qterms(term) AS (VALUES {terms_sql}),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
  JOIN qterms USING (term)
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), per_term AS (
  SELECT doc_id,
         round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({_BM25_K1} + 1.0))
           / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl
              / (total_dl::DOUBLE / n_docs::DOUBLE))), 8) AS s
  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
), per_doc AS (
  SELECT doc_id,
         round(sum(CAST(s AS DECIMAL(18,10))), 4)::DOUBLE AS bm25,
         count(*) AS n_terms_hit
  FROM per_term GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank,
       doc_id, bm25, n_terms_hit
FROM per_doc
QUALIFY rank <= 20
ORDER BY rank
"""

ORACLES["bm25_ranking"] = _bm25_oracle()


# ---------------------------------------------------------------------------
# vector_quantize_sq — int8 scalar quantization + reconstruction error
# ---------------------------------------------------------------------------

def vector_quantize_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding table
    with a reconstruction-error report per label (SURVEY §2 #100) — the
    compression step ANN indexes (IVF-SQ8) apply before the similarity
    ops in operators/similarity.py, here with the error audit that
    decides whether SQ8 is safe for a corpus.

    Layout: one posexplode to long (vec_id, dim, v) form; per-dim
    min/max is a map-combined agg whose output (n_dims rows) BROADCASTS
    back — the fact side shuffles once for the label rollup and never
    for calibration. Quantization/dequantization is row-local integer
    math; squared errors ride a DECIMAL sum (double sums are partition-
    order dependent; agg.py).
    """
    emb = _t(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    bounds = long.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    q = F.when(
        F.col("hi") > F.col("lo"),
        F.round((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255.0),
    ).otherwise(F.lit(0.0))
    joined = long.join(F.broadcast(bounds), "dim").withColumn("q", q)
    err = F.col("v") - (
        F.col("lo") + F.col("q") / 255.0 * (F.col("hi") - F.col("lo"))
    )
    return (
        joined.withColumn("se", (err * err).cast("decimal(18,12)"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_elems"),
            F.round(
                F.sum("se").cast("double") / F.count(F.lit(1)), 10
            ).alias("mse"),
        )
    )


QUERIES["vector_quantize_sq"] = vector_quantize_sq

ORACLES["vector_quantize_sq"] = """
WITH long AS (
  SELECT vec_id, label, CAST(i AS INT) AS dim,
         CAST(embedding[i + 1] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range(64)) AS i) dims
), bounds AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM long GROUP BY dim
), quant AS (
  SELECT label,
         v - (lo + (CASE WHEN hi > lo
                         THEN round((v - lo) / (hi - lo) * 255.0)
                         ELSE 0.0 END) / 255.0 * (hi - lo)) AS err
  FROM long JOIN bounds USING (dim)
)
SELECT label, count(*) AS n_elems,
       round(sum(CAST(err * err AS DECIMAL(18,12)))::DOUBLE / count(*), 10) AS mse
FROM quant GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# ann_pq — product-quantization ANN (asymmetric distance computation)
# ---------------------------------------------------------------------------
# Completes the ANN taxonomy next to brute-force (ann_topk), hyperplane
# LSH (ann_lsh), and IVF (ann_ivf): PQ compresses each vector to M
# subspace code ids against per-subspace codebooks, and queries rank
# candidates by ADC — the sum of precomputed query->centroid distances
# looked up by code. Codebooks here are deterministic fixed-id vector
# slices (the oracle-replicable stand-in for a trained KMeans codebook —
# ann_ivf precedent; every downstream stage is identical either way).

PQ_SUBS = 4
PQ_SUBDIM = 16
PQ_K = 16


def _pq_centroid_ids() -> list[int]:
    return [ANN_N_QUERIES + 11 * i for i in range(PQ_K)]


_L2SQ_SPARK = (
    "aggregate(zip_with(svec, cvec, (x, y) -> (x - y) * (x - y)), 0D,"
    " (acc, v) -> acc + v)"
)


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC ranking (SURVEY §2 #113).

    Scale shape — the reason PQ exists: vectors are ENCODED once (a
    16-row broadcast codebook join + per-(vector, subspace) argmin, all
    map-side), after which similarity search never touches the raw
    vectors again — the candidate scan ranks 8-bit codes against a
    10x16 broadcast distance table. Distances fold sequentially over
    ascending indices in both engines (functions/vectors.py), rounded
    to 6dp before every rank; argmin ties break on centroid id.
    """

    emb = _t(spark, sf_dir, "embeddings")
    # Unit-normalize first: on normalized vectors L2^2 = 2 - 2cos, so
    # ADC's L2 ranking is rank-equivalent to the cosine the rest of the
    # ANN family ranks by (and what makes PQ usable for cosine search).
    base = (
        emb.select(
            "vec_id", F.expr(V.to_double_spark("embedding")).alias("raw")
        )
        .withColumn("nrm", F.expr(V.norm_spark("raw")))
        .filter(F.col("nrm") > 0)
        .select(
            "vec_id", F.expr("transform(raw, x -> x / nrm)").alias("vec")
        )
    )
    subsplit = base.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("vec", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                            "svec"
                        ),
                    )
                    for s in range(PQ_SUBS)
                ]
            )
        ).alias("ss"),
    ).select("vec_id", "ss.sub", "ss.svec")
    cents = subsplit.filter(
        F.col("vec_id").isin(_pq_centroid_ids())
    ).select(
        F.col("vec_id").alias("cid"), "sub", F.col("svec").alias("cvec")
    )
    d6 = F.round(F.expr(_L2SQ_SPARK), 6)
    wmin = Window.partitionBy("vec_id", "sub").orderBy(
        F.asc("d"), F.asc("cid")
    )
    codes = (
        subsplit.join(F.broadcast(cents), "sub")
        .withColumn("d", d6)
        .withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )
    dtab = (
        subsplit.filter(F.col("vec_id") < ANN_N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "sub", "svec")
        .join(F.broadcast(cents), "sub")
        .select("query_id", "sub", "cid", d6.alias("qd"))
    )
    adc = (
        codes.join(F.broadcast(dtab), ["sub", "cid"])
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd"), 6).alias("adc"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc", F.col("rank").cast("int").alias("rank"))
    )


QUERIES["ann_pq"] = ann_pq


def _ann_pq_oracle() -> str:
    ids = ", ".join(str(i) for i in _pq_centroid_ids())
    sub_selects = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub,"
        f" vec[{s * PQ_SUBDIM + 1}:{(s + 1) * PQ_SUBDIM}] AS svec FROM base"
        for s in range(PQ_SUBS)
    )
    l2 = (
        f"list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),"
        " i -> (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i])))"
    )

    norm = V.norm_duck("raw", V.EMB_DIM)
    return f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS raw,
         {norm} AS nrm
  FROM embeddings
), base AS (
  SELECT vec_id, list_transform(raw, x -> x / nrm) AS vec
  FROM raw WHERE nrm > 0
), subsplit AS ({sub_selects}),
cents AS (
  SELECT vec_id AS cid, sub, svec AS cvec FROM subsplit
  WHERE vec_id IN ({ids})
), dists AS (
  SELECT v.vec_id, v.sub, c.cid, round({l2}, 6) AS d
  FROM subsplit v JOIN cents c ON v.sub = c.sub
), codes AS (
  SELECT vec_id, sub, cid FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) = 1
), dtab AS (
  SELECT vec_id AS query_id, sub, cid, d AS qd FROM dists
  WHERE vec_id < {ANN_N_QUERIES}
), adc AS (
  SELECT t.query_id, e.vec_id, round(sum(t.qd), 6) AS adc
  FROM codes e JOIN dtab t ON e.sub = t.sub AND e.cid = t.cid
  WHERE e.vec_id <> t.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id, adc,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY adc, vec_id) AS INT) AS rank
FROM adc
QUALIFY rank <= 10
ORDER BY query_id, rank
"""

ORACLES["ann_pq"] = _ann_pq_oracle()


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
    )


QUERIES["ann_recall_eval"] = ann_recall_eval

ORACLES["ann_recall_eval"] = f"""
WITH exact AS ({ORACLES['ann_topk']}),
approx AS ({ORACLES['ann_lsh']})
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
# embedding_norm_audit — vector hygiene census per label
# ---------------------------------------------------------------------------

def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-hygiene gate (SURVEY §2 #179): before building any ANN
    index, audit the embedding column per label — dimension
    consistency (a ragged dim breaks every dot product), zero vectors
    (undefined cosine), and the norm range. One narrow scan; the norm
    is the proven functions/vectors.py fold (same expression the green
    ANN oracles use, so min/max doubles are bit-identical across
    engines); no rounding anywhere — min/max of identical doubles is
    deterministic, unlike their mean.

    The synthetic embeddings table is perfectly clean, so (pii_scan
    precedent) a deterministic planted-defect layer
    gives the audit something real to find at every test scale:
    vec_id % 97 == 0 is zeroed, vec_id % 101 == 0 loses its last
    element — the audit itself is the operator.
    """
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select(
        "vec_id",
        "label",
        F.when(
            F.col("vec_id") % 97 == 0,
            F.expr("transform(embedding, x -> float(0.0))"),
        )
        .when(
            F.col("vec_id") % 101 == 0,
            F.expr("slice(embedding, 1, size(embedding) - 1)"),
        )
        .otherwise(F.col("embedding"))
        .alias("body"),
    )
    audited = planted.select(
        "label",
        F.size("body").alias("dim"),
        F.expr(V.norm_spark(V.to_double_spark("body"))).alias("nrm"),
    )
    return (
        audited.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("dim").alias("dim_min"),
            F.max("dim").alias("dim_max"),
            F.sum((F.col("nrm") == 0.0).cast("int")).alias("n_zero"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


QUERIES["embedding_norm_audit"] = embedding_norm_audit

# Dim known at plan time on the oracle side only through len();
# norm_duck needs the per-row length, so use len(body) inline.
ORACLES["embedding_norm_audit"] = f"""
WITH planted AS (
  SELECT label,
         CASE WHEN vec_id % 97 = 0
                THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
              WHEN vec_id % 101 = 0
                THEN embedding[1:len(embedding) - 1]
              ELSE embedding END AS body
  FROM embeddings
),
audited AS (
  SELECT label, len(body) AS dim,
         {V.norm_duck(V.to_double_duck('body'), 'len(body)')} AS nrm
  FROM planted
)
SELECT label, count(*) AS n_vecs,
       min(dim) AS dim_min, max(dim) AS dim_max,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       min(nrm) AS min_norm, max(nrm) AS max_norm
FROM audited GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# doc_window_chunks — overlapping token-window chunking census
# ---------------------------------------------------------------------------

_CHUNK_W = 96  # window width (tokens)
_CHUNK_S = 64  # stride (tokens) -> 32-token overlap


def doc_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking census (SURVEY §2 #183) — the
    retrieval/RAG counterpart of sequence_packing: packing JOINS short
    docs into fixed budgets, this SPLITS long docs into width-W
    windows every S tokens (W−S token overlap keeps context across
    boundaries). The census is what an embedding-index build needs to
    size itself: windows per source, total windowed tokens (duplicated
    overlap included), and the duplication factor the overlap costs.

    Entirely row-local integer arithmetic — window count is a closed
    form, the windowed-token total is one `aggregate` HOF over
    sequence(0, n_windows−1) (no explode, nothing leaves the row until
    the final one-shuffle census). At 100 TB this is the cheapest
    possible shape: one narrow scan, one map-combined aggregation.
    """
    docs = _t(spark, sf_dir, "documents")
    W, S = _CHUNK_W, _CHUNK_S
    per_doc = docs.select(
        "source",
        F.size(F.expr(X.tokens_spark("text"))).alias("n_tok"),
    ).select(
        "source",
        "n_tok",
        F.expr(
            f"case when n_tok = 0 then 0 else "
            f"1 + (greatest(n_tok - {W}, 0) + {S} - 1) div {S} end"
        ).alias("n_windows"),
    ).select(
        "source",
        "n_tok",
        "n_windows",
        # Guarded: sequence(0, -1) would generate a DESCENDING range.
        F.expr(
            f"case when n_windows = 0 then 0L else"
            f" aggregate(sequence(0, n_windows - 1), 0L,"
            f" (acc, i) -> acc + least({W}, n_tok - i * {S})) end"
        ).alias("win_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("n_windows").alias("windows"),
            F.sum("win_tokens").alias("windowed_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "tokens",
            "windows",
            "windowed_tokens",
            F.expr("cast(windowed_tokens * 10000 div tokens as int)").alias(
                "dup_bp"
            ),
        )
    )


QUERIES["doc_window_chunks"] = doc_window_chunks

ORACLES["doc_window_chunks"] = f"""
WITH per_doc AS (
  SELECT source, n_tok,
         CASE WHEN n_tok = 0 THEN 0 ELSE
           1 + (greatest(n_tok - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
               // {_CHUNK_S} END AS n_windows
  FROM (
    SELECT source, len({X.tokens_duck('text')}) AS n_tok FROM documents
  )
),
w AS (
  SELECT source, n_tok, n_windows,
         CASE WHEN n_windows = 0 THEN 0 ELSE
           list_sum(list_transform(generate_series(0, n_windows - 1),
             i -> least({_CHUNK_W}, n_tok - i * {_CHUNK_S}))) END
           AS win_tokens
  FROM per_doc
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       CAST(sum(n_windows) AS BIGINT) AS windows,
       CAST(sum(win_tokens) AS BIGINT) AS windowed_tokens,
       CAST(sum(win_tokens) * 10000 // sum(n_tok) AS INT) AS dup_bp
FROM w GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# champion_postings — bounded inverted-index build (top-k posting lists)
# ---------------------------------------------------------------------------

_CHAMP_K = 10  # champion-list width (Manning/IR "champion lists")


def champion_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed inverted-index build with CHAMPION LISTS (SURVEY §2
    #185): per term, document frequency, corpus frequency, and the
    top-``_CHAMP_K`` postings ranked by within-doc term frequency —
    the bounded index artifact retrieval systems precompute so query
    time never scans a full posting list (reference analogue: the
    lookup tables pyPRIMA precomputes per commodity,
    generate_intermediate_files.py's assign_values_based_on_series
    pattern of value→member lists).

    Scale shape: the term-doc matrix (one exact groupBy, map-side
    combinable) is materialized ONCE — it is the index build's real
    artifact and both consumers (per-term stats, champion election)
    read it. Champions use row_number ≤ k, which Spark 4 plans as
    WindowGroupLimit: each map task keeps only its local top-k per
    term BEFORE the shuffle, so stopword-sized partitions never
    materialize on one reducer for the election (the per-term stats
    aggregate is a plain partial-aggregated groupBy and has no such
    skew exposure). Posting lists ride as ``doc:tf`` CSV strings capped
    at k entries — output is vocab-sized, never corpus-sized.
    """
    docs = _t(spark, sf_dir, "documents")
    tf = materialize(
        docs.select(
            "doc_id", F.explode(F.expr(X.tokens_spark("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    champs = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CHAMP_K)
        .groupBy("term")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(rn, doc_id, tf))), "
                "s -> cast(s.doc_id as string) || ':' || cast(s.tf as string)), ',')"
            ).alias("champions")
        )
    )
    return stats.join(champs, "term")


QUERIES["champion_postings"] = champion_postings

ORACLES["champion_postings"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({X.tokens_duck('text')}) AS term FROM documents
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
r AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
  FROM tf
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       string_agg(
         CASE WHEN rn <= {_CHAMP_K}
              THEN doc_id::VARCHAR || ':' || tf::VARCHAR END,
         ',' ORDER BY rn) AS champions
FROM r GROUP BY term ORDER BY term
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
    )


QUERIES["ndcg_eval"] = ndcg_eval


_NDCG_REL_DUCK = X.hash64_duck("CAST(vec_id AS VARCHAR) || ':rel'")


_NDCG_W_SQL = ", ".join(str(w) for w in _NDCG_W)

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
    )


QUERIES["embedding_covariance"] = embedding_covariance

_cov_pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]

ORACLES["embedding_covariance"] = f"""
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


QUERIES["binary_hamming_recall"] = binary_hamming_recall

ORACLES["binary_hamming_recall"] = f"""
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
    )


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
    )


QUERIES["postings_compression_estimate"] = postings_compression_estimate

ORACLES["postings_compression_estimate"] = f"""
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
# rake_keywords — RAKE keyphrase extraction per source
# ---------------------------------------------------------------------------

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
    )


QUERIES["rake_keywords"] = rake_keywords

_rake_stops_sql = ", ".join(f"'{w}'" for w in _RAKE_STOPS)

ORACLES["rake_keywords"] = f"""
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
# mmr_diversification — maximal marginal relevance re-ranking
# ---------------------------------------------------------------------------

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
    cand_rows = bounded_collect(
        cands.select("query_id", "cand_id", "rel_ppm"),
        _MMR_QUERIES * _MMR_CANDS,
        "mmr_diversification: candidate census",
    )
    sim_rows = bounded_collect(
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
    )


QUERIES["mmr_diversification"] = mmr_diversification


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

ORACLES["mmr_diversification"] = _mmr_oracle()


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
    )


QUERIES["query_expansion_prf"] = query_expansion_prf

_prf_terms_sql = ", ".join(f"'{t}'" for t in _PRF_TERMS)

ORACLES["query_expansion_prf"] = f"""
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
    mrow = bounded_collect(
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


QUERIES["pca_power_iteration"] = pca_power_iteration


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

ORACLES["pca_power_iteration"] = _pca_oracle()


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


QUERIES["fagin_ta_depth"] = fagin_ta_depth

ORACLES["fagin_ta_depth"] = f"""
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
