"""Training-corpus curation: language ID, quality and repetition
signals, tokenizer censuses, PII scan and redaction, decontamination,
sampling, mixing, packing and shuffling, the multimodal decoders, and
the end-to-end curation pipeline with its WARC and TFRecord legs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.functions.agg import dec_avg
from pyprima_spark.functions.text import (
    hash64_duck,
    hash64_spark,
    normtext_duck,
    normtext_spark,
    tokens_duck,
    tokens_spark,
)
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect
from pyprima_spark.operators.multimodal import (
    attach_fake_media,
    audio_features,
    decode_media,
    frame_sample,
    jpeg_features_roundtrip,
    png_features_roundtrip,
    resize_stub,
)
from pyprima_spark.pipeline import export_curated_tfrecord, ingest_warc
from pyprima_spark.plans.constants import STOPWORDS
from pyprima_spark.plans.core import (
    _minhash_bands_cte,
    _quality_frame,
    _t,
    curation_flags,
)
from pyprima_spark.sources import fsio
from pyprima_spark.sources.tfrecord import read_tfrecord, write_tfrecord_shards
from pyprima_spark.sources.warc import read_warc, write_warc_shards


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


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
    )


QUERIES["lang_id"] = lang_id


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


QUERIES["quality_score"] = quality_score

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
    )


QUERIES["token_count"] = token_count

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


QUERIES["multimodal_decode"] = multimodal_decode

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
    )


QUERIES["quality_topk_per_source"] = quality_topk_per_source

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
    )


QUERIES["deterministic_sample"] = deterministic_sample

ORACLES["deterministic_sample"] = f"""
SELECT doc_id, source,
       5 + (cast(substring(source, 4) AS INT) % 4) * 15 AS rate
FROM documents
WHERE {X.hash64_duck("cast(doc_id AS VARCHAR)")} % 100
      < 5 + (cast(substring(source, 4) AS INT) % 4) * 15
ORDER BY doc_id
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling stub: k evenly spaced frame fingerprints per
    payload via mapInPandas (one output row per frame)."""

    docs = _t(spark, sf_dir, "documents")
    return frame_sample(attach_fake_media(docs))


QUERIES["multimodal_frames"] = multimodal_frames

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


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature-extraction stub over the binary payload column."""

    docs = _t(spark, sf_dir, "documents")
    return audio_features(attach_fake_media(docs))


QUERIES["multimodal_audio"] = multimodal_audio

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
    )


QUERIES["token_entropy"] = token_entropy

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
    )


QUERIES["corpus_curation"] = corpus_curation


# Curation funnel: quality gate -> exact dedup -> minhash-cluster dedup.
# The quality CTE mirrors ORACLES["quality_score"]'s expressions
# verbatim (bit-identical rational arithmetic); the gate compares the
# RAW score — rounding first could hit exact-.5 dyadic ties where the
# engines' rounding modes differ. All outputs are integer counts.
# Parameterized over the docs relation so the pipeline oracle
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


# ---------------------------------------------------------------------------
# doc_repetition — Gopher-style repetition signals per document
# ---------------------------------------------------------------------------

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals for corpus filtering: duplicate
    trigram fraction and most-common-token share (the Gopher/C4 class
    of quality gates; complements quality_score's length/punct gates).

    Scale shape: the trigram stats are ROW-LOCAL array expressions (no
    explode — nothing is materialized per-gram); only the top-token
    branch explodes, and its two aggregations both key on doc_id /
    (doc_id, tok), so the corpus shuffles once. The final join is
    doc_id-keyed on both sides.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.expr(tokens_spark("text")).alias("t"))
    a = base.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.expr(
            "CASE WHEN size(t) < 3 THEN 0 ELSE "
            "size(t) - 2 - size(array_distinct(transform(sequence(0, size(t) - 3), "
            "i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) END"
        ).alias("dup3"),
    )
    b = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("max_cnt"))
    )
    return (
        a.join(b, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.round(
                F.when(F.col("n_tok") < 3, F.lit(0.0)).otherwise(
                    F.col("dup3") / (F.col("n_tok") - 2)
                ),
                4,
            ).alias("dup_3gram_frac"),
            F.round(
                F.when(F.col("n_tok") == 0, F.lit(0.0)).otherwise(
                    F.coalesce(F.col("max_cnt"), F.lit(0)) / F.col("n_tok")
                ),
                4,
            ).alias("top_token_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_3gram_frac") <= 0.2) & (F.col("top_token_frac") <= 0.3),
        )
    )


QUERIES["doc_repetition"] = doc_repetition

ORACLES["doc_repetition"] = f"""
WITH base AS (SELECT doc_id, {tokens_duck('text')} AS t FROM documents),
a AS (
  SELECT doc_id, len(t) AS n_tok,
    CASE WHEN len(t) < 3 THEN 0 ELSE
      len(t) - 2 - len(list_distinct(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) END AS dup3
  FROM base
),
b AS (
  SELECT doc_id, max(cnt) AS max_cnt FROM (
    SELECT doc_id, tok, count(*) AS cnt
    FROM (SELECT doc_id, unnest(t) AS tok FROM base) GROUP BY 1, 2
  ) GROUP BY 1
),
j AS (
  SELECT a.doc_id, n_tok,
    round(CASE WHEN n_tok < 3 THEN 0.0 ELSE dup3 / (n_tok - 2) END, 4)
      AS dup_3gram_frac,
    round(CASE WHEN n_tok = 0 THEN 0.0
               ELSE coalesce(max_cnt, 0) / n_tok END, 4) AS top_token_frac
  FROM a LEFT JOIN b ON a.doc_id = b.doc_id
)
SELECT *, (dup_3gram_frac <= 0.2 AND top_token_frac <= 0.3) AS keep
FROM j ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# sample_split — deterministic hash train/val/test split
# ---------------------------------------------------------------------------

def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-free
    md5(doc_id) bucketing — reproducible across engines, runs, and
    cluster sizes (no sampling RNG, no shuffle beyond the final small
    agg). The split every training pipeline needs to be stable under
    re-ingestion.
    """

    docs = _t(spark, sf_dir, "documents")
    h = F.expr(hash64_spark("cast(doc_id as string) || ':split'")) % 100
    return (
        docs.withColumn(
            "split",
            F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


QUERIES["sample_split"] = sample_split


def _hash64_duck_split() -> str:
    return hash64_duck("cast(doc_id as varchar) || ':split'")

ORACLES["sample_split"] = f"""
WITH s AS (
  SELECT *, CASE WHEN {_hash64_duck_split()} % 100 < 80 THEN 'train'
                 WHEN {_hash64_duck_split()} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
  FROM documents
)
SELECT source, split, count(*) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# corpus_novelty — per-ingestion-batch new-fingerprint rate
# ---------------------------------------------------------------------------

def corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve over ingestion batches: what fraction of each
    batch's distinct fingerprints was never seen in ANY earlier batch.
    The monitoring signal every growing corpus needs (diminishing
    novelty = the crawl is saturating).

    No cumulative self-join: a fingerprint's first batch is min(batch)
    per fingerprint (one agg), and a batch's novelty is then a count
    over that tiny table — two map-combined aggregations total,
    regardless of corpus size. doc_id div 100 stands in for the
    ingestion-batch id of the test corpus.
    """

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        (F.col("doc_id") / 100).cast("int").alias("batch"),
        F.md5(F.expr(normtext_spark("text"))).alias("fp"),
    ).distinct()
    per_batch = fp.groupBy("batch").agg(F.count(F.lit(1)).alias("n_fps"))
    first_seen = (
        fp.groupBy("fp")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    return (
        per_batch.join(first_seen, "batch", "left")
        .select(
            "batch",
            "n_fps",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.round(
                F.coalesce("n_new", F.lit(0)) / F.col("n_fps"), 4
            ).alias("novelty_rate"),
        )
    )


QUERIES["corpus_novelty"] = corpus_novelty


def _novelty_oracle() -> str:
    return f"""
WITH fp AS (
  SELECT DISTINCT cast(doc_id // 100 AS INT) AS batch,
         md5({normtext_duck('text')}) AS fp
  FROM documents
),
per_batch AS (SELECT batch, count(*) AS n_fps FROM fp GROUP BY batch),
first_seen AS (
  SELECT batch, count(*) AS n_new FROM (
    SELECT fp, min(batch) AS batch FROM fp GROUP BY fp
  ) GROUP BY batch
)
SELECT p.batch, n_fps, coalesce(n_new, 0) AS n_new,
       round(coalesce(n_new, 0) / n_fps, 4) AS novelty_rate
FROM per_batch p LEFT JOIN first_seen f ON p.batch = f.batch
ORDER BY p.batch
"""

ORACLES["corpus_novelty"] = _novelty_oracle()


# ---------------------------------------------------------------------------
# pii_scan — regex PII detection census per source
# ---------------------------------------------------------------------------

_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection census per source (SURVEY §2 #92): regex scans for
    email/phone patterns — the pre-redaction audit every corpus release
    runs. The synthetic corpus carries no contact strings, so a
    deterministic planted-PII layer (doc_id-derived, explicit below)
    exercises real match counts; the scan itself is the operator.

    JVM-side ``regexp_count`` inside codegen — one narrow pass, one
    (source) aggregation; no Python in the loop. Patterns restricted to
    the regex subset Java and RE2 interpret identically.
    """
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "body",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" tel 555-010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return (
        planted.select(
            "source",
            F.regexp_count("body", F.lit(_PII_EMAIL)).alias("n_email"),
            F.regexp_count("body", F.lit(_PII_PHONE)).alias("n_phone"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_email") > 0).cast("int")).alias("docs_with_email"),
            F.sum("n_email").alias("email_matches"),
            F.sum((F.col("n_phone") > 0).cast("int")).alias("docs_with_phone"),
            F.sum("n_phone").alias("phone_matches"),
        )
    )


QUERIES["pii_scan"] = pii_scan

ORACLES["pii_scan"] = f"""
WITH planted AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS body
  FROM documents
), counted AS (
  SELECT source,
         len(regexp_extract_all(body, '{_PII_EMAIL}')) AS n_email,
         len(regexp_extract_all(body, '{_PII_PHONE}')) AS n_phone
  FROM planted
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(n_email) AS BIGINT) AS email_matches,
       CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(sum(n_phone) AS BIGINT) AS phone_matches
FROM counted GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# heavy_hitters — exact global top-k frequent tokens
# ---------------------------------------------------------------------------

def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most frequent tokens across the corpus (SURVEY §2
    #93) — vocabulary head inspection / stop-list derivation.

    Scale shape: explode -> groupBy(token) is map-side combined (partial
    counts per partition), so the shuffle carries |vocab| rows, not
    |tokens|; the global top-k then compiles to TakeOrderedAndProject
    (per-partition top-k heaps, no full sort). Ties break on the token
    string for determinism.
    """

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(tokens_spark("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


QUERIES["heavy_hitters"] = heavy_hitters


def _heavy_hitters_oracle() -> str:
    return f"""
SELECT token, count(*) AS n
FROM (SELECT unnest({tokens_duck('text')}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""

ORACLES["heavy_hitters"] = _heavy_hitters_oracle()


# ---------------------------------------------------------------------------
# cooccurrence_pmi — pointwise mutual information over co-occurring terms
# ---------------------------------------------------------------------------

_PMI_VOCAB_K = 40  # co-occurrence restricted to the top-K vocabulary
_PMI_MIN_PAIRS = 5


def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI term pairs across the corpus (SURVEY §2 #95) — phrase /
    collocation mining for tokenizer and topic analysis.

    Scale discipline: naive co-occurrence is |doc_vocab|^2 per document.
    The pair space is bounded FIRST by restricting to the top-K global
    vocabulary (a dim-sized broadcast: one map-combined count, then a
    per-partition top-K merged to K rows, so no task ever holds the
    whole vocabulary), so the per-doc fanout is <= K^2/2 regardless of document
    length — the same candidate-bounding discipline as every LSH band
    join. The (doc, term) incidence table is materialized once before
    its self-join (alias renames below the exchanges defeat reuse,
    SURVEY §6). PMI's ln() runs once per surviving pair on integer
    counts; rounded at the output edge.
    """

    docs = _t(spark, sf_dir, "documents")
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # The distinct (doc, term) incidence feeds BOTH the vocab aggregate
    # and the vocab join below; without a boundary the explode+distinct
    # shuffle of the full token table ran once per consumer
    # (guide §2.4, duplicate subtree).
    tok = materialize(
        docs.select(
            "doc_id", F.explode(F.expr(tokens_spark("text"))).alias("term")
        ).distinct()
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(_PMI_VOCAB_K)
        .select("term", F.col("cnt").alias("c_term"))
    )
    inc = materialize(tok.join(F.broadcast(vocab), "term"))
    a = inc.select(
        "doc_id", F.col("term").alias("term_a"), F.col("c_term").alias("c_a")
    )
    b = inc.select(
        "doc_id", F.col("term").alias("term_b"), F.col("c_term").alias("c_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "c_a", "c_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    pmi = F.round(
        F.log(
            F.col("n_ab").cast("double")
            * F.col("n_docs").cast("double")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        ),
        4,
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b"))
    return (
        pairs.crossJoin(F.broadcast(n_docs_df))
        .withColumn("pmi", pmi)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("rank", "term_a", "term_b", "n_ab", "pmi")
    )


QUERIES["cooccurrence_pmi"] = cooccurrence_pmi


def _pmi_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({tokens_duck('text')}) AS term
  FROM documents
), vocab AS (
  SELECT term, count(*) AS c_term
  FROM tok GROUP BY term
  ORDER BY c_term DESC, term LIMIT {_PMI_VOCAB_K}
), inc AS (
  SELECT doc_id, term, c_term FROM tok JOIN vocab USING (term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, a.c_term AS c_a,
         b.c_term AS c_b, count(*) AS n_ab
  FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= {_PMI_MIN_PAIRS}
), scored AS (
  SELECT term_a, term_b, n_ab,
         round(ln(n_ab::DOUBLE * (SELECT count(*) FROM documents)::DOUBLE
                  / (c_a::DOUBLE * c_b::DOUBLE)), 4) AS pmi
  FROM pairs
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, term_a, term_b) AS INT) AS rank,
       term_a, term_b, n_ab, pmi
FROM scored
QUALIFY rank <= 20
ORDER BY rank
"""

ORACLES["cooccurrence_pmi"] = _pmi_oracle()


# ---------------------------------------------------------------------------
# charset_stats — character-class composition per source
# ---------------------------------------------------------------------------

_CHARSET_CLASSES = [
    ("digit", "[0-9]"),
    ("space", "[ ]"),
    ("punct", "[.,;:!?]"),
]


def charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source (SURVEY §2 #102) — the
    encoding/garbage screen next to lang_id and quality_score (a source
    whose digit or punctuation mass spikes is markup, tables, or
    mojibake, not prose).

    Class counts are computed row-locally as length deltas under
    regexp_replace (JVM regex inside codegen, one narrow pass); the
    per-source rollup sums exact BIGINTs and emits each ratio as ONE
    correctly-rounded division. Patterns stay in the character-class
    subset Java and RE2 treat identically.
    """
    docs = _t(spark, sf_dir, "documents")
    counts = docs.select(
        "source",
        F.length("text").alias("total"),
        *[
            (
                F.length("text")
                - F.length(F.regexp_replace("text", pat, ""))
            ).alias(name)
            for name, pat in _CHARSET_CLASSES
        ],
    )
    sums = counts.groupBy("source").agg(
        F.sum("total").alias("n_chars"),
        *[F.sum(name).alias(f"n_{name}") for name, _ in _CHARSET_CLASSES],
    )
    return sums.select(
        "source",
        "n_chars",
        *[
            F.round(
                F.col(f"n_{name}").cast("double") / F.col("n_chars"), 6
            ).alias(f"{name}_ratio")
            for name, _ in _CHARSET_CLASSES
        ],
    )


QUERIES["charset_stats"] = charset_stats


def _charset_oracle() -> str:
    class_counts = ", ".join(
        f"sum(length(text) - length(regexp_replace(text, '{pat}', '', 'g'))) AS n_{name}"
        for name, pat in _CHARSET_CLASSES
    )
    ratios = ", ".join(
        f"round(n_{name}::DOUBLE / n_chars, 6) AS {name}_ratio"
        for name, _ in _CHARSET_CLASSES
    )
    return f"""
WITH sums AS (
  SELECT source, sum(length(text)) AS n_chars, {class_counts}
  FROM documents GROUP BY source
)
SELECT source, CAST(n_chars AS BIGINT) AS n_chars, {ratios}
FROM sums ORDER BY source
"""

ORACLES["charset_stats"] = _charset_oracle()


# ---------------------------------------------------------------------------
# blocklist_filter — wordlist content gate census
# ---------------------------------------------------------------------------

_BLOCKLIST = ["slow", "crash", "leak"]


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist content-filter census per source (SURVEY §2 #110) —
    the wordlist gate every corpus release runs (profanity / policy
    lists); here counting per source: documents flagged (>= 1 hit) and
    total hits. The membership count is a row-local aggregate() HOF over
    the token array against an inlined (broadcast-literal) list — no
    explode, no join, whole-stage codegen; lists too big to inline ride
    a broadcast join instead.
    """

    docs = _t(spark, sf_dir, "documents")
    hits = F.expr(
        X.stopword_count_spark(X.tokens_spark("text"), _BLOCKLIST)
    )
    return (
        docs.select("source", hits.alias("hits"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("hits") > 0).cast("int")).alias("flagged_docs"),
            F.sum("hits").alias("total_hits"),
        )
    )


QUERIES["blocklist_filter"] = blocklist_filter


def _blocklist_oracle() -> str:
    hits = X.stopword_count_duck(X.tokens_duck("text"), _BLOCKLIST)
    return f"""
WITH counted AS (SELECT source, {hits} AS hits FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged_docs,
       CAST(sum(hits) AS BIGINT) AS total_hits
FROM counted GROUP BY source ORDER BY source
"""

ORACLES["blocklist_filter"] = _blocklist_oracle()


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
    )


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
# decontaminate_ngrams — exact 8-gram cross-split leakage census
# ---------------------------------------------------------------------------

_DECON_K = 8  # n-gram width; published decontamination uses 8–13


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram decontamination audit (SURVEY §2 #174): for every
    held-out (val/test) document, how many of its distinct 8-grams
    also appear anywhere in the TRAIN split? The exact-overlap method
    used to decontaminate published LLM training sets — a sharper
    complement to the MinHash doc-level check (holdout_contamination):
    MinHash finds near-duplicate DOCUMENTS; this finds verbatim SPAN
    leakage even when the documents differ.

    Scale shape: n-grams ride as 60-bit hashes only (never strings),
    distinct-per-doc before any join, and the train side is reduced to
    a DISTINCT hash set before the equi-join — so the join is
    hash-key-partitioned corpus-vs-corpus with no pairwise doc blowup.
    The train set is NOT broadcast: at 100 TB it is itself huge, and a
    shuffle equi-join on a uniform 60-bit key is the right plan.
    Census per source: eval docs, contaminated docs (≥1 leaked gram),
    leaked/total distinct grams, leak rate in basis points.

    Split gate matches holdout_contamination (hash64(doc_id||':split')
    % 100: <80 train, else eval) so the two audits describe the same
    partition of the corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    h = F.expr(X.hash64_spark("cast(doc_id as string) || ':split'")) % 100
    # Shape matters enormously here (measured at sf0.1): tokens land as
    # a COLUMN, a size filter sits between the token project and the
    # generator, and explode takes the shingle EXPRESSION directly —
    # 0.6 s. Staging the shingle array as its own column in a separate
    # select lets project-collapse wrap the generator so the array
    # expression re-evaluates per OUTPUT row: 46 s for the identical
    # result (the minhash band table, dedup.py:60, documents the same
    # trap family). The filter drops docs with < k tokens, whose
    # shingle array is empty (explode drops them anyway); short eval
    # docs re-enter the census from the metadata-only scan below.
    #
    # The exploded hash table is then the op's signature table:
    # materialized ONCE (the parquet write a production
    # decontamination persists), read by the train set, the eval side,
    # and the per-doc totals — without the boundary the derivation
    # runs three times (explain-audited).
    grams = materialize(
        docs.select(
            "doc_id",
            "source",
            (h < 80).alias("is_train"),
            F.expr(X.tokens_spark("text")).alias("toks"),
        )
        .filter(F.size("toks") >= _DECON_K)
        .select(
            "doc_id",
            "source",
            "is_train",
            F.explode(
                F.expr(X.shingles_spark("toks", _DECON_K))
            ).alias("g"),
        )
        .withColumn("gh", F.expr(X.hash64_spark("g")))
        .drop("g")
    )

    train_set = grams.filter("is_train").select("gh").distinct()
    eval_grams = grams.filter(~F.col("is_train"))
    totals = eval_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    leaked = (
        eval_grams.join(train_set, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    eval_docs = docs.select("doc_id", "source").filter(~(h < 80))
    per_doc = (
        eval_docs.join(totals, "doc_id", "left")
        .join(leaked, "doc_id", "left")
        .fillna({"n_grams": 0, "n_leaked": 0})
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.sum((F.col("n_leaked") > 0).cast("int")).alias("n_contaminated"),
            F.sum("n_leaked").alias("leaked_grams"),
            F.sum("n_grams").alias("total_grams"),
        )
        .select(
            "source",
            "n_eval_docs",
            "n_contaminated",
            "leaked_grams",
            "total_grams",
            F.expr("cast(leaked_grams * 10000 div total_grams as int)").alias(
                "leak_bp"
            ),
        )
    )


QUERIES["decontaminate_ngrams"] = decontaminate_ngrams

ORACLES["decontaminate_ngrams"] = f"""
WITH tok AS (
  SELECT doc_id, source,
         ({X.hash64_duck("CAST(doc_id AS VARCHAR) || ':split'")}) % 100 < 80
           AS is_train,
         {X.tokens_duck('text')} AS toks
  FROM documents
),
base AS (
  SELECT doc_id, source, is_train,
         {X.shingles_duck('toks', _DECON_K)} AS grams
  FROM tok
),
grams AS (
  SELECT doc_id, source, is_train, {X.hash64_duck('g')} AS gh
  FROM (SELECT doc_id, source, is_train, unnest(grams) AS g FROM base)
),
train_set AS (SELECT DISTINCT gh FROM grams WHERE is_train),
leaked AS (
  SELECT doc_id, count(*) AS n_leaked
  FROM grams WHERE NOT is_train AND gh IN (SELECT gh FROM train_set)
  GROUP BY doc_id
),
per_doc AS (
  SELECT b.source, len(b.grams) AS n_grams,
         coalesce(l.n_leaked, 0) AS n_leaked
  FROM base b LEFT JOIN leaked l ON b.doc_id = l.doc_id
  WHERE NOT b.is_train
)
SELECT source,
       count(*) AS n_eval_docs,
       CAST(sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(n_leaked) AS BIGINT) AS leaked_grams,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_leaked) * 10000 // sum(n_grams) AS INT) AS leak_bp
FROM per_doc GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# data_mixture_plan — temperature-sampled source mixture for training
# ---------------------------------------------------------------------------

def data_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture planner (SURVEY §2 #175): given the
    per-source token census, assign each source a target share
    proportional to sqrt(available tokens) — temperature sampling with
    T=2, the standard multilingual/multi-source rebalancing (upweights
    small sources relative to proportional sampling) — against a token
    budget of 2× the corpus, then report the per-source sampling rate
    and epoch count (rate > 1 means the source repeats).

    All reported numbers are exact integers: sqrt(bigint-valued
    double) is correctly rounded and floor()ed into integer space
    before any ratio, and the epoch count is a ceiling division — no
    double ever rounds. The big products (2·total_tokens·sqrt_tok,
    target_tokens·10000) are computed by EXACT split-integer
    arithmetic — floor(a·b/c) = b·(a div c) + (b·(a mod c)) div c —
    so no BIGINT intermediate exceeds ~2·total_tokens (ADVICE r5: the
    naive products overflow long before 100 TB; the split form is
    exact to exabyte-scale corpora). The census is one map-combined
    aggregation; the totals row joins back via a broadcast of ONE row.
    """
    docs = _t(spark, sf_dir, "documents")
    census = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.expr(X.tokens_spark("text")))).alias("tokens"),
    )
    census = census.withColumn(
        "sqrt_tok", F.expr("cast(floor(sqrt(cast(tokens as double))) as bigint)")
    )
    # Both the totals row and the final select read the census; the
    # boundary keeps the corpus token scan single-pass (explain-audited
    # — census is |sources| rows, the checkpoint is free).
    census = materialize(census)
    totals = census.agg(
        F.sum("sqrt_tok").alias("total_sqrt"),
        F.sum("tokens").alias("total_tokens"),
    )
    return (
        census.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "tokens",
            F.expr("cast(sqrt_tok * 10000 div total_sqrt as int)").alias(
                "share_bp"
            ),
            F.expr(
                "cast(2 * sqrt_tok * (total_tokens div total_sqrt)"
                " + (2 * sqrt_tok * (total_tokens % total_sqrt))"
                " div total_sqrt as bigint)"
            ).alias("target_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "tokens",
            "share_bp",
            "target_tokens",
            F.expr(
                "cast((target_tokens div tokens) * 10000"
                " + ((target_tokens % tokens) * 10000) div tokens as int)"
            ).alias("rate_bp"),
            F.expr("cast((target_tokens + tokens - 1) div tokens as int)").alias(
                "epochs"
            ),
        )
    )


QUERIES["data_mixture_plan"] = data_mixture_plan

ORACLES["data_mixture_plan"] = f"""
WITH census AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({X.tokens_duck('text')})) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
s AS (
  SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS sqrt_tok
  FROM census
),
tot AS (
  SELECT CAST(sum(sqrt_tok) AS BIGINT) AS total_sqrt,
         CAST(sum(tokens) AS BIGINT) AS total_tokens
  FROM s
),
targeted AS (
  SELECT source, n_docs, tokens,
         CAST(sqrt_tok * 10000 // total_sqrt AS INT) AS share_bp,
         CAST(2 * sqrt_tok * (total_tokens // total_sqrt)
              + (2 * sqrt_tok * (total_tokens % total_sqrt)) // total_sqrt
              AS BIGINT) AS target_tokens
  FROM s, tot
)
SELECT source, n_docs, tokens, share_bp, target_tokens,
       CAST((target_tokens // tokens) * 10000
            + ((target_tokens % tokens) * 10000) // tokens AS INT) AS rate_bp,
       CAST((target_tokens + tokens - 1) // tokens AS INT) AS epochs
FROM targeted ORDER BY source
"""


# ---------------------------------------------------------------------------
# deterministic_shuffle — seeded hash shards + within-shard order
# ---------------------------------------------------------------------------

_SHUF_SHARDS = 32


def deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded training-order shuffle (SURVEY §2 #176): every epoch of
    LLM training wants the corpus in a pseudo-random but REPRODUCIBLE
    order. The 100 TB-sane layout is exactly this: a salted hash
    assigns each doc to one of S shards (`h mod S` — uniform, no
    shuffle skew), and the read order within a shard is `ORDER BY (h,
    doc_id)` — so the permutation needs no global sort, only S
    independent window sorts that run fully parallel (one partition
    per shard). Reported census per shard: docs, tokens, distinct
    sources, and the first doc in read order (a spot-checkable
    fingerprint of the permutation).
    """
    docs = _t(spark, sf_dir, "documents")
    h = F.expr(X.hash64_spark("cast(doc_id as string) || ':shuffle'"))
    sharded = docs.select(
        "doc_id",
        "source",
        F.size(F.expr(X.tokens_spark("text"))).alias("n_tok"),
        h.alias("h"),
    ).withColumn("shard", F.expr(f"h % {_SHUF_SHARDS}").cast("int"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    pos = sharded.withColumn("pos", F.row_number().over(w))
    return (
        pos.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.countDistinct("source").alias("n_sources"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("first_doc"),
        )
    )


QUERIES["deterministic_shuffle"] = deterministic_shuffle

ORACLES["deterministic_shuffle"] = f"""
WITH sharded AS (
  SELECT doc_id, source, len({X.tokens_duck('text')}) AS n_tok,
         {X.hash64_duck("CAST(doc_id AS VARCHAR) || ':shuffle'")} AS h
  FROM documents
),
pos AS (
  SELECT *, CAST(h % {_SHUF_SHARDS} AS INT) AS shard,
         row_number() OVER (
           PARTITION BY h % {_SHUF_SHARDS} ORDER BY h, doc_id) AS pos
  FROM sharded
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens,
       count(DISTINCT source) AS n_sources,
       min(CASE WHEN pos = 1 THEN doc_id END) AS first_doc
FROM pos GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# pii_redact — redaction transform + census (counterpart of pii_scan)
# ---------------------------------------------------------------------------

def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction census (SURVEY §2 #177): pii_scan answers "is PII
    present"; this is the release transform — replace every match
    with a typed placeholder and account for what changed. Uses the
    same deterministic planted-PII layer as pii_scan (the shared
    _PII_EMAIL/_PII_PHONE patterns, a parity-verified Java-vs-RE2
    subset) so the two ops describe the same corpus.

    The replace is JVM-side regexp_replace inside codegen (one narrow
    pass, no Python); the census per source reports docs touched,
    characters removed net of placeholder text, and per-type counts —
    everything downstream needs to verify the redaction actually
    happened before shipping the shard.
    """
    docs = _t(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "body",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" tel 555-010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    red = planted.select(
        "source",
        F.regexp_count("body", F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_count("body", F.lit(_PII_PHONE)).alias("n_phone"),
        F.length("body").alias("len_before"),
        F.length(
            F.regexp_replace(
                F.regexp_replace("body", _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            )
        ).alias("len_after"),
    )
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("n_email") > 0) | (F.col("n_phone") > 0)).cast("int")
            ).alias("docs_redacted"),
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_phone").alias("phones_redacted"),
            F.sum(F.col("len_before") - F.col("len_after")).alias(
                "chars_removed"
            ),
        )
    )


QUERIES["pii_redact"] = pii_redact

ORACLES["pii_redact"] = f"""
WITH planted AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' tel 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS body
  FROM documents
), red AS (
  SELECT source,
         len(regexp_extract_all(body, '{_PII_EMAIL}')) AS n_email,
         len(regexp_extract_all(body, '{_PII_PHONE}')) AS n_phone,
         length(body) AS len_before,
         length(regexp_replace(
           regexp_replace(body, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g')) AS len_after
  FROM planted
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email > 0 OR n_phone > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_redacted,
       CAST(sum(n_email) AS BIGINT) AS emails_redacted,
       CAST(sum(n_phone) AS BIGINT) AS phones_redacted,
       CAST(sum(len_before - len_after) AS BIGINT) AS chars_removed
FROM red GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# multimodal_image — REAL PNG decode, closed-form oracle
# ---------------------------------------------------------------------------

def multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image feature extraction (SURVEY §2 #184): spec-valid PNGs
    (stdlib zlib + struct encoder, deterministic doc_id-derived RGB
    gradient) attached as the binary column, then decoded BACK by the
    stdlib parser (IHDR/IDAT/inflate/scanline-unfilter) and reduced to
    integer channel means — operators/multimodal.py. This upgrades the
    image leg from "honestly stubbed, PIL absent" to the same standing
    audio reached in round 4 via `wave`: a real codec round-trip in
    pure stdlib, Arrow-batched, nothing shuffled until the feature
    census.

    The oracle never decodes a pixel: the gradient's channel sums have
    CLOSED FORMS in doc_id (modular-arithmetic sums over
    generate_series), so DuckDB independently predicts what the
    decode must produce — the strongest end-to-end gate a binary
    pipeline can have (a bug anywhere in encode, deflate, parse,
    unfilter, or the statistics breaks the match).
    """

    # r11: the staged form (image_features_png(attach_png_media(docs)))
    # ran TWO chained Python workers per task — 2×32 simultaneous
    # worker spawns at c32, the measured cause of this key's 32-core
    # pathology (VERDICT r10 item 1; 13.7 s driver / 1.1 s at c8). The
    # fused operator performs the identical encode→decode round-trip
    # per doc inside ONE worker; payloads no longer cross Arrow.
    docs = _t(spark, sf_dir, "documents")
    return png_features_roundtrip(docs)


QUERIES["multimodal_image"] = multimodal_image

ORACLES["multimodal_image"] = """
WITH dims AS (
  SELECT doc_id,
         8 + doc_id % 13 AS w,
         6 + doc_id % 9 AS h
  FROM documents
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(list_sum(list_transform(generate_series(0, w - 1),
              x -> (x * 7 + doc_id) % 256)) * h // (w * h) AS INT)
         AS mean_r,
       CAST(list_sum(list_transform(generate_series(0, h - 1),
              y -> (y * 11 + 2 * doc_id) % 256)) * w // (w * h) AS INT)
         AS mean_g,
       CAST(list_sum(list_transform(generate_series(0, h - 1),
              y -> list_sum(list_transform(generate_series(0, w - 1),
                     x -> (x + y + 3 * doc_id) % 256)))) // (w * h) AS INT)
         AS mean_b
FROM dims
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal_jpeg — REAL baseline-JPEG leg under the driver's oracle
# ---------------------------------------------------------------------------

# Measured over the FULL doc_id payload period (lcm(17,11,256) = 47872
# deterministic gradients, round 8): max |decoded mean − source mean|
# = 1, so ±2 is a strict-but-safe fidelity gate; max bytes/pixel at
# q90 = measured < 3.0 on top of the ~330-byte JFIF table overhead.
_JPEG_MEAN_TOL = 2
# ~2k encode+decode cycles of these tiny gradients ≈ seconds of CPU —
# tasks stay well under a minute while parallelism scales with |docs|
_JPEG_DOCS_PER_TASK = 2000


def multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG round-trip under the correctness gate
    (VERDICT r7 item 2; the T.81 counterpart of multimodal_image's
    PNG closure): deterministic doc_id-derived grayscale gradients
    encoded by the pure numpy+stdlib ITU-T T.81 codec
    (operators/jpeg.py), decoded BACK by its verifying parser, and
    reduced to per-doc features. Decoded width/height are EXACT
    (any header/Huffman/MCU defect breaks them or raises); the DCT
    makes pixels lossy, so mean luma is gated against the
    closed-form SOURCE mean at the codec-pinned ±2 tolerance
    measured over the full 47,872-payload period, and payload size
    against the JFIF-overhead/entropy-rate envelope. The oracle
    predicts dims closed-form and pins both gates TRUE — a fidelity
    or size drift anywhere in encode, DCT, quantization, Huffman,
    or decode flips a row and breaks the hash.

    Scale shape: synthesis and decode are Arrow-batched mapInPandas
    over doc_id only; the ids are repartitioned first so the
    CPU-bound codec spreads across the cluster (the text column is
    never read); nothing shuffles after synthesis until the final
    sort. The partition count derives from a rows-per-task target
    (review finding — a fixed repartition(32) pinned the
    codec's parallelism, the class also rewritten out of
    ntile_features/interpolation_search_error), floored at the
    session's shuffle parallelism; the driver-side count is a
    parquet-metadata scalar. Explicit repartition(n) on purpose:
    AQE's byte-based coalescing would fuse these byte-light but
    CPU-heavy id partitions onto one core.
    """
    import math

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    nparts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        math.ceil(docs.count() / _JPEG_DOCS_PER_TASK),
    )
    docs = docs.repartition(nparts)
    # r11: fused single-worker round-trip (same T.81 bytes, same
    # features) — see multimodal_image's note on the chained
    # double-worker 32-core pathology.
    feats = jpeg_features_roundtrip(docs)
    exp_mean = (
        "aggregate(sequence(0, height - 1), cast(0 as bigint), (acc, y) -> "
        "acc + aggregate(sequence(0, width - 1), cast(0 as bigint), (a, x) -> "
        "a + (x * 5 + y * 3 + doc_id) % 256)) div (width * height)"
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        (
            F.abs(F.col("mean_y") - F.expr(exp_mean)) <= _JPEG_MEAN_TOL
        ).alias("mean_ok"),
        F.expr("n_bytes > 300 AND n_bytes < 400 + 3 * width * height").alias(
            "size_ok"
        ),
    )


QUERIES["multimodal_jpeg"] = multimodal_jpeg

ORACLES["multimodal_jpeg"] = """
SELECT doc_id,
       CAST(16 + doc_id % 17 AS INT) AS width,
       CAST(16 + doc_id % 11 AS INT) AS height,
       TRUE AS mean_ok,
       TRUE AS size_ok
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# oov_rate_sweep — out-of-vocabulary rate at frequency-ranked cutoffs
# ---------------------------------------------------------------------------

_OOV_CUTOFFS = [4, 8, 16]  # vocab sizes to evaluate (corpus vocab is 31)


def oov_rate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing sweep (SURVEY §2 #186): for each
    candidate vocab size V (top-V tokens by corpus frequency, ties
    broken by token text), the out-of-vocabulary TOKEN-OCCURRENCE rate
    and type counts — the census a tokenizer build runs before fixing
    its vocab (complements vocab_coverage, which evaluates ONE fixed
    vocab; this sweeps the size/coverage frontier in a single pass).

    Scale shape: one exact token-frequency groupBy (map-side
    combinable — the only corpus-sized stage), then ranking and the
    cutoff sweep run on the VOCAB-sized aggregate: the global
    row_number window is over distinct terms, not token occurrences
    (single-partition by design and bounded by |vocab|; a real corpus
    has ~1e6–1e8 types, still one executor's work). The 3-row cutoff
    dim rides a broadcast cross join.
    """
    docs = _t(spark, sf_dir, "documents")
    cf = (
        docs.select(F.explode(F.expr(X.tokens_spark("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    ranked = cf.select(
        "term",
        "cf",
        F.row_number()
        .over(Window.orderBy(F.desc("cf"), F.asc("term")))
        .alias("rank"),
    )
    cuts = spark.createDataFrame(
        [(v,) for v in _OOV_CUTOFFS], "cutoff_v int"
    )
    oov = F.col("rank") > F.col("cutoff_v")
    return (
        ranked.crossJoin(F.broadcast(cuts))
        .groupBy("cutoff_v")
        .agg(
            F.sum((~oov).cast("int")).alias("vocab_types"),
            F.sum(oov.cast("int")).alias("oov_types"),
            F.sum(F.when(oov, F.col("cf")).otherwise(0)).alias(
                "oov_occurrences"
            ),
            F.sum("cf").alias("total_occurrences"),
        )
        .select(
            "cutoff_v",
            "vocab_types",
            "oov_types",
            "oov_occurrences",
            "total_occurrences",
            F.expr(
                "cast(oov_occurrences * 10000 div total_occurrences as int)"
            ).alias("oov_bp"),
        )
    )


QUERIES["oov_rate_sweep"] = oov_rate_sweep

ORACLES["oov_rate_sweep"] = f"""
WITH tok AS (
  SELECT unnest({X.tokens_duck('text')}) AS term FROM documents
),
cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
ranked AS (
  SELECT term, cf,
         row_number() OVER (ORDER BY cf DESC, term) AS rank
  FROM cf
),
cuts AS (SELECT unnest({_OOV_CUTOFFS}) AS cutoff_v)
SELECT cutoff_v,
       CAST(sum(CASE WHEN rank <= cutoff_v THEN 1 ELSE 0 END) AS BIGINT)
         AS vocab_types,
       CAST(sum(CASE WHEN rank > cutoff_v THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_types,
       CAST(sum(CASE WHEN rank > cutoff_v THEN cf ELSE 0 END) AS BIGINT)
         AS oov_occurrences,
       CAST(sum(cf) AS BIGINT) AS total_occurrences,
       CAST(sum(CASE WHEN rank > cutoff_v THEN cf ELSE 0 END) * 10000
            // sum(cf) AS INT) AS oov_bp
FROM ranked, cuts
GROUP BY cutoff_v ORDER BY cutoff_v
"""


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
    )


QUERIES["padding_waste_buckets"] = padding_waste_buckets

_PWB_DEC_CASE = "CASE " + " ".join(
    f"WHEN len <= c{d} THEN {d}" for d in range(1, 10)
) + " ELSE 10 END"
_PWB_QUA_CASE = "CASE " + " ".join(
    f"WHEN len <= q{i} THEN {i}" for i in range(1, 4)
) + " ELSE 4 END"

ORACLES["padding_waste_buckets"] = f"""
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
    return out


QUERIES["prefix_cache_hits"] = prefix_cache_hits

ORACLES["prefix_cache_hits"] = "\nUNION ALL\n".join(
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
    return out


QUERIES["hashing_trick_collisions"] = hashing_trick_collisions

ORACLES["hashing_trick_collisions"] = "\nUNION ALL\n".join(
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
        for r in bounded_collect(
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
    census = bounded_collect(
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
    )


QUERIES["source_selection_greedy"] = source_selection_greedy

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

ORACLES["source_selection_greedy"] = f"""
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
    )


QUERIES["coverage_decay_curve"] = coverage_decay_curve

ORACLES["coverage_decay_curve"] = f"""
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


# mod-p id checksums: large enough that collisions are vanishing,
# small enough that a 5k-row sum stays far inside int64 on both engines
_CK_P = 1_000_000_007

# the deterministic stored-HTTP head used by the synthetic response
# records; its byte length enters the oracle's content-size arithmetic
_HTTP_HEAD = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"


# ---------------------------------------------------------------------------
# tfrecord_roundtrip — sharded TFRecord write → distributed read census
# ---------------------------------------------------------------------------


def tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TFRecord leg under the driver's oracle (VERDICT r8 item 2;
    avro_roundtrip's pattern): a deterministic 4% orderkey slice of
    orders — two bigint ids, a string, an exact-cents bigint, and an
    int64-LIST feature — written by the DISTRIBUTED sharded writer
    (8 hash-of-key shards, one file per task, byte-identical reruns),
    re-read through binaryFile + the CRC-verifying Example decoder,
    and folded to a per-priority census.  Any defect in the varint/
    zig-zag-free int64 wire, the masked-CRC framing, the feature-map
    merge, or the by-name schema mapping changes a tally and breaks
    the hash.

    Scale shape: this IS the 100 TB export layout — n_shards files
    written one-per-task with no coalesce(1) bottleneck, read back
    file-parallel.  Integral values cross the Arrow hop as strings
    (>2^53-exact, sources/tfrecord.py contract); every census column
    is integer arithmetic.

    Deployment contract: the shard directory rides fsio.scratch_dir —
    set ``spark.pyprima.scratchDir`` to a shared URI on a multi-node
    cluster (the avro/xlsx-roundtrip convention).
    """

    orders = _t(spark, sf_dir, "orders")
    sl = orders.filter(F.expr("o_orderkey % 100 < 4")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        # an int64 LIST feature: exercises the repeated-value wire path
        F.expr("array(o_orderkey % 7, o_orderkey % 11)").alias("marks"),
    )
    out_dir = fsio.scratch_dir(spark, "pyprima_tfrec_")
    write_tfrecord_shards(
        sl, out_dir, n_shards=8, shard_by=["o_orderkey"],
        order_by=["o_orderkey"],
    ).count()  # force the distributed write

    back = read_tfrecord(
        spark,
        out_dir,
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string,"
        " cents bigint, marks array<bigint>",
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.sum("cents").alias("cents_sum"),
            F.sum(F.expr(f"o_orderkey % {_CK_P}")).alias("key_checksum"),
            F.sum(
                F.expr("aggregate(marks, 0L, (a, x) -> a + x)")
            ).alias("marks_sum"),
        )
    )


QUERIES["tfrecord_roundtrip"] = tfrecord_roundtrip

ORACLES["tfrecord_roundtrip"] = f"""
WITH sl AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 4
)
SELECT o_orderpriority, count(*) AS n,
       count(DISTINCT o_custkey) AS n_cust,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(sum(o_orderkey % {_CK_P}) AS BIGINT) AS key_checksum,
       CAST(sum(o_orderkey % 7 + o_orderkey % 11) AS BIGINT) AS marks_sum
FROM sl GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# warc_roundtrip — WARC write → read census over both record framings
# ---------------------------------------------------------------------------


def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC leg under the driver's oracle (VERDICT r8 item 2): a
    deterministic third of documents encoded as WARC/1.0 records —
    even doc_ids as ``response`` records carrying the stored HTTP
    exchange (deterministic head + body, the framing every crawl
    archive uses), odd doc_ids as bare ``resource`` records — written
    as 8 .warc.gz SEGMENTS by the sharded sink (per-record gzip
    members, mtime pinned, hash-of-record-id placement), re-read
    through binaryFile + the verifying parser, and folded to a
    per-record-type census of counts, EXACT content byte sizes,
    distinct URI hosts, and a mod-p checksum over the 60-bit md5 of
    the record ids.  Any defect in header encoding, Content-Length
    framing, the gzip member walk, the shard placement (a lost or
    double-written record), or the record terminator moves a count
    and breaks the hash.

    Scale shape: BOTH directions are distributed — write is one
    segment file per task (write_warc_shards, the many-segments
    layout real crawls ship in; the single-file sink measured 14.5×
    wall at 10× rows, linear after sharding), read is per-file via
    binaryFile.  write_warc_file stays pytest-covered as the
    small-export contract.
    """

    docs = _t(spark, sf_dir, "documents")
    is_resp = F.expr("doc_id % 2 = 0")
    recs = docs.filter(F.expr("doc_id % 3 = 0")).select(
        F.concat(
            F.lit("<urn:doc:"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("record_id"),
        F.when(is_resp, F.lit("response"))
        .otherwise(F.lit("resource"))
        .alias("warc_type"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
        F.when(is_resp, F.lit("application/http; msgtype=response"))
        .otherwise(F.lit("text/plain"))
        .alias("content_type"),
        F.when(
            is_resp,
            F.concat(
                F.encode(F.lit(_HTTP_HEAD), "UTF-8"),
                F.encode(F.col("text"), "UTF-8"),
            ),
        )
        .otherwise(F.encode(F.col("text"), "UTF-8"))
        .alias("content"),
    )
    out_dir = fsio.scratch_dir(spark, "pyprima_warc_")
    write_warc_shards(recs, out_dir, n_shards=8).count()  # force

    back = read_warc(spark, out_dir)
    return (
        back.groupBy("warc_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.length("content")).alias("content_bytes"),
            F.countDistinct(
                F.expr("parse_url(target_uri, 'HOST')")
            ).alias("n_hosts"),
            F.sum(
                F.expr(f"{X.hash64_spark('record_id')} % {_CK_P}")
            ).alias("id_checksum"),
        )
    )


QUERIES["warc_roundtrip"] = warc_roundtrip

ORACLES["warc_roundtrip"] = f"""
WITH recs AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'response' ELSE 'resource' END
           AS warc_type,
         CASE WHEN doc_id % 2 = 0 THEN {len(_HTTP_HEAD)} ELSE 0 END
           + octet_length(encode(text)) AS content_len,
         source,
         {X.hash64_duck("'<urn:doc:' || CAST(doc_id AS VARCHAR) || '>'")}
           AS rid_hash
  FROM documents WHERE doc_id % 3 = 0
)
SELECT warc_type, count(*) AS n_records,
       CAST(sum(content_len) AS BIGINT) AS content_bytes,
       count(DISTINCT source) AS n_hosts,
       CAST(sum(rid_hash % {_CK_P}) AS BIGINT) AS id_checksum
FROM recs GROUP BY warc_type ORDER BY warc_type
"""


# ---------------------------------------------------------------------------
# corpus_pipeline_manifest — WARC → curation → TFRecord, one oracle
# ---------------------------------------------------------------------------


def corpus_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus pipeline under ONE oracle (VERDICT r8
    item 5; the engine's runme.py analogue — reference runme.py:6-32
    chains its three stages the same way): documents → WARC crawl
    archive → ``pipeline.ingest_warc`` (doc_id remapped to the 60-bit
    md5 of the WARC record id, source recovered from the URI host) →
    the documents-shaped corpus landed as parquet → the UNMODIFIED
    curation stack + sharded TFRecord export
    (``pipeline.export_curated_tfrecord``) → TFRecord read-back →
    per-source survivor census (doc counts, token sums, a mod-p
    checksum over the REMAPPED ids).

    The oracle replays the identical curation funnel
    (core.curation_funnel_ctes — quality gate → exact dedup →
    minhash-cluster dedup) over a pure-SQL remap of the document ids,
    so every hop is load-bearing: WARC framing, the ingest's
    host/hash mapping, the funnel's survivor choice (which depends on
    the remapped id ORDER through its keep-min tie-breaks), the
    Example wire codec, and the by-name read-back all have to agree
    for the hash to match.

    Scale shape: each stage is the already-audited distributed form —
    the crawl is written as 8 WARC SEGMENTS (write_warc_shards, the
    Common-Crawl many-segments layout; one file per task), the ingest
    fans out per segment file, the curation funnel is single-shuffle,
    and the TFRecord export is one-file-per-task.  No stage funnels
    through a single task.
    """

    docs = _t(spark, sf_dir, "documents")
    recs = docs.select(
        F.concat(
            F.lit("<urn:doc:"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("record_id"),
        F.lit("resource").alias("warc_type"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    base = fsio.scratch_dir(spark, "pyprima_pipe_")
    crawl_dir = fsio.join(base, "crawl")
    write_warc_shards(recs, crawl_dir, n_shards=8).count()  # force

    corpus_dir = fsio.join(base, "corpus")
    ingest_warc(spark, crawl_dir).write.mode("overwrite").parquet(
        fsio.join(corpus_dir, "documents.parquet")
    )
    shards_dir = fsio.join(base, "shards")
    export_curated_tfrecord(
        spark, corpus_dir, shards_dir, n_shards=8
    ).count()  # force the export

    back = read_tfrecord(
        spark, shards_dir, "doc_id bigint, source string, n_tok bigint"
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.expr(f"doc_id % {_CK_P}")).alias("id_checksum"),
        )
    )


QUERIES["corpus_pipeline_manifest"] = corpus_pipeline_manifest


def _pipeline_oracle() -> str:
    remap = X.hash64_duck("'<urn:doc:' || CAST(doc_id AS VARCHAR) || '>'")
    docs_rel = (
        f"(SELECT {remap} AS doc_id, source, text FROM documents)"
    )
    return f"""
{curation_funnel_ctes(docs_rel)}
SELECT source,
  count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
  CAST(sum(doc_id % {_CK_P}) AS BIGINT) AS id_checksum
FROM perdoc WHERE keptn GROUP BY source ORDER BY source
"""

ORACLES["corpus_pipeline_manifest"] = _pipeline_oracle()
