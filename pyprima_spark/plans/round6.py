"""Round-6 operators (SURVEY §2 #174–181).

Families / what each adds that the existing 206 keys do not:

- decontaminate_ngrams: EXACT n-gram cross-split leakage — the
  published decontamination method (8-gram overlap against held-out
  splits, the GPT-3/PaLM recipe) complementing the MinHash-based
  holdout_contamination (approximate, doc-level).
- data_mixture_plan: temperature-style source-mixture planning
  (share ∝ sqrt(tokens), the multilingual alpha-sampling layout) —
  the step between a token census and a training run.
- deterministic_shuffle: seeded hash shard assignment + within-shard
  order for training-data shuffling — no global sort, windows keyed
  per shard so the permutation is embarrassingly parallel.
- pii_redact: the TRANSFORM counterpart of pii_scan — replaces the
  planted PII spans and reports a per-source redaction census.
- compaction_plan: small-files/OPTIMIZE planner — target-size file
  counts from a byte census, the table-maintenance step every lake
  table needs at 100 TB.
- embedding_norm_audit: vector-hygiene census (dims, zero vectors,
  norm range) per label — the pre-index sanity gate for ANN builds.
- psi_drift: population-stability-index drift per event_type
  (completes the drift family: TV, KS, CUSUM, now PSI), log terms
  truncated to DECIMAL(18,12) per the bigram_lm_score precedent.
- graph_k_core: fixed-round k-core peeling of the bipartite
  supplier–part graph — iterative degree filtering with the house
  materialize() stage boundary per round; oracle unrolls the same
  rounds as chained CTEs.

Each key has an exact-match DuckDB oracle in ``ORACLES``;
determinism rules follow functions/agg.py (integer arithmetic at every
reported edge, DECIMAL-truncated log terms, no rounding of raw
doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X, vectors as V
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.graph import k_core_round
from pyprima_spark.operators.multimodal import (
    jpeg_features_roundtrip,
    png_features_roundtrip,
)
from pyprima_spark.plans.core import _t
from pyprima_spark.sources import fsio
from pyprima_spark.sources.geotiff import read_raster_tiles, write_raster_tiles


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


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
        .orderBy("source")
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
        .orderBy("source")
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
        .orderBy("shard")
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

_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction census (SURVEY §2 #177): pii_scan answers "is PII
    present"; this is the release transform — replace every match
    with a typed placeholder and account for what changed. Uses the
    same deterministic planted-PII layer as pii_scan (round4.py:614,
    same patterns, parity-verified Java-vs-RE2 subset) so the two ops
    describe the same corpus.

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
        .orderBy("source")
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
# compaction_plan — small-files / OPTIMIZE planner
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 64_000  # bytes per output file at test scale


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance planner (SURVEY §2 #178): for each (source,
    lang) partition of the documents table, compute how many
    target-size files a compaction (OPTIMIZE / rewriteDataFiles)
    should emit and how rows spread across them. The planning half of
    the small-files problem: at 100 TB a partition's byte census
    decides between bin-packing, splitting, and leaving it alone — and
    the census itself is one map-combined aggregation over metadata-
    sized columns (never the payload).

    Byte proxy: n_chars (the payload column's logical size). All
    outputs are exact integers (ceiling divisions in `div` space);
    `oversized_docs` counts rows that can never fit the target and
    would need their own file.
    """
    docs = _t(spark, sf_dir, "documents")
    t = _COMPACT_TARGET
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bytes"),
            F.sum((F.col("n_chars") > t).cast("int")).alias("oversized_docs"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "bytes",
            F.expr(f"cast((bytes + {t} - 1) div {t} as int)").alias("n_files"),
            F.expr(
                f"cast((n_docs + ((bytes + {t} - 1) div {t}) - 1) "
                f"div ((bytes + {t} - 1) div {t}) as int)"
            ).alias("rows_per_file"),
            "oversized_docs",
        )
        .orderBy("source", "lang")
    )


QUERIES["compaction_plan"] = compaction_plan

ORACLES["compaction_plan"] = f"""
WITH census AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS bytes,
         CAST(sum(CASE WHEN n_chars > {_COMPACT_TARGET} THEN 1 ELSE 0 END)
              AS BIGINT) AS oversized_docs
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, bytes,
       CAST((bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET} AS INT)
         AS n_files,
       CAST((n_docs + ((bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET}) - 1)
            // ((bytes + {_COMPACT_TARGET} - 1) // {_COMPACT_TARGET}) AS INT)
         AS rows_per_file,
       oversized_docs
FROM census ORDER BY source, lang
"""


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
    precedent, round4.py:614) a deterministic planted-defect layer
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
        .orderBy("label")
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
# psi_drift — population stability index per event_type
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_BIN_WIDTH = 10  # value in [0, ~100); floor(value/10) capped to 0..9


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift (SURVEY §2 #180) — completes
    the drift family (TV distance, KS, CUSUM): per event_type, compare
    the value distribution of the first half of each month (day ≤ 15)
    against the second half over fixed-width bins, PSI = Σ (pA − pB) ·
    ln(pA / pB) with add-one smoothing so empty bins stay finite.

    Cross-engine determinism follows the bigram_lm_score precedent:
    bin counts are exact integers, each probability is ONE division of
    exact integers (correctly rounded, bit-identical), and each PSI
    term is truncated to DECIMAL(18,12) BEFORE the sum — so the sum is
    exact decimal addition, immune to both libm tail bits and
    float-sum order.
    """
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        (F.dayofmonth("ts") <= 15).alias("is_a"),
        F.least(
            F.greatest(
                F.expr(f"cast(floor(value / {_PSI_BIN_WIDTH}) as int)"), F.lit(0)
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    # counts feeds both the per-type totals and the term table — the
    # boundary keeps the events scan single-pass (counts is |types|×10
    # rows, the checkpoint is free).
    counts = materialize(
        binned.groupBy("event_type", "bin").agg(
            F.sum(F.col("is_a").cast("int")).alias("c_a"),
            F.sum((~F.col("is_a")).cast("int")).alias("c_b"),
        )
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    terms = counts.join(totals, "event_type").select(
        "event_type",
        F.expr(
            f"""cast(
              ((c_a + 1) / cast(n_a + {_PSI_BINS} as double)
               - (c_b + 1) / cast(n_b + {_PSI_BINS} as double))
              * ln(((c_a + 1) / cast(n_a + {_PSI_BINS} as double))
                   / ((c_b + 1) / cast(n_b + {_PSI_BINS} as double)))
              as decimal(18,12))""",
        ).alias("term"),
    )
    # Exact decimal sum, then ONE cast to double at the output edge —
    # a decimal column's trailing-zero repr differs between engines.
    return (
        terms.groupBy("event_type")
        .agg(F.sum("term").cast("double").alias("psi"))
        .orderBy("event_type")
    )


QUERIES["psi_drift"] = psi_drift

ORACLES["psi_drift"] = f"""
WITH binned AS (
  SELECT event_type, day(ts) <= 15 AS is_a,
         least(greatest(CAST(floor(value / {_PSI_BIN_WIDTH}) AS INT), 0),
               {_PSI_BINS - 1}) AS bin
  FROM events
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
  FROM binned GROUP BY event_type, bin
),
totals AS (
  SELECT event_type, CAST(sum(c_a) AS BIGINT) AS n_a,
         CAST(sum(c_b) AS BIGINT) AS n_b
  FROM counts GROUP BY event_type
),
terms AS (
  SELECT c.event_type,
         CAST(
           ((c_a + 1) / CAST(n_a + {_PSI_BINS} AS DOUBLE)
            - (c_b + 1) / CAST(n_b + {_PSI_BINS} AS DOUBLE))
           * ln(((c_a + 1) / CAST(n_a + {_PSI_BINS} AS DOUBLE))
                / ((c_b + 1) / CAST(n_b + {_PSI_BINS} AS DOUBLE)))
           AS DECIMAL(18,12)) AS term
  FROM counts c JOIN totals t ON c.event_type = t.event_type
)
SELECT event_type, CAST(sum(term) AS DOUBLE) AS psi
FROM terms GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# graph_k_core — fixed-round k-core peeling (bipartite supplier–part)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by fixed-round peeling (SURVEY §2 #181):
    on the bipartite supplier–part graph (distinct (l_suppkey,
    l_partkey) edges; node ids disambiguated as 2·supp / 2·part+1),
    repeatedly drop nodes with degree < k and the edges that touch
    them. The dense-core extraction used for fraud rings, co-purchase
    backbones, and community seeds — and, like components/pagerank,
    inherently iterative: each round's edge set feeds the next, with
    the house materialize() stage boundary keeping the plan flat
    (checkpointing.py — reliable-checkpoint capable on a cluster).

    A FIXED round count keeps the result engine-independent and lets
    the oracle unroll the identical rounds as chained CTEs (each
    MATERIALIZED — an inlined chain re-evaluates exponentially); the
    census (per round: surviving nodes and edges) is the convergence
    diagnostic a production peel would log anyway. Per round the work
    is one degree aggregation + one semi-join per endpoint — key-
    partitioned, O(E) state, no pairwise blowup.

    Edge selection: single-quantity line items only — the sparse
    "unusual purchase" subgraph where coreness separates (the full
    bipartite graph is near-regular with degree >> k, so nothing would
    peel and the census would be vacuous at every test scale; backbone
    extraction always runs on a thresholded edge set).
    """
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.filter(F.col("l_quantity") == 1)
        .select(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("l_partkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = materialize(edges)

    # The census is a UNION of 1-row aggregates — nothing is ever
    # fetched to the driver (loop control needs no data; each round's
    # edge set is eagerly materialized anyway, so the census aggregates
    # read checkpointed blocks when the caller finally acts). One agg
    # job per row: explode both endpoints, count(*) = 2·edges,
    # countDistinct = nodes.
    census = []
    cur = edges
    for rnd in range(_KCORE_ROUNDS + 1):
        census.append(
            cur.select(F.explode(F.array("a", "b")).alias("n"))
            .agg(
                F.countDistinct("n").alias("n_nodes"),
                F.count(F.lit(1)).alias("ends"),
            )
            .select(
                F.lit(rnd).alias("round"),
                "n_nodes",
                F.expr("ends div 2").alias("n_edges"),
            )
        )
        if rnd == _KCORE_ROUNDS:
            break

        cur = materialize(k_core_round(cur, _KCORE_K))
    out = census[0]
    for c in census[1:]:
        out = out.unionByName(c)
    return out.orderBy("round")


QUERIES["graph_k_core"] = graph_k_core


def _kcore_oracle() -> str:
    """Unroll the fixed peeling rounds as chained CTEs (e0..eN), every
    one MATERIALIZED: each e{i} is referenced by k{i} (twice), e{i+1}
    and two census scalars — inlined, the chain re-evaluates
    multiplicatively per level (measured: >4 min at sf0.1 vs ~1 s
    materialized)."""
    parts = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b
  FROM lineitem WHERE l_quantity = 1
)"""
    ]
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f"""k{i} AS MATERIALIZED (
  SELECT n FROM (
    SELECT n, count(*) AS d FROM (
      SELECT a AS n FROM e{i} UNION ALL SELECT b AS n FROM e{i}
    ) GROUP BY n
  ) WHERE d >= {_KCORE_K}
),
e{i + 1} AS MATERIALIZED (
  SELECT a, b FROM e{i}
  WHERE a IN (SELECT n FROM k{i}) AND b IN (SELECT n FROM k{i})
)"""
        )
    selects = [
        f"""SELECT {i} AS round,
       (SELECT count(DISTINCT n) FROM
         (SELECT a AS n FROM e{i} UNION ALL SELECT b AS n FROM e{i}))
         AS n_nodes,
       (SELECT count(*) FROM e{i}) AS n_edges"""
        for i in range(_KCORE_ROUNDS + 1)
    ]
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


ORACLES["graph_k_core"] = _kcore_oracle()


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
        .orderBy("source")
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
    return png_features_roundtrip(docs).orderBy("doc_id")


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
    (round-8 review finding — a fixed repartition(32) pinned the
    codec's parallelism, the class this round rewrote out of
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
    ).orderBy("doc_id")


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
# kmv_source_overlap — KMV sketch ALGEBRA: pairwise vocabulary Jaccard
# ---------------------------------------------------------------------------

_KMVO_K = 16
_KMVO_BITS = 40


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
                f"shiftright({X.hash64_spark('token')}, {60 - _KMVO_BITS})"
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
        .filter(F.col("rn") <= _KMVO_K)
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
            f"slice(array_sort(array_union(sk_a, sk_b)), 1, {_KMVO_K})"
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
                f"cast(case when k_used < {_KMVO_K} then k_used"
                f" else ({_KMVO_K} - 1) * cast(pow(2, {_KMVO_BITS}) as bigint)"
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
        .orderBy("source_a", "source_b")
    )


QUERIES["kmv_source_overlap"] = kmv_source_overlap

ORACLES["kmv_source_overlap"] = f"""
WITH hashed AS MATERIALIZED (
  SELECT DISTINCT source,
         ({X.hash64_duck('token')}) >> {60 - _KMVO_BITS} AS h
  FROM (
    SELECT source, unnest({X.tokens_duck('text')}) AS token FROM documents
  )
),
sketches AS (
  SELECT source, list_sort(list(h)) AS sk FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMVO_K}
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
           list_sort(list_distinct(list_concat(sk_a, sk_b)))[1:{_KMVO_K}]
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
       CAST(CASE WHEN k_used < {_KMVO_K} THEN k_used
            ELSE ({_KMVO_K} - 1) * CAST(pow(2, {_KMVO_BITS}) AS BIGINT) // kth
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
    return stats.join(champs, "term").orderBy("term")


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
        .orderBy("cutoff_v")
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
# k_anonymity_audit — privacy group-size census over quasi-identifiers
# ---------------------------------------------------------------------------

_KANON_K = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (SURVEY §2 #187): group the corpus by a
    quasi-identifier tuple (lang, source, 50-char size bucket) and
    report, per language, how many QI groups and rows fall below
    k = {k} — the privacy census run before releasing a dataset whose
    combination of innocuous attributes can re-identify members
    (complements pii_scan/pii_redact, which find EXPLICIT identifiers;
    k-anonymity measures IMPLICIT linkability).

    Scale shape: two exact groupBys, both map-side combinable; the QI
    census is bounded by the QI-space cardinality, the report by
    |langs|. No joins.
    """
    docs = _t(spark, sf_dir, "documents")
    groups = docs.groupBy(
        "lang",
        "source",
        F.expr("n_chars div 50").alias("size_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    below = F.col("n") < _KANON_K
    return (
        groups.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n").alias("n_rows"),
            F.sum(below.cast("int")).alias("groups_below_k"),
            F.sum(F.when(below, F.col("n")).otherwise(0)).alias(
                "rows_below_k"
            ),
            F.min("n").alias("min_group_size"),
        )
        .orderBy("lang")
    )


k_anonymity_audit.__doc__ = k_anonymity_audit.__doc__.format(k=_KANON_K)

QUERIES["k_anonymity_audit"] = k_anonymity_audit

ORACLES["k_anonymity_audit"] = f"""
WITH groups AS (
  SELECT lang, source, n_chars // 50 AS size_bucket, count(*) AS n
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_k,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(min(n) AS BIGINT) AS min_group_size
FROM groups GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# blocking_quality_eval — record-linkage blocking quality without pairs
# ---------------------------------------------------------------------------


def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage BLOCKING evaluation (SURVEY §2 #188): pair
    completeness and reduction ratio of a candidate blocking scheme
    (lang, 100-char size bucket) against ground-truth duplicate
    clusters (the golden_record fingerprint: md5 of the first-40-char
    normalized prefix, round4.py golden_record — kept in lockstep so
    the two audits describe the same truth). The eval every
    entity-resolution pipeline needs before committing to a blocking
    key: completeness = share of true pairs co-blocked, reduction =
    share of the N² comparison space the blocking avoids.

    Scale shape: the headline trick is that NO pair is ever
    materialized — true pairs, candidate pairs, and covered pairs are
    all ``sum(n*(n-1) div 2)`` over three groupBy censuses (truth key,
    block key, and their conjunction), so the eval costs three
    map-side-combinable aggregations even when the candidate space is
    quadratic. The four 1-row aggregates meet in broadcast cross
    joins. Pair counts use BIGINT (headroom to ~4.3e9-row groups;
    beyond that the census would move to DECIMAL(38,0)).
    """
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    base = docs.select(
        F.md5(F.substring(norm, 1, 40)).alias("fingerprint"),
        "lang",
        F.expr("n_chars div 100").alias("size_bucket"),
    )
    pair_sum = F.sum(F.expr("n * (n - 1) div 2"))
    truth = (
        base.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum.alias("true_pairs"))
    )
    cand = (
        base.groupBy("lang", "size_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum.alias("candidate_pairs"))
    )
    covered = (
        base.groupBy("fingerprint", "lang", "size_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum.alias("covered_pairs"))
    )
    total = base.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        total.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_docs",
            "true_pairs",
            "candidate_pairs",
            "covered_pairs",
            F.expr(
                "cast(case when true_pairs = 0 then 10000 "
                "else covered_pairs * 10000 div true_pairs end as int)"
            ).alias("pair_completeness_bp"),
            F.expr(
                "cast(10000 - candidate_pairs * 10000 "
                "div (n_docs * (n_docs - 1) div 2) as int)"
            ).alias("reduction_ratio_bp"),
        )
    )


QUERIES["blocking_quality_eval"] = blocking_quality_eval

ORACLES["blocking_quality_eval"] = """
WITH base AS (
  SELECT md5(substr(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), 1, 40))
           AS fingerprint,
         lang, n_chars // 100 AS size_bucket
  FROM documents
),
truth AS (
  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT count(*) AS n FROM base GROUP BY fingerprint)
),
cand AS (
  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
  FROM (SELECT count(*) AS n FROM base GROUP BY lang, size_bucket)
),
covered AS (
  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS covered_pairs
  FROM (SELECT count(*) AS n FROM base
        GROUP BY fingerprint, lang, size_bucket)
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base)
SELECT n_docs, true_pairs, candidate_pairs, covered_pairs,
       CAST(CASE WHEN true_pairs = 0 THEN 10000
            ELSE covered_pairs * 10000 // true_pairs END AS INT)
         AS pair_completeness_bp,
       CAST(10000 - candidate_pairs * 10000
            // (n_docs * (n_docs - 1) // 2) AS INT) AS reduction_ratio_bp
FROM total, truth, cand, covered
"""


# ---------------------------------------------------------------------------
# chunk_boundary_dups — crawl-chunk continuation detection (tail = head)
# ---------------------------------------------------------------------------

_CB_DF = 200  # per-boundary-key df cutoff (ngram df-cutoff precedent)


def chunk_boundary_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-chunk continuation census (SURVEY §2 #189): document pairs
    where A's LAST two tokens equal B's FIRST two tokens — the
    signature of one page split across crawl chunks (the dedup family
    catches re-crawls of the SAME span; boundary matching finds
    ADJACENT spans that should be stitched, the web-corpus
    preprocessing step before sequence packing). Reported as a census
    per (source_prev, source_next) so output is bounded by the
    source-pair space, never the pair count.

    Scale shape: boundary keys ride as 60-bit hashes; candidate pairs
    come from one hash equi-join (tail table vs head table) — no
    pairwise doc compare. Keys whose head- or tail-side df exceeds
    ``_CB_DF`` are dropped on BOTH sides before the join (boilerplate
    boundaries — banners, footers — would otherwise drive a quadratic
    key; same cutoff discipline as ngram_jaccard's df cutoff). At test
    scales no key reaches the cutoff, so the gate is exercised as a
    no-op and the census is exact.
    """
    docs = _t(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "source",
        F.expr(X.tokens_spark("text")).alias("t"),
    ).filter(F.size("t") >= 4)
    key = lambda e: F.expr(X.hash64_spark(e))  # noqa: E731
    # Materialized ONCE: the boundary-key table feeds six consumers
    # (both df censuses, both gated projections, and through them the
    # pair join) — without the boundary each consumer re-runs the
    # corpus tokenize + two md5s per doc (guide §2.4 duplicate-subtree
    # removal; measured 17 Exchanges in the executed plan). The
    # materialized form is (doc_id, source, 2 longs) — the boundary-key
    # side table a stitching pipeline persists anyway.

    b = materialize(
        b.select(
            "doc_id",
            "source",
            key("element_at(t, 1) || ' ' || element_at(t, 2)").alias("head_h"),
            key("element_at(t, -2) || ' ' || element_at(t, -1)").alias("tail_h"),
        )
    )
    head_df = b.groupBy("head_h").agg(F.count(F.lit(1)).alias("hd"))
    tail_df = b.groupBy("tail_h").agg(F.count(F.lit(1)).alias("td"))
    heads = (
        b.select("doc_id", "source", "head_h")
        .join(head_df.filter(F.col("hd") <= _CB_DF), "head_h")
        .join(
            tail_df.filter(F.col("td") <= _CB_DF)
            .withColumnRenamed("tail_h", "head_h")
            .select("head_h"),
            "head_h",
        )
    )
    tails = (
        b.select("doc_id", "source", "tail_h")
        .join(tail_df.filter(F.col("td") <= _CB_DF), "tail_h")
        .join(
            head_df.filter(F.col("hd") <= _CB_DF)
            .withColumnRenamed("head_h", "tail_h")
            .select("tail_h"),
            "tail_h",
        )
    )
    pairs = tails.alias("a").join(
        heads.alias("h"),
        (F.col("a.tail_h") == F.col("h.head_h"))
        & (F.col("a.doc_id") != F.col("h.doc_id")),
    )
    return (
        pairs.groupBy(
            F.col("a.source").alias("source_prev"),
            F.col("h.source").alias("source_next"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_prev", "source_next")
    )


QUERIES["chunk_boundary_dups"] = chunk_boundary_dups

ORACLES["chunk_boundary_dups"] = f"""
WITH tok AS (
  SELECT doc_id, source, {X.tokens_duck('text')} AS t FROM documents
),
b AS (
  SELECT doc_id, source,
         {X.hash64_duck("t[1] || ' ' || t[2]")} AS head_h,
         {X.hash64_duck("t[-2] || ' ' || t[-1]")} AS tail_h
  FROM tok WHERE len(t) >= 4
),
hd AS (SELECT head_h, count(*) AS n FROM b GROUP BY 1),
td AS (SELECT tail_h, count(*) AS n FROM b GROUP BY 1),
ok AS (
  SELECT k FROM (
    SELECT head_h AS k, n FROM hd UNION ALL SELECT tail_h, n FROM td
  ) GROUP BY k HAVING max(n) <= {_CB_DF}
     AND count(*) = 2
),
pairs AS (
  SELECT a.source AS source_prev, h.source AS source_next
  FROM b a JOIN b h ON a.tail_h = h.head_h AND a.doc_id <> h.doc_id
  WHERE a.tail_h IN (SELECT k FROM ok)
)
SELECT source_prev, source_next, count(*) AS n_pairs
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# raster_export_manifest — distributed GeoTIFF export through the catalog
# ---------------------------------------------------------------------------

_REM_TILE = 64


def raster_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GeoTIFF tile export driven through the catalog
    (SURVEY §2 #190; VERDICT r5 item 6 — the GIS surface previously had
    only pytest coverage): rasterize the region-mask grid (the
    region_mask_raster overlay, value = overlapping-region count — an
    integer, so the float32 tile samples are exact), export it tile by
    tile with ``write_raster_tiles`` (TIFF 6.0 + WGS84 GeoKeys encoded
    on the EXECUTORS, one applyInPandas group per tile), re-read every
    tile with the verifying stdlib parser via Spark's binaryFile
    source, and emit the per-tile census: cell count, value total, and
    index bbox. A single corrupt byte in any encoder field breaks the
    decode (CRC-checked chunks are PNG; here the verifying TIFF parser
    rejects malformed tags), so the closed-form oracle — the same grid
    arithmetic in pure SQL, no file anywhere — gates the full
    encode→write→list→decode round trip.

    Scale shape: the grid fanout is sequence+explode on executors
    (region_mask_raster's audited plan), the tile write shuffles once
    on the tile key, the read-back parallelizes per tile file via
    binaryFile, and the census is one map-combined aggregation.
    Reference parity: array2raster + the per-window raster exports of
    input_maps.py (spatial_functions.py:190).

    Deployment contract (VERDICT r6 item 2): the tile hop rides
    :func:`pyprima_spark.sources.fsio.scratch_dir` — set
    ``spark.pyprima.scratchDir`` to a shared/HDFS/object-store URI on
    a multi-node cluster; the default driver tempdir is correct only
    where driver and executors share a disk (local[k], the tested
    env). Tile bytes route through PyArrow's FileSystem API either
    way (sources/fsio.py), so the executor-side write works on any
    URI pyarrow can open.
    """

    reg = _t(spark, sf_dir, "region")
    boxes = reg.select(
        (F.col("r_regionkey") * 37 % 120).alias("la0"),
        (F.col("r_regionkey") * 53 % 288).alias("lo0"),
    )
    cells = boxes.select(
        F.explode(F.sequence(F.col("la0"), F.col("la0") + 39)).alias("latidx"),
        "lo0",
    ).select(
        "latidx",
        F.explode(F.sequence(F.col("lo0"), F.col("lo0") + 71)).alias("lonidx"),
    )
    grid = cells.groupBy("latidx", "lonidx").agg(
        F.count(F.lit(1)).cast("double").alias("value")
    )

    out_dir = fsio.scratch_dir(spark, "pyprima_raster_export_")
    manifest = write_raster_tiles(grid, out_dir, tile_size=_REM_TILE)
    # Force the distributed write before planning the read-back scan
    # (binaryFile lists the directory at load time). One driver scalar,
    # same class as the iterative-algorithm convergence counts.
    manifest.count()

    back = read_raster_tiles(spark, out_dir)
    return (
        back.groupBy(
            F.expr(f"latidx div {_REM_TILE}").alias("tla"),
            F.expr(f"lonidx div {_REM_TILE}").alias("tlo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("total_value"),
            F.min("latidx").alias("la_min"),
            F.max("latidx").alias("la_max"),
            F.min("lonidx").alias("lo_min"),
            F.max("lonidx").alias("lo_max"),
        )
        .orderBy("tla", "tlo")
    )


QUERIES["raster_export_manifest"] = raster_export_manifest

ORACLES["raster_export_manifest"] = f"""
WITH boxes AS (
  SELECT (r_regionkey * 37) % 120 AS la0,
         (r_regionkey * 53) % 288 AS lo0
  FROM region
),
cells AS (
  SELECT la.latidx, lo.lonidx
  FROM boxes,
       unnest(generate_series(la0, la0 + 39)) la(latidx),
       unnest(generate_series(lo0, lo0 + 71)) lo(lonidx)
),
grid AS (
  SELECT latidx, lonidx, count(*) AS value FROM cells GROUP BY 1, 2
)
SELECT latidx // {_REM_TILE} AS tla,
       lonidx // {_REM_TILE} AS tlo,
       count(*) AS n_cells,
       CAST(sum(value) AS BIGINT) AS total_value,
       min(latidx) AS la_min, max(latidx) AS la_max,
       min(lonidx) AS lo_min, max(lonidx) AS lo_max
FROM grid
GROUP BY 1, 2 ORDER BY 1, 2
"""
