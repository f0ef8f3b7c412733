"""Near-duplicate detection and record linkage: exact, fingerprint,
MinHash/LSH, SimHash, winnowing and n-gram similarity dedup,
incremental dedup gates, clusters and their representatives, blocking
and fuzzy matching, and the audits that measure them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X, vectors as V
from pyprima_spark.operators.bloom import bloom_build, bloom_probe
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.components import connected_components
from pyprima_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    gram_set_sizes,
    minhash_band_table,
    minhash_candidate_pairs,
    ngram_gram_table,
    simhash_pair_hamming,
)
from pyprima_spark.operators.dedup import winnow_fingerprints as winnow_op
from pyprima_spark.operators.multimodal import png_ahash_roundtrip
from pyprima_spark.operators.similarity import embedding_dedup as emb_dedup_op
from pyprima_spark.plans.constants import (
    EMB_DEDUP_TAU,
    NGRAM_DF_MAX,
    NGRAM_JACCARD_TAU,
    NGRAM_LEN_BAND,
    STOPWORDS,
)
from pyprima_spark.plans.core import (
    _minhash_bands_cte,
    _quality_frame,
    _t,
    curation_flags,
)


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 hash-groupBy (SURVEY §2 #26)."""

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


QUERIES["dedup_exact"] = dedup_exact

ORACLES["dedup_exact"] = """
SELECT md5(text) AS text_hash, min(doc_id) AS kept_doc, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup (SURVEY §2 #27)."""

    docs = _t(spark, sf_dir, "documents")
    return fingerprint_dedup(docs, "doc_id", "text")


QUERIES["dedup_fingerprint"] = dedup_fingerprint

ORACLES["dedup_fingerprint"] = """
SELECT
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                          '\\s+', ' ', 'g'))) AS fingerprint,
  min(doc_id) AS kept_doc,
  count(*)    AS n_dups
FROM documents GROUP BY 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (SURVEY §2 #28).

    16 minhashes over word 3-shingles, 4 bands × 4 rows; pairs share
    >= 1 band. The signature is computed in one narrow pass — only the
    (doc, band, sig) table shuffles.
    """

    docs = _t(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text")


QUERIES["dedup_minhash_lsh"] = dedup_minhash_lsh


_MINHASH_BANDS_CTE = _minhash_bands_cte("documents")

ORACLES["dedup_minhash_lsh"] = f"""
WITH {_MINHASH_BANDS_CTE}
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc < b.doc
ORDER BY doc_a, doc_b
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming distances for chunk-sharing pairs (SURVEY §2 #29)."""

    docs = _t(spark, sf_dir, "documents")
    return simhash_pair_hamming(docs, "doc_id", "text")


QUERIES["dedup_simhash"] = dedup_simhash


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
    )


QUERIES["ngram_jaccard"] = ngram_jaccard

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


def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs via banded multi-table LSH (SURVEY §2 #33)."""

    emb = _t(spark, sf_dir, "embeddings")
    return emb_dedup_op(emb, EMB_DEDUP_TAU)


QUERIES["embedding_dedup"] = embedding_dedup


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
    )


QUERIES["incremental_new_docs"] = incremental_new_docs

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
    return definite_new.unionByName(verified_new)


QUERIES["incremental_new_docs_bloom"] = incremental_new_docs_bloom

# Bloom pre-filter must not change the anti-join result.
ORACLES["incremental_new_docs_bloom"] = ORACLES["incremental_new_docs"]


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
    )


QUERIES["cross_source_overlap"] = cross_source_overlap


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
    )


QUERIES["dedup_clusters"] = dedup_clusters

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


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (SURVEY §2 #27b)."""

    docs = _t(spark, sf_dir, "documents")
    return winnow_op(docs, "doc_id", "text")


QUERIES["winnow_fingerprints"] = winnow_fingerprints

ORACLES["winnow_fingerprints"] = f"""
WITH {_WINNOW_CTE}
SELECT doc_id, fingerprint FROM fps
ORDER BY doc_id, fingerprint
"""


# ---------------------------------------------------------------------------
# ngram_containment — asymmetric near-subset detection
# ---------------------------------------------------------------------------

_CONTAIN_TAU = 0.7
# Containment drops the length-band bucket (cross-length pairs are the
# point), so its only fanout bound is the per-(source, gram) df cutoff —
# set TIGHTER than jaccard's: measured at sf0.1, grams with df in
# 120..200 tripled the gram table (615k -> 194k rows) while adding <3%
# candidate pairs (622k -> 605k); they connect pairs already connected
# by rarer grams.
_CONTAIN_DF_MAX = 120


def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram containment pairs (SURVEY §2 #99): containment
    |A∩B| / min(|A|,|B|) catches a short document embedded in a longer
    one — the quote/boilerplate-inclusion case Jaccard structurally
    misses (the union denominator drowns it). The standard second gate
    of a corpus dedup stack next to ngram_jaccard.

    Same bucketed-join discipline as ngram_jaccard, with ONE deliberate
    difference: no length-band bucket key — cross-length pairs are the
    whole point of containment — so the per-(source, gram) document-
    frequency cutoff is the only (and sufficient) fanout bound. Gram
    table materialized once ahead of its self-join (SURVEY §6).
    """

    docs = _t(spark, sf_dir, "documents")
    grams = materialize(
        ngram_gram_table(docs, "doc_id", "text", ["source"], df_max=_CONTAIN_DF_MAX)
    )
    sizes = gram_set_sizes(grams)
    a = grams.select(F.col("doc").alias("doc_a"), "source", "gram")
    b = grams.select(F.col("doc").alias("doc_b"), "source", "gram")
    shared = (
        a.join(b, ["source", "gram"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    withsizes = shared.join(
        sizes.select(F.col("doc").alias("doc_a"), F.col("gset_size").alias("size_a")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc").alias("doc_b"), F.col("gset_size").alias("size_b")),
        "doc_b",
    )
    cont = F.round(F.col("shared") / F.least("size_a", "size_b"), 4)
    return (
        withsizes.withColumn("containment", cont)
        .filter(F.col("containment") >= _CONTAIN_TAU)
        .select("doc_a", "doc_b", "containment")
    )


QUERIES["ngram_containment"] = ngram_containment


def _containment_oracle() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, source,
         {X.char_ngrams_duck(X.normtext_duck('text'))} AS grams
  FROM documents
),
exploded AS (
  SELECT doc_id AS doc, source, unnest(grams) AS gram
  FROM docs WHERE len(grams) > 0
),
kept AS (
  SELECT doc, source, gram FROM (
    SELECT *, count(*) OVER (PARTITION BY source, gram) AS df
    FROM exploded
  ) WHERE df <= {_CONTAIN_DF_MAX}
),
grams AS (
  SELECT *, count(*) OVER (PARTITION BY doc) AS gset_size FROM kept
),
shared AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.gset_size AS size_a,
         b.gset_size AS size_b, count(*) AS shared
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(shared / least(size_a, size_b), 4) AS containment
FROM shared
WHERE round(shared / least(size_a, size_b), 4) >= {_CONTAIN_TAU}
ORDER BY doc_a, doc_b
"""

ORACLES["ngram_containment"] = _containment_oracle()


# ---------------------------------------------------------------------------
# golden_record — survivorship merge of duplicate clusters
# ---------------------------------------------------------------------------

def golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge over fingerprint duplicate clusters (SURVEY §2
    #105): dedup_fingerprint answers "which rows are duplicates"; this
    is the MDM step after it — per cluster, elect a canonical survivor
    by an explicit rule (longest text, then lowest id) and merge the
    cluster's attributes (member count, distinct sources, max length).

    One fingerprint-keyed shuffle serves the election window AND the
    attribute rollup; the rule is a total order, so the survivor is
    unique and engine-independent. Only multi-member clusters are
    emitted (the singleton pass-through is the identity).

    The fingerprint is the md5 of the FIRST-40-CHAR normalized-text
    prefix (not the full text): near-duplicate docs share a template
    head, so the coarser key forms real clusters at every test scale
    (sf0.01 has zero full-text duplicate clusters — the r4 driver row
    was vacuous, VERDICT r4 "What's wrong") while staying a pure
    equi-key: one shuffle, no pairwise compare. Normalized text is
    ASCII ([a-z0-9 ]), so Spark substring and DuckDB substr agree.
    """
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    fp = docs.withColumn("fingerprint", F.md5(F.substring(norm, 1, 40)))
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    elected = fp.withColumn("rn", F.row_number().over(w))
    merged = (
        elected.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("source").alias("n_sources"),
            F.max("n_chars").alias("max_chars"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "survivor_id"
            ),
        )
        .filter(F.col("n_members") >= 2)
    )
    return merged.select(
        "fingerprint", "survivor_id", "n_members", "n_sources", "max_chars"
    )


QUERIES["golden_record"] = golden_record

ORACLES["golden_record"] = """
WITH fp AS (
  SELECT doc_id, source, n_chars,
         md5(substr(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), 1, 40))
           AS fingerprint
  FROM documents
), elected AS (
  SELECT *, row_number() OVER (
    PARTITION BY fingerprint ORDER BY n_chars DESC, doc_id
  ) AS rn
  FROM fp
)
SELECT fingerprint,
       min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
       count(*) AS n_members,
       count(DISTINCT source) AS n_sources,
       max(n_chars) AS max_chars
FROM elected
GROUP BY fingerprint
HAVING count(*) >= 2
ORDER BY fingerprint
"""


# ---------------------------------------------------------------------------
# incremental_minhash_index — near-dup gate against a persisted index
# ---------------------------------------------------------------------------

def incremental_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion gate (SURVEY §2 #109):
    incremental_new_docs(+bloom) gates on exact fingerprints; this is
    the minhash version — an incoming batch's LSH band signatures probe
    the persisted signature index of already-ingested docs, flagging
    near-duplicates of existing content before they enter the corpus
    (the standard crawl-recrawl dedup layout: the index is the parquet
    signature table, only the incoming batch is freshly shingled).

    Split here is deterministic (doc_id % 5: 0-2 = indexed corpus,
    3-4 = incoming). One band derivation serves both sides (checkpoint,
    then filter — at scale the index side is a parquet READ, not a
    derivation); the probe is a band-key equi-join, never all-pairs.
    """

    docs = _t(spark, sf_dir, "documents")
    bands = materialize(minhash_band_table(docs, "doc_id", "text"))
    seen_b = bands.filter(F.col("doc") % 5 < 3)
    inc_b = bands.filter(F.col("doc") % 5 >= 3)
    flagged = (
        inc_b.join(
            seen_b.select(
                F.col("band_idx").alias("bi"), F.col("band_sig").alias("bs")
            ),
            (F.col("band_idx") == F.col("bi"))
            & (F.col("band_sig") == F.col("bs")),
            "leftsemi",
        )
        .select("doc")
        .distinct()
        .withColumn("is_neardup", F.lit(1))
    )
    incoming = docs.filter(F.col("doc_id") % 5 >= 3).select(
        F.col("doc_id").alias("doc"), "source"
    )
    return (
        incoming.join(flagged, "doc", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum(F.coalesce("is_neardup", F.lit(0))).alias("n_neardup"),
            (
                F.count(F.lit(1))
                - F.sum(F.coalesce("is_neardup", F.lit(0)))
            ).alias("n_clean"),
        )
    )


QUERIES["incremental_minhash_index"] = incremental_minhash_index

ORACLES["incremental_minhash_index"] = f"""
WITH {_MINHASH_BANDS_CTE},
flagged AS (
  SELECT DISTINCT i.doc
  FROM bands i JOIN bands s
    ON i.band_idx = s.band_idx AND i.band_sig = s.band_sig
  WHERE i.doc % 5 >= 3 AND s.doc % 5 < 3
)
SELECT source,
       count(*) AS n_incoming,
       CAST(sum(CASE WHEN flagged.doc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_neardup,
       CAST(sum(CASE WHEN flagged.doc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clean
FROM documents LEFT JOIN flagged ON documents.doc_id = flagged.doc
WHERE doc_id % 5 >= 3
GROUP BY source ORDER BY source
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
    return cands.select(
        "doc_a",
        "doc_b",
        inter.alias("inter"),
        (F.col("n_a") + F.col("n_b") - inter).alias("uni"),
    ).filter(
        (F.lit(_PPJ_TAU_NUM) + F.lit(_PPJ_TAU_DEN)) * F.col("inter")
        >= F.lit(_PPJ_TAU_NUM) * (F.col("inter") + F.col("uni"))
    )


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


# ---------------------------------------------------------------------------
# blocking_quality_eval — record-linkage blocking quality without pairs
# ---------------------------------------------------------------------------


def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage BLOCKING evaluation (SURVEY §2 #188): pair
    completeness and reduction ratio of a candidate blocking scheme
    (lang, 100-char size bucket) against ground-truth duplicate
    clusters (the golden_record fingerprint: md5 of the first-40-char
    normalized prefix, as in golden_record — kept in lockstep so
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
    )


QUERIES["image_phash_groups"] = image_phash_groups


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


_AHASH_TOTAL = " + ".join(_ahash_g(x, y) for y in range(8) for x in range(8))

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
    )


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
    )


QUERIES["dup_span_census"] = dup_span_census

_dsc_gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(_DSC_K))

ORACLES["dup_span_census"] = f"""
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


QUERIES["capture_recapture_dups"] = capture_recapture_dups

ORACLES["capture_recapture_dups"] = f"""
WITH {_MINHASH_BANDS_CTE},
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
