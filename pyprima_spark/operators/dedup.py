"""Document deduplication operators: exact, fingerprint, MinHash+LSH,
SimHash, and n-gram Jaccard.

Scale design (the 100 TB story):

* exact / fingerprint — hash-groupBy: one shuffle on the 128-bit digest,
  uniformly distributed by construction, no skew.
* minhash — shingles exploded and hashed once each, signatures as
  conditional MIN aggregates over one doc-key shuffle; only the tiny
  (doc, band, sig) table shuffles for the bucket self-join. Candidate
  pairs are verified only within buckets — the cartesian never happens.
* simhash — same shape: signature per doc computed narrowly, then a
  15-bit-chunk bucket join (standard Charikar dedup layout).
* ngram jaccard — candidates bucketed by (source, length band) before
  the gram-overlap join, bounding the pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.plans.constants import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_MASK,
    MINHASH_N,
    MINHASH_P,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5; keep the smallest id per group."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("kept_doc"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Dedup after normalization: lowercase, strip punctuation, collapse
    whitespace — catches trivially-edited duplicates."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return (
        df.withColumn("fingerprint", F.md5(norm))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("kept_doc"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_band_table(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, band_idx, band_sig) — one row per doc per LSH band.

    Layout chosen for scale: shingles are EXPLODED and md5-hashed ONCE
    each; the 16 minhashes are conditional MIN aggregates of a cheap
    universal hash family (A[j]*h+B[j] mod P) over the 30-bit base hash.
    A nested higher-order-function formulation recomputes the md5 per
    hash function and per band (projection collapse inlines expressions
    into every lambda) — measured ~10× slower.
    """

    toks = X.tokens_spark(text_col)
    # Shingles: build the (distinct) shingle ARRAY with one transform,
    # then explode it. Exploding POSITIONS and indexing a carried tokens
    # array instead copies the whole string array into every exploded
    # row (Generate materializes carried columns per output row) —
    # measured 4× slower. Per-doc duplicate shingles are dropped by the
    # array_distinct inside shingles_spark; minima are unaffected.
    sh = X.shingles_spark("tokens")
    base = (
        df.select(F.col(id_col).alias("doc"), F.expr(toks).alias("tokens"))
        .filter(F.size("tokens") >= 3)
        .select("doc", F.explode(F.expr(sh)).alias("s"))
        .withColumn("h", F.expr(X.hash64_spark("s")).bitwiseAND(F.lit(MINHASH_MASK)))
    )
    mins = base.groupBy("doc").agg(
        *[
            F.min((F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j])) % MINHASH_P).alias(
                f"mh_{j}"
            )
            for j in range(MINHASH_N)
        ]
    )
    sig = mins.withColumn(
        "minhashes", F.array(*[F.col(f"mh_{j}") for j in range(MINHASH_N)])
    )
    bands = X.bands_spark("minhashes", MINHASH_BANDS)
    return sig.select(
        "doc", F.posexplode(F.expr(bands)).alias("band_idx", "band_sig")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Distinct candidate near-dup pairs sharing >= 1 LSH band.

    The band table is materialized ONCE (stage boundary) before the
    self-join. Exchange reuse does NOT deduplicate the two sides:
    each side renames doc below its exchange, so the exchange children
    never canonicalize equal and the whole shingle+md5+minhash
    derivation runs twice (verified against the executed plan). At
    corpus scale the derivation dominates the join, so the stage
    boundary here is the 2x; in production this materialization is the
    signature-table parquet write every LSH pipeline persists anyway.
    The boundary is reliable when the session has a checkpoint
    directory (operators/checkpointing).
    (An A/B against a lazy-persist boundary measured the eager
    checkpoint FASTER end-to-end: the materialized LogicalRDD gives the
    planner exact stats for the self-join, and the derivation job runs
    once cleanly instead of under block-lock contention between the two
    concurrent join-side stages.)
    """
    bands = materialize(minhash_band_table(df, id_col, text_col))
    a = bands.select(
        F.col("doc").alias("doc_a"), "band_idx", "band_sig"
    )
    b = bands.select(
        F.col("doc").alias("doc_b"), "band_idx", "band_sig"
    )
    return (
        a.join(b, ["band_idx", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) for every doc with at least one token.

    Same scale layout as minhash: tokens exploded, md5 hashed once
    each, then 60 conditional-sum aggregates (one per bit) and a final
    bit-packing projection — instead of nested HOFs that recompute the
    token md5s for every one of the 60 bits.
    """
    toks = X.tokens_spark(text_col)
    base = (
        df.select(F.col(id_col).alias("doc"), F.expr(toks).alias("tokens"))
        .select("doc", F.explode("tokens").alias("t"))
        .withColumn("h", F.expr(X.hash64_spark("t")))
    )
    bits = base.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"b_{b}")
            for b in range(X.SIMHASH_BITS)
        ]
    )
    packed = " + ".join(
        f"IF(b_{b} >= 0, shiftleft(1L, {b}), 0L)" for b in range(X.SIMHASH_BITS)
    )
    return bits.select("doc", F.expr(packed).alias("simhash"))


def simhash_pair_hamming(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Hamming distance for candidate pairs sharing a 15-bit chunk.

    Like minhash: the signature derivation is materialized once before
    the self-join (the per-side renames defeat exchange reuse, so
    without the stage boundary the token/bit-sum pass runs twice).
    """
    sims = materialize(simhash_table(df, id_col, text_col))
    chunks = sims.select(
        "doc",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
    ).withColumn(
        "chunk", F.expr("shiftright(simhash, c * 15) & 32767")
    )
    a = chunks.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("sim_a"), "c", "chunk"
    )
    b = chunks.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("sim_b"), "c", "chunk"
    )
    pairs = (
        a.join(b, ["c", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.expr("bit_count(sim_a ^ sim_b)")
    ).select("doc_a", "doc_b", "hamming")


def ngram_gram_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cols: list[str],
    df_max: int | None = None,
) -> DataFrame:
    """(id, bucket..., gram) exploded distinct char-3-gram table
    (per-doc set sizes come from :func:`gram_set_sizes`, not carried
    on the rows — see the last paragraph).

    Set semantics come from a per-doc JVM-side ``array_distinct`` built
    INSIDE the gram-array projection, so the exploded table is already
    set-shaped and the former row-level ``.distinct()`` — a full
    shuffle+sort of the largest intermediate in the whole dedup family —
    is gone; the df-cutoff window below is the gram table's ONLY
    shuffle.  The normalized text crosses a single-element explode
    first: a Generate node is the one barrier CollapseProject cannot
    inline through, so the regexp normalization runs once per doc
    instead of once per referencing subexpression of the gram lambda.

    ``df_max`` drops grams whose document frequency within a bucket
    exceeds the cutoff — the standard stop-gram guard: a gram present
    in most of a bucket contributes quadratic join fanout but no
    discriminative signal. The df window partitions on (bucket, gram),
    the exact keys the downstream candidate join shuffles on, so the
    cutoff pass reuses that partitioning rather than adding a new one.
    Jaccard is then over the kept (discriminative) gram sets.

    Per-doc set sizes are intentionally NOT carried on the gram rows: a
    doc-keyed window would sort-shuffle the full gram table just to
    attach a value needed once per PAIR. Callers get sizes from
    ``gram_set_sizes`` (a map-combined count, tiny output) and join it
    onto the aggregated pairs instead.
    """
    from pyspark.sql import Window

    norm = X.normtext_spark(text_col)
    grams = (
        df.select(
            F.col(id_col).alias("doc"),
            *bucket_cols,
            F.explode(F.array(F.expr(norm))).alias("norm"),
        )
        .select(
            "doc",
            *bucket_cols,
            F.explode(F.expr(X.char_ngrams_spark("norm"))).alias("gram"),
        )
    )
    if df_max is not None:
        wdf = Window.partitionBy(*bucket_cols, "gram")
        grams = (
            grams.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("_df") <= df_max)
            .drop("_df")
        )
    return grams


def gram_set_sizes(grams: DataFrame) -> DataFrame:
    """(doc, gset_size) from a gram table — map-combined count, one row
    per doc; broadcastable onto the candidate pairs."""
    return grams.groupBy("doc").agg(F.count(F.lit(1)).alias("gset_size"))


WINNOW_K = 5   # char-gram length for rolling hashes
WINNOW_W = 8   # winnowing window (guarantee: any match >= k+w-1 chars shares a fingerprint)


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    rolling char-k-gram hashes, minimum per sliding window of w hashes,
    distinct selected minima per doc.

    The rolling minimum is a ROWS-frame window over the position-sorted
    hash stream — one shuffle on the doc key, per-key bounded state,
    identical shape to the reference's trend windows. Output is the
    join-ready (doc, fingerprint) table plagiarism/overlap detection
    bucket-joins on.
    """
    from pyspark.sql import Window

    norm = X.normtext_spark(text_col)
    min_len = WINNOW_K + WINNOW_W - 1
    hashes = (
        df.select(F.col(id_col).alias("doc"), F.expr(norm).alias("norm"))
        .filter(F.length("norm") >= min_len)
        .select(
            "doc",
            "norm",
            F.posexplode(
                F.expr(f"sequence(0, length(norm) - {WINNOW_K})")
            ).alias("i", "_"),
        )
        .select(
            "doc",
            "i",
            F.expr(
                X.hash64_spark(f"substring(norm, i + 1, {WINNOW_K})")
            ).alias("h"),
        )
    )
    wmin = Window.partitionBy("doc").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    wmax = Window.partitionBy("doc")
    return (
        hashes.withColumn("win_min", F.min("h").over(wmin))
        .withColumn("max_i", F.max("i").over(wmax))
        .filter(F.col("i") <= F.col("max_i") - (WINNOW_W - 1))
        .select(F.col("doc").alias("doc_id"), F.col("win_min").alias("fingerprint"))
        .distinct()
    )
