"""Scale-stress probe for the dedup/similarity family (VERDICT r6
missing-item 4: no sf1 test data exists, so band parameters and
df-cutoffs were only ever measured to sf0.1).

Since /root/testdata tops out at sf0.1, this probe manufactures an
N×-scale corpus from the DRIVER-PROVIDED data itself (no synthetic
distribution drift): the documents table is unioned N times with
doc_id offsets and a per-replica text suffix — preserving the length,
token and source distributions while multiplying rows — and the
scale-sensitive operators run at 1× and N×. The artifact records
wall-clock ratios: a bucketed/banded plan should scale ~linearly in
rows (ratio ≈ N, modulo fixed overhead); a quadratic pair-explosion
shows up as ratio >> N.

Usage: python tools/stress_probe.py [N] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.1"


def replicated_docs(spark, n: int):
    """documents unioned n times: doc_id offset per replica keeps ids
    unique; a replica tag appended to text keeps near-dup structure
    per replica instead of creating n-way exact duplicates (which
    would measure the dedup of the replication trick, not the
    operator)."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for r in range(n):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * max_id)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica{r}")).alias("text"),
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicated_embeddings(spark, n: int):
    """embeddings unioned n times with id offsets and a tiny per-replica
    rotation of the first coordinate — distinct vectors per replica so
    the LSH buckets keep their population shape instead of collapsing
    into exact duplicates."""
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    max_id = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    parts = []
    for r in range(n):
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(r * max_id)).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> CASE WHEN i = 0 "
                    f"THEN x + {r} * 0.01 ELSE x END)"
                ).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicated_orders(spark, n: int):
    """orders⋈customer projection unioned n times with orderkey offsets
    — key domain widens with the replica count (each replica's keys
    land in a distinct range), so the equi-width bucket census sees a
    genuinely larger domain, and totals keep their distribution."""
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "o_totalprice", "o_orderkey"
    )
    max_k = j.agg(F.max("o_orderkey")).collect()[0][0] + 1
    parts = [
        j.select(
            "c_mktsegment",
            "o_totalprice",
            (F.col("o_orderkey") + F.lit(r * max_k)).alias("o_orderkey"),
        )
        for r in range(n)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe_orders(spark, j):
    """Scale-sensitive legs of the round-8 parallelism rewrites
    (VERDICT r7): the scaled-bucket-count interpolation census (bucket
    count B grows with rows, so per-bucket window sorts stay near the
    rows-per-bucket target instead of growing linearly) and the
    broadcast percentile-cut decile binning (cut table stays 5×9 at
    any scale)."""
    from pyprima_spark.plans.model_eval import ntile_features_census
    from pyprima_spark.plans.sketches import interpolation_search_census

    timings: dict[str, float] = {}

    def timed(name, fn):
        spark.catalog.clearCache()
        start = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - start, 3)

    timed(
        "interpolation_search_census",
        lambda: interpolation_search_census(
            j.select(F.col("o_orderkey").alias("k"))
        ).count(),
    )
    timed("ntile_features_census", lambda: ntile_features_census(j).count())
    return timings


def probe_embeddings(spark, emb):
    """Scale-sensitive ANN/embedding legs: hyperplane-LSH top-k
    (bucket join fanout is the scale risk) and banded near-dup pairs."""
    from pyprima_spark.operators.similarity import ann_lsh, embedding_dedup

    timings: dict[str, float] = {}

    def timed(name, fn):
        spark.catalog.clearCache()
        start = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - start, 3)

    timed("ann_lsh_topk", lambda: ann_lsh(emb, n_queries=20, k=10).count())
    timed(
        "embedding_dedup_pairs",
        lambda: embedding_dedup(emb, tau=0.95).count(),
    )

    def hamming_recall():
        # VERDICT r9 item 4: the catalog's second-worst 10x scaler
        # (10.7x). Structural growth law: scored-pair mass =
        # |queries| x |corpus|, and the mod-25 query set grows WITH
        # the replicated corpus, so the leg measures ~N^2 by
        # construction; the deployment contract is a FIXED query set
        # (linear). Recorded so the ratio is a measured, named law
        # rather than an unexplained outlier.
        from pyprima_spark.plans.retrieval import _hamming_recall_over

        return _hamming_recall_over(emb).count()

    timed("hamming_recall", hamming_recall)
    return timings


def probe(spark, docs):
    """Run the scale-sensitive legs over an arbitrary documents frame
    and return wall seconds per leg."""
    from pyprima_spark.operators.components import connected_components
    from pyprima_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_gram_table,
        simhash_table,
    )
    from pyprima_spark.plans.constants import NGRAM_DF_MAX, NGRAM_LEN_BAND

    timings: dict[str, float] = {}

    def timed(name, fn):
        spark.catalog.clearCache()
        start = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - start, 3)

    timed(
        "minhash_pairs",
        lambda: minhash_candidate_pairs(docs, "doc_id", "text").count(),
    )
    timed(
        "minhash_components",
        lambda: connected_components(
            minhash_candidate_pairs(docs, "doc_id", "text"), "doc_a", "doc_b"
        ).count(),
    )
    timed(
        "simhash_table",
        lambda: simhash_table(docs, "doc_id", "text").count(),
    )
    timed(
        "gram_table_build",
        lambda: ngram_gram_table(
            docs.withColumn(
                "len_band", F.floor(F.length("text") / NGRAM_LEN_BAND)
            ),
            "doc_id",
            "text",
            ["source", "len_band"],
            df_max=NGRAM_DF_MAX,
        ).count(),
    )
    timed(
        "exact_dedup",
        lambda: docs.groupBy(F.md5("text")).count().count(),
    )

    def ppjoin_shingles():
        # the bench leg's realistic-vocab shape (plans/similarity.py
        # ppjoin_shingles_bench): hashed 5-gram shingle sets through
        # the prefix-filtered exact-Jaccard core; VERDICT r8 item 3
        # asks for exactly this leg under N× replication
        from pyprima_spark.functions import text as X
        from pyprima_spark.operators.checkpointing import materialize
        from pyprima_spark.plans.similarity import _ppjoin_over

        tk = materialize(
            docs.select(
                "doc_id",
                "source",
                F.lit("xx").alias("lang"),
                F.expr(X.tokens_spark("text")).alias("tk"),
            ),
            eager=False,
        )
        toks = tk.select(
            "doc_id",
            "source",
            "lang",
            F.expr(
                f"array_distinct(transform({X.shingles_spark('tk', 5)},"
                " s -> xxhash64(s)))"
            ).alias("tokens"),
        ).filter(F.size("tokens") > 0)
        return _ppjoin_over(toks).count()

    timed("ppjoin_shingle_join", ppjoin_shingles)

    def band_census():
        # VERDICT r9 item 4: the catalog's worst 10x scaler (13.0x).
        # Structural growth law: pair mass under the decile census is
        # sum over grams of df^2 within each (source, len-band) block;
        # replication thickens every gram's df toward the cutoff, so
        # wall grows ~quadratically in the sub-cutoff df range before
        # the NGRAM_DF_MAX cap flattens it. Measured here so the law
        # is named, not inferred.
        from pyprima_spark.plans.similarity import _band_census_over

        return _band_census_over(docs).count()

    timed("band_census_pairs", band_census)
    timed(
        "ngram8_shingle_distinct",
        lambda: docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text,' '))-7,0)),"
                    " i -> concat_ws(' ', slice(split(text,' '), i, 8)))"
                )
            ).alias("g"),
        )
        .groupBy("g")
        .count()
        .count(),
    )
    return timings


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out_path = sys.argv[2] if len(sys.argv) > 2 else "STRESS_r08.json"
    from pyprima_spark.session import build_session

    spark = build_session("stress_probe")
    base_docs = replicated_docs(spark, 1)
    n_rows_1x = base_docs.count()
    t1 = probe(spark, base_docs)
    t1.update(probe_embeddings(spark, replicated_embeddings(spark, 1)))
    t1.update(probe_orders(spark, replicated_orders(spark, 1)))
    big = replicated_docs(spark, n)
    n_rows_nx = big.count()
    tn = probe(spark, big)
    tn.update(probe_embeddings(spark, replicated_embeddings(spark, n)))
    tn.update(probe_orders(spark, replicated_orders(spark, n)))
    doc = {
        "sf_base": 0.1,
        "replicas": n,
        "rows_1x": n_rows_1x,
        "rows_nx": n_rows_nx,
        "secs_1x": t1,
        "secs_nx": tn,
        "ratio": {
            k: round(tn[k] / t1[k], 2) if t1[k] > 0 else None for k in t1
        },
        "verdict_rule": (
            "bucketed/banded plans should scale ~linearly: ratio <= "
            "~1.5*N after fixed overhead; ratio >> N flags a pair "
            "explosion"
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(json.dumps(doc["ratio"]))
    spark.stop()


if __name__ == "__main__":
    main()
