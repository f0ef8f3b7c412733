"""Embedding similarity search: brute-force cosine top-k, LSH-bucketed
ANN, and cosine near-dup pairs.

Scale design: the query set is small and broadcast — the big vector
table streams through one narrow pass per query batch (no shuffle of
the fact side). ANN-LSH buckets the big table by a random-hyperplane
signature so candidate generation is an equi-join on the bucket id.
The pairwise near-dup op uses banded multi-table LSH (B bands × P
planes): per-band bucket population is ~N/2^P, so self-join fanout is
tuned by parameters, not fixed by a single global signature. IVF
assigns cells map-side against a broadcast codebook. At 100 TB these
equi-join/broadcast layouts are the only viable ones — brute force is
the per-bucket verifier, not the global plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import vectors as V
from pyprima_spark.operators.checkpointing import materialize


def with_double_vec(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn("vec", F.expr(V.to_double_spark(col)))


def with_vec_norm(df: DataFrame, col: str = "embedding") -> DataFrame:
    """vec + its L2 norm. Precomputing the norm once per VECTOR (instead
    of once per candidate PAIR inside the cosine) cuts the verify cost
    ~3x: only the dot product remains pairwise. The factored expression
    runs the identical float ops, so results are bit-equal to the
    inline form the oracles use."""
    return with_double_vec(df, col).withColumn(
        "nrm", F.expr(V.norm_spark("vec"))
    )


def cosine_prenorm_col() -> F.Column:
    """Cosine from carried qvec/cvec + precomputed qn/cn norms."""
    dot = V.dot_spark("qvec", "cvec")
    return F.round(
        F.expr(f"CASE WHEN qn = 0D OR cn = 0D THEN 0D ELSE {dot} / (qn * cn) END"),
        4,
    )


def ann_topk(
    emb: DataFrame,
    n_queries: int,
    k: int,
    id_col: str = "vec_id",
    base: "DataFrame | None" = None,
) -> DataFrame:
    """Brute-force cosine top-k of every vector against each query.

    ``base`` lets a caller that composes several ANN passes (e.g.
    ann_recall_eval) hand in ONE shared vec+norm derivation instead of
    re-deriving it per pass (guide §2.4: duplicate subtrees)."""
    if base is None:
        base = with_vec_norm(emb)
    queries = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    cands = base.select(
        F.col(id_col).alias("vec_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cosine_prenorm_col())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def with_lsh_bucket(df: DataFrame) -> DataFrame:
    return df.withColumn("bucket", F.expr(V.lsh_bucket_spark("vec")))


def ann_lsh(
    emb: DataFrame,
    n_queries: int,
    k: int,
    id_col: str = "vec_id",
    base: "DataFrame | None" = None,
) -> DataFrame:
    """LSH-bucketed ANN: candidates share the query's hyperplane bucket.

    ``base`` (must already carry vec/nrm/bucket) — see ann_topk."""
    if base is None:
        base = with_lsh_bucket(with_vec_norm(emb))
    queries = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
        "bucket",
    )
    cands = base.select(
        F.col(id_col).alias("vec_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cn"),
        "bucket",
    )
    scored = (
        cands.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cosine_prenorm_col())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def embedding_dedup(
    emb: DataFrame,
    tau: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-dup pairs (cosine >= tau) via banded multi-table LSH.

    Candidate generation: a (vec_id, band, bucket) signature table —
    one row per band, bucket = P-plane hyperplane signature within the
    band — self-joined on (band, bucket); a pair qualifies if it
    collides in ≥1 band (distinct over bands). Expected per-(band,
    bucket) population is N / 2^P, so worst-case join fanout is bounded
    by the band parameters rather than a fixed 2^planes global table;
    recall rises with B. Verification (the cosine) runs ONCE per
    distinct pair, via two id-equi-joins back to the vector table.
    """
    # base feeds the signature derivation plus both verify joins, but is
    # deliberately NOT checkpointed: materializing it writes the full
    # vector payload (the wide column) three consumers' worth, while
    # re-deriving it is a cheap cached-scan + norm recompute (measured
    # ~0.5s cold at sf0.1 in the checkpoint's favor removed). In
    # production the analogue is storing norms as a column of the vector
    # table — a one-off ETL, not a per-query materialization.
    base = with_vec_norm(emb).select(F.col(id_col).alias("vid"), "vec", "nrm")

    sig = base.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(V.band_bucket_spark("vec", b)).alias("bucket"),
                    )
                    for b in range(V.LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vid", "bb.band", "bb.bucket")
    # Materialize signatures once before the self-join: the a/b alias
    # renames sit below the join exchanges, so exchange reuse never
    # fires and the hyperplane-projection pass would run twice. The
    # signature table is small (id, band, bucket — no vectors), which is
    # exactly why it is the thing to persist; on a cluster this is the
    # signature-table parquet write every LSH pipeline does.
    sig = materialize(sig)
    pairs = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    # Broadcast the candidate-pair table into both verify joins: pairs
    # is (id, id) only — band parameters bound it to a small multiple
    # of N/2^P per band — so shipping it beats shuffling the full
    # vector payload twice (measured 1.9s -> 1.2s warm at sf0.1). If a
    # parameter choice ever made the candidate set huge, drop the hint
    # and AQE falls back to a shuffle join; the vector table itself is
    # never on the broadcast side.
    return (
        F.broadcast(pairs).join(
            base.select(
                F.col("vid").alias("vec_a"),
                F.col("vec").alias("qvec"),
                F.col("nrm").alias("qn"),
            ),
            "vec_a",
        )
        .join(
            base.select(
                F.col("vid").alias("vec_b"),
                F.col("vec").alias("cvec"),
                F.col("nrm").alias("cn"),
            ),
            "vec_b",
        )
        .withColumn("cos", cosine_prenorm_col())
        .filter(F.col("cos") >= tau)
        .select("vec_a", "vec_b", "cos")
    )


def ivf_centroids(
    emb: DataFrame, centroid_ids: list[int], id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic coarse quantizer: the centroid set is the vectors
    at fixed ids (an oracle-replicable stand-in for a KMeans fit — the
    rest of the IVF plan is identical either way).

    The |centroid_ids| (a design constant — the codebook size) vectors
    are fetched with ONE pushed-down id-IN scan and collected to a
    literal DataFrame: every downstream consumer (codebook fold, probe
    cross-join) then reads constant rows instead of re-running an
    embeddings-table scan + broadcast join per reference. The driver
    transfer is bounded by the codebook size, never data size
    (bounded_collect contract). Values are bit-identical: collect
    round-trips the exact doubles."""
    from pyprima_spark.operators.exactmath import bounded_collect

    spark = emb.sparkSession
    cell_of = {int(cid): i for i, cid in enumerate(centroid_ids)}
    rows = bounded_collect(
        with_double_vec(emb)
        .filter(F.col(id_col).isin([int(c) for c in centroid_ids]))
        .select(F.col(id_col).alias("cid"), "vec"),
        len(centroid_ids),
        "ivf_centroids: codebook fetch",
    )
    return spark.createDataFrame(
        [(cell_of[int(r["cid"])], list(r["vec"])) for r in rows],
        "cell int, centroid array<double>",
    )


def ann_ivf(
    emb: DataFrame,
    n_queries: int,
    k: int,
    n_clusters: int = 8,
    n_probe: int = 4,
    id_col: str = "vec_id",
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions the vector table
    into inverted lists; each query probes only its ``n_probe`` nearest
    cells and brute-forces inside them.

    This is the scale path beyond LSH: at 100 TB the vector table is
    scanned once to assign cells, candidate generation is a broadcast
    equi-join on cell id (no shuffle of the big side), and per-cell
    verification is the same narrow cosine pass as brute force. Probe
    selection is itself a DataFrame job over the (tiny) centroid table —
    no .collect() of query vectors.

    The quantizer: fixed ``centroid_ids`` (default — deterministic, so
    the whole plan is verifiable against a SQL oracle) or a KMeans fit
    when ``centroid_ids`` is the string ``"kmeans"`` (better cell
    balance; same downstream plan, but the fit is seed-dependent so the
    result is only rows-checkable).
    """
    base = with_vec_norm(emb)

    if centroid_ids == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        featured = base.withColumn("features", array_to_vector("vec"))
        model = KMeans(
            k=n_clusters, seed=42, featuresCol="features", predictionCol="cell"
        ).fit(featured)
        assigned = model.transform(featured).select(
            F.col(id_col).alias("vec_id"),
            F.col("vec").alias("cvec"),
            F.col("nrm").alias("cn"),
            "cell",
        )
        centroids = emb.sparkSession.createDataFrame(
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(model.clusterCenters())
            ],
            "cell int, centroid array<double>",
        )
    else:
        if centroid_ids is None:
            # Spread picks across the id space, past the query ids.
            centroid_ids = [n_queries + 7 * i for i in range(n_clusters)]
        centroids = ivf_centroids(emb, centroid_ids, id_col)
        # Codebook folded to ONE broadcast row so cell assignment is a
        # pure map over the big table (argmin inside a higher-order
        # function) — no shuffle, no per-vector window. Ties go to the
        # lowest cell id (strict < over a cell-ascending codebook),
        # matching the oracle's ORDER BY d2, cell.
        codebook = centroids.agg(
            F.sort_array(F.collect_list(F.struct("cell", "centroid"))).alias(
                "cents"
            )
        )
        argmin_cell = F.expr(
            "aggregate("
            "  transform(cents, c -> named_struct("
            f"    'cell', c.cell, 'd2', {V.l2sq_spark('cvec', 'c.centroid')})),"
            "  named_struct('cell', -1, 'd2', cast('Infinity' as double)),"
            "  (best, cand) -> IF(cand.d2 < best.d2, cand, best)"
            ").cell"
        )
        assigned = (
            base.select(
                F.col(id_col).alias("vec_id"),
                F.col("vec").alias("cvec"),
                F.col("nrm").alias("cn"),
            )
            .crossJoin(F.broadcast(codebook))
            .withColumn("cell", argmin_cell)
            .select("vec_id", "cvec", "cn", "cell")
        )

    queries = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    # n_probe nearest cells per query: queries x centroids is tiny.
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("d2", F.expr(V.l2sq_spark("qvec", "centroid")))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qvec", "qn", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cosine_prenorm_col())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )
