"""Iterative PageRank over an edge table, cross-engine deterministic.

Complements :mod:`pyprima_spark.operators.components` (transitive
closure) with the other canonical iterative graph pass: importance
propagation. Reference analogue: pyPRIMA ranks candidate network nodes
by aggregate connected capacity (generate_intermediate_files.py:
463-490); PageRank is the principled version of that scoring and a
standard feature in web-corpus curation pipelines (quality-weighting
documents by link graph).

Scale design mirrors components.py:

* State is one (node, rank) table, O(V), hash-partitioned by node.
* One iteration = join ranks to the out-edge table (equi-join on src,
  both sides partitioned on the same key) + one groupBy(dst) sum —
  two shuffles on uniform ids, plan size held flat by
  `materialize` every few rounds.
* Fixed iteration count (the usual choice for bounded pipelines)
  keeps the loop deterministic and lets a SQL oracle unroll it.

Determinism across engines: the per-node contribution sum is a double
sum, which is partition-order dependent. Contributions are cast to
DECIMAL(18,12) before summing — exact and associative, so Spark and a
sequential engine get bit-identical totals (see functions/agg.py for
the full argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyprima_spark.operators.checkpointing import materialize

RANK_DEC = "decimal(18,12)"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after `iterations` synchronous PageRank rounds.

    `edges` is a directed edge list (undirected graphs: pass each edge
    in both directions). Every node is assumed to have out-degree >= 1
    (true for symmetrized edge tables); dangling-mass redistribution is
    therefore not needed.
    """
    # One upstream run total: the edge projection is cached, then the
    # node set (referenced by EVERY iteration's right join), the degree
    # table, and the adjacency all derive from the cache. Without this,
    # nodes and adj each re-run the caller's full edge pipeline.
    out = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).persist()
    nodes = materialize(
        out.select("node")
        .union(out.select(F.col("nbr").alias("node")))
        .distinct(),  # eager: pins O(V) rows, fills the out cache
    )
    n_nodes = nodes.count()
    deg = out.groupBy("node").agg(F.count(F.lit(1)).alias("outdeg"))
    adj = out.join(deg, "node").persist()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes
    for i in range(iterations):
        contrib = adj.join(ranks, "node").select(
            F.col("nbr").alias("node"),
            (F.col("rank") / F.col("outdeg")).cast(RANK_DEC).alias("c"),
        )
        ranks = (
            # right-join keeps in-degree-0 nodes at the base rank
            contrib.groupBy("node")
            .agg(F.sum("c").alias("csum"))
            .join(nodes, "node", "right")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("csum"), F.lit(0)).cast("double")
                ).alias("rank"),
            )
        )
        # Lineage truncation guards against driver-side plan blowup on
        # LONG chains; each truncation is an extra materialization job,
        # so only pay for it every few rounds (a 3-round plan is fine
        # to compile whole).
        if (i + 1) % 4 == 0 and i + 1 < iterations:
            ranks = materialize(ranks)
    ranks = materialize(ranks)  # pin before dropping caches
    adj.unpersist()
    out.unpersist()
    return ranks


def k_core_round(edges: DataFrame, k: int) -> DataFrame:
    """ONE k-core peeling round: drop every node with degree < k and
    every edge touching one. `edges` is an undirected edge list with
    columns (a, b), each edge once. Iterating to a fixed point yields
    the k-core; a fixed round count (plans/graph.graph_k_core) keeps
    the census engine-deterministic. One degree aggregation + two
    semi-joins — key-partitioned, O(E), no fanout.
    """
    deg = (
        edges.select(F.col("a").alias("n"))
        .union(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keep = deg.filter(F.col("d") >= k).select("n")
    return (
        edges.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
        .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
        .select("a", "b")
    )
