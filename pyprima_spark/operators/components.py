"""Connected components: turn near-duplicate PAIRS into dedup CLUSTERS.

Reference analogue: pyPRIMA's dataframe dedup keeps one row per
duplicate group (correction_functions.py:474 cumcount dedup); at corpus
scale the duplicate relation arrives as candidate PAIRS (minhash/simhash
buckets), and grouping them requires the transitive closure — an
iterative algorithm no single SQL pass expresses.

Scale design (hash-min label propagation, the Kiveris et al. layout):

* State per iteration is one (node, label) table, hash-partitioned by
  node — size O(V), never O(V^2). Edges are held partitioned once and
  reused every round.
* Each round is: propagate labels across edges (one equi-join on the
  edge endpoint), take min per node (one agg) — two shuffles, both on
  uniformly-distributed ids.
* Convergence in O(diameter) rounds; dedup-cluster graphs have tiny
  diameter (near-clique components), so 3-5 rounds in practice.
* `materialize` truncates the lineage each round — without it the
  plan doubles per iteration and the driver, not the data, becomes the
  bottleneck (classic iterative-Spark failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyprima_spark.operators.checkpointing import materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) with component = min node id reachable.

    ``edges`` is undirected input (each pair once, either order).
    Per-round lineage is cut with ``materialize``, reliable when the
    session has a checkpoint directory (operators/checkpointing).
    """
    # Symmetrize with ONE explode instead of a self-union: the two
    # union branches are distinct subtrees (the column swap defeats
    # exchange reuse), so the caller's whole candidate-pair pipeline —
    # an LSH band join + distinct for every dedup caller — evaluated
    # TWICE just to emit each edge in both directions (guide §2.4:
    # remove duplicate subtree work). The explode emits both directions
    # from one evaluation, at every scale.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    # Partition the persisted edge table by the PROPAGATE-join key "b":
    # every round's join probes b, so this is the layout the join
    # reuses; keyed on "a" the edge table paid a fresh exchange per
    # round (guide §2.4).
    sym = sym.repartition("b").persist()

    # Convergence is tracked by the EXACT decimal sum of all labels
    # instead of a per-round new-vs-old join: hash-min labels are
    # monotonically non-increasing (new = min(old, incoming)), so the
    # sum is strictly decreasing until the fixpoint and equal exactly
    # at it. Each round is then ONE action — the sum is the action that
    # materializes that round's lazy checkpoint — where the former
    # changed-check was a second job carrying a two-sided label join
    # (guide §2.4: one exchange pair per round removed, every scale).
    # decimal(38,0) keeps the comparison exact: labels are <= 2^60 and
    # a corpus of 10^12 nodes sums below 10^31 < 10^38.
    def _total(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    # Init FUSED with round 1: label_0(v) = min(v, min neighbor) — the
    # same aggregate shape (and the same one exchange on "a") the old
    # identity init paid for its distinct, but one propagation round
    # ahead. Hash-min converges to the identical fixpoint from any
    # start >= it, and round 1 always strictly decreases from the
    # identity start (every edge (a<b) lowers b), so this removes one
    # guaranteed-change round — a full join+agg+action per call, at
    # every scale.
    labels = materialize(
        sym.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("_mb"), F.col("a")).alias("label"),
        ),
        eager=False,
    )
    total = _total(labels)

    for _ in range(max_iter):
        # neighbor's current label, pulled across each edge
        prop = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "label")
        )
        new_labels = materialize(
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            eager=False,
        )
        new_total = _total(new_labels)
        labels = new_labels
        if new_total == total:
            break
        total = new_total

    sym.unpersist()
    return labels.select("node", F.col("label").alias("component"))
