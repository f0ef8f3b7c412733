"""Graph analytics over the nation trade graph and the co-purchase
graphs: PageRank, HITS, shortest paths, reachability, k-core,
triangles, communities, modularity, assortativity, attack tolerance and
spectral bisection.
"""

from __future__ import annotations

from hashlib import md5 as _md5

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect, min_label_components
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.operators.graph import k_core_round
from pyprima_spark.plans.core import _EDGE_AGG_CTE, _edge_aggregate, _t, _trade_lines


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (SURVEY §2 #62) over the symmetrized
    canonical trade-edge graph — importance scoring of network nodes,
    the principled version of pyPRIMA's connected-capacity node ranking
    (generate_intermediate_files.py:463-490). 3 synchronous rounds,
    decimal contribution sums; see operators/graph.py for the scale
    and determinism story.
    """
    from decimal import ROUND_HALF_UP, Decimal

    # The graph is the DIM-BOUNDED nation-pair census (≤ |nations|² =
    # 625 rows): the fact-sized stage (the 4-way lineitem join inside
    # _edge_aggregate) stays distributed, and the 3 synchronous rounds
    # run driver-side on the collected census — the same
    # census-collect-then-iterate adjudication as the other 13 keys
    # (SURVEY §7.24a): the former operators/graph.py loop ran ~8 Spark
    # jobs of join+agg on ≤ 50-row state per call (32 jobs total at
    # sf0.1; pure scheduler overhead at EVERY scale).  Arithmetic is
    # replicated bit-for-bit: per-edge contribution = the double
    # rank/outdeg cast to DECIMAL(18,12) (Spark casts via the shortest
    # decimal repr — Python's repr() is the same shortest-roundtrip
    # string — then HALF_UP at scale 12), contributions sum exactly in
    # Decimal, and the update is the identical IEEE-double
    # base + 0.85 * double(csum). The final round(rank, 8) stays IN
    # SPARK over the literal frame so the published rounding is the
    # engine's own.
    e_rows = bounded_collect(
        _edge_aggregate(spark, sf_dir).select("edge_a", "edge_b"),
        625,
        "pagerank_nations: nation-pair edge census",
    )
    out_nbrs: dict[int, list[int]] = {}
    for r in e_rows:
        a, b = r["edge_a"], r["edge_b"]
        out_nbrs.setdefault(a, []).append(b)
        out_nbrs.setdefault(b, []).append(a)
    nodes = sorted(out_nbrs)
    n = len(nodes)
    ranks = {v: 1.0 / n for v in nodes}
    base = (1.0 - 0.85) / n
    q12 = Decimal(1).scaleb(-12)
    for _ in range(3):
        csum = {v: Decimal(0) for v in nodes}
        got = set()
        for v in nodes:
            c = Decimal(repr(ranks[v] / len(out_nbrs[v]))).quantize(
                q12, rounding=ROUND_HALF_UP
            )
            for nbr in out_nbrs[v]:
                csum[nbr] += c
                got.add(nbr)
        ranks = {
            v: base + 0.85 * (float(csum[v]) if v in got else 0.0)
            for v in nodes
        }
    lit = spark.createDataFrame(
        [(int(v), ranks[v]) for v in nodes], schema="nationkey int, rank double"
    )
    return lit.select(
        "nationkey", F.round("rank", 8).alias("rank")
    )


QUERIES["pagerank_nations"] = pagerank_nations


def _pr_round(prev: str, nxt: str) -> str:
    """One unrolled synchronous PageRank round (mirror of
    operators/graph.py: decimal contribution sum, double update).
    Float literals are ::DOUBLE so DuckDB does not read them as
    DECIMAL; `base` is injected as the exact repr of the Python double
    Spark uses, so both engines start from identical bits."""
    base = repr((1.0 - 0.85) / 25.0)
    return f"""{nxt} AS (
  SELECT n.node,
         {base}::DOUBLE + 0.85::DOUBLE * coalesce(s.csum, 0)::DOUBLE AS rank
  FROM pr_nodes n LEFT JOIN (
    SELECT d.dst AS node,
           sum(CAST(r.rank / g.outdeg AS DECIMAL(18,12))) AS csum
    FROM pr_dir d
    JOIN {prev} r ON d.src = r.node
    JOIN pr_deg g ON d.src = g.src
    GROUP BY 1
  ) s ON n.node = s.node
)"""


_PR_ROUNDS = ",\n".join(_pr_round(f"pr_r{i}", f"pr_r{i + 1}") for i in range(3))

# 25 nations all trade cross-nation, so the symmetric graph has all 25
# nodes and 1/N = 1/25 (asserted by the Spark side's nodes.count()).
ORACLES["pagerank_nations"] = f"""
WITH {_EDGE_AGG_CTE},
pr_dir AS MATERIALIZED (
  SELECT edge_a AS src, edge_b AS dst FROM edges
  UNION ALL
  SELECT edge_b AS src, edge_a AS dst FROM edges
),
pr_deg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM pr_dir GROUP BY 1
),
pr_nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM pr_dir),
pr_r0 AS (SELECT node, {repr(1.0 / 25.0)}::DOUBLE AS rank FROM pr_nodes),
{_PR_ROUNDS}
SELECT node AS nationkey, round(rank, 8) AS rank
FROM pr_r3 ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# graph_degree_triangles — local clustering census of the trade graph
# ---------------------------------------------------------------------------

def graph_degree_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree + triangle participation per node (SURVEY §2 #96) — the
    local-clustering census that grid-topology QA runs on the line
    graph (generate_intermediate_files.py:463-490 builds the node
    neighborhood the same way).

    Triangle counting in its canonical distributed form: edges are
    ordered (a < b), so each triangle a<b<c is found EXACTLY once by
    joining (a,b)x(b,c) on the middle node and verifying (a,c) with a
    semi-join against the edge set — three equi-joins, no direction
    double-counting, no dedup pass. The edge table is materialized once
    (it feeds four consumers); at web-graph scale the same plan holds
    with the standard high-degree-vertex split.
    """
    edges = materialize(_edge_aggregate(spark, sf_dir).select("edge_a", "edge_b"))
    return (
        degree_triangle_census(edges)
        .select(
            F.col("node").alias("nationkey"), "degree", "n_triangles"
        )
    )


QUERIES["graph_degree_triangles"] = graph_degree_triangles

ORACLES["graph_degree_triangles"] = """
WITH pairs AS (
  SELECT least(c_nationkey, s_nationkey)    AS edge_a,
         greatest(c_nationkey, s_nationkey) AS edge_b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
), edges AS MATERIALIZED (
  -- <=625-row nation-pair census; MATERIALIZED because DuckDB inlines
  -- CTEs by default and this one is referenced from deg, both wedge
  -- legs AND the EXISTS — each expansion re-runs the lineitem 4-way
  -- join (the SURVEY #205 / section-6(d) pathology; measured 35+ min
  -- vs 17 s at sf0.1)
  SELECT DISTINCT edge_a, edge_b FROM pairs
), deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT edge_a AS node FROM edges
    UNION ALL
    SELECT edge_b FROM edges
  ) GROUP BY node
), tris AS (
  SELECT e1.edge_a AS a, e1.edge_b AS b, e2.edge_b AS c
  FROM edges e1
  JOIN edges e2 ON e1.edge_b = e2.edge_a
  WHERE EXISTS (SELECT 1 FROM edges e3
                WHERE e3.edge_a = e1.edge_a AND e3.edge_b = e2.edge_b)
), tri_per_node AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY node
)
SELECT deg.node AS nationkey, degree,
       coalesce(n_triangles, 0) AS n_triangles
FROM deg LEFT JOIN tri_per_node ON deg.node = tri_per_node.node
ORDER BY nationkey
"""


def degree_triangle_census(edges: DataFrame) -> DataFrame:
    """(node, degree, n_triangles) over a canonical (edge_a < edge_b)
    distinct edge table — the reusable kernel behind
    graph_degree_triangles; unit-tested on hand-built graphs."""
    deg = (
        edges.select(F.col("edge_a").alias("node"))
        .union(edges.select(F.col("edge_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    wedge = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            F.col("e1.edge_b") == F.col("e2.edge_a"),
        )
        .select(
            F.col("e1.edge_a").alias("a"),
            F.col("e1.edge_b").alias("b"),
            F.col("e2.edge_b").alias("c"),
        )
    )
    tris = wedge.join(
        edges.select(
            F.col("edge_a").alias("a"), F.col("edge_b").alias("c")
        ),
        ["a", "c"],
        "leftsemi",
    )
    tri_per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(tri_per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )


# ---------------------------------------------------------------------------
# graph_neighbor_jaccard — link-prediction similarity over the trade graph
# ---------------------------------------------------------------------------

def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between node pairs (SURVEY §2
    #114) — the classic link-prediction / entity-similarity score over
    the trade graph: nodes sharing many trading partners are candidate
    merges (grid planning) or recommended links.

    Same wedge-join discipline as triangle counting: shared-neighbor
    counts come from joining the symmetrized adjacency to itself on the
    MIDDLE node — each shared neighbor contributes exactly one (a, b)
    row — so the pair space is bounded by sum(deg^2), never |V|^2, and
    degenerate hubs are the visible skew key to split. Degrees join on
    as two dim-sized broadcasts; Jaccard = shared / (da + db - shared)
    is one division of exact integers.
    """
    edges = materialize(_edge_aggregate(spark, sf_dir).select("edge_a", "edge_b"))
    # symmetrized adjacency (node, nbr)
    adj = edges.select(
        F.col("edge_a").alias("node"), F.col("edge_b").alias("nbr")
    ).union(
        edges.select(F.col("edge_b").alias("node"), F.col("edge_a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    shared = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nbr") == F.col("y.nbr"))
        .filter(F.col("x.node") < F.col("y.node"))
        .groupBy(
            F.col("x.node").alias("node_a"), F.col("y.node").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(
            F.broadcast(deg.select(F.col("node").alias("node_a"),
                                   F.col("degree").alias("deg_a"))),
            "node_a",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("node_b"),
                                   F.col("degree").alias("deg_b"))),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "shared",
            F.round(
                F.col("shared")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= 0.5)


QUERIES["graph_neighbor_jaccard"] = graph_neighbor_jaccard

ORACLES["graph_neighbor_jaccard"] = """
WITH pairs AS (
  SELECT least(c_nationkey, s_nationkey)    AS edge_a,
         greatest(c_nationkey, s_nationkey) AS edge_b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
), edges AS MATERIALIZED (
  -- see graph_degree_triangles: multi-referenced edge census over the
  -- lineitem 4-way join; inlined re-evaluation (3 adj refs x 2 edges
  -- refs = 6 expansions) ran >8 min at sf0.1, materialized 0.5 s
  SELECT DISTINCT edge_a, edge_b FROM pairs
), adj AS MATERIALIZED (
  SELECT edge_a AS node, edge_b AS nbr FROM edges
  UNION ALL
  SELECT edge_b, edge_a FROM edges
), deg AS (
  SELECT node, count(*) AS degree FROM adj GROUP BY node
), shared AS (
  SELECT x.node AS node_a, y.node AS node_b, count(*) AS shared
  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
  GROUP BY 1, 2
)
SELECT node_a, node_b, shared,
       round(shared / (da.degree + db.degree - shared), 6) AS jaccard
FROM shared
JOIN deg da ON shared.node_a = da.node
JOIN deg db ON shared.node_b = db.node
WHERE round(shared / (da.degree + db.degree - shared), 6) >= 0.5
ORDER BY node_a, node_b
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
    return out


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
# label_propagation — synchronous LPA community detection
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community DETECTION on the
    sparsified trade graph (SURVEY §2 #205) — the missing half of the
    community story: graph_modularity SCORES a given partition, LPA
    produces one. ``_LPA_ROUNDS`` deterministic sync rounds: every
    node adopts the most frequent label among its neighbors, ties
    broken toward the SMALLEST label (classic LPA is tie-random; the
    pinned tie-break makes the fixed point engine-reproducible).

    Scale shape: the fact table collapses once into the dim-bounded
    (|nations|²) edge aggregate; the sparsified census is collected
    and the ``_LPA_ROUNDS`` synchronous rounds run driver-side on the
    constant-size graph — zero cluster barriers per round at any data
    scale (the previous all-DataFrame unroll paid a shuffle + two
    folds per round on a ≤25-row label table). The oracle unrolls
    identical rounds as chained CTEs with a row_number pick matching
    the (count, smallest-label) tie-break.
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

    s_rows = {
        (r["edge_a"], r["edge_b"])
        for r in bounded_collect(
            sparse, 625, "label_propagation: nation-pair edge census"
        )
    }  # dim-bounded sparsified census (≤ |nations|²)
    sym = sorted(s_rows | {(b, a) for a, b in s_rows})
    nodes = sorted({a for a, _ in sym})
    labels = {node: node for node in nodes}
    for _ in range(_LPA_ROUNDS):
        new_labels = {}
        for v in nodes:
            counts: dict = {}
            for a, b in sym:
                if b == v:
                    counts[labels[a]] = counts.get(labels[a], 0) + 1
            if counts:
                # most frequent label, ties toward the SMALLEST label
                new_labels[v] = max(
                    counts, key=lambda lab: (counts[lab], -lab)
                )
            else:
                new_labels[v] = v
        labels = new_labels
    sizes: dict = {}
    for node in nodes:
        lab = labels[node]
        cnt, mn = sizes.get(lab, (0, node))
        sizes[lab] = (cnt + 1, min(mn, node))
    out = [
        (int(lab), int(cnt), int(mn))
        for lab, (cnt, mn) in sorted(sizes.items())
    ]
    return spark.createDataFrame(
        out, schema="community int, n_nodes bigint, min_node int"
    )


QUERIES["label_propagation"] = label_propagation


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
c{r} AS MATERIALIZED (
  SELECT e.edge_b AS v, l.label, count(*) AS c
  FROM sym e JOIN {prev} l ON e.edge_a = l.node
  GROUP BY 1, 2
),
p{r} AS MATERIALIZED (
  SELECT v AS node, label AS new_label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC)
             AS rn
    FROM c{r}
  ) WHERE rn = 1
),
l{r} AS MATERIALIZED (
  SELECT n.node, coalesce(p.new_label, n.node) AS label
  FROM nodes n LEFT JOIN p{r} p USING (node)
)""")
        prev = f"l{r}"
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT c_nationkey AS cn, s_nationkey AS sn
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
),
agg AS MATERIALIZED (
  SELECT least(cn, sn) AS edge_a, greatest(cn, sn) AS edge_b,
         count(*) AS n_lines
  FROM pairs GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_lines) AS BIGINT) AS tot, count(*) AS ne FROM agg),
sparse AS MATERIALIZED (
  SELECT edge_a, edge_b FROM agg CROSS JOIN tot
  WHERE n_lines * ne * 10 >= 11 * tot
),
sym AS MATERIALIZED (
  SELECT edge_a, edge_b FROM sparse
  UNION
  SELECT edge_b, edge_a FROM sparse
),
nodes AS MATERIALIZED (SELECT DISTINCT edge_a AS node FROM sym),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
{','.join(rounds)}
SELECT label AS community, count(*) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node
FROM {prev}
GROUP BY label ORDER BY community
"""

ORACLES["label_propagation"] = _lpa_oracle()


# ---------------------------------------------------------------------------
# triangle_count — degree-oriented wedge join with DOULION edge sampling
# ---------------------------------------------------------------------------

_TRI_Q = 8  # keep 1/8 of edges; DOULION estimate multiplier q^3 = 512


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRIANGLE COUNTING on the co-purchase projection
    (parts sharing an order), per root-part brand (SURVEY §2 #212) —
    the clustering-structure primitive the existing graph family
    (k-core, PageRank, LPA, modularity, reachability) does not cover.

    Two published scale techniques compose here:
    (1) DEGREE ORIENTATION — every edge points from its lower-
    (degree, id) endpoint to the higher, so wedge enumeration joins
    out-edges on their root and out-degrees are O(√E)-bounded: the
    Σd² blowup of naive wedge counting cannot happen, and each
    triangle is found exactly once at its unique root.
    (2) DOULION edge sparsification (Tsourakakis et al., KDD'09) —
    a DETERMINISTIC hash keeps 1/{q} of the canonical edges before
    any join; triangles survive with probability q⁻³, so
    ``estimate = found · {q}³`` rides along with the exact sampled
    count.  Determinism makes the oracle exact: both engines keep the
    identical edge subset (same md5 gate as deterministic_sample).

    Scale shape: per-order pair expansion is bounded by line-count²
    per order (market_basket_pairs' bound); everything downstream runs
    on the sampled edge table (materialize()d once) via key-
    partitioned equi-joins; the brand rollup joins the part dim.
    """
    li = _t(spark, sf_dir, "lineitem")
    # Order-key-partitioned dedup, materialized ONCE (guide §2.4, the
    # market_basket_pairs layout): hash(l_orderkey) clusters every
    # duplicate (order, part) row, so the dedup aggregate plans with no
    # second exchange, and BOTH pair-expansion sides below consume the
    # checkpoint partitioning — previously the scan+distinct subtree
    # evaluated once per side and the self-join re-shuffled both.
    lp = materialize(
        li.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .dropDuplicates()
    )
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        # DOULION gate BEFORE the distinct: the deterministic hash is a
        # pure row predicate, so filter∘distinct = distinct∘filter, and
        # the dedup shuffle now moves 1/Q of the pair rows (guide §2.3,
        # shuffle fewer bytes — the pair table is this key's largest
        # intermediate at every scale).
        .filter(
            F.expr(
                X.hash64_spark(
                    "cast(pa as string) || ':' || cast(pb as string)"
                )
            )
            % _TRI_Q
            == 0
        )
        .distinct()
    )
    edges = materialize(edges)
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    oriented = (
        edges.join(deg.withColumnRenamed("node", "pa").withColumnRenamed("deg", "da"), "pa")
        .join(deg.withColumnRenamed("node", "pb").withColumnRenamed("deg", "db"), "pb")
        .select(
            F.when(
                F.struct("da", "pa") < F.struct("db", "pb"), F.col("pa")
            ).otherwise(F.col("pb")).alias("src"),
            F.when(
                F.struct("da", "pa") < F.struct("db", "pb"), F.col("pb")
            ).otherwise(F.col("pa")).alias("dst"),
        )
    )
    # Root-keyed boundary: the wedge self-join probes src on BOTH
    # sides, so materializing under hash(src) lets it run exchange-free
    # (the checkpoint preserves partitioning; guide §2.4).
    oriented = materialize(oriented.repartition("src"))
    w1 = oriented.select("src", F.col("dst").alias("v1"))
    w2 = oriented.select("src", F.col("dst").alias("v2"))
    wedges = w1.join(w2, "src").filter(F.col("v1") < F.col("v2"))
    tri = wedges.join(
        edges,
        (F.col("v1") == F.col("pa")) & (F.col("v2") == F.col("pb")),
    ).select(F.col("src").alias("root"))
    part = _t(spark, sf_dir, "part")
    return (
        tri.join(part.select(F.col("p_partkey").alias("root"), "p_brand"), "root")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_triangles_sampled"))
        .select(
            "p_brand",
            "n_triangles_sampled",
            F.expr(
                f"n_triangles_sampled * {_TRI_Q * _TRI_Q * _TRI_Q}"
            ).alias("doulion_estimate"),
        )
    )


QUERIES["triangle_count"] = triangle_count

ORACLES["triangle_count"] = f"""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS MATERIALIZED (
  SELECT pa, pb FROM (
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lp a JOIN lp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  )
  WHERE {X.hash64_duck("cast(pa as varchar) || ':' || cast(pb as varchar)")}
        % {_TRI_Q} = 0
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
  ) GROUP BY node
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN (da, pa) < (db, pb) THEN pa ELSE pb END AS src,
         CASE WHEN (da, pa) < (db, pb) THEN pb ELSE pa END AS dst
  FROM edges
  JOIN deg x ON x.node = edges.pa
  JOIN deg y ON y.node = edges.pb,
  LATERAL (SELECT x.deg AS da, y.deg AS db) d
),
tri AS (
  SELECT w1.src AS root
  FROM oriented w1
  JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst
  JOIN edges e ON e.pa = w1.dst AND e.pb = w2.dst
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_triangles_sampled,
       CAST(count(*) * {_TRI_Q * _TRI_Q * _TRI_Q} AS BIGINT)
         AS doulion_estimate
FROM tri JOIN part p ON p.p_partkey = tri.root
GROUP BY p.p_brand ORDER BY p.p_brand
"""


# ---------------------------------------------------------------------------
# weighted_shortest_path — hop-bounded Bellman-Ford over the trade graph
# ---------------------------------------------------------------------------

_WSP_HOPS = 6
_WSP_SRC = 0


def weighted_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted single-source shortest paths (SURVEY §2
    #247) — the COST metric over the same sparsified high-volume trade
    graph trade_reachability walks (reachability says WHETHER ≤3 hops
    connect two nations; this says HOW CHEAPLY ≤{h} hops do, with edge
    cost = greatest(1e6 div n_lines, 1), i.e. heavier trade = cheaper
    edge).  Exactly {h} Bellman-Ford relaxation rounds: after round i
    every node holds the min cost over walks of ≤ i edges, so the
    fixed-round loop IS the ≤{h}-hop shortest-path semantics — a
    deterministic loop with no driver-side convergence scalar, the
    iterative complement of trade_reachability's declarative WITH
    RECURSIVE (reference parity: pyPRIMA's interconnection network
    distances, code/lib/spatial_functions.py).

    Scale shape: the fact table collapses once into the edge aggregate
    (shared _edge_aggregate pipeline), which is dim-bounded
    (|nations|²); the sparsified census is collected once and the
    {h} relaxation rounds run driver-side in exact integers — zero
    cluster barriers per round at any data scale (the previous
    all-DataFrame loop paid a broadcast join + min fold per round on
    a ≤25-row dist table).
    """

    # Materialize the dim-bounded edge census once: tot and sparse
    # both reference it, so without the boundary the 4-way lineitem
    # fact join runs twice (guide §2.4 duplicate-subtree removal).
    edges = materialize(
        _edge_aggregate(spark, sf_dir).select("edge_a", "edge_b", "n_lines")
    )
    tot = edges.agg(F.sum("n_lines").alias("tot"), F.count(F.lit(1)).alias("ne"))
    sparse = (
        edges.crossJoin(F.broadcast(tot))
        .filter(F.col("n_lines") * F.col("ne") * 10 >= 11 * F.col("tot"))
        .select(
            "edge_a",
            "edge_b",
            F.expr("greatest(1000000 div n_lines, 1)").alias("cost"),
        )
    )
    s_rows = [
        (r["edge_a"], r["edge_b"], r["cost"])
        for r in bounded_collect(
            sparse, 625, "weighted_shortest_path: nation-pair edge census"
        )
    ]  # dim-bounded sparsified census (≤ |nations|²)
    sym = s_rows + [(b, a, c) for a, b, c in s_rows]
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in bounded_collect(
            _t(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            25,
            "weighted_shortest_path: nation name census",
        )
    }
    dist: dict = {_WSP_SRC: 0} if _WSP_SRC in names else {}
    for _ in range(_WSP_HOPS):
        relaxed = dict(dist)
        for a, b, c in sym:
            da = dist.get(a)
            if da is not None and (
                b not in relaxed or da + c < relaxed[b]
            ):
                relaxed[b] = da + c
        dist = relaxed
    out = [
        (int(node), names[node], int(d))
        for node, d in sorted(dist.items())
        if node in names
    ]
    return spark.createDataFrame(
        out, schema="nationkey int, n_name string, cost bigint"
    )


QUERIES["weighted_shortest_path"] = weighted_shortest_path

ORACLES["weighted_shortest_path"] = f"""
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
  SELECT edge_a, edge_b, greatest(1000000 // n_lines, 1) AS cost
  FROM edges CROSS JOIN tot
  WHERE n_lines * ne * 10 >= 11 * tot
),
sym AS MATERIALIZED (
  SELECT edge_a AS a, edge_b AS b, cost FROM sparse
  UNION ALL
  SELECT edge_b, edge_a, cost FROM sparse
),
walk(node, dist, lvl) AS (
  SELECT {_WSP_SRC}, CAST(0 AS BIGINT), 0
  UNION
  SELECT e.b, w.dist + e.cost, w.lvl + 1
  FROM walk w JOIN sym e ON e.a = w.node
  WHERE w.lvl < {_WSP_HOPS}
)
SELECT n.n_nationkey AS nationkey, n.n_name,
       CAST(min(w.dist) AS BIGINT) AS cost
FROM walk w JOIN nation n ON n.n_nationkey = w.node
GROUP BY 1, 2 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# hits_hubs_authorities — integer-normalized HITS over the directed trade graph
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 3
_HITS_SCALE = 1000000  # scores renormalized to sum ~1e6 each half-step


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (SURVEY §2 #287) — Kleinberg 1999's
    TWO-score eigen pair over the DIRECTED supplier→customer nation
    trade graph, completing the graph-centrality family:
    pagerank_nations ranks the symmetrized graph with one score; HITS
    separates "ships to the important buyers" (hub) from "buys from
    the important shippers" (authority), which a directed trade
    imbalance makes genuinely different.  Three synchronous rounds,
    each half-step renormalized to sum ≈ 1e6 by exact integer floor
    division — the published ppm scores are integers end to end, so
    no float drift can diverge the engines (the oracle unrolls the
    identical rounds as CTEs).

    Scale shape: the fact join collapses to the ≤25×24 DISTINCT
    directed edge census in one agg — the only fact-sized work; the
    census is collected once and the three synchronous rounds run
    driver-side in exact Python integers with the oracle's
    truncate-toward-zero division (``_tdiv``) — zero cluster barriers
    per round at any data scale (the previous all-DataFrame unroll
    paid two joins + two normalization folds per round on a 25-row
    state).  Iteration count is a design constant; nothing fact-sized
    ever re-enters the loop — the pagerank/graph.py contract.
    """
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    edges = (
        _trade_lines(spark, sf_dir)
        .filter(F.expr("s_nationkey != c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    e_rows = [
        (r["src"], r["dst"])
        for r in bounded_collect(
            edges, 625, "hits_hubs_authorities: nation-pair edge census"
        )
    ]  # dim-bounded (≤ |nations|²)
    nodes = sorted({a for a, _ in e_rows} | {b for _, b in e_rows})
    h = {node: _HITS_SCALE for node in nodes}

    def _norm(scores: dict) -> dict:
        tot = sum(v for v in scores.values() if v is not None)
        tot = tot if tot != 0 else None  # SQL div-by-zero → null
        return {
            node: _tdiv(_HITS_SCALE * v, tot) if v is not None else None
            for node, v in scores.items()
        }

    a: dict = {}
    for _ in range(_HITS_ROUNDS):
        a_raw = {node: 0 for node in nodes}
        for src, dst in e_rows:
            if h[src] is not None:
                a_raw[dst] += h[src]
        a = _norm(a_raw)
        h_raw = {node: 0 for node in nodes}
        for src, dst in e_rows:
            if a[dst] is not None:
                h_raw[src] += a[dst]
        h = _norm(h_raw)
    out = [(int(node), h[node], a[node]) for node in nodes]
    return spark.createDataFrame(
        out, schema="nationkey bigint, hub_ppm bigint, auth_ppm bigint"
    )


QUERIES["hits_hubs_authorities"] = hits_hubs_authorities


def _hits_oracle() -> str:
    rounds = []
    prev_h = "h0"
    for r in range(1, _HITS_ROUNDS + 1):
        rounds.append(f"""
a{r}_raw AS MATERIALIZED (
  SELECT n.node, coalesce(sum(p.h), 0) AS a
  FROM nodes n
  LEFT JOIN dpairs e ON e.dst = n.node
  LEFT JOIN {prev_h} p ON p.node = e.src
  GROUP BY n.node
),
a{r} AS MATERIALIZED (
  SELECT node, ({_HITS_SCALE} * a) // (SELECT sum(a) FROM a{r}_raw) AS a
  FROM a{r}_raw
),
h{r}_raw AS MATERIALIZED (
  SELECT n.node, coalesce(sum(p.a), 0) AS h
  FROM nodes n
  LEFT JOIN dpairs e ON e.src = n.node
  LEFT JOIN a{r} p ON p.node = e.dst
  GROUP BY n.node
),
h{r} AS MATERIALIZED (
  SELECT node, ({_HITS_SCALE} * h) // (SELECT sum(h) FROM h{r}_raw) AS h
  FROM h{r}_raw
)""")
        prev_h = f"h{r}"
    body = ",".join(rounds)
    return f"""
WITH dpairs AS MATERIALIZED (
  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM dpairs UNION SELECT dst FROM dpairs
),
h0 AS MATERIALIZED (SELECT node, {_HITS_SCALE}::BIGINT AS h FROM nodes),{body}
SELECT CAST(n.node AS BIGINT) AS nationkey,
       CAST(h{_HITS_ROUNDS}.h AS BIGINT) AS hub_ppm,
       CAST(a{_HITS_ROUNDS}.a AS BIGINT) AS auth_ppm
FROM nodes n
JOIN h{_HITS_ROUNDS} ON h{_HITS_ROUNDS}.node = n.node
JOIN a{_HITS_ROUNDS} ON a{_HITS_ROUNDS}.node = n.node
ORDER BY nationkey
"""

ORACLES["hits_hubs_authorities"] = _hits_oracle()


# The DuckDB form of the nation-pair edge set (``_edge_aggregate``'s
# keys, renamed ``a, b``), as the ``edges`` CTE.
_NATION_PAIR_CENSUS_CTE = """edges AS MATERIALIZED (
  SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
         greatest(s_nationkey, c_nationkey) AS b
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
)"""


# ---------------------------------------------------------------------------
# degree_assortativity — degree-degree correlation of the trade graph
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the undirected nation trade graph
    (SURVEY §2 #303) — Newman 2002's mixing coefficient, the one
    STRUCTURAL summary the graph family lacks (centrality ranks
    nodes, k-core/modularity find groups; assortativity says whether
    hubs attach to hubs (r > 0, social nets) or to leaves (r < 0,
    the internet/trade pattern) — which decides whether hub failure
    fragments the graph).  Pearson correlation of endpoint degrees
    over edges, folded to one exact integer expression:
    r_milli = 1000·(4MC − A²) div (2MB − A²) with A = Σ(j+k),
    B = Σ(j²+k²), C = Σjk over the edge census — no float, one
    trailing division.

    Scale shape: distinct-edge census (≤25·24/2) from one fact join
    agg; degrees by a census groupBy broadcast back twice; the moment
    fold is a 1-row aggregate.  Windowless.
    """
    edges = materialize(
        _edge_aggregate(spark, sf_dir).select(
            F.col("edge_a").alias("a"), F.col("edge_b").alias("b")
        )
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("j"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("k"))
    moments = (
        edges.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.expr("j + k")).alias("sa"),
            F.sum(F.expr("cast(j as decimal(38,0)) * j"
                         " + cast(k as decimal(38,0)) * k")).alias("sb"),
            F.sum(F.expr("cast(j as decimal(38,0)) * k")).alias("sc"),
        )
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        moments.crossJoin(F.broadcast(nodes))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("m").cast("bigint").alias("n_edges"),
            F.expr(
                "cast(coalesce((1000 * (4 * m * sc"
                " - cast(sa as decimal(38,0)) * sa))"
                " div nullif(2 * m * sb - cast(sa as decimal(38,0)) * sa,"
                " 0), 0) as bigint)"
            ).alias("assortativity_milli"),
            F.expr(
                "CASE WHEN coalesce((1000 * (4 * m * sc"
                " - cast(sa as decimal(38,0)) * sa))"
                " div nullif(2 * m * sb - cast(sa as decimal(38,0)) * sa,"
                " 0), 0) > 100 THEN 'assortative'"
                " WHEN coalesce((1000 * (4 * m * sc"
                " - cast(sa as decimal(38,0)) * sa))"
                " div nullif(2 * m * sb - cast(sa as decimal(38,0)) * sa,"
                " 0), 0) < -100 THEN 'disassortative'"
                " ELSE 'neutral' END"
            ).alias("mixing_class"),
        )
    )


QUERIES["degree_assortativity"] = degree_assortativity

_das_r = (
    "coalesce((1000 * (4 * m * sc - sa::HUGEINT * sa))"
    " // nullif(2 * m * sb - sa::HUGEINT * sa, 0), 0)"
)

ORACLES["degree_assortativity"] = f"""
WITH {_NATION_PAIR_CENSUS_CTE},
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY node
),
moments AS (
  SELECT count(*) AS m,
         sum(da.deg + db.deg) AS sa,
         sum(da.deg::HUGEINT * da.deg + db.deg::HUGEINT * db.deg) AS sb,
         sum(da.deg::HUGEINT * db.deg) AS sc
  FROM edges e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
),
nodes AS (SELECT count(*) AS n_nodes FROM deg)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(m AS BIGINT) AS n_edges,
       CAST({_das_r} AS BIGINT) AS assortativity_milli,
       CASE WHEN {_das_r} > 100 THEN 'assortative'
            WHEN {_das_r} < -100 THEN 'disassortative'
            ELSE 'neutral' END AS mixing_class
FROM moments CROSS JOIN nodes
"""


# ---------------------------------------------------------------------------
# graph_robustness_attack — hub-attack vs random-failure tolerance
# ---------------------------------------------------------------------------

_ROB_KS = (0, 3, 6)
_ROB_ROUNDS = 6


def graph_robustness_attack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTACK-TOLERANCE census of the trade graph (SURVEY §2 #310) —
    Albert-Jeong-Barabási 2000's famous experiment: scale-free-ish
    networks shrug off RANDOM node failures but shatter under
    targeted HUB removal; this measures exactly that on the nation
    trade graph by removing k ∈ {0, 3, 6} nodes under both strategies
    (hub = top degree, deterministic tiebreak; random = hash order)
    and publishing surviving edges, giant-component size, and
    component count.  Components come from 6 unrolled hash-min
    label-propagation rounds — identical unrolled rounds on both
    engines, so the published labels are exact-comparable regardless
    of convergence speed (they DO converge: the surviving graph's
    diameter is far below 6).

    Scale shape: the fact-sized work is ONE distributed collapse to
    the ≤25-node/≤300-edge DISTINCT edge census; the census is
    collected once and every (strategy, k) configuration — removal
    ranking, survivor filter, and the 6 synchronous hash-min rounds —
    runs driver-side on the constant-size graph (zero cluster
    barriers per round at any data scale; the previous all-DataFrame
    unroll paid a job + shuffle per round).  The rnd ranking uses the
    engine-shared md5 hash64 replicated bit-identically in Python.
    """
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    edges = _edge_aggregate(spark, sf_dir).select(
        F.col("edge_a").alias("a"), F.col("edge_b").alias("b")
    )
    e_rows = [
        (r["a"], r["b"])
        for r in bounded_collect(
            edges, 625, "graph_robustness_attack: nation-pair edge census"
        )
    ]  # dim-bounded (≤ |nations|²)
    deg: dict = {}
    for a, b in e_rows:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    # rnd = the engine-shared md5 hash64 (functions/text.py), replicated
    # bit-identically: conv(substring(md5(node || ':rob'), 1, 15), 16, 10)
    rnd = {
        node: int(_md5(f"{node}:rob".encode()).hexdigest()[:15], 16)
        for node in deg
    }
    hub_order = sorted(deg, key=lambda x: (-deg[x], x))
    rnd_order = sorted(deg, key=lambda x: (rnd[x], x))
    out = []
    for strategy in ("hub", "random"):
        order = hub_order if strategy == "hub" else rnd_order
        for k in _ROB_KS:
            if strategy == "random" and k == 0:
                continue
            keep = set(order[k:])
            surv = [(a, b) for a, b in e_rows if a in keep and b in keep]
            nbrs: dict = {node: [] for node in keep}
            for a, b in surv:
                nbrs[a].append(b)
                nbrs[b].append(a)
            lbl = {node: node for node in keep}
            for _ in range(_ROB_ROUNDS):
                lbl = {
                    node: min([lbl[node]] + [lbl[b] for b in nbrs[node]])
                    for node in keep
                }
            sizes: dict = {}
            for node in keep:
                sizes[lbl[node]] = sizes.get(lbl[node], 0) + 1
            out.append((
                strategy,
                k,
                len(keep),
                len(surv),
                max(sizes.values()) if sizes else None,
                len(sizes) if sizes else None,
            ))
    out.sort(key=lambda t: (t[0], t[1]))
    return spark.createDataFrame(
        out,
        schema=(
            "strategy string, k_removed bigint, n_nodes_left bigint,"
            " n_edges_left bigint, giant_size bigint, n_components bigint"
        ),
    )


QUERIES["graph_robustness_attack"] = graph_robustness_attack


def _rob_oracle() -> str:
    configs = []
    for strategy in ("hub", "random"):
        order_sql = (
            "deg DESC, node" if strategy == "hub" else "rnd, node"
        )
        for k in _ROB_KS:
            if strategy == "random" and k == 0:
                continue
            tag = f"{strategy}_{k}"
            rounds = []
            prev = f"lab0_{tag}"
            for r in range(1, _ROB_ROUNDS + 1):
                rounds.append(f"""
lab{r}_{tag} AS MATERIALIZED (
  SELECT l.node,
         least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
  FROM {prev} l
  LEFT JOIN both_{tag} e ON e.a = l.node
  LEFT JOIN {prev} n ON n.node = e.b
  GROUP BY l.node, l.lbl
)""")
                prev = f"lab{r}_{tag}"
            configs.append((tag, strategy, k, order_sql, "".join(
                "," + r for r in rounds), prev))
    ctes = []
    selects = []
    for tag, strategy, k, order_sql, rounds_sql, last in configs:
        ctes.append(f"""
keep_{tag} AS MATERIALIZED (
  SELECT node FROM deg QUALIFY row_number() OVER (ORDER BY {order_sql}) > {k}
),
surv_{tag} AS MATERIALIZED (
  SELECT e.a, e.b FROM edges e
  JOIN keep_{tag} ka ON ka.node = e.a
  JOIN keep_{tag} kb ON kb.node = e.b
),
both_{tag} AS MATERIALIZED (
  SELECT a, b FROM surv_{tag}
  UNION ALL SELECT b, a FROM surv_{tag}
),
lab0_{tag} AS MATERIALIZED (
  SELECT node, node::BIGINT AS lbl FROM keep_{tag}
){rounds_sql}""")
        selects.append(f"""
SELECT '{strategy}' AS strategy, {k}::BIGINT AS k_removed,
       (SELECT count(*) FROM keep_{tag})::BIGINT AS n_nodes_left,
       (SELECT count(*) FROM surv_{tag})::BIGINT AS n_edges_left,
       (SELECT max(sz) FROM (SELECT count(*) AS sz FROM {last}
        GROUP BY lbl))::BIGINT AS giant_size,
       (SELECT count(DISTINCT lbl) FROM {last})::BIGINT AS n_components""")
    return f"""
WITH {_NATION_PAIR_CENSUS_CTE},
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg,
         {X.hash64_duck("CAST(node AS VARCHAR) || ':rob'")} AS rnd
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY node
),{",".join(ctes)}
SELECT * FROM ({" UNION ALL ".join(selects)})
ORDER BY strategy, k_removed
"""

ORACLES["graph_robustness_attack"] = _rob_oracle()


# ---------------------------------------------------------------------------
# spectral_bisection — Fiedler-vector graph partition
# ---------------------------------------------------------------------------

_SPB_ROUNDS = 6
_SPB_VSCALE = 1000


def spectral_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL BISECTION of the trade graph (SURVEY §2 #328) —
    Fiedler 1973 / the partitioning method inside METIS and every
    balanced-min-cut placement tool, and a genuinely different
    clustering mechanism from the catalog's modularity/label-prop
    keys (those optimize locally; the Fiedler vector is a GLOBAL
    eigen-structure): power iteration on the shifted matrix
    M = cI - L (c = 2*max_deg + 1 keeps M positive), DEFLATING the
    trivial all-ones eigenvector by exact integer mean-subtraction
    each round — the surviving dominant direction IS the Fiedler
    vector, its signs the bisection.  Published per nation with the
    cut size and conductance (cut / min-side volume) so the partition
    quality is visible.  All rounds milli-renormalized integer
    censuses (the HITS/PCA contract).

    Scale shape: the fact-sized work is ONE distributed collapse to
    the <= 25-node / <= 300-edge DISTINCT census; the census is
    collected once and the 6 power-iteration rounds (plus the
    cut/conductance bookkeeping) run driver-side in exact Python
    integers with the oracle's truncate-toward-zero division
    (``_tdiv``) — zero cluster barriers per round at any data scale,
    where the previous all-DataFrame unroll paid a job + shuffle per
    round on a 25-row state.  Round count is an operator constant;
    the surviving component structure is dense, so 6 rounds separate
    the eigen-gap comfortably (and identically on both engines
    regardless).
    """
    # no materialize: the census feeds ONE bounded_collect (an eager
    # checkpoint before a collect is a pure extra job)
    edges = _edge_aggregate(spark, sf_dir).select(
        F.col("edge_a").alias("a"), F.col("edge_b").alias("b")
    )
    e_rows = [
        (r["a"], r["b"])
        for r in bounded_collect(
            edges, 625, "spectral_bisection: nation-pair edge census"
        )
    ]  # dim-bounded (≤ |nations|²)
    both = e_rows + [(b, a) for a, b in e_rows]
    deg: dict = {}
    for a, _b in both:
        deg[a] = deg.get(a, 0) + 1
    n = len(deg)
    c = 2 * max(deg.values()) + 1 if deg else 1
    v = {node: _SPB_VSCALE * (2 * node - (n - 1)) for node in deg}
    for _ in range(_SPB_ROUNDS):
        nsum = {node: 0 for node in deg}
        for a, b in both:
            nb = v.get(b)
            if nb is not None:
                nsum[a] += nb
        w = {
            node: ((c - deg[node]) * v[node] + nsum[node]
                   if v[node] is not None else None)
            for node in deg
        }
        # one fold yields the deflation mean AND the renorm bound:
        # max|w - mean| = max(max - mean, mean - min)
        vals = [x for x in w.values() if x is not None]
        mean_w = _tdiv(sum(vals), len(vals)) if vals else None
        max_w = max(vals) if vals else None
        min_w = min(vals) if vals else None
        bound = (
            max(max_w - mean_w, mean_w - min_w)
            if vals is not None and mean_w is not None
            else None
        )
        v = {
            node: _tdiv(
                _SPB_VSCALE * (w[node] - mean_w)
                if w[node] is not None and mean_w is not None
                else None,
                bound if bound != 0 else None,
            )
            for node in deg
        }
    # CASE WHEN val < 0 → 'A' (null falls through to 'B', like SQL)
    side = {
        node: "A" if (v[node] is not None and v[node] < 0) else "B"
        for node in deg
    }
    cut_edges = sum(1 for a, b in e_rows if side[a] != side[b])
    vols: dict = {}
    for node in deg:
        vols[side[node]] = vols.get(side[node], 0) + deg[node]
    min_vol = min(vols.values()) if vols else None
    cond = _tdiv(1000 * cut_edges, min_vol if min_vol != 0 else None)
    cond = -1 if cond is None else cond
    out = [
        (int(node), v[node], side[node], int(cut_edges), int(cond))
        for node in sorted(deg)
    ]
    return spark.createDataFrame(
        out,
        schema=(
            "nationkey bigint, fiedler_milli bigint, side string,"
            " cut_edges bigint, conductance_milli bigint"
        ),
    )


QUERIES["spectral_bisection"] = spectral_bisection


def _spb_oracle() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _SPB_ROUNDS + 1):
        rounds.append(f"""
w{r} AS MATERIALIZED (
  SELECT v.node,
         (cs.c - d.deg)::HUGEINT * v.val
           + coalesce((SELECT sum(v2.val) FROM both_e e
                       JOIN {prev} v2 ON v2.node = e.b
                       WHERE e.a = v.node), 0) AS w
  FROM {prev} v JOIN deg d ON d.node = v.node CROSS JOIN cshift cs
),
st{r} AS MATERIALIZED (
  SELECT sum(w) // count(*) AS mean_w, max(w) AS max_w, min(w) AS min_w
  FROM w{r}
),
v{r} AS MATERIALIZED (
  SELECT node,
         CAST(({_SPB_VSCALE} * (w - mean_w))
              // nullif(greatest(max_w - mean_w, mean_w - min_w), 0)
              AS BIGINT) AS val
  FROM w{r} CROSS JOIN st{r}
)""")
        prev = f"v{r}"
    body = ",".join(rounds)
    return f"""
WITH {_NATION_PAIR_CENSUS_CTE},
both_e AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
),
deg AS MATERIALIZED (
  SELECT a AS node, count(*) AS deg FROM both_e GROUP BY a
),
cshift AS (SELECT 2 * max(deg) + 1 AS c, count(*) AS n FROM deg),
v0 AS MATERIALIZED (
  SELECT node, ({_SPB_VSCALE} * (2 * node - (cs.n - 1)))::BIGINT AS val
  FROM deg CROSS JOIN cshift cs
),{body},
sides AS MATERIALIZED (
  SELECT node, val, CASE WHEN val < 0 THEN 'A' ELSE 'B' END AS side
  FROM v{_SPB_ROUNDS}
),
cut AS (
  SELECT sum(CASE WHEN sa.side != sb.side THEN 1 ELSE 0 END) AS cut_edges
  FROM edges e
  JOIN sides sa ON sa.node = e.a
  JOIN sides sb ON sb.node = e.b
),
minvol AS (
  SELECT min(vol) AS min_vol FROM (
    SELECT s.side, sum(d.deg) AS vol
    FROM sides s JOIN deg d ON d.node = s.node
    GROUP BY s.side
  )
)
SELECT CAST(s.node AS BIGINT) AS nationkey,
       CAST(s.val AS BIGINT) AS fiedler_milli,
       s.side,
       CAST(c.cut_edges AS BIGINT) AS cut_edges,
       CAST(coalesce((1000 * c.cut_edges) // nullif(m.min_vol, 0), -1)
            AS BIGINT) AS conductance_milli
FROM sides s CROSS JOIN cut c CROSS JOIN minvol m
ORDER BY nationkey
"""

ORACLES["spectral_bisection"] = _spb_oracle()
