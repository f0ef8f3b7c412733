"""Driver-side exact integer arithmetic matching SQL semantics.

The catalog's iterative keys (the "HITS contract" family) collapse the
fact tables to dim-bounded censuses in Spark, then run their
fixed-point rounds driver-side in exact Python integers. For the
published values to hash-match the DuckDB oracles' unrolled CTE rounds
bit for bit, the driver-side fold must use the ENGINES' integral
division, not Python's: Spark's ``div`` and DuckDB's ``//`` both
truncate toward ZERO (verified empirically: ``-7 div 2 = -3`` on both),
where Python's ``//`` floors to ``-4``.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional, Tuple


def min_label_components(edges: Iterable[Tuple[int, int]]) -> Dict[int, int]:
    """node → min reachable node id, for a dim-bounded edge census.

    The driver-side counterpart of
    :func:`pyprima_spark.operators.components.connected_components`
    (hash-min label propagation, distributed): union-find converges to
    the same fixpoint — every node labeled with the smallest node id in
    its component — which is also what the oracles' recursive-CTE
    transitive closures compute. Used by the census-collect keys
    (graph_modularity, grid_density_clusters); only nodes that appear
    in ``edges`` are labeled.
    """
    parent: Dict[int, int] = {}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:  # min label wins the merged root
            parent[max(ra, rb)] = min(ra, rb)
    return {node: find(node) for node in parent}


# When a census_audit() block is active, every bounded_collect records
# (what, census DataFrame) here BEFORE collecting, so plan tools can
# explain the distributed stage that the eager collect otherwise hides
# from a plan walk over the returned literal DataFrame (ADVICE r9).
_AUDIT_SINK: Optional[List[Tuple[str, object]]] = None


@contextmanager
def census_audit():
    """Record every bounded_collect's census DataFrame for inspection.

    Usage::

        with census_audit() as censuses:
            df = QUERIES[key](spark, sf_dir)   # collects eagerly
        for what, census_df in censuses:
            census_df.explain()                # the distributed stage
    """
    global _AUDIT_SINK
    prev, _AUDIT_SINK = _AUDIT_SINK, []
    try:
        yield _AUDIT_SINK
    finally:
        _AUDIT_SINK = prev


def bounded_collect(df, cap: int, what: str) -> list:
    """Collect a DIM-BOUNDED census, refusing past its documented cap.

    The census-collect-then-iterate keys (SURVEY §7.24a) are safe at
    100 TB only because each collected census is bounded by a SCHEMA
    constant (|nations|², grid resolution, a literal permutation
    table), never by data size. This guard turns that invariant from
    a docstring into code: ``limit(cap + 1)`` bounds the driver
    transfer itself, and a census that exceeds ``cap`` raises
    ValueError instead of silently pulling a data-sized result onto
    the driver (the plans/curation.source_selection_greedy limit(61) pattern,
    generalized per VERDICT r9 item 5).
    """
    if _AUDIT_SINK is not None:
        _AUDIT_SINK.append((what, df))
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: census exceeded its documented dimension bound "
            f"(> {cap} rows) — refusing the driver-side collect"
        )
    return rows


def tdiv(a: Optional[int], b: Optional[int]) -> Optional[int]:
    """SQL integral division: truncate toward zero, NULL-propagating.

    ``None`` operands yield ``None`` (SQL NULL); call sites mirror SQL's
    ``div nullif(x, 0)`` by passing ``None`` for a zero divisor.
    """
    if a is None or b is None:
        return None
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q
