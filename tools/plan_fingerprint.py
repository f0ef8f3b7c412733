"""Fingerprint every catalog key: the SHA-256 of its DuckDB oracle and of
its normalised optimized logical plan, one JSON line per key in sorted
key order.

Each key's plan is hashed twice. ``plan`` is the plan as built, where a
``materialize`` checkpoint is a ``LogicalRDD`` leaf that hides its
lineage. ``passthrough`` is the plan rebuilt under
``operators.checkpointing.audit_passthrough``, where ``materialize`` is
a no-op, so a change below a checkpoint shows too.

Two checkouts that print the same lines build the same plans from the
same oracles, so a refactor that must move no plan is checked with
``diff``. Keys are built in sorted order whatever the module layout,
and the session counters that leak into plan text are normalised away:
expression ids (``#123``), ``plan_id=`` tags, ``_common_expr_<n>``
aliases and the flags of ``LogicalRDD`` nodes. The session's core
count stays in the plans (``Range (...) splits=Some(n)``), so compare
two runs made with the same ``SPARK_GRAFT_CPUS`` on the same host.

Usage:
    python tools/plan_fingerprint.py <sf_dir> > fingerprints.jsonl
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NOISE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
    (re.compile(r"(LogicalRDD \[[^\]]*\]), (true|false)"), r"\1"),
)


def normalise(plan: str) -> str:
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def plan_hash(build, spark, sf_dir: str) -> str:
    plan = build(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    return sha256(normalise(plan.toString()))


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    (sf_dir,) = argv

    from pyprima_spark.operators.checkpointing import audit_passthrough
    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.plans.queries import QUERIES
    from pyprima_spark.session import build_session

    spark = build_session("plan_fingerprint")
    failed = 0
    for key in sorted(QUERIES):
        row = {"key": key, "oracle": sha256(ORACLES[key])}
        try:
            row["plan"] = plan_hash(QUERIES[key], spark, sf_dir)
            with audit_passthrough():
                row["passthrough"] = plan_hash(QUERIES[key], spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 - report and go on
            failed += 1
            row["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        print(json.dumps(row), flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
