"""Fingerprint every catalog key: the SHA-256 of its DuckDB oracle and of
its normalised optimized logical plan, one JSON line per key in sorted
key order.

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


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    (sf_dir,) = argv

    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.plans.queries import QUERIES
    from pyprima_spark.session import build_session

    spark = build_session("plan_fingerprint")
    failed = 0
    for key in sorted(QUERIES):
        row = {"key": key, "oracle": sha256(ORACLES[key])}
        try:
            plan = QUERIES[key](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
            row["plan"] = sha256(normalise(plan.toString()))
        except Exception as exc:  # noqa: BLE001 - report and go on
            failed += 1
            row["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        print(json.dumps(row), flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
