"""DuckDB oracle SQL per catalog key, merged from the plan modules'
``ORACLES`` in :data:`pyprima_spark.plans.queries.PLAN_MODULES` order.

Column aliases match the key's Spark plan exactly — the correctness
check sorts columns by name and hashes values.
"""

from __future__ import annotations

from pyprima_spark.plans.queries import PLAN_MODULES, merge

ORACLES: dict[str, str] = merge((m.__name__, m.ORACLES) for m in PLAN_MODULES)
