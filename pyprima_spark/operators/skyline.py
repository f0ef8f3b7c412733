"""2-D Pareto skyline: the rows no other row dominates.

Sorting a partition group by (``minimize`` ↑, ``maximize`` ↓) puts
every row that dominates another ahead of it, so a row survives exactly
when its ``maximize`` beats the running max of the rows ahead of it:
one window pass, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pareto_skyline(
    df: DataFrame,
    minimize: str,
    maximize: str,
    tiebreak: str,
    *partition_cols: str,
) -> DataFrame:
    """Rows not dominated on (minimize ↓, maximize ↑) within each
    partition group — sort-and-running-max formulation; the reusable
    kernel behind skyline_pareto, unit-tested on hand-built frames.
    Equal (minimize, maximize) duplicates keep the lowest tiebreak."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.asc(minimize), F.desc(maximize), F.asc(tiebreak))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("prev_max", F.max(maximize).over(w))
        .filter(
            F.col("prev_max").isNull() | (F.col(maximize) > F.col("prev_max"))
        )
        .drop("prev_max")
    )
