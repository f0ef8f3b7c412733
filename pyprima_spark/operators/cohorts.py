"""Cohort bucketing: group entities into construction-year cohorts.

Reference: ``Cohort = (Year // cohorts) * cohorts``
(generate_intermediate_files.py:675), then group-sum capacity per
(Type, Cohort, Site). A pure projection + one grouped aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cohort_of(year: Column, width: int) -> Column:
    return (F.floor(year / width) * width).cast("int")
