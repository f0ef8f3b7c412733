"""Explain-audit: per headline query, verify the physical plan has the
shape SURVEY §6 promises — PushedFilters on filtered scans, minimal
ReadSchema, broadcasts only on bounded sides, no surprise exchanges.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyprima_spark.plans.queries import QUERIES
from pyprima_spark.session import build_session


# --- Plan-shape regression gate (VERDICT r5 item 5) -----------------------
#
# The two unpartitioned-ntile findings that round were invisible to both
# the correctness gate and the sf0.1 bench — only a plan read caught them.
# This automates the read: walk every catalog key's physical plan and fail
# on shapes that are fine at test scale but melt at 100 TB.
#
# Keys allowed an UNPARTITIONED window: each ranks over an input that is
# an AGGREGATE bounded by a documented dimension (vocab size, part count,
# key census, …) — the accepted WindowGroupLimit/top-k class from the r5
# verdict. Anything else with a global window fails the gate.
#
# SELF-PROVING since round 7 (VERDICT r6 item 3): every entry carries
# the MAXIMUM row count allowed into its global window, and
# window_bound_violations() MEASURES the actual count (rebuild the
# window's child from the optimized logical plan, count it) — the
# allowlist is asserted against reality in CI, not trusted. Bounds are
# certified at the bench scale (sf0.1, local[32]); entries whose census
# scales with SF (|part|, |vocab|) say so in the comment. The r7 audit
# REMOVED 29 stale entries whose bodies no longer plan any global
# window (percentile-cut/map-side rewrites outgrew the list):
# ann_recall_eval approx_quantile_bands bpe_token_count
# capped_distribution compaction_plan copurchase_similarity
# cusum_changepoint deterministic_shuffle drift_tv_distance
# equidepth_histogram graph_modularity grouped_regression heavy_hitters
# interval_union_coverage join_cardinality_estimate key_skew_profile
# kmv_distinct_sketch ks_drift lsh_precision_eval ordered_string_export
# peak_concurrency price_histogram quantile_normalize seasonal_profile
# sequence_packing table_profile table_profile_approx tfidf_top_terms
# weighted_median — plus cluster_representatives, whose physical plan
# no longer has a global window at all.
GLOBAL_WINDOW_BOUNDS = {
    # |vocab-bucket| census (31 measured at sf0.1; grows ~log with SF)
    "vocab_coverage": 200,
    "oov_rate_sweep": 200,
    # the top-20 PMI rank: WindowGroupLimit passes 20 rows of the
    # <= K(K-1)/2 pairs of the top-K vocabulary (20 measured at sf0.001
    # and sf0.1); the vocabulary itself is an orderBy().limit(K) top-K,
    # not a window, so no task holds every distinct term
    "cooccurrence_pmi": 20,
    # top-item-pair census (50 measured)
    "market_basket_pairs": 200,
    # |part| census (20_000 at sf0.1; scales linearly with SF)
    "key_gini": 25_000,
    "pareto_revenue": 25_000,
    "abc_xyz_inventory": 25_000,  # cumulative share over part census
    "knapsack_density_bound": 25_000,  # density prefix over part census
    # hash-rank candidate selection over the |days| census (16 measured)
    "ransac_consensus_fit": 50,
    # prefix identity over the quantized value census (499 measured)
    "energy_distance_test": 600,
    # j-index over the 3-row year-column census
    "page_trend_test": 10,
    # cumulative burn over the DAY census (30 measured)
    "slo_burn_rate": 60,
    # cumulative capture over the 10-row DECILE census
    "decile_lift": 11,
    # same decile census plus the treated/control split
    "qini_uplift": 25,
    # windows over the <=|sources| rank census (20 measured)
    "coverage_decay_curve": 100,
    # bounded by |event_types|^3 path census (20 measured at sf0.1)
    "session_paths": 1000,
    # across-stripe cumulative min over the ~20-row domain-bounded
    # price-stripe census (21 measured); the fact-sized prefix scan is
    # the PARTITIONED within-stripe window (docstring)
    "skyline_2d": 100,
    # per-partition skyline union census (98 measured at sf0.1)
    "skyline_pareto": 1000,
    # totals/mean/variance windows over the |ship-years| strata census
    "jackknife_variance": 10,
    # positional lag windows over the DAY census (2405 measured —
    # |days| in 1992-1998, time-bounded; the fact table collapses to
    # it map-side first)
    "acf_lags": 3000,
    # r11: 2x2 totals over the |variants| cell census (2 measured;
    # variants ∈ {0, 1} by the hash-gate construction)
    "ab_test_chi2": 5,
    # r11: rank + step-up windows over the segment x region test
    # census (25 measured; 5 segments x 5 regions by construction)
    "bh_fdr_control": 30,
}

# Entries whose global window sits ABOVE a materialize() stage
# boundary. Through round 7 these rode an unmeasured HIDDEN escape
# hatch (the lineage cut made them invisible to the plan walk);
# since round 8 (VERDICT r7 item 5) the probe rebuilds every plan
# under checkpointing.audit_passthrough(), which turns materialize()
# into a no-op, so these are MEASURED like every other entry and the
# escape hatch is gone. The first measurement immediately earned its
# keep: four of the nine former HIDDEN rows were STALE — the probe
# found champion_postings and kmv_source_overlap rank behind
# PARTITIONED windows (per-term / per-source, the scalable direction)
# and data_mixture_plan / psi_drift plan no window at all — so those
# rows are deleted rather than carried, and only the five keys with a
# real measured global window remain.
# (voting_methods_compare left this table in round 9: its criterion
# ranks moved driver-side with the census-collect rewrite — §7.24a —
# so its plan no longer contains any window.)
GLOBAL_WINDOW_BOUNDS.update({
    "fagin_ta_depth": 25_000,  # sorted-access ranks over part census
    "shapley_shubik_index": 5,  # row_number over the 5-segment census
})

# The physical-gate allowlist derives from the bounds table — a key
# cannot be exempted without carrying a measured bound.
GLOBAL_WINDOW_ALLOWED = set(GLOBAL_WINDOW_BOUNDS)

# BroadcastNestedLoopJoin build sides that are bounded by a PUSHED LITERAL
# id filter (query set = first-N ids; PushedFilters [LessThan(doc_id, N)])
# — real boundedness the tree walk can't prove without parsing filter
# literals.
#
# SELF-PROVING since round 8 (the window-allowlist treatment, VERDICT r6
# item 3 / r7 item 5, applied to the last unmeasured allowlist): each
# entry carries the MAXIMUM row count allowed on the broadcast build
# side (a divisor for the BNLJ_PER_TABLE_ROWS keys below), and
# bnlj_bound_violations() rebuilds every BNLJ's build subtree from its
# logical link and counts the rows actually broadcast. The other bounds
# are SF-invariant (pushed query-set literals), certified at sf0.001 /
# sf0.01 / sf0.1. The first measurement pruned the list exactly as it
# did for the window allowlist: ann_lsh, ann_pq and embedding_dedup
# plan NO BroadcastNestedLoopJoin at any test scale (their verify legs
# ride band/bucket equi-joins), so those rows are deleted rather than
# carried by trust. ann_ivf's two BNLJs ([1, 8] rows: the probe-list
# literal and the nprobe centroid set) already satisfy the tree walk's
# aggregate-boundedness test, but the entry stays so the sizes remain
# measured, not inferred.
BNLJ_BUILD_BOUNDS = {
    "ann_topk": 16,  # query side = doc_id < ANN_N_QUERIES (10) pushed scan filter
    "ann_ivf": 16,  # probe-list literal + nprobe centroid set ([1, 8] measured)
    "ann_recall_eval": 16,  # evaluates the same pushed query set (10 measured)
    "hard_negative_mining": 16,  # anchor set = vec_id < 10 pushed literal
    # the mod-25 eval query set (vec_id % 25 = 3): one query per 25
    # embeddings, a divisor (see BNLJ_PER_TABLE_ROWS), not a row count
    "binary_hamming_recall": 25,
}

# Keys whose build side grows with an input table BY DESIGN, key ->
# table: the BNLJ_BUILD_BOUNDS value is rows of that table per build
# row, and the bound at an sf_dir is ceil(table rows / value), the rows
# read from the parquet footer (no Spark job). binary_hamming_recall's
# docstring and its STRESS leg (hamming_recall) document the growth
# law; the deployment contract is a fixed query set. Its join only
# became VISIBLE to the plan walk when r11 removed the pair-table
# checkpoint above it (the hidden-escape-hatch class VERDICT r7 item 5
# closed for windows).
BNLJ_PER_TABLE_ROWS = {"binary_hamming_recall": "embeddings"}

# The physical-gate allowlist derives from the bounds table — a key
# cannot be exempted without carrying a measured bound.
BNLJ_BOUNDED_ALLOWED = set(BNLJ_BUILD_BOUNDS)


def bnlj_build_input_counts(spark, df) -> list[int]:
    """Self-proving leg of the BNLJ allowlist: for every
    BroadcastNestedLoopJoin in the PHYSICAL plan, execute the build
    side's child subtree (unwrapping the BroadcastExchange) and count
    the rows that are actually broadcast to every executor. The
    allowlist stops being trust-me comments: each key's documented
    query-set/candidate-table bound is asserted against this
    measurement (see BNLJ_BUILD_BOUNDS + tests/test_plan_shapes.py)."""
    from pyspark.sql import DataFrame

    counts = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _walk(plan):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        side = str(node.buildSide())
        build = node.right() if side.endswith("Right") else node.left()
        # Unwrap broadcast wrappers: ReusedExchange points at the
        # original BroadcastExchange, whose child is the build plan.
        while build.nodeName() in ("BroadcastExchange", "ReusedExchange"):
            build = build.child()
        # A physical subtree can't be executed standalone (columnar
        # scans lack their ColumnarToRow transition outside a prepared
        # plan), so follow its logical link back to the optimizer's
        # plan and rebuild THAT as a DataFrame — same row count, same
        # technique as the window probe above.
        link = build.logicalLink()
        assert link.isDefined(), (
            f"BNLJ build node {build.nodeName()} carries no logicalLink"
        )
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, link.get()
        )
        counts.append(DataFrame(jdf, spark).count())
    return counts


def measure_bnlj_bounds(spark, sf_dir: str, keys=None) -> dict:
    """Measure the rows broadcast on every allowlisted key's
    BroadcastNestedLoopJoin build side(s)."""
    import pyarrow.dataset as ds

    out: dict[str, dict] = {}
    for name in sorted(keys or BNLJ_BUILD_BOUNDS):
        bound = BNLJ_BUILD_BOUNDS[name]
        if name in BNLJ_PER_TABLE_ROWS:
            path = os.path.join(sf_dir, f"{BNLJ_PER_TABLE_ROWS[name]}.parquet")
            bound = -(-ds.dataset(path, format="parquet").count_rows() // bound)
        counts = bnlj_build_input_counts(
            spark, QUERIES[name](spark, sf_dir)
        )
        worst = max(counts) if counts else None
        out[name] = {
            "bound": bound,
            "bnljs": len(counts),
            "measured_max": worst,
            "ok": bool(counts) and worst <= bound,
        }
    return out


def bnlj_bound_violations(spark, sf_dir: str, keys=None) -> list[str]:
    """Empirically verify every BNLJ_BUILD_BOUNDS entry: count the rows
    on each key's broadcast-nested-loop build side(s) and flag any
    count above the documented bound. A key with ZERO BNLJs is flagged
    as a stale allowlist row, so entries cannot accumulate by trust."""
    problems: list[str] = []
    for name, m in measure_bnlj_bounds(spark, sf_dir, keys).items():
        if m["bnljs"] == 0:
            problems.append(
                f"{name}: allowlisted but no BroadcastNestedLoopJoin "
                "found — stale entry, remove it"
            )
        elif not m["ok"]:
            problems.append(
                f"{name}: {m['measured_max']} rows on a BNLJ build side "
                f"(documented bound {m['bound']})"
            )
    return problems


def global_window_input_counts(spark, df) -> list[int]:
    """Self-proving leg of the GLOBAL_WINDOW allowlist (VERDICT r6
    item 3): for every UNPARTITIONED Window in the OPTIMIZED logical
    plan, rebuild the window's child subtree as a DataFrame and count
    the rows that actually enter the single partition. The allowlist
    stops being trust-me docstrings: each key's documented census
    bound is asserted against this measurement (see
    GLOBAL_WINDOW_BOUNDS + tests/test_plan_shapes.py)."""
    from pyspark.sql import DataFrame

    children = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            children.append(node.child())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    counts = []
    for child in children:
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, child
        )
        counts.append(DataFrame(jdf, spark).count())
    return counts


def measure_window_bounds(spark, sf_dir: str, keys=None) -> dict:
    """Measure the rows entering every allowlisted key's global
    window(s). Plans are rebuilt under audit_passthrough() so
    materialize() stage boundaries cannot hide a window from the walk
    (VERDICT r7 item 5 — the former HIDDEN_WINDOW_KEYS escape hatch
    is gone; every entry now gets a measured_max)."""
    from pyprima_spark.operators.checkpointing import audit_passthrough

    out: dict[str, dict] = {}
    for name in sorted(keys or GLOBAL_WINDOW_BOUNDS):
        bound = GLOBAL_WINDOW_BOUNDS[name]
        with audit_passthrough():
            counts = global_window_input_counts(
                spark, QUERIES[name](spark, sf_dir)
            )
        worst = max(counts) if counts else None
        out[name] = {
            "bound": bound,
            "windows": len(counts),
            "measured_max": worst,
            "ok": bool(counts) and worst <= bound,
        }
    return out


def window_bound_violations(spark, sf_dir: str, keys=None) -> list[str]:
    """Empirically verify every GLOBAL_WINDOW_BOUNDS entry: measure the
    rows entering each key's global window(s) — materialize() is a
    no-op during the measurement, so checkpoint-hidden windows are
    measured too — and flag any count above the documented bound. A
    key with ZERO windows is flagged as a stale allowlist row, so
    entries cannot accumulate by trust."""
    problems: list[str] = []
    for name, m in measure_window_bounds(spark, sf_dir, keys).items():
        if m["windows"] == 0:
            problems.append(
                f"{name}: allowlisted but no global window found — "
                "stale entry, remove it"
            )
        elif not m["ok"]:
            problems.append(
                f"{name}: {m['measured_max']} rows entered a global "
                f"window (documented bound {m['bound']})"
            )
    return problems


def _walk(node):
    """Yield every node of a physical plan tree (descending through AQE)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _walk(node.initialPlan())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _subtree_is_bounded(node) -> bool:
    """True if a broadcast build side is visibly bounded: contains an
    aggregate (1-row / census outputs), a LocalTableScan (literal dim),
    or a scan of a bounded dim table."""
    for n in _walk(node):
        nm = n.nodeName()
        if "Aggregate" in nm or nm in ("LocalTableScan", "Range"):
            return True
        # createDataFrame literal dims (fold cuts, query-term sets) plan
        # as Scan ExistingRDD — only literal dims use that path here.
        if "ExistingRDD" in nm:
            return True
        if nm.startswith("Scan") and any(
            d in n.toString().split("\n")[0]
            for d in ("region", "nation", "supplier", "part.")
        ):
            return True
        if nm in ("ReusedExchange", "ReusedSubquery"):
            return True
    return False


def dataframe_violations(
    df,
    allow_global_window: bool = False,
    allow_bnlj: bool = False,
) -> list[str]:
    """Walk ONE DataFrame's physical plan and return scale-breaking
    shapes: CartesianProduct, unpartitioned Window without a top-k
    pushdown below it, BroadcastNestedLoopJoin with an unbounded build
    side. The allow flags mirror the per-key allowlists."""
    problems: list[str] = []
    plan = df._jdf.queryExecution().executedPlan()
    for node in _walk(plan):
        nm = node.nodeName()
        if nm == "CartesianProduct":
            problems.append("CartesianProduct")
        elif nm == "Window" and not allow_global_window:
            if node.partitionSpec().isEmpty() and not any(
                d.nodeName() in ("WindowGroupLimit", "TakeOrderedAndProject")
                for d in _walk(node)
            ):
                # WindowGroupLimit / TakeOrderedAndProject below the
                # window = Spark's distributed top-k pushdown: each
                # map task keeps k rows, the single partition sees
                # k x n_partitions rows — the accepted global-rank
                # shape. Without one, the full input sorts on ONE
                # partition: the equidepth/rfm failure class.
                problems.append(f"unpartitioned {nm}")
        elif nm == "BroadcastNestedLoopJoin" and not allow_bnlj:
            side = str(node.buildSide())
            build = node.right() if side.endswith("Right") else node.left()
            if not _subtree_is_bounded(build):
                problems.append(
                    f"BroadcastNestedLoopJoin with unbounded {side} "
                    "build side"
                )
    return problems


def shape_violations(spark, sf_dir: str, keys=None) -> list[str]:
    """Return ['key: problem', ...] for every catalog key whose plan
    has a scale-breaking shape (see dataframe_violations), honoring
    the documented bounded-input allowlists. The census-collect keys
    (SURVEY §7.24a) execute their distributed census stage EAGERLY
    inside the query function and return a literal DataFrame the walk
    can't see through — census_audit() records each pre-collect census
    DataFrame so its plan is walked too (ADVICE r9)."""
    from pyprima_spark.operators.exactmath import census_audit

    problems: list[str] = []
    for name in sorted(keys or QUERIES):
        if name.startswith("streaming"):
            continue
        with census_audit() as censuses:
            df = QUERIES[name](spark, sf_dir)
        audited = [("", df)] + [
            (f" [census: {what}]", cdf) for what, cdf in censuses
        ]
        for tag, adf in audited:
            for p in dataframe_violations(
                adf,
                allow_global_window=name in GLOBAL_WINDOW_ALLOWED,
                allow_bnlj=name in BNLJ_BOUNDED_ALLOWED,
            ):
                problems.append(f"{name}{tag}: {p}")
    return sorted(set(problems))


def _plan_stats_line(name: str, plan: str) -> str:
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    exch = plan.count("Exchange")
    bhj = plan.count("BroadcastHashJoin")
    smj = plan.count("SortMergeJoin")
    schemas = sorted(
        {s[:70] for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)}
    )
    return (
        f"{name:30s} pushed={pushed} exch={exch} bhj={bhj} smj={smj} "
        f"reads={schemas}"
    )


def audit(sf_dir: str) -> None:
    """Per-key plan census. Census-collect keys (SURVEY §7.24a) run
    their distributed stage eagerly inside the query function; the
    returned literal DataFrame reads nothing, so their rows would show
    pushed=0 reads=[] and hide a scale regression in the census stage
    (ADVICE r9). census_audit() captures each pre-collect census
    DataFrame, printed as an indented `+ census` row under its key."""
    from pyprima_spark.operators.exactmath import census_audit

    spark = build_session("plan_audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, fn in sorted(QUERIES.items()):
        if name.startswith("streaming"):
            continue
        try:
            with census_audit() as censuses:
                df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            print(f"{name:30s} ERR {str(e)[:80]}")
            continue
        print(_plan_stats_line(name, plan))
        for what, cdf in censuses:
            cplan = cdf._jdf.queryExecution().explainString(mode)
            label = what.split(":", 1)[-1].strip()[:24]
            print(_plan_stats_line(f"  + census<{label}>", cplan))
    spark.stop()


def write_window_bounds(sf_dir: str, out_path: str) -> None:
    """Measure every allowlisted window bound at ``sf_dir`` and write
    the WINDOW_BOUNDS artifact (the reproducible form of the r7
    hand-run; every entry now carries a measured_max — no hidden
    rows)."""
    import json

    spark = build_session("window_bounds")
    keys = measure_window_bounds(spark, sf_dir)
    bnlj = measure_bnlj_bounds(spark, sf_dir)
    spark.stop()
    doc = {
        "all_ok": all(
            m["ok"] for m in list(keys.values()) + list(bnlj.values())
        ),
        "keys": keys,
        "bnlj_keys": bnlj,
        "note": (
            "rows entering each allowlisted UNPARTITIONED window, "
            "measured from the optimized logical plan rebuilt under "
            "checkpointing.audit_passthrough() (materialize() no-op, "
            "so checkpoint-hidden windows are measured too); bnlj_keys "
            "= rows broadcast on each allowlisted "
            "BroadcastNestedLoopJoin build side, rebuilt from the "
            "physical build node's logical link"
        ),
        "probe": "tools/audit_plans.py:measure_window_bounds+measure_bnlj_bounds",
        "sf_dir": sf_dir,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path}; all_ok={doc['all_ok']}")
    for section in (keys, bnlj):
        for name, m in section.items():
            if not m["ok"]:
                print(" VIOLATION", name, m)


if __name__ == "__main__":
    if "--bounds" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--bounds"]
        write_window_bounds(
            args[0] if args else "/root/testdata/sf0.1",
            args[1] if len(args) > 1 else "WINDOW_BOUNDS_sf01.json",
        )
    else:
        audit(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
