"""Oracle-parity tests for every catalog query with an oracle."""

from __future__ import annotations

import pytest

from pyprima_spark.plans.oracles import ORACLES
from pyprima_spark.plans.queries import QUERIES
from tests.oracle_utils import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    assert name in QUERIES, f"oracle {name} has no Spark query"
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, ORACLES[name], sf_dir)


def test_every_query_has_rows(spark, sf_dir):
    for name, fn in QUERIES.items():
        assert fn(spark, sf_dir).count() >= 0, name


def test_catalog_and_oracles_cover_same_keys():
    """Every queries() key must have an oracle (the driver records a
    weaker rows-only check otherwise) and vice versa; catches a new
    operator landing in one registry but not the other."""
    assert set(QUERIES) == set(ORACLES), (
        sorted(set(QUERIES) ^ set(ORACLES))
    )


def test_load_tables_names_missing_tables(spark, sf_dir, tmp_path):
    """A scale-factor directory that lacks a table is refused when the
    catalog loads, naming the table, not deep inside a stage plan."""
    import os

    from pyprima_spark.catalog import TABLES, load_tables, table_path

    for name in TABLES:
        if name != "events":
            os.symlink(table_path(sf_dir, name), table_path(str(tmp_path), name))
    with pytest.raises(FileNotFoundError, match="events"):
        load_tables(spark, str(tmp_path))


def test_every_query_documents_itself():
    """Every catalog operator must carry a real docstring (the scale
    rationale and reference citations live there — an undocumented
    operator is unreviewable)."""
    thin = [
        name
        for name, fn in QUERIES.items()
        if not (fn.__doc__ and len(fn.__doc__.strip()) >= 40)
    ]
    assert not thin, thin


def test_every_query_has_a_survey_row():
    """Registry parity with the coverage checklist (VERDICT r5 item 3:
    five operators once landed with no SURVEY §2 rows and were invisible
    to the coverage audit). Every catalog key must appear backticked in
    SURVEY.md; a key without a row fails here the moment it registers."""
    import os

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    unlisted = [name for name in QUERIES if f"`{name}`" not in survey]
    assert not unlisted, unlisted


def test_every_query_is_benched_or_excluded():
    """bench.py must either time a catalog key or carry it in the
    structured BENCH_EXCLUDED dict with a non-empty reason — silent
    bench gaps hide per-round perf regressions (VERDICT r5 item 4;
    hardened from a string match to a set identity in r7 per VERDICT
    r6 item 4)."""
    from bench import BENCH_EXCLUDED, BENCH_QUERIES

    benched = set(BENCH_QUERIES)
    excluded = set(BENCH_EXCLUDED)
    assert not benched & excluded, sorted(benched & excluded)
    missing = set(QUERIES) - benched - excluded
    assert not missing, sorted(missing)
    stale = (benched | excluded) - set(QUERIES)
    assert not stale, sorted(stale)
    thin = [k for k, v in BENCH_EXCLUDED.items() if not str(v).strip()]
    assert not thin, thin


def test_no_unexplained_bench_regression():
    """VERDICT r7 item 6 turned into CI: compare the two most recent
    BENCH_r*_local.json artifacts and fail if any common key that took
    >1 s in the older run regressed more than 2x without a backticked
    note in SURVEY section 6 (the q18_large_orders /
    training_manifest drift-triage convention)."""
    import glob
    import json
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    numbered = []
    for p in glob.glob(os.path.join(root, "BENCH_r*_local.json")):
        m = re.search(r"BENCH_r(\d+)_local", p)
        assert m, f"bench artifact name not of the BENCH_r<N>_local form: {p}"
        numbered.append((int(m.group(1)), p))
    files = [p for _, p in sorted(numbered)]
    if len(files) < 2:
        pytest.skip("fewer than two local bench artifacts")
    with open(files[-2]) as f:
        old = json.load(f)["queries"]
    with open(files[-1]) as f:
        new = json.load(f)["queries"]
    with open(os.path.join(root, "SURVEY.md")) as f:
        survey = f.read()
    parts = survey.split("## §6")
    assert len(parts) == 2, (
        "SURVEY.md must keep exactly one '## §6' header — the drift "
        "gate reads its notes"
    )
    sec6 = parts[1].split("## §7")[0]
    bad = [
        f"{k}: {old[k]}s -> {new[k]}s ({new[k] / old[k]:.2f}x)"
        for k in sorted(set(old) & set(new))
        if old[k] > 1.0 and new[k] > 2 * old[k] and f"`{k}`" not in sec6
    ]
    assert not bad, (
        "bench regressions >2x with no SURVEY section-6 note:\n"
        + "\n".join(bad)
    )
