"""Semantic property tests for round-8 primitives (DuckDB-driven).

Engine parity is already pinned by the strict oracle gate; these test
that the MATH claimed by the round-8 operators actually holds:

- dup_span_census's diagonal-island trick is exactly the longest-
  common-substring detector it claims to be (a run of r matched
  k-grams on one (pos_a - pos_b) diagonal == a verbatim span of
  r + k - 1 words), verified against a brute-force word-level LCS.
- binary_hamming_recall's sign-bit packing is the numpy-reference
  popcount code it claims (bit i set iff component i >= 0, Hamming =
  popcount of xor).
- padding_waste_buckets's refinement guarantee: ANY bucketing pads no
  more than the single global bucket (max_b <= max_global per bucket).
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from pyprima_spark.functions import text as X

_K = 3  # small gram width exercises the island logic harder


def _lcs_words(a: list[str], b: list[str]) -> int:
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def _span_sql(doc_a: list[str], doc_b: list[str]) -> list[tuple]:
    con = duckdb.connect()
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(_K))
    rows = [(0, doc_a), (1, doc_b)]
    con.execute("CREATE TABLE docs (doc_id BIGINT, toks VARCHAR[])")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    return con.execute(f"""
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - {_K - 1}),
                               i -> i - 1)) AS pos,
         unnest(list_transform(generate_series(1, len(toks) - {_K - 1}),
                               i -> {X.hash64_duck(gram)})) AS gh
  FROM docs WHERE len(toks) >= {_K}
),
matches AS (
  SELECT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b, b.pos AS pos_b
  FROM grams a JOIN grams b ON a.gh = b.gh AND a.doc_id < b.doc_id
),
runs AS (
  SELECT pos_a - row_number() OVER (
           PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS grp,
         pos_a - pos_b AS diag
  FROM matches
)
SELECT max(cnt) + {_K - 1} FROM (
  SELECT count(*) AS cnt FROM runs GROUP BY diag, grp
)
""").fetchall()


_tok = st.sampled_from(list("abcde"))
_doc = st.lists(_tok, min_size=_K, max_size=24)


@settings(max_examples=60, deadline=None)
@given(a=_doc, b=_doc)
def test_island_runs_equal_word_lcs(a: list[str], b: list[str]):
    """max span from the diagonal-island SQL == brute-force word LCS
    whenever the LCS reaches the gram width; no rows otherwise."""
    lcs = _lcs_words(a, b)
    out = _span_sql(a, b)
    if lcs >= _K:
        assert out[0][0] == lcs
    else:
        assert out[0][0] is None


@settings(max_examples=60, deadline=None)
@given(
    a=st.lists(st.integers(min_value=3, max_value=10), min_size=_K, max_size=10),
    b=st.lists(st.integers(min_value=3, max_value=10), min_size=_K, max_size=10),
    span=st.lists(st.integers(min_value=0, max_value=9), min_size=_K, max_size=8),
)
def test_island_runs_detect_planted_span(a, b, span):
    """A verbatim span copied into both docs is always found at >= its
    planted length (longer if the random context happens to extend it)."""
    sa = [str(x) for x in a] + [f"s{x}" for x in span]
    sb = [f"s{x}" for x in span] + [str(x + 20) for x in b]
    out = _span_sql(sa, sb)
    assert out[0][0] is not None and out[0][0] >= len(span)


@settings(max_examples=40, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-2.0, max_value=2.0, allow_nan=False,
                  width=32),
        min_size=60, max_size=60,
    )
)
def test_sign_pack_matches_numpy_reference(vec):
    """The packed 60-bit sign code equals the Python-side popcount
    reference, including the e == 0.0 / -0.0 boundary."""
    con = duckdb.connect()
    code_sql = (
        "SELECT CAST(list_sum(list_transform(range(60), i -> "
        "CASE WHEN CAST(emb[i + 1] AS DOUBLE) >= 0 "
        "THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) "
        "FROM (SELECT ?::FLOAT[] AS emb)"
    )
    got = con.execute(code_sql, [vec]).fetchone()[0]
    import struct

    want = sum(
        1 << i
        for i, e in enumerate(vec)
        if struct.unpack("f", struct.pack("f", e))[0] >= 0
    )
    assert got == want
    assert 0 <= got < (1 << 60)


@settings(max_examples=40, deadline=None)
@given(
    lens=st.lists(st.integers(min_value=1, max_value=500), min_size=1,
                  max_size=120)
)
def test_bucketed_padding_never_exceeds_global(lens):
    """Quartile/decile bucket plans pad <= the single global bucket
    (every bucket max <= the global max), and padded >= total."""
    con = duckdb.connect()
    con.execute("CREATE TABLE lens (len BIGINT)")
    con.executemany("INSERT INTO lens VALUES (?)", [(x,) for x in lens])
    dec_case = "CASE " + " ".join(
        f"WHEN len <= c{d} THEN {d}" for d in range(1, 10)
    ) + " ELSE 10 END"
    qua_case = "CASE " + " ".join(
        f"WHEN len <= q{i} THEN {i}" for i in range(1, 4)
    ) + " ELSE 4 END"
    rows = con.execute(f"""
WITH cuts AS (
  SELECT {", ".join(f"quantile_disc(len, 0.{d}) AS c{d}" for d in range(1, 10))},
         quantile_disc(len, 0.25) AS q1, quantile_disc(len, 0.5) AS q2,
         quantile_disc(len, 0.75) AS q3
  FROM lens
),
assigned AS (
  SELECT len, 1 AS b_global, {qua_case} AS b_quart, {dec_case} AS b_dec
  FROM lens CROSS JOIN cuts
)
SELECT
  (SELECT sum(n * mx) FROM (SELECT count(*) n, max(len) mx FROM assigned GROUP BY b_global)),
  (SELECT sum(n * mx) FROM (SELECT count(*) n, max(len) mx FROM assigned GROUP BY b_quart)),
  (SELECT sum(n * mx) FROM (SELECT count(*) n, max(len) mx FROM assigned GROUP BY b_dec)),
  (SELECT sum(len) FROM lens)
""").fetchone()
    padded_g, padded_q, padded_d, total = rows
    assert padded_q <= padded_g
    assert padded_d <= padded_g
    assert min(padded_g, padded_q, padded_d) >= total


# --- round-8 second batch: Hilbert unroll, chi-square, Poisson weights ----

from pyprima_spark.plans.experiments import _AA_CRIT_MILLI, _PBC_CUTS
from pyprima_spark.plans.warehouse import _hilbert_stages


def test_hilbert_unroll_is_the_hilbert_curve():
    """The unrolled SQL transform is a bijection on the 256x256 grid
    AND has the defining Hilbert property: consecutive d along the
    curve are exactly L1-distance-1 apart, for ALL 65536 steps."""
    con = duckdb.connect()
    q = ("SELECT cx, cy, cx AS x, cy AS y, CAST(0 AS BIGINT) AS d "
         "FROM (SELECT a.r AS cx, b.r AS cy FROM "
         "(SELECT unnest(generate_series(0, 255)) AS r) a, "
         "(SELECT unnest(generate_series(0, 255)) AS r) b)")
    for stage in _hilbert_stages(8, spark_syntax=False):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage.items())
        q = f"SELECT cx, cy, {cols} FROM ({q})"
    n, dmin, dmax, nd = con.execute(
        f"SELECT count(*), min(d), max(d), count(DISTINCT d) FROM ({q})"
    ).fetchone()
    assert (n, dmin, dmax, nd) == (65536, 0, 65535, 65536)
    bad = con.execute(f"""
        SELECT count(*) FROM (
          SELECT abs(cx - lag(cx) OVER (ORDER BY d))
               + abs(cy - lag(cy) OVER (ORDER BY d)) AS l1
          FROM ({q})
        ) WHERE l1 IS NOT NULL AND l1 <> 1
    """).fetchone()[0]
    assert bad == 0


@settings(max_examples=60, deadline=None)
@given(
    a=st.integers(min_value=1, max_value=5000),
    b=st.integers(min_value=1, max_value=5000),
    c=st.integers(min_value=1, max_value=5000),
    d=st.integers(min_value=1, max_value=5000),
)
def test_integer_chi2_matches_float_reference(a, b, c, d):
    """aa_test_fpr's all-integer milli-chi² agrees with the float
    formula to within the 1-milli truncation granularity."""
    con = duckdb.connect()
    got = con.execute(f"""
        SELECT (1000 * ({a} + {b} + {c} + {d})::HUGEINT
                * ({a}::HUGEINT * {d} - {b}::HUGEINT * {c})
                * ({a}::HUGEINT * {d} - {b}::HUGEINT * {c}))
               // (({a}::HUGEINT + {b}) * ({c} + {d})
                   * ({a}::HUGEINT + {c}) * ({b} + {d}))
    """).fetchone()[0]
    n = a + b + c + d
    want = 1000 * n * (a * d - b * c) ** 2 / (
        (a + b) * (c + d) * (a + c) * (b + d)
    )
    assert got <= want < got + 1 + 1e-6
    assert _AA_CRIT_MILLI == 3841  # the embedded critical literal


def test_poisson_cutpoints_weight_mean_is_one():
    """The hash-vs-cutpoint weights behave like Poisson(1): mean
    within 3% of 1 and max weight <= 6 over 20k hashed ids."""
    con = duckdb.connect()
    cuts = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _PBC_CUTS
    )
    mean, mx = con.execute(f"""
        SELECT avg(w), max(w) FROM (
          SELECT {cuts} AS w FROM (
            SELECT CAST('0x' || substring(md5(i::VARCHAR), 1, 15) AS BIGINT)
                   AS u
            FROM (SELECT unnest(generate_series(1, 20000)) AS i)
          )
        )
    """).fetchone()
    assert abs(mean - 1.0) < 0.03
    assert mx <= 6


# --- session-3 batch (#277-326) invariants ----------------------------------


def _duck_with_tables(sf="/root/testdata/sf0.001"):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf}/{t}.parquet')"
        )
    return con


def test_isotonic_fit_is_monotone_and_brackets_rates():
    """The max-min PAV identity must produce a NON-DECREASING curve
    bounded by the observed rate range — the whole point of the
    operator (a violation means the lattice join lost an interval)."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables()
    df = con.execute(ORACLES["isotonic_calibration"]).df()
    iso = df.sort_values("score_level")["iso_milli"].tolist()
    assert iso == sorted(iso), "isotonic output must be non-decreasing"
    assert min(iso) >= min(df["rate_milli"]) - 1
    assert max(iso) <= max(df["rate_milli"]) + 1


def test_shapley_efficiency_axiom():
    """Credits must sum to 24*(v(full) - v(empty)) exactly — Shapley's
    efficiency axiom at the x4! integer scale; share_bp must sum to
    ~10000 (floor slack < n_channels)."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables()
    df = con.execute(ORACLES["shapley_attribution"]).df()
    v = con.execute("""
WITH journeys AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         bit_or(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                + CASE WHEN event_type = 'error' THEN 2 ELSE 0 END
                + CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END
                + CASE WHEN event_type = 'view' THEN 8 ELSE 0 END)
           AS mask,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2
)
SELECT sum(conv) AS v_full,
       sum(CASE WHEN mask = 0 THEN conv ELSE 0 END) AS v_empty
FROM journeys
""").df()
    total = int(df["phi_x24"].sum())
    expect = 24 * (int(v["v_full"][0]) - int(v["v_empty"][0]))
    assert total == expect
    share = int(df["share_bp"].sum())
    assert 10000 - len(df) <= share <= 10000


def test_bh_rejects_at_least_bonferroni():
    """Step-up BH dominates Bonferroni at the same alpha — if this
    flips, the ladder literals or the rank join are wrong."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["bh_fdr_control"]).df()
    assert int(df["rejected_bh"].sum()) >= int(
        df["rejected_bonferroni"].sum()
    )
    # every Bonferroni rejection is also a BH rejection
    bonf = df[df["rejected_bonferroni"] == 1]
    assert (bonf["rejected_bh"] == 1).all()


def test_merkle_walk_finds_planted_divergence():
    """The planted mutation/drop selectors guarantee divergent leaves
    exist at sf0.01, and the per-level compare counts must show the
    descend-only-under-diff property (compared children bounded by
    fanout x differing parents; the tree need not be full)."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["merkle_tree_diff"]).df()
    assert len(df) > 0
    row = df.iloc[0]
    assert 1 <= row["l2_diff"] <= row["l2_compared"]
    assert row["l2_diff"] <= row["l1_compared"] <= 16 * row["l2_diff"]
    assert 1 <= row["l1_diff"] <= row["l1_compared"]


def test_water_filling_feasible_and_fair():
    """Allocations must fit the capacity (slack >= 0, < n), never
    exceed demand, and uncapped brands get exactly their demand."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["maxmin_fair_allocation"]).df()
    assert (df["allocation"] <= df["demand"]).all()
    slack = int(df["unallocated_slack"][0])
    assert 0 <= slack <= len(df) + int(df["water_level"][0])
    uncapped = df[df["capped"] == 0]
    assert (uncapped["allocation"] == uncapped["demand"]).all()
    capped = df[df["capped"] == 1]
    if len(capped):
        assert capped["allocation"].nunique() == 1  # common water level


def test_rmst_equals_mean_truncated_time():
    """RMST with administrative censoring IS E[min(T, H)] — the
    telescoping identity the operator's exactness claim rests on."""
    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.plans.statistics import _RMST_HORIZON

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["survival_rmst"]).df()
    direct = con.execute(f"""
WITH first_ship AS (
  SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
),
dur AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', CAST(o.o_orderdate AS DATE), CAST(ship AS DATE))
           AS t
  FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
)
SELECT priority,
       (1000 * sum(least(t, {_RMST_HORIZON}))) // count(*) AS direct_milli
FROM dur GROUP BY priority ORDER BY priority
""").df()
    merged = df.merge(direct, on="priority")
    assert (merged["rmst_millidays"] == merged["direct_milli"]).all()


def test_bradley_terry_scale_and_positivity():
    """Strengths stay positive and mean-normalized (renorm contract);
    the top brand by strength must have a top-3 win count (MM can
    reorder, but not pathologically on near-uniform data)."""
    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.plans.statistics import _BT_SCALE

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["bradley_terry_strength"]).df()
    assert (df["strength_milli"] > 0).all()
    mean = df["strength_milli"].mean()
    assert abs(mean - _BT_SCALE) <= _BT_SCALE * 0.02
    top_by_wins = set(
        df.sort_values("wins", ascending=False).head(3)["brand"]
    )
    assert df.iloc[0]["brand"] in top_by_wins


def test_knapsack_lp_bound_dominates_greedy():
    """greedy_value <= lp_upper_bound and the budget is respected —
    the certificate's defining inequalities."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["knapsack_density_bound"]).df()
    row = df.iloc[0]
    assert row["greedy_value"] <= row["lp_upper_bound"]
    assert row["selected_weight"] <= row["budget_weight"]
    assert 0 < row["greedy_vs_bound_bp"] <= 10000


def test_assignment_optimum_beats_greedy():
    """Exhaustive optimum <= greedy by construction; the published bp
    ratio must agree with the two costs."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["assignment_exhaustive"]).df()
    row = df.iloc[0]
    assert row["optimal_cost_milli"] <= row["greedy_cost_milli"]
    assert (
        row["optimal_vs_greedy_bp"]
        == (10000 * row["optimal_cost_milli"]) // row["greedy_cost_milli"]
    )
    # assignment is a permutation
    dsts = [row[f"dst_for_src{i}"] for i in range(5)]
    assert sorted(dsts) == [0, 1, 2, 3, 4]


def test_youden_j_is_argmax_over_curve():
    """The chosen cut's J must dominate a direct scan of every level
    boundary recomputed independently."""
    from pyprima_spark.plans.oracles import ORACLES

    con = _duck_with_tables("/root/testdata/sf0.01")
    df = con.execute(ORACLES["youden_threshold"]).df()
    curve = con.execute("""
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       ELSE 0 END) AS BIGINT) AS spend_c,
         max(CASE WHEN o_orderdate >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS y
  FROM orders GROUP BY o_custkey
),
census AS (
  SELECT c.c_mktsegment AS segment,
         least(CAST(spend_c // 5000000 AS INT), 40) AS lvl,
         count(*) AS n, sum(y) AS pos
  FROM per_cust p JOIN customer c ON c.c_custkey = p.cust
  GROUP BY 1, 2
),
cuts AS (
  SELECT segment, lvl, sum(pos) OVER w AS tp,
         sum(n) OVER w - sum(pos) OVER w AS fp
  FROM census
  WINDOW w AS (PARTITION BY segment ORDER BY lvl DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT segment, sum(pos) AS p, sum(n - pos) AS nn
        FROM census GROUP BY segment)
SELECT c.segment,
       max(CASE WHEN t.p = 0 OR t.nn = 0 THEN -9999
                ELSE (1000 * c.tp::HUGEINT * t.nn
                      - 1000 * c.fp::HUGEINT * t.p)
                     // (t.p::HUGEINT * t.nn) END) AS best_j
FROM cuts c JOIN tot t USING (segment)
GROUP BY c.segment
""").df()
    merged = df.merge(curve, on="segment")
    assert (merged["j_milli"] == merged["best_j"]).all()


def test_source_selection_refuses_wide_catalog(spark, tmp_path):
    """>60 distinct sources must raise ValueError from a BOUNDED
    collect (limit 61) before any census work — the bigint bitmask
    cannot hold a 61st source bit (ADVICE r8)."""
    import os

    import pytest

    from pyprima_spark.catalog import TABLE_SCHEMAS

    docs = spark.createDataFrame(
        [(i, "the of and to a word", None, f"src{i:03d}", 20) for i in range(61)],
        TABLE_SCHEMAS["documents"],
    )
    d = str(tmp_path / "wide")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    from pyprima_spark.plans.curation import source_selection_greedy

    with pytest.raises(ValueError, match="60 distinct"):
        source_selection_greedy(spark, d)


# --- SQL-edge parity: the engines must NULL/empty, never raise ---------
#
# The census-collect-then-iterate keys run their rounds in driver-side
# Python, where a division the SQL engines publish as NULL (x div 0)
# raises instead unless the call site guards it (the ADVICE r9 class).
# Each test below builds the degenerate input that reaches such a site
# and asserts the ENGINE vs the key's own ORACLE on that input — the
# same gate the driver runs, on the edge the driver's data never hits.


def test_pca_empty_embeddings_publishes_null_rows(spark, tmp_path):
    """Empty embeddings: every moment is NULL, so the oracle's v0 seed
    still emits one row per dimension with NULL component and NULL
    Rayleigh quotient — the engine must mirror, not int(None)-crash."""
    import os

    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.plans.retrieval import pca_power_iteration
    from tests.oracle_utils import assert_matches_oracle, contract_table

    import pyarrow.parquet as pq

    d = str(tmp_path / "empty_emb")
    os.makedirs(d)
    # single-FILE parquet, like the driver's testdata layout (a Spark
    # directory write is unreadable to the oracle's read_parquet glob)
    pq.write_table(
        contract_table("embeddings", vec_id=[], embedding=[]),
        os.path.join(d, "embeddings.parquet"),
    )
    df = pca_power_iteration(spark, d)
    assert_matches_oracle(df, ORACLES["pca_power_iteration"], d)


def test_bradley_terry_zero_strength_pair_drops_term(spark, tmp_path):
    """A zero-win brand (Y) and a brand whose tiny win ratio TRUNCATES
    to strength 0 (X) share a game: round 2 then divides by si+sj = 0,
    which the SQL engines publish as a NULL term that drops from the
    d-sum — the engine must mirror, not ZeroDivisionError."""
    import os

    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.plans.statistics import bradley_terry_strength
    from tests.oracle_utils import assert_matches_oracle, contract_table

    import pyarrow.parquet as pq

    rows = []
    # O1: X (disc .05) beats Y (disc .03) exactly once -> wins[X] = 1
    rows += [(1, 1, 0.05), (1, 2, 0.03)]
    # O2: Z crushes X 40x100 -> n_X grows to 4001, raw[X] truncates
    rows += [(2, 1, 0.01)] * 40 + [(2, 3, 0.09)] * 100
    # O3: Z crushes Y 40x100 -> wins[Y] = 0, strength 0 from round 1
    rows += [(3, 2, 0.01)] * 40 + [(3, 3, 0.09)] * 100
    d = str(tmp_path / "bt_zero")
    os.makedirs(d)
    pq.write_table(
        contract_table(
            "part", p_partkey=[1, 2, 3], p_brand=["BRAND#X", "BRAND#Y", "BRAND#Z"]
        ),
        os.path.join(d, "part.parquet"),
    )
    pq.write_table(
        contract_table(
            "lineitem",
            l_orderkey=[r[0] for r in rows],
            l_partkey=[r[1] for r in rows],
            l_discount=[r[2] for r in rows],
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    df = bradley_terry_strength(spark, d)
    # round 1 truncates s[X] to 0 and s[Y] to 0; round 2's (X, Y) game
    # is the si+sj = 0 division — reaching this line at all means the
    # engine survived it; the oracle then pins the values.
    assert_matches_oracle(df, ORACLES["bradley_terry_strength"], d)


def test_source_selection_stops_at_exhausted_coverage(spark, tmp_path):
    """Once no source holds an uncovered gram the oracle's step CTE is
    empty and every later step joins away — the engine must stop
    emitting (no zero-marginal rows), and with no grams at all it must
    publish the oracle's empty result, not divide by a zero total."""
    import os

    from pyprima_spark.plans.curation import source_selection_greedy
    from pyprima_spark.plans.oracles import ORACLES
    from tests.oracle_utils import assert_matches_oracle, contract_table

    import pyarrow.parquet as pq

    def _docs(path, triples):
        os.makedirs(path)
        pq.write_table(
            contract_table(
                "documents",
                doc_id=[t[0] for t in triples],
                source=[t[1] for t in triples],
                text=[t[2] for t in triples],
            ),
            os.path.join(path, "documents.parquet"),
        )

    sql = ORACLES["source_selection_greedy"]
    long_text = " ".join(f"t{i}" for i in range(10))  # 3 distinct 8-grams
    d1 = str(tmp_path / "ssg_covered")
    _docs(d1, [
        (1, "srcA", long_text),  # covers everything
        (2, "srcB", long_text),  # subset (identical) grams
        (3, "srcC", "too short"),  # no grams at all
    ])
    df = source_selection_greedy(spark, d1)
    assert df.count() == 1  # step 1 only: steps 2/3 have no new grams
    assert_matches_oracle(df, sql, d1)

    d2 = str(tmp_path / "ssg_gramless")
    _docs(d2, [(1, "srcA", "short"), (2, "srcB", "also short")])
    df2 = source_selection_greedy(spark, d2)
    assert_matches_oracle(df2, sql, d2)
