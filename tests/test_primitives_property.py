"""Property tests for the warehouse plans' expression-level primitives.

These run WITHOUT a Spark session: each primitive is a dialect-pair of
expression strings (plans/warehouse.py), so the DuckDB half can be driven by
hypothesis directly, and engine parity is already guaranteed by the
strict oracle gate — what's tested here is that the MATH itself has the
properties the operators claim (check-digit soundness, rendezvous
minimal disruption, interleave bijectivity).
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyprima_spark.plans.warehouse import _luhn_sum, _z_interleave


def _luhn_valid(acct_id: int) -> bool:
    con = duckdb.connect()
    expr = _luhn_sum(f"{acct_id}::BIGINT", "//")
    return con.execute(f"SELECT ({expr}) % 10 = 0").fetchone()[0]


def _luhn_check_digit(payload: int) -> int:
    psum_expr = _luhn_sum(f"{payload}::BIGINT * 10", "//")
    con = duckdb.connect()
    psum = con.execute(f"SELECT {psum_expr}").fetchone()[0]
    return (10 - psum % 10) % 10


@settings(max_examples=50, deadline=None)
@given(payload=st.integers(min_value=0, max_value=10**11 - 1))
def test_luhn_generated_ids_validate(payload: int):
    """The generated check digit always yields a Luhn-valid id."""
    c = _luhn_check_digit(payload)
    assert _luhn_valid(payload * 10 + c)


@settings(max_examples=30, deadline=None)
@given(
    payload=st.integers(min_value=0, max_value=10**11 - 1),
    pos=st.integers(min_value=0, max_value=11),
    bump=st.integers(min_value=1, max_value=9),
)
def test_luhn_any_single_digit_mutation_invalidates(
    payload: int, pos: int, bump: int
):
    """Luhn's design guarantee: every single-digit substitution is
    caught (the property the operator's planted corruption relies on)."""
    c = _luhn_check_digit(payload)
    acct = payload * 10 + c
    digit = (acct // 10**pos) % 10
    mutated = acct + ((digit + bump) % 10 - digit) * 10**pos
    assert mutated != acct
    assert not _luhn_valid(mutated)


def _hrw_shard(key: int, n: int) -> int:
    """Python mirror of the rendezvous argmax (low-60-bit md5, ties
    impossible for distinct hash inputs)."""
    best, best_w = -1, -1
    for s in range(n):
        w = int(hashlib.md5(f"{key}#{s}".encode()).hexdigest()[:15], 16)
        if w > best_w:
            best, best_w = s, w
    return best


@settings(max_examples=40, deadline=None)
@given(key=st.integers(min_value=0, max_value=10**9))
def test_rendezvous_minimal_disruption(key: int):
    """Adding shard n: a key either keeps its shard or moves TO the new
    shard — never between old shards (the defining HRW property the
    operator's moved-census interprets)."""
    n = 8
    old = _hrw_shard(key, n)
    new = _hrw_shard(key, n + 1)
    assert new == old or new == n


def test_z_interleave_is_a_bijection():
    """The 16-term interleave maps the 8-bit × 8-bit square 1:1 onto
    0..65535 (exhaustive — what makes z-ranges partition the space)."""
    con = duckdb.connect()
    expr = _z_interleave("xb", "yb", spark_syntax=False)
    n = con.execute(
        "SELECT count(DISTINCT z) FROM ("
        f"  SELECT ({expr}) AS z FROM"
        "   (SELECT unnest(range(256)) AS xb),"
        "   (SELECT unnest(range(256)) AS yb))"
    ).fetchone()[0]
    assert n == 65536


def test_z_interleave_locality_prefix():
    """Sharing a z-value's high bits pins BOTH coordinates to a box:
    any two points in the same 1024-wide z-bucket differ by < 32 in
    each 8-bit coordinate (the min-max-skipping property)."""
    con = duckdb.connect()
    expr = _z_interleave("xb", "yb", spark_syntax=False)
    worst = con.execute(
        "WITH pts AS (SELECT xb, yb, ("
        + expr
        + ") // 1024 AS bucket FROM"
        "  (SELECT unnest(range(256)) AS xb),"
        "  (SELECT unnest(range(256)) AS yb))"
        " SELECT max(sx), max(sy) FROM ("
        "   SELECT max(xb) - min(xb) AS sx, max(yb) - min(yb) AS sy"
        "   FROM pts GROUP BY bucket)"
    ).fetchone()
    assert worst[0] < 32 and worst[1] < 32
