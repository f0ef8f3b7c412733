"""Vector expressions for embedding similarity, in both dialects.

Cosine similarity is computed with explicitly sequential ascending-index
summation in BOTH engines (Spark ``aggregate`` over ``zip_with``; DuckDB
``list_sum`` over ``list_transform``) so the IEEE-754 double results are
bit-identical and survive the value-hash comparison after rounding.

Random-hyperplane LSH planes are ±1 vectors generated deterministically
in Python (md5 of "plane:dim") and inlined as literals into both
dialects — no in-engine randomness.
"""

from __future__ import annotations

import hashlib


def to_double_spark(col: str) -> str:
    return f"transform({col}, x -> cast(x as double))"


def to_double_duck(col: str) -> str:
    return f"{col}::DOUBLE[]"


def dot_spark(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def norm_spark(a: str) -> str:
    return f"sqrt(aggregate(transform({a}, x -> x * x), 0D, (acc, v) -> acc + v))"


def dot_duck(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> ({a})[i] * ({b})[i]))"
    )


def norm_duck(a: str, dim: int) -> str:
    return f"sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> ({a})[i] * ({a})[i])))"


def cosine_duck(a: str, b: str, dim: int) -> str:
    d, na, nb = dot_duck(a, b, dim), norm_duck(a, dim), norm_duck(b, dim)
    return f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0 ELSE {d} / ({na} * {nb}) END"


# -- deterministic random-hyperplane LSH --------------------------------------

N_PLANES = 8
EMB_DIM = 64


def _plane_sign(p: int, d: int) -> int:
    """±1 from md5("plane:dim") — deterministic, engine-independent."""
    h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
    return 1 if int(h[0], 16) < 8 else -1


LSH_PLANES: list[list[int]] = [
    [_plane_sign(p, d) for d in range(EMB_DIM)] for p in range(N_PLANES)
]


def lsh_bucket_spark(vec: str) -> str:
    """Integer bucket id: bit p set iff dot(vec, plane_p) >= 0."""
    bits = []
    for p, plane in enumerate(LSH_PLANES):
        lit = "array(" + ", ".join(f"{v}D" for v in plane) + ")"
        dot = dot_spark(vec, lit)
        bits.append(f"IF({dot} >= 0, {1 << p}, 0)")
    return "(" + " + ".join(bits) + ")"


def lsh_bucket_duck(vec: str) -> str:
    bits = []
    for p, plane in enumerate(LSH_PLANES):
        lit = "[" + ", ".join(str(v) for v in plane) + "]::DOUBLE[]"
        dot = dot_duck(vec, lit, EMB_DIM)
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


# -- banded multi-table LSH ----------------------------------------------------
#
# B independent signature tables of P planes each. A pair is a candidate
# if it collides in AT LEAST ONE band. Unlike a single wide signature
# (fixed 2^planes buckets, per-bucket self-join quadratic in bucket
# size), banding bounds expected bucket population at N / 2^P per band
# and P, B tune recall/cost independently — the same layout minhash-LSH
# uses. Planes are disjoint slices of one deterministic plane pool.

LSH_BANDS = 4
LSH_BAND_PLANES = 6

BANDED_PLANES: list[list[list[int]]] = [
    [
        [_plane_sign(LSH_BANDS * 100 + b * LSH_BAND_PLANES + p, d) for d in range(EMB_DIM)]
        for p in range(LSH_BAND_PLANES)
    ]
    for b in range(LSH_BANDS)
]


def band_bucket_spark(vec: str, band: int) -> str:
    """Integer bucket id of ``vec`` within one band's plane slice."""
    bits = []
    for p, plane in enumerate(BANDED_PLANES[band]):
        lit = "array(" + ", ".join(f"{v}D" for v in plane) + ")"
        bits.append(f"IF({dot_spark(vec, lit)} >= 0, {1 << p}, 0)")
    return "(" + " + ".join(bits) + ")"


def band_bucket_duck(vec: str, band: int) -> str:
    bits = []
    for p, plane in enumerate(BANDED_PLANES[band]):
        lit = "[" + ", ".join(str(v) for v in plane) + "]::DOUBLE[]"
        dot = dot_duck(vec, lit, EMB_DIM)
        bits.append(f"CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


# -- squared L2 distance (sequential summation, both dialects) -----------------


def l2sq_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, v) -> acc + v)"
    )


def l2sq_duck(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])))"
    )
