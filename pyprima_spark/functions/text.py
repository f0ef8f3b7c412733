"""Text-analysis expression builders, in both dialects.

Every builder returns an expression STRING — the Spark variant is used
via ``F.expr`` inside DataFrame plans (all JVM-side higher-order
functions, no Python UDFs), and the DuckDB variant goes into the oracle
SQL. Keeping the two dialects adjacent in one module is what guarantees
hash-level parity of the dedup/similarity pipelines.

Hash primitive: the low 60 bits of md5 (first 15 hex chars) parsed as an
integer — the only 64-bit-ish hash both engines compute identically.
"""

from __future__ import annotations

from pyprima_spark.plans.constants import MINHASH_A, MINHASH_B, MINHASH_MASK, MINHASH_P


# -- tokenization -----------------------------------------------------------

def tokens_spark(col: str) -> str:
    return f"filter(split(lower(trim({col})), '\\\\s+'), t -> t <> '')"


def tokens_duck(col: str) -> str:
    return f"list_filter(string_split_regex(lower(trim({col})), '\\s+'), t -> t <> '')"


# -- 60-bit md5 hash --------------------------------------------------------

def hash64_spark(expr: str) -> str:
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def hash64_duck(expr: str) -> str:
    return f"cast('0x' || substring(md5({expr}), 1, 15) as BIGINT)"


# -- word shingles (k consecutive tokens) ------------------------------------

def shingles_spark(tokens: str, k: int = 3) -> str:
    joined = " || ' ' || ".join(f"{tokens}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN size({tokens}) < {k} THEN cast(array() as array<string>) "
        f"ELSE array_distinct(transform(sequence(0, size({tokens}) - {k}), "
        f"i -> {joined})) END"
    )


def shingles_duck(tokens: str, k: int = 3) -> str:
    joined = " || ' ' || ".join(f"{tokens}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tokens}) < {k} THEN [] "
        f"ELSE list_distinct(list_transform(generate_series(1, len({tokens}) - {k - 1}), "
        f"i -> {joined})) END"
    )


# -- minhash signatures ------------------------------------------------------
# Universal hash family over a 30-bit md5 base hash: one md5 per shingle,
# then h_j = (A[j]*h + B[j]) mod P. The Spark side computes this with
# explode + conditional MIN aggregates (operators/dedup.py); this builder
# is the DuckDB mirror over a base-hash list column.


def base_hashes_duck(shingles: str) -> str:
    h = hash64_duck("s")
    return f"list_transform({shingles}, s -> {h} & {MINHASH_MASK})"


def minhashes_duck(base_hashes: str) -> str:
    parts = ", ".join(
        f"list_min(list_transform({base_hashes}, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"[{parts}]"


# -- LSH band signatures over a minhash array --------------------------------

def bands_spark(minhashes: str, n_bands: int = 4, rows: int = 4) -> str:
    return (
        f"transform(sequence(0, {n_bands - 1}), b -> "
        f"md5(array_join(transform(slice({minhashes}, b * {rows} + 1, {rows}), "
        f"x -> cast(x as string)), ',')))"
    )


def bands_duck(minhashes: str, n_bands: int = 4, rows: int = 4) -> str:
    return (
        f"list_transform(generate_series(0, {n_bands - 1}), b -> "
        f"md5(array_to_string({minhashes}[b * {rows} + 1 : b * {rows} + {rows}], ',')))"
    )


# -- simhash ------------------------------------------------------------------

SIMHASH_BITS = 60


def token_hashes_duck(tokens: str) -> str:
    return f"list_transform({tokens}, t -> {hash64_duck('t')})"


def simhash_duck(hashes: str) -> str:
    inner = (
        f"list_sum(list_transform({hashes}, h -> "
        f"CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    return (
        f"cast(list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}), b -> "
        f"CASE WHEN {inner} >= 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) as BIGINT)"
    )


# -- character n-grams -------------------------------------------------------

def char_ngrams_spark(norm: str, k: int = 3) -> str:
    return (
        f"CASE WHEN length({norm}) < {k} THEN cast(array() as array<string>) "
        f"ELSE array_distinct(transform(sequence(1, length({norm}) - {k - 1}), "
        f"i -> substring({norm}, i, {k}))) END"
    )


def char_ngrams_duck(norm: str, k: int = 3) -> str:
    return (
        f"CASE WHEN length({norm}) < {k} THEN [] "
        f"ELSE list_distinct(list_transform(generate_series(1, length({norm}) - {k - 1}), "
        f"i -> substring({norm}, i, {k}))) END"
    )


def normtext_spark(col: str) -> str:
    return f"regexp_replace(lower(trim({col})), '\\\\s+', ' ')"


def normtext_duck(col: str) -> str:
    return f"regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"


# -- stopword membership count -----------------------------------------------

def stopword_count_spark(tokens: str, words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"aggregate({tokens}, 0, (acc, t) -> acc + IF(t IN ({inlist}), 1, 0))"


def stopword_count_duck(tokens: str, words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        f"cast(coalesce(list_sum(list_transform({tokens}, t -> "
        f"CASE WHEN t IN ({inlist}) THEN 1 ELSE 0 END)), 0) as int)"
    )


# -- CJK character count ------------------------------------------------------

CJK_CLASS = "[一-鿿]"


def cjk_count_spark(col: str) -> str:
    return f"length(regexp_replace({col}, '[^{CJK_CLASS[1:-1]}]', ''))"


def cjk_count_duck(col: str) -> str:
    return f"length(regexp_replace({col}, '[^{CJK_CLASS[1:-1]}]', '', 'g'))"
