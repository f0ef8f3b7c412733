"""Shared literal dictionaries used by both the Spark plans and the
DuckDB oracles — the analogue of the reference's assumption/dictionary
CSVs (dict_countries, dict_sectors, dict_line_voltage, ...).

Keeping them in one module guarantees the two sides agree.
"""

from __future__ import annotations

# country-merge recode, analogue of dict_countries (clean_load_data_ENTSOE)
NATION_RECODE: dict[str, str] = {f"NATION_{i}": f"CTRY_{i % 7}" for i in range(25)}

# size classes, analogue of dict_line_voltage range mapping
SIZE_BINS: dict[float, str] = {10: "small", 25: "medium", 40: "large"}
SIZE_DEFAULT = "xl"

# transmission length classes (assumptions_transmission length_limit_km)
LENGTH_BINS: dict[float, str] = {500: "short", 2000: "medium"}
LENGTH_DEFAULT = "long"

# transmission cost assumptions (assumptions_transmission.csv analogue)
EFF_PER_1000KM = 0.95
INV_COST_LENGTH = 100.0
INV_COST_FIX = 5000.0

# cohort width in years (param["process"]["cohorts"])
COHORT_WIDTH = 5

# -- LLM-pipeline operator parameters ----------------------------------------

# language-ID stopword profiles (disjoint, deterministic)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "es": ["el", "los", "las", "por", "para", "una", "pero", "como"],
    "fr": ["le", "et", "les", "des", "une", "dans", "pour", "avec"],
}

MINHASH_N = 16        # minhash functions
MINHASH_BANDS = 4     # LSH bands (4 rows each)

# Universal hash family for minhash: h_j(x) = (A[j]*x + B[j]) mod P over
# the 30-bit base hash — one md5 per shingle instead of MINHASH_N.
# Coefficients derived from md5 so both engines share them as literals.
import hashlib as _hashlib

MINHASH_P = 1073741789          # largest prime < 2^30
MINHASH_MASK = (1 << 30) - 1    # 30-bit base hash → products fit in int64


def _coef(tag: str, j: int, lo: int) -> int:
    h = int(_hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:15], 16)
    return lo + h % (MINHASH_P - lo)


MINHASH_A: list[int] = [_coef("a", j, 1) for j in range(MINHASH_N)]
MINHASH_B: list[int] = [_coef("b", j, 0) for j in range(MINHASH_N)]

NGRAM_LEN_BAND = 50   # candidate length-band width for ngram jaccard
NGRAM_DF_MAX = 200    # drop grams appearing in more docs than this per bucket
NGRAM_JACCARD_TAU = 0.8
EMB_DEDUP_TAU = 0.3   # cosine near-dup threshold (synthetic vectors max ~0.5)
ANN_K = 10
ANN_N_QUERIES = 10

# IVF coarse quantizer (deterministic): centroid = vector at a fixed id,
# spread across the id space past the query ids.
IVF_N_CLUSTERS = 8
IVF_N_PROBE = 4
IVF_CENTROID_IDS: list[int] = [
    ANN_N_QUERIES + 7 * i for i in range(IVF_N_CLUSTERS)
]
