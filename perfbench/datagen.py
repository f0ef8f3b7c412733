"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables `pyprima_spark.catalog.TABLES` names (TPC-H-style
star schema plus the events, documents and embeddings tables) as one
single-row-group parquet file each, with the schemas, key domains and
value distributions of the test-data generator the repository's tests
run against. Row counts scale linearly with ``sf`` (``sf=0.01`` gives
60k lineitem rows). The same ``(sf, seed)`` always writes the same
values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _days(rng, start_offset: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(start_offset, start_offset + n_days, n)
    return pa.array(_EPOCH_1995 + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: the MinHash dedup,
            # curation and similarity plans need real candidate pairs.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every catalog table at scale factor ``sf``, keyed by table name."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = max(500, int(20_000 * sf))
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.integers(0, len(ADJECTIVES), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, 1, 2499, n_line),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt)),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
