"""Output checks behind the benchmark's ``ok_frac``.

Every check returns a bool and never raises on a wrong result: a wrong
or missing output counts as a failed op, it does not abort the run.
"""

from __future__ import annotations

import csv
import hashlib
import os
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# The comparison rules (normalization, tolerance) mirror the repository's
# Spark-vs-DuckDB oracle gate in tests/oracle_utils.py, but are kept here:
# the benchmark's verdicts must not change when the test helpers do.
RTOL = 1e-6
ATOL = 1e-6


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every value; object and
    datetime columns as strings, so row order and dtype flavour do not
    matter."""
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if df[col].dtype == object or str(df[col].dtype).startswith("datetime"):
            df[col] = df[col].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """True when two normalized frames hold the same rows: floats within
    RTOL/ATOL, everything else equal as strings."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for col in got.columns:
        g, w = got[col], want[col]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            try:
                gv, wv = g.astype(float).to_numpy(), w.astype(float).to_numpy()
            except (TypeError, ValueError):
                return False
            if not np.allclose(gv, wv, rtol=RTOL, atol=ATOL, equal_nan=True):
                return False
        elif not (g.astype(str).to_numpy() == w.astype(str).to_numpy()).all():
            return False
    return True


def oracle_frames(
    sqls: dict[str, str], data_dir: str, tables, cache_dir: str
) -> dict[str, pd.DataFrame]:
    """Normalized DuckDB oracle result of each query over the parquet
    tables in ``data_dir``, keyed like ``sqls``. Results are cached in
    ``cache_dir`` under the key and a hash of its SQL: the inputs are
    fixed, so the oracle runs once per checkout."""
    import duckdb

    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, pd.DataFrame] = {}
    con = None
    try:
        for key, sql in sqls.items():
            digest = hashlib.sha1(sql.encode()).hexdigest()[:16]
            path = os.path.join(cache_dir, f"{key}-{digest}.parquet")
            if os.path.exists(path):
                out[key] = pd.read_parquet(path)
                continue
            if con is None:
                con = duckdb.connect()
                for name in tables:
                    table = os.path.join(data_dir, f"{name}.parquet")
                    con.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table}')"
                    )
            out[key] = normalize(con.execute(sql).df())
            tmp = f"{path}.tmp{os.getpid()}"
            out[key].to_parquet(tmp)
            os.replace(tmp, path)
    finally:
        if con is not None:
            con.close()
    return out


def parquet_output_matches(path: str, want: pd.DataFrame) -> bool:
    """A parquet directory written by Spark holds exactly ``want``'s rows."""
    try:
        got = pq.read_table(path).to_pandas()
    except (OSError, ValueError):
        return False
    return frames_match(normalize(got), want)


def european_csv_matches(path: str, want: pd.DataFrame) -> bool:
    """A ';'-separated CSV directory (one header per part file) carries
    ``want``'s columns and row count, with decimal commas, no points."""
    try:
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".csv")
        )
    except OSError:
        return False
    rows: list[list[str]] = []
    for part in parts:
        with open(part, newline="") as fh:
            reader = csv.reader(fh, delimiter=";")
            header = next(reader, None)
            if header is not None and sorted(header) != list(want.columns):
                return False
            rows.extend(reader)
    if len(rows) != len(want):
        return False
    numeric = re.compile(r"^-?\d+\.\d+$")
    return not any(numeric.match(v) for row in rows for v in row)
