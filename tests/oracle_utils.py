"""Local pre-run of the driver's t2 gate: Spark result vs DuckDB oracle."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from pyprima_spark.catalog import TABLE_SCHEMAS, TABLES


def contract_table(name: str, **columns):
    """A pyarrow table with every column ``catalog.TABLE_SCHEMAS`` declares
    for ``name``: the given columns, all others null. Edge-case fixtures
    use it so the catalog's footer check accepts them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(TABLE_SCHEMAS[name], timestamp_utc=False)
    n = len(next(iter(columns.values())))
    return pa.table(
        [pa.array(columns.get(f.name, [None] * n), f.type) for f in schema],
        schema=schema,
    )


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con.execute(sql).df()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive."""
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].astype(str)
        elif str(df[col].dtype).startswith("datetime"):
            df[col] = df[col].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def assert_matches_oracle(spark_df, sql: str, sf_dir: str) -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(run_oracle(sql, sf_dir))
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    for col in got.columns:
        g, w = got[col], want[col]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            pd.testing.assert_series_equal(
                g.astype(float), w.astype(float), check_names=False,
                rtol=1e-6, atol=1e-6, obj=f"column {col}",
            )
        else:
            pd.testing.assert_series_equal(
                g.astype(str), w.astype(str), check_names=False, obj=f"column {col}"
            )
