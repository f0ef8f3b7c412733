"""Table catalog: load the driver-generated parquet tables for a scale
factor and register them as temp views.

Mirrors the reference's path-dictionary pattern (config.py builds a
``paths`` dict of every input table; initialization.py loads them) with a
lazy Spark scan per table — column pruning and predicate pushdown reach
the parquet reader because nothing is materialized here.

Every table's schema is declared once in ``TABLE_SCHEMAS`` and handed to
the reader, so a load launches no Spark job (``spark.read.parquet``
without a schema runs one footer-inference job per table). Before the
scan the declared schema is checked against the file's own parquet
footer, read with pyarrow in well under a millisecond; a missing, extra
or retyped column raises ``SchemaDriftError`` naming the table, the
column and both types, instead of failing deep inside a plan.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_I, _L, _D, _S = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS = T.TimestampType()


def _struct(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


# The input contract, as the generator's parquet footers store it.
# Timestamps are declared TIMESTAMP: the files hold
# TIMESTAMP(isAdjustedToUTC=false, MICROS), which Spark reads directly as
# TIMESTAMP, and the session time zone is pinned to UTC on load, so the
# wall clock is unchanged.
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", _I), ("r_name", _S)),
    "nation": _struct(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _struct(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "supplier": _struct(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D),
    ),
    "part": _struct(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _struct(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S),
    ),
    "lineitem": _struct(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _TS),
    ),
    "events": _struct(
        ("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "documents": _struct(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L),
    ),
    "embeddings": _struct(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType())), ("label", _I),
    ),
}

TABLES = tuple(TABLE_SCHEMAS)

# Tables whose consumers do heavy per-row compute (regex normalization,
# md5 shingling, vector math) — worth a widening shuffle when the scan
# is degenerate. Relational tables skip it: their first shuffle (join /
# agg exchange) already spreads the work, and an extra exchange costs
# more than the single-threaded scan saves.
WIDEN_TABLES = frozenset({"documents", "embeddings"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


class SchemaDriftError(ValueError):
    """A table's parquet footer disagrees with its ``TABLE_SCHEMAS`` entry."""

    def __init__(self, table: str, column: str, declared: str, found: str):
        super().__init__(
            f"table {table!r} column {column!r}: declared {declared}, found {found}"
        )
        self.table = table
        self.column = column


def _footer_schema(path: str):
    """Arrow schema of a parquet file or a Spark part-file directory, from
    one footer (no Spark job; a URI resolves through ``pyarrow.fs``, as
    in ``sources.fsio``). INT96, Spark's default timestamp encoding, is
    reported as micros, so only a true TIMESTAMP(NANOS) column shows as
    ``timestamp[ns]``."""
    import pyarrow.dataset as ds

    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    return ds.dataset(path, format=fmt).schema


def _spark_type_name(arrow) -> str:
    """Spark's name for an arrow type as Spark would read it."""
    from pyspark.sql.pandas.types import from_arrow_type

    try:
        return from_arrow_type(arrow).simpleString()
    except TypeError:
        return str(arrow)


def _checked_scan_schema(sf_dir: str, name: str) -> tuple[T.StructType, list[str]]:
    """``TABLE_SCHEMAS[name]`` checked against the table's footer.

    Returns the schema to scan with and its nanos columns: a declared
    TIMESTAMP column stored as TIMESTAMP(NANOS) is scanned as long, since
    Spark reads NANOS only under ``spark.sql.legacy.parquet.nanosAsLong``.
    """
    import pyarrow.types as pat

    footer = _footer_schema(table_path(sf_dir, name))
    declared = TABLE_SCHEMAS[name]
    for column in footer.names:
        if column not in declared.names:
            found = _spark_type_name(footer.field(column).type)
            raise SchemaDriftError(name, column, "absent", found)
    fields, nanos = [], []
    for field in declared.fields:
        want = field.dataType.simpleString()
        if field.name not in footer.names:
            raise SchemaDriftError(name, field.name, want, "absent")
        arrow = footer.field(field.name).type
        if field.dataType == _TS and pat.is_timestamp(arrow) and arrow.unit == "ns":
            nanos.append(field.name)
            fields.append(T.StructField(field.name, _L))
            continue
        found = _spark_type_name(arrow)
        if found != want:
            raise SchemaDriftError(name, field.name, want, found)
        fields.append(field)
    return T.StructType(fields), nanos


def read_declared(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    read: Callable[[T.StructType], DataFrame],
) -> DataFrame:
    """Scan table ``name`` of ``sf_dir`` under its declared schema.

    ``read(schema)`` builds the scan (``spark.read`` for the catalog,
    ``spark.readStream`` for the streaming source), so batch and stream
    share one footer-checked contract and one nanos conversion. Raises
    ``SchemaDriftError`` on a footer that disagrees with the declaration.

    Session confs are set here because external harnesses run these plans
    on their own sessions: the time zone is pinned to UTC (the oracles
    format and bucket timestamps in UTC), and ``nanosAsLong`` is set only
    when a footer stores NANOS. Nanos convert with exact integer division
    (``div``); float division could land one microsecond off at
    epoch-nano magnitudes.
    """
    from pyspark.sql import functions as F

    schema, nanos = _checked_scan_schema(sf_dir, name)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read(schema)
    if nanos:
        df = df.select(
            *[
                F.expr(f"timestamp_micros({c} div 1000)").alias(c)
                if c in nanos
                else F.col(c)
                for c in schema.names
            ]
        )
    return df


# Memoized lazy plans per (session, sf_dir, table). DataFrames are
# immutable lazy plans, so reuse is safe, and a cached load skips the
# footer check and the widen split estimate; the key includes
# applicationId so a new SparkContext never sees another context's plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table under its declared schema; no Spark job runs.

    The footer check in ``read_declared`` runs first and raises
    ``SchemaDriftError`` on drift. Timestamp columns come back as
    TIMESTAMP: the micros files the generator writes are read as such
    directly, and a TIMESTAMP(NANOS) column, accepted when the footer
    shows it, is read as long nanos and converted.
    """
    path = table_path(sf_dir, name)
    df = read_declared(spark, sf_dir, name, lambda s: spark.read.schema(s).parquet(path))
    if name in WIDEN_TABLES:
        df = widen_scan(df)
    return df


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan whose parallelism is degenerate.

    The test parquet files are single-row-group, so Spark gives the whole
    scan to ONE task and every downstream map (regex normalization, md5,
    explode) runs on 1 of 32 cores. At cluster scale a fact-table scan
    yields thousands of splits and this is a no-op — the estimate below
    (ceil(file_size / maxPartitionBytes) summed over input files) mirrors
    Spark's own split computation without instantiating ``df.rdd`` (which
    forces a Python-side plan conversion on every table load). Filters and
    column pruning still push through the exchange to the parquet reader
    (PushDownPredicates handles Repartition nodes).
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if _estimated_scan_splits(spark, df) < n:
        return df.repartition(n)
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value like '134217728', '128m', '1g'."""
    s = str(v).strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _estimated_scan_splits(spark: SparkSession, df: DataFrame) -> int:
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = 0
    for uri in df.inputFiles():
        if uri.startswith("file:"):
            path = uri[len("file:"):]
            try:
                size = os.path.getsize(path)
            except OSError:
                size = 0
            splits += max(1, -(-size // max_bytes))
        else:
            # Remote filesystem: can't stat cheaply from Python; count the
            # file as one split (a lower bound, so we only over-repartition).
            splits += 1
    return splits


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table lazily and register temp views. Raises
    ``FileNotFoundError`` naming the tables ``sf_dir`` lacks, before any
    is loaded."""
    missing = [n for n in TABLES if not os.path.exists(table_path(sf_dir, n))]
    if missing:
        raise FileNotFoundError(
            f"{sf_dir} lacks table(s): {', '.join(missing)}"
        )
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
