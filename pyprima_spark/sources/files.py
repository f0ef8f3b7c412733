"""One writer and one reader for the byte formats.

Every file format under ``sources/`` (Avro, TFRecord, WARC, xlsx,
fixed-width, shapefile, GeoTIFF) is a codec — a pandas frame to file
bytes, file bytes to rows — wrapped in the same Spark plumbing. The
plumbing lives here, once:

- :func:`write_single_file` — ``coalesce(1)`` and one ``mapInPandas``
  task that concatenates its frames, encodes them and writes the files;
  the driver never holds the rows. One file is the format's contract.
- :func:`write_groups` — one ``applyInPandas`` call per group, each
  writing its own files from the executor that holds the group;
  :func:`write_shards` groups by a data-derived shard id through it and
  writes every shard, empty ones included.
- :func:`read_files` — a ``binaryFile`` scan; each payload decodes
  inside ``mapInPandas`` on the executor that holds it.

A codec's ``encode`` returns ``(files, rows)``: ``{path: payload}`` to
write through :mod:`fsio` (so paths may be ``file://``/``hdfs://``/
``s3://`` URIs) and the manifest rows the sink returns.

The writers share one Arrow hop. Integral columns, scalar and array
elements, cross as strings and are parsed back to Python ints in
object-dtype columns: pandas' null promotion would otherwise turn a
nullable bigint into float64 and round values above 2^53 with no error.
The reader builds object-dtype columns for the same reason.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Iterable

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    from pyspark.sql import DataFrame, SparkSession

    Encoded = tuple[dict[str, bytes], list[dict]]


def _hop(df: "DataFrame"):
    """The Arrow hop for ``df``: each column as the expression that
    carries it across (integral values, scalar or array elements, as
    strings), and the function that undoes the hop on a pandas frame
    and sorts it by ``order_by``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, IntegralType

    carried, scalars, arrays = {}, [], []
    for f in df.schema.fields:
        dt, col = f.dataType, F.col(f.name)
        if isinstance(dt, IntegralType):
            scalars.append(f.name)
            col = col.cast("string")
        elif isinstance(dt, ArrayType) and isinstance(dt.elementType, IntegralType):
            arrays.append(f.name)
            col = F.transform(col, lambda x: x.cast("string"))
        carried[f.name] = col

    def unship(pdf: "pd.DataFrame", order_by) -> "pd.DataFrame":
        import pandas as pd

        def exact(v):
            return None if pd.isna(v) else int(v)

        pdf = pdf.astype(object)
        # build object Series explicitly: Series.map would re-infer an
        # int+None result as float64 and round it again
        for c in scalars:
            pdf[c] = pd.Series(
                [exact(v) for v in pdf[c]], dtype=object, index=pdf.index
            )
        for c in arrays:
            pdf[c] = pd.Series(
                [None if v is None else [exact(x) for x in v] for v in pdf[c]],
                dtype=object,
                index=pdf.index,
            )
        if order_by and len(pdf):
            pdf = pdf.sort_values(order_by).reset_index(drop=True)
        return pdf

    return carried, unship


def _ship(df: "DataFrame"):
    carried, unship = _hop(df)
    return df.select(*[col.alias(c) for c, col in carried.items()]), unship


def _write(encoded: Encoded, columns: list[str]) -> "pd.DataFrame":
    import pandas as pd

    from pyprima_spark.sources import fsio

    files, rows = encoded
    for path, payload in files.items():
        fsio.write_bytes(path, payload)
    return pd.DataFrame(rows, columns=columns)


def _columns(ddl: str) -> list[str]:
    from pyspark.sql.types import StructType

    return StructType.fromDDL(ddl).fieldNames()


def write_single_file(
    df: "DataFrame",
    encode: "Callable[[pd.DataFrame], Encoded]",
    manifest: str,
    order_by: "list[str] | None" = None,
) -> "DataFrame":
    """Write ``df`` from ONE executor task: its rows, sorted by
    ``order_by`` (none: as they arrive), go to ``encode`` as one pandas
    frame — an empty frame with ``df``'s columns when there are no
    rows. Returns the manifest rows (DDL ``manifest``) lazily."""
    import pandas as pd

    shipped, unship = _ship(df)
    cols = list(df.columns)
    out = _columns(manifest)

    def write_file(it):
        frames = list(it)
        pdf = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=cols)
        )
        yield _write(encode(unship(pdf, order_by)), out)

    return shipped.coalesce(1).mapInPandas(write_file, manifest)


def write_groups(
    df: "DataFrame",
    keys: list[str],
    encode: "Callable[[tuple, pd.DataFrame], Encoded]",
    manifest: str,
    order_by: "list[str] | None" = None,
) -> "DataFrame":
    """Write one set of files per group of ``keys``: ``encode(key, pdf)``
    runs on the executor holding the group, its rows sorted by
    ``order_by``. Keys are grouped after the hop, so an integral key
    arrives in ``key`` as its string."""
    shipped, unship = _ship(df)
    out = _columns(manifest)

    def write_group(key, pdf):
        return _write(encode(key, unship(pdf, order_by)), out)

    return shipped.groupBy(*keys).applyInPandas(write_group, manifest)


def write_shards(
    df: "DataFrame",
    n_shards: int,
    shard_by: list[str],
    encode: "Callable[[int, pd.DataFrame], Encoded]",
    manifest: str,
    order_by: "list[str] | None" = None,
) -> "DataFrame":
    """Write ``df`` as exactly ``n_shards`` groups (:func:`write_groups`):
    ``encode(shard, pdf)`` gets the rows whose
    ``pmod(xxhash64(shard_by), n_shards)`` is ``shard``, sorted by
    ``order_by`` — an empty frame for a shard no row hashes to. The
    shard id is derived from the data (hashing the columns as they
    cross the hop), not from the task, so file contents do not depend
    on upstream partitioning or AQE. Returns the manifest ordered by
    its ``shard`` column."""
    from pyspark.sql import functions as F

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    carried, _ = _hop(df)
    observed = df.select(
        F.pmod(
            F.xxhash64(*[carried[c] for c in shard_by]), F.lit(n_shards)
        ).alias("__shard"),
        *df.columns,
        F.lit(False).alias("__empty"),
    )
    # One marked placeholder row per shard id, so every shard runs its
    # task: a marker column, not a nullness test (a real row may be
    # all-null).
    domain = df.sparkSession.range(n_shards).select(
        F.col("id").alias("__shard"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema.fields],
        F.lit(True).alias("__empty"),
    )

    def encode_shard(key, pdf):
        pdf = pdf[~pdf["__empty"].astype(bool)].drop(columns=["__shard", "__empty"])
        return encode(int(key[0]), pdf)

    return write_groups(
        observed.unionByName(domain), ["__shard"], encode_shard, manifest, order_by
    ).orderBy("shard")


def read_files(
    spark: "SparkSession",
    path: str,
    ext_filter: "str | None",
    schema: str,
    decode: "Callable[[bytes], Iterable[dict]]",
) -> "DataFrame":
    """Read every file under ``path`` whose name matches ``ext_filter``
    (a ``pathGlobFilter`` on top of the path; ``None`` reads every
    file): ``decode(payload)`` yields one dict per row, and the columns
    of the DDL ``schema`` are taken from it by NAME (a missing key reads
    null). Files are listed and scheduled by the ``binaryFile`` source;
    within one file rows are not split."""
    import pandas as pd

    fields = _columns(schema)
    reader = spark.read.format("binaryFile")
    if ext_filter is not None:
        reader = reader.option("pathGlobFilter", ext_filter)

    def parse(it):
        for pdf in it:
            rows = [row for payload in pdf["content"] for row in decode(bytes(payload))]
            yield pd.DataFrame(
                {f: pd.Series([r.get(f) for r in rows], dtype=object) for f in fields}
            )

    return reader.load(path).select("content").mapInPandas(parse, schema)
