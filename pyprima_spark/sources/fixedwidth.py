"""Fixed-width text source/sink — the mainframe / statistical-agency
interchange format (pandas' ``read_fwf`` leg; the reference ingests
agency tabulations through pandas readers, correction_functions.py:36
lineage). No third-party dependency on either path:

- WRITE goes through :func:`pyprima_spark.sources.files.write_single_file`:
  one task renders the ordered lines and returns a manifest row. One
  file is the format's contract — fixed-width consumers expect a single
  record stream.
- READ is fully distributed and JVM-side: ``spark.read.text`` splits
  the file by line ranges, and every column is carved out with built-in
  ``substring`` + ``trim`` + cast — no Python touches the hot path, so
  the parse pipelines into whole-stage codegen and scales with input
  splits exactly like any text scan.

A column spec is ``(name, width, align)`` with align ``'l'`` or
``'r'``. The writer refuses values wider than their column (truncation
would corrupt silently); blank-padded values round-trip through
``trim`` on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Spec = tuple[str, int, str]


def _render_line(values: list, specs: list[Spec]) -> str:
    parts = []
    for v, (name, width, align) in zip(values, specs):
        s = "" if v is None else str(v)
        if len(s) > width:
            raise ValueError(
                f"value {s!r} exceeds width {width} of column {name}"
            )
        parts.append(s.rjust(width) if align == "r" else s.ljust(width))
    return "".join(parts)


def write_fixed_width(
    df: DataFrame,
    path: str,
    specs: list[Spec],
    order_by: list[str] | None = None,
) -> DataFrame:
    """Render ``df`` as one fixed-width text file at ``path`` through
    :func:`files.write_single_file`; returns a 1-row manifest (n_rows,
    n_bytes). Rows are sorted by ``order_by`` (default: the spec
    columns, left to right) so the file is deterministic."""
    import pandas as pd

    from pyprima_spark.sources import files

    cols = [name for name, _, _ in specs]

    def encode(pdf):
        pdf = pdf.where(pd.notna(pdf), None)
        lines = [
            _render_line(list(values), specs)
            for values in zip(*[pdf[c].tolist() for c in cols])
        ]
        payload = ("\n".join(lines) + ("\n" if lines else "")).encode("utf-8")
        return {path: payload}, [{"n_rows": len(lines), "n_bytes": len(payload)}]

    return files.write_single_file(
        df.select(cols), encode, "n_rows bigint, n_bytes bigint", order_by or cols
    )


def read_fixed_width(
    spark: SparkSession, path: str, specs: list[Spec], types: dict[str, str]
) -> DataFrame:
    """Distributed fixed-width read: line-split text scan + JVM-side
    substring/trim/cast per column (1-indexed offsets accumulated from
    the spec widths)."""
    lines = spark.read.text(path)
    out, pos = [], 1
    for name, width, _ in specs:
        # blank field = NULL (nullif before the cast — ANSI mode
        # correctly refuses to cast '' to a numeric type)
        col = F.nullif(
            F.trim(F.substring(F.col("value"), pos, width)), F.lit("")
        )
        out.append(col.cast(types[name]).alias(name))
        pos += width
    return lines.select(*out)
