"""Minimal XLSX (OOXML spreadsheet) sink/source in pure stdlib.

Reference parity: pyPRIMA's PRIMARY model outputs are .xlsx workbooks
— generate_models.py writes the urbs and evrys model files as
multi-sheet Excel books (config.py:778-779 `urbs_model`/`evrys_model`),
and several inputs arrive as .xlsx (ENTSO-E monthly-hourly load,
config.py:471; household/industry load profiles,
correction_functions.py:36 pd.read_excel). The catalog already covers
the SEMANTICS (model_export_bundle assembles the sheet contents as one
union-tagged long table); this module closes the FILE FORMAT leg the
same way round 5 closed GeoTIFF/shapefile: an .xlsx is a ZIP of small
XML parts, so `zipfile` + `xml.etree` write and parse it with no
openpyxl/pandas-excel dependency (both absent in this environment —
probed 2026-08-14).

Scale/shape contract: a workbook is inherently ONE file (the format
is a single ZIP; sheets cannot be written in parallel), so it is
written by :func:`pyprima_spark.sources.files.write_single_file` — one
executor task writes the book, to a path or URI; the driver never
touches cell data. Workbooks that warrant .xlsx are dim-sized (model
files, assumption tables); corpus-scale data belongs in parquet.
Reading parallelizes per FILE through
:func:`pyprima_spark.sources.files.read_files`.
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import TYPE_CHECKING
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"


def _col_letter(idx: int) -> str:
    """0-based column index -> A, B, ... Z, AA, AB, ..."""
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def _sheet_xml(header: list[str], rows) -> bytes:
    """Serialize one worksheet: header row of inline strings, then data
    rows — numbers as <v>, everything else as inline strings (no
    sharedStrings table: inline keeps the writer single-pass and
    streaming)."""
    buf = io.StringIO()
    buf.write(
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS_MAIN}"><sheetData>'
    )

    def cell(r: int, c: int, value) -> str:
        ref = f"{_col_letter(c)}{r}"
        if value is None:
            return ""
        if isinstance(value, bool):
            return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
        if isinstance(value, float) and value != value:  # NaN -> blank
            return ""
        if isinstance(value, (int, float)):
            return f'<c r="{ref}"><v>{value!r}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(str(value))}</t></is></c>"
        )

    buf.write('<row r="1">')
    for c, name in enumerate(header):
        buf.write(cell(1, c, str(name)))
    buf.write("</row>")
    for i, row in enumerate(rows, start=2):
        buf.write(f'<row r="{i}">')
        for c, value in enumerate(row):
            buf.write(cell(i, c, value))
        buf.write("</row>")
    buf.write("</sheetData></worksheet>")
    return buf.getvalue().encode("utf-8")


def encode_xlsx(sheets: dict[str, tuple[list[str], list]]) -> bytes:
    """Encode ``{sheet_name: (header, row_iterable)}`` into workbook
    bytes. Sheet order follows dict order."""
    names = list(sheets)
    sheet_entries = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS_MAIN}" xmlns:r="{_NS_REL}">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_REL}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{_NS_REL}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    pkg_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_REL}">'
        f'<Relationship Id="rId1" Type="{_NS_REL}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        "vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"
        '"/>'
        f"{overrides}</Types>"
    )
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", pkg_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, name in enumerate(names):
            header, rows = sheets[name]
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(header, rows))
    return out.getvalue()


def decode_xlsx(payload: bytes) -> dict[str, tuple[list[str], list[list]]]:
    """Parse workbook bytes -> ``{sheet_name: (header, rows)}``.

    Handles inline strings (our writer), sharedStrings (Excel/openpyxl
    books), numeric <v> cells, and boolean cells; formula cells yield
    their cached <v>. Missing cells within a row come back as None —
    column positions derive from each cell's ``r`` attribute, so
    sparse rows align correctly."""
    zf = zipfile.ZipFile(io.BytesIO(payload))

    def read_xml(name: str):
        return ET.fromstring(zf.read(name))

    # sheet name -> rel id -> worksheet part
    wb = read_xml("xl/workbook.xml")
    rels = read_xml("xl/_rels/workbook.xml.rels")
    targets = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{{{_NS_PKG_REL}}}Relationship")
    }
    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        sst = read_xml("xl/sharedStrings.xml")
        for si in sst.iter(f"{{{_NS_MAIN}}}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{{{_NS_MAIN}}}t")))

    def cell_value(c):
        t = c.get("t", "n")
        if t == "inlineStr":
            return "".join(
                el.text or "" for el in c.iter(f"{{{_NS_MAIN}}}t")
            )
        v = c.find(f"{{{_NS_MAIN}}}v")
        if v is None or v.text is None:
            return None
        if t == "s":
            return shared[int(v.text)]
        if t == "b":
            return bool(int(v.text))
        if t == "str":
            return v.text
        try:
            f = float(v.text)
            return int(f) if f.is_integer() and "." not in v.text else f
        except ValueError:
            return v.text

    out: dict[str, tuple[list[str], list[list]]] = {}
    for sheet in wb.iter(f"{{{_NS_MAIN}}}sheet"):
        target = targets[sheet.get(f"{{{_NS_REL}}}id")]
        part = target if target.startswith("xl/") else f"xl/{target}"
        ws = read_xml(part)
        rows: list[list] = []
        for row in ws.iter(f"{{{_NS_MAIN}}}row"):
            cells: dict[int, object] = {}
            for c in row.iter(f"{{{_NS_MAIN}}}c"):
                ref = c.get("r", "")
                letters = re.match(r"[A-Z]+", ref)
                ci = 0
                for ch in (letters.group(0) if letters else "A"):
                    ci = ci * 26 + (ord(ch) - ord("A") + 1)
                cells[ci - 1] = cell_value(c)
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
        header = [str(h) if h is not None else "" for h in (rows[0] if rows else [])]
        out[sheet.get("name")] = (header, rows[1:])
    return out


def write_xlsx(
    df: "DataFrame",
    path: str,
    sheet_name: str = "Sheet1",
    order_by: list[str] | None = None,
) -> "DataFrame":
    """Write `df` as a one-sheet workbook from ONE executor task
    (:func:`files.write_single_file`; the driver never holds the rows).
    Rows are sorted by ``order_by`` (default: all columns) for a
    deterministic book. Returns a 1-row manifest (path, n_rows,
    n_bytes)."""
    from pyprima_spark.sources import files

    cols = list(df.columns)

    def encode(pdf):
        rows = zip(*[pdf[c].tolist() for c in cols]) if cols else iter(())
        payload = encode_xlsx({sheet_name: (cols, rows)})
        return {path: payload}, [
            {"path": path, "n_rows": len(pdf), "n_bytes": len(payload)}
        ]

    return files.write_single_file(
        df, encode, "path string, n_rows long, n_bytes long", order_by or cols
    )


def read_xlsx_sheet(
    spark: "SparkSession", path_glob: str, sheet_name: str, schema: str
) -> "DataFrame":
    """Read one sheet from every matching ``*.xlsx`` workbook through
    :func:`files.read_files`: the header row maps cell columns to the
    requested ``schema`` fields by NAME — column order in the book does
    not matter, and a book without the sheet contributes no rows."""
    from pyprima_spark.sources import files

    def decode(payload):
        header, rows = decode_xlsx(payload).get(sheet_name, ([], []))
        return (dict(zip(header, row)) for row in rows)

    return files.read_files(spark, path_glob, "*.xlsx", schema, decode)


def write_xlsx_book(
    df: "DataFrame",
    path: str,
    sheet_col: str = "sheet",
    order_by: list[str] | None = None,
) -> "DataFrame":
    """Write a union-tagged long frame as ONE multi-sheet workbook —
    the urbs/evrys model-file layout (model_export_bundle produces
    exactly this shape): rows fan out to the sheet named by
    ``sheet_col``, each sheet carries the remaining columns with its
    rows sorted by ``order_by`` (default: all of them), sheets appear
    in name order. Same single-task contract as write_xlsx. Returns a manifest
    row per sheet (sheet, n_rows) plus the book byte count."""
    import pandas as pd

    from pyprima_spark.sources import files

    cols = [c for c in df.columns if c != sheet_col]

    def encode(pdf):
        pdf = pdf.where(pd.notna(pdf), None)
        sheets: dict[str, tuple[list[str], list]] = {}
        for name in sorted(pdf[sheet_col].dropna().unique()):
            sub = pdf[pdf[sheet_col] == name]
            sheets[str(name)] = (cols, list(zip(*[sub[c].tolist() for c in cols])))
        payload = encode_xlsx(sheets)
        return {path: payload}, [
            {"sheet": name, "n_rows": len(rows), "n_bytes": len(payload)}
            for name, (_, rows) in sheets.items()
        ]

    return files.write_single_file(
        df, encode, "sheet string, n_rows long, n_bytes long", order_by or cols
    )
