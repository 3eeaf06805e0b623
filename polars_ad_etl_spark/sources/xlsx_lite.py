"""Minimal ``.xlsx`` parser built on the standard library (SURVEY §2.1 S2),
the one Excel reader of the package (``tabular.read_excel``,
``XlsxDataSource``).

The reference ingests Excel ad reports via ``pl.read_excel`` backed by the
fastexcel dependency (reference ``multi_source_ad_etl.py:101-102``,
``pyproject.toml:8``). The package depends on no Excel engine — an
``.xlsx`` file is a ZIP of XML parts, and the subset ad reports use (one
worksheet of shared/inline strings, numbers, and booleans) parses in ~100
lines of ``zipfile`` + ``xml.etree``. This keeps the connector real instead
of stubbed; a full engine (openpyxl / com.crealytics:spark-excel on a JVM
cluster) remains the production path for styled dates, formulas, and
multi-sheet workbooks.

Limitations (documented, not silent): date cells come back as raw Excel
serial numbers (style-table number formats are not interpreted); formula
cells yield their cached value; only the first worksheet is read unless
``sheet`` names another.
"""

from __future__ import annotations

import re
import zipfile
from pathlib import Path
from xml.etree import ElementTree

from pyspark.sql import types as T

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _local(tag: str) -> str:
    """Strip the XML namespace: '{ns}sheet' -> 'sheet'."""
    return tag.rsplit("}", 1)[-1]


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'AB3' -> 27 (bijective base-26 column letters)."""
    m = _CELL_REF.match(ref)
    if not m:
        raise ValueError(f"bad cell reference {ref!r}")
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _cell_text(elem: ElementTree.Element) -> str:
    """Concatenate all <t> runs under an element (rich-text aware)."""
    return "".join(t.text or "" for t in elem.iter() if _local(t.tag) == "t")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ElementTree.fromstring(data)
    return [_cell_text(si) for si in root if _local(si.tag) == "si"]


def _sheet_part(zf: zipfile.ZipFile, sheet: str | None) -> str:
    """Resolve the worksheet part path, honoring a sheet name if given."""
    wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
    rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    target_by_rid = {
        r.get("Id"): r.get("Target") for r in rels if r.get("Target")
    }
    for el in wb.iter():
        if _local(el.tag) != "sheet":
            continue
        rid = next(
            (v for k, v in el.attrib.items() if _local(k) == "id"), None
        )
        if sheet is None or el.get("name") == sheet:
            target = target_by_rid.get(rid, "worksheets/sheet1.xml")
            return target if target.startswith("xl/") else f"xl/{target}"
    raise ValueError(f"worksheet {sheet!r} not found")


def read_xlsx_rows(
    path: str | Path, sheet: str | None = None
) -> list[list[object]]:
    """Parse one worksheet into row lists (ragged rows padded with None).

    Cell types handled: shared strings (t="s"), inline strings
    (t="inlineStr"), cached formula strings (t="str"), booleans (t="b"),
    numbers (default; int when integral). Empty cells are None. A file that
    is not a zip archive (a legacy binary ``.xls``, or a corrupt file) raises
    ``ValueError`` naming it.
    """
    try:
        zf = zipfile.ZipFile(str(path))
    except zipfile.BadZipFile:
        raise ValueError(
            f"{path} is not an .xlsx workbook: it is a legacy .xls or a "
            "corrupt file; save it as .xlsx"
        ) from None
    with zf:
        strings = _shared_strings(zf)
        root = ElementTree.fromstring(zf.read(_sheet_part(zf, sheet)))
        rows: list[list[object]] = []
        for row in root.iter():
            if _local(row.tag) != "row":
                continue
            cells: list[object] = []
            for c in row:
                if _local(c.tag) != "c":
                    continue
                ref = c.get("r")
                idx = _col_index(ref) if ref else len(cells)
                while len(cells) < idx:
                    cells.append(None)
                ctype = c.get("t", "n")
                v = next((el for el in c if _local(el.tag) == "v"), None)
                if ctype == "s":
                    cells.append(strings[int(v.text)] if v is not None else None)
                elif ctype == "inlineStr":
                    cells.append(_cell_text(c))
                elif ctype == "str":
                    cells.append(v.text if v is not None else None)
                elif ctype == "b":
                    cells.append(v is not None and v.text == "1")
                else:  # numeric
                    if v is None or v.text is None:
                        cells.append(None)
                    else:
                        f = float(v.text)
                        # int-ify only within int64 range — a 9.2e18 cell
                        # must stay float or the long column overflows
                        cells.append(
                            int(f)
                            if f.is_integer() and -(2**63) <= f < 2**63
                            else f
                        )
            rows.append(cells)
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


# The Spark type of each label ``normalize_columns`` emits.
SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
    "long": T.LongType(),
    "string": T.StringType(),
}


def normalize_columns(
    header: list[object], data: list[list[object]]
) -> tuple[list[str], list[list[object]], list[str]]:
    """Whole-table type normalization, mirroring the reference's full-file
    inference (``infer_schema_length=None``): a column where every non-null
    value is numeric stays numeric (float if any float), a pure-bool column
    stays bool, anything mixed collapses to string. Returns a type label per
    column (a key of ``SPARK_TYPES``; all-null columns are string) so the
    caller never relies on row-based inference."""
    names = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(header)]
    cols = list(zip(*data)) if data else [() for _ in names]
    out_cols: list[list[object]] = []
    types: list[str] = []
    for col in cols:
        vals = [v for v in col if v is not None]
        if vals and all(isinstance(v, bool) for v in vals):
            out_cols.append(list(col))
            types.append("boolean")
        elif vals and all(
            isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
        ):
            if any(isinstance(v, float) for v in vals):
                out_cols.append(
                    [float(v) if v is not None else None for v in col]
                )
                types.append("double")
            else:
                out_cols.append(list(col))
                types.append("long")
        else:
            out_cols.append([str(v) if v is not None else None for v in col])
            types.append("string")
    rows = [list(t) for t in zip(*out_cols)] if out_cols and data else []
    return names, rows, types
