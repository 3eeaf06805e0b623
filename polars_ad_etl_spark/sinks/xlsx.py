"""Driver-side ``.xlsx`` sink (stdlib-only), the export counterpart of
``sources/xlsx_lite.py``.

The reference's export surface is CSV+BOM and Google Sheets — both chosen so
ad-ops people can open results in a spreadsheet (reference
``scripts/apsl_internal.py:171-192``). A real xlsx file serves the same
consumer without the Sheets network dependency. Driver-bounded by design
(report-sized results; aggregate first at scale — same contract as the
Sheets connector and single-file CSV sink).

Writes one worksheet: header row from column names, strings as inline
strings (shared-string table omitted — valid xlsx, marginally larger),
ints/floats/bools as native cells, None as empty. Dates/timestamps are
written as ISO strings (no style table), which round-trips through the
engine's own standardize cast.
"""

from __future__ import annotations

import zipfile
from pathlib import Path
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_RNS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_RNS = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "http://schemas.openxmlformats.org/package/2006/content-types"


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _cell(ref: str, v: object) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'


def write_xlsx(df: DataFrame, path: str | Path, sheet: str = "Sheet1") -> str:
    """``collect()`` the rows to the driver and write one worksheet. Values
    pass through as the Python types ``collect()`` returns; dates/decimals
    stringify via ``str``."""
    header = df.columns
    rows = df.collect()

    def row_xml(rn: int, values: list[object]) -> str:
        cells = "".join(
            _cell(f"{_col_letter(ci)}{rn}", v) for ci, v in enumerate(values)
        )
        return f'<row r="{rn}">{cells}</row>'

    body = [row_xml(1, list(header))]
    body += [row_xml(i + 2, list(r)) for i, r in enumerate(rows)]
    parts = {
        "[Content_Types].xml": (
            f'<Types xmlns="{_CT}">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<Relationships xmlns="{_PKG_RNS}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<workbook xmlns="{_NS}" xmlns:r="{_RNS}"><sheets>'
            f'<sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{_PKG_RNS}">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{_NS}"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(str(path), "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            zf.writestr(name, f'<?xml version="1.0" encoding="UTF-8"?>{xml}')
    return str(path)
