"""A minimal one-sheet XLSX writer (the OOXML parts the engine's reader
needs: content types, package and workbook relationships, the workbook
and one worksheet of inline-string and numeric cells)."""

from __future__ import annotations

import zipfile
from xml.sax.saxutils import escape

_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_DOC_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _cell(ref: str, value: str) -> str:
    # canonical integers are written as numbers, as a spreadsheet would
    # store them; the reader turns integral floats back into the same
    # text (15 digits at most, so the double holds them exactly)
    if value.isascii() and value.isdigit() and len(value) <= 15 and str(int(value)) == value:
        return f'<c r="{ref}"><v>{value}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(value)}</t></is></c>'


def write_xlsx(path: str, header: list[str], rows: list[list[str | None]]) -> None:
    """Write ``header`` and ``rows`` (strings or None) as sheet 1."""
    letters = [_col_letter(i) for i in range(len(header))]
    parts = [f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{_MAIN}"><sheetData>']
    for r, row in enumerate([header, *rows], start=1):
        cells = "".join(_cell(f"{letters[c]}{r}", v) for c, v in enumerate(row) if v is not None)
        parts.append(f'<row r="{r}">{cells}</row>')
    parts.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        )
        z.writestr(
            "_rels/.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{_REL}">'
            f'<Relationship Id="rId1" Type="{_DOC_REL}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook xmlns="{_MAIN}" xmlns:r="{_DOC_REL}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{_REL}">'
            f'<Relationship Id="rId1" Type="{_DOC_REL}/worksheet" Target="worksheets/sheet1.xml"/></Relationships>',
        )
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))
