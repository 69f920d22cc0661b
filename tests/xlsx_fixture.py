"""Minimal .xlsx writer for test fixtures (stdlib only — no openpyxl in the
container). Emits standards-conformant ECMA-376 SpreadsheetML: one zip with
[Content_Types].xml, _rels/.rels, xl/workbook.xml, xl/_rels/workbook.xml.rels,
optional xl/sharedStrings.xml, and one xl/worksheets/sheetN.xml per sheet.

Cell spec accepted by :func:`write_xlsx`: each sheet is a list of rows; each
row is a list of cell specs; a cell spec is one of

* ``None``            — absent cell (not written at all → NULL downstream)
* ``("empty",)``      — present-but-valueless <c/> (→ "" downstream)
* ``int`` / ``float`` — number cell
* ``str``             — string cell (inline or shared per ``shared_strings``)
* ``("shared", s)``   — shared-string cell regardless of the global flag
* ``bool``            — boolean cell
* ``("error", lit)``  — error cell, e.g. ("error", "#DIV/0!")
* ``("iso", text)``   — ISO date cell (t="d")
* ``("formula_str", text)`` — formula string cell (t="str")
* ``("date_serial", num)`` — numeric cell styled with built-in date format
  numFmtId 14 (``s=`` points at a real styles.xml cellXfs entry)
* ``("formula", expr, value)`` — cached formula result, ``<f>`` before
  ``<v>`` as Excel writes it (``t="str"`` when ``value`` is a string)
* ``("rich", [run, ...])`` — multi-run rich inline string, each run an
  ``<r>`` element; runs after the first carry Excel's ``<rPr>`` run
  properties (``<color>``, ``<rFont>``, …)
"""

from __future__ import annotations

import zipfile
from xml.sax.saxutils import escape

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def _col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        s = chr(65 + rem) + s
    return s


def _cell_ref(row: int, col: int) -> str:
    return f"{_col_letter(col)}{row + 1}"


def _fmt_num(v) -> str:
    if isinstance(v, int):
        return str(v)
    r = repr(v)
    return r


def write_xlsx(
    path: str,
    sheets: dict[str, list[list]],
    *,
    shared_strings: bool = False,
    start_row: int = 0,
    start_col: int = 0,
    write_dimension: bool = True,
    dimension_override: str | None = None,
) -> str:
    """Write a workbook; ``sheets`` maps sheet name -> rows (see module doc).

    ``start_row``/``start_col`` shift the whole block (0-based), to exercise
    non-A1 sheet origins.
    """
    sst: list[str] = []
    sst_index: dict[str, int] = {}
    used_date_style = False

    def sst_id(s: str) -> int:
        if s not in sst_index:
            sst_index[s] = len(sst)
            sst.append(s)
        return sst_index[s]

    def cell_xml(r: int, c: int, spec) -> str | None:
        ref = _cell_ref(r, c)
        if spec is None:
            return None
        if isinstance(spec, tuple):
            kind = spec[0]
            if kind == "empty":
                return f'<c r="{ref}"/>'
            if kind == "error":
                return f'<c r="{ref}" t="e"><v>{escape(spec[1])}</v></c>'
            if kind == "iso":
                return f'<c r="{ref}" t="d"><v>{escape(spec[1])}</v></c>'
            if kind == "shared":
                return f'<c r="{ref}" t="s"><v>{sst_id(spec[1])}</v></c>'
            if kind == "formula_str":
                return f'<c r="{ref}" t="str"><v>{escape(spec[1])}</v></c>'
            if kind == "formula":
                f = f"<f>{escape(spec[1])}</f>"
                if isinstance(spec[2], str):
                    return f'<c r="{ref}" t="str">{f}<v>{escape(spec[2])}</v></c>'
                return f'<c r="{ref}">{f}<v>{_fmt_num(spec[2])}</v></c>'
            if kind == "rich":
                style = (
                    '<rPr><b/><sz val="11"/><color theme="1"/>'
                    '<rFont val="Calibri"/><family val="2"/>'
                    '<scheme val="minor"/></rPr>'
                )
                runs = "".join(
                    f'<r>{style if i else ""}'
                    f'<t xml:space="preserve">{escape(run)}</t></r>'
                    for i, run in enumerate(spec[1])
                )
                return f'<c r="{ref}" t="inlineStr"><is>{runs}</is></c>'
            if kind == "date_serial":
                nonlocal used_date_style
                used_date_style = True
                return f'<c r="{ref}" s="1"><v>{_fmt_num(spec[1])}</v></c>'
            raise ValueError(f"bad cell spec {spec!r}")
        if isinstance(spec, bool):
            return f'<c r="{ref}" t="b"><v>{1 if spec else 0}</v></c>'
        if isinstance(spec, (int, float)):
            return f'<c r="{ref}"><v>{_fmt_num(spec)}</v></c>'
        if isinstance(spec, str):
            if shared_strings:
                return f'<c r="{ref}" t="s"><v>{sst_id(spec)}</v></c>'
            return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(spec)}</t></is></c>'
        raise ValueError(f"bad cell spec {spec!r}")

    sheet_xmls: list[str] = []
    for rows in sheets.values():
        max_w = max((len(r) for r in rows), default=1)
        body: list[str] = []
        for ri, row in enumerate(rows):
            r_abs = start_row + ri
            cells = [
                xml
                for ci, spec in enumerate(row)
                if (xml := cell_xml(r_abs, start_col + ci, spec)) is not None
            ]
            if cells:
                body.append(f'<row r="{r_abs + 1}">' + "".join(cells) + "</row>")
        dim = ""
        if dimension_override:
            dim = f'<dimension ref="{dimension_override}"/>'
        elif write_dimension and rows:
            a = _cell_ref(start_row, start_col)
            b = _cell_ref(start_row + len(rows) - 1, start_col + max_w - 1)
            dim = f'<dimension ref="{a}:{b}"/>'
        sheet_xmls.append(
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_NS}">{dim}<sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )

    names = list(sheets.keys())
    wb_sheets = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS}" xmlns:r="{_REL}"><sheets>{wb_sheets}</sheets></workbook>'
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" '
        f'Type="{_REL}/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(names))
    )
    if sst:
        rels += (
            f'<Relationship Id="rIdSst" Type="{_REL}/sharedStrings" '
            f'Target="sharedStrings.xml"/>'
        )
    if used_date_style:
        rels += (
            f'<Relationship Id="rIdStyles" Type="{_REL}/styles" '
            f'Target="styles.xml"/>'
        )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + rels
        + "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + (
            '<Override PartName="/xl/sharedStrings.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            if sst
            else ""
        )
        + (
            '<Override PartName="/xl/styles.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
            if used_date_style
            else ""
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{_REL}/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        if sst:
            items = "".join(
                f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in sst
            )
            z.writestr(
                "xl/sharedStrings.xml",
                f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<sst xmlns="{_NS}" count="{len(sst)}" uniqueCount="{len(sst)}">{items}</sst>',
            )
        if used_date_style:
            z.writestr(
                "xl/styles.xml",
                f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<styleSheet xmlns="{_NS}">'
                "<fonts count=\"1\"><font/></fonts>"
                "<fills count=\"1\"><fill/></fills>"
                "<borders count=\"1\"><border/></borders>"
                '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
                '<cellXfs count="2"><xf numFmtId="0"/>'
                '<xf numFmtId="14" applyNumberFormat="1"/></cellXfs>'
                "</styleSheet>",
            )
        for i, xml in enumerate(sheet_xmls):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
    return path
