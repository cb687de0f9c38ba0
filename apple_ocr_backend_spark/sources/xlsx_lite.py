"""Minimal stdlib OOXML (.xlsx) writer + reader — no openpyxl required.

An xlsx file is a zip of XML parts; this module emits exactly the parts a
spreadsheet consumer needs (content types, package/workbook rels, workbook,
styles with a bold+filled header format, one worksheet per frame with inline
strings and column widths) and reads them back with ElementTree.  It exists
so the S6 Excel sink (``sources/export.py``, reference
``app/services/export.py:11-238``) and the S10 xlsx serial source
(``sources/xlsx.py``, reference ``generate_image.py:56-98``) run with no
third-party spreadsheet library; the workbooks it writes open in standard
spreadsheet readers.

Scope is deliberately small: strings, numbers, booleans, blanks; no
formulas, merged cells, or dates-as-serials (dates are written as ISO
strings by the presentation layer upstream).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_CT = "http://schemas.openxmlformats.org/package/2006/content-types"
_NS_PR = "http://schemas.openxmlformats.org/package/2006/relationships"

_HEADER_STYLE_ID = 1  # cellXfs index: bold font + solid fill (see _STYLES)

_STYLES = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="{_NS}">
<fonts count="2"><font><sz val="11"/><name val="Calibri"/></font>
<font><b/><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="3"><fill><patternFill patternType="none"/></fill>
<fill><patternFill patternType="gray125"/></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFD9E1F2"/>
<bgColor indexed="64"/></patternFill></fill></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0"
 borderId="0"/></cellStyleXfs>
<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"
 xfId="0"/><xf numFmtId="0" fontId="1" fillId="2" borderId="0" xfId="0"
 applyFont="1" applyFill="1"/></cellXfs>
</styleSheet>"""


def col_letter(i: int) -> str:
    """0-based column index -> A1-style letters (0->A, 25->Z, 26->AA)."""
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def _cell_xml(ref: str, v, style: int = 0) -> str:
    s = f' s="{style}"' if style else ""
    if v is None:
        return ""
    # NaN/inf -> blank: repr() of a non-finite float is not a valid XML
    # numeric cell value (round-3 advice finding)
    if isinstance(v, float) and (v != v or v in (float("inf"),
                                                 float("-inf"))):
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}"{s} t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"{s} t="n"><v>{v!r}</v></c>'
    return (f'<c r="{ref}"{s} t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(str(v))}</t></is></c>")


def _sheet_xml(header: list[str], rows: list[list]) -> str:
    widths = []
    for i, h in enumerate(header):
        longest = max([len(str(h))] + [
            0 if v is None else len(str(v)) for r in rows
            for v in [r[i] if i < len(r) else None]])
        widths.append(
            f'<col min="{i + 1}" max="{i + 1}" '
            f'width="{min(longest + 2, 60)}" customWidth="1"/>')
    body = ['<row r="1">' + "".join(
        _cell_xml(f"{col_letter(i)}1", str(h), _HEADER_STYLE_ID)
        for i, h in enumerate(header)) + "</row>"]
    for rn, row in enumerate(rows, start=2):
        body.append(f'<row r="{rn}">' + "".join(
            _cell_xml(f"{col_letter(i)}{rn}", v)
            for i, v in enumerate(row)) + "</row>")
    cols = f"<cols>{''.join(widths)}</cols>" if widths else ""
    return (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_NS}">{cols}<sheetData>'
            f"{''.join(body)}</sheetData></worksheet>")


def write_xlsx(path: str, sheets: dict[str, tuple[list[str], list[list]]]
               ) -> str:
    """Write ``{sheet_name: (header, rows)}`` to ``path``.  Sheet order is
    dict order; headers get the bold+filled style; values may be str, int,
    float, bool, or None."""
    if not sheets:
        raise ValueError("write_xlsx needs at least one sheet")
    names = list(sheets)
    ct = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
          f'<Types xmlns="{_NS_CT}">',
          '<Default Extension="rels" ContentType="application/vnd.'
          'openxmlformats-package.relationships+xml"/>',
          '<Default Extension="xml" ContentType="application/xml"/>',
          '<Override PartName="/xl/workbook.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>',
          '<Override PartName="/xl/styles.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>']
    for i in range(len(names)):
        ct.append(f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
                  'ContentType="application/vnd.openxmlformats-'
                  'officedocument.spreadsheetml.worksheet+xml"/>')
    ct.append("</Types>")
    pkg_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PR}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>')
    wb_sheets = "".join(
        f'<sheet name="{escape(n, {chr(34): "&quot;"})}" '
        f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names))
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS}" xmlns:r="{_NS_R}">'
        f"<sheets>{wb_sheets}</sheets></workbook>")
    wb_rels = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
               f'<Relationships xmlns="{_NS_PR}">']
    for i in range(len(names)):
        wb_rels.append(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/worksheet"'
            f' Target="worksheets/sheet{i + 1}.xml"/>')
    wb_rels.append(
        f'<Relationship Id="rId{len(names) + 1}" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/styles" '
        'Target="styles.xml"/></Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", "".join(ct))
        z.writestr("_rels/.rels", pkg_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", "".join(wb_rels))
        z.writestr("xl/styles.xml", _STYLES)
        for i, n in enumerate(names):
            header, rows = sheets[n]
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml",
                       _sheet_xml(list(header), rows))
    return path


def _cell_value(c: ET.Element, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        node = c.find(f"{{{_NS}}}is/{{{_NS}}}t")
        return "" if node is None else (node.text or "")
    v = c.find(f"{{{_NS}}}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return v.text == "1"
    if t == "str":
        return v.text
    num = float(v.text)
    return int(num) if num.is_integer() else num


def read_xlsx(path: str) -> dict[str, tuple[list[str], list[list]]]:
    """Read a workbook back as ``{sheet_name: (header, rows)}``.  Handles
    inline strings, shared strings, numbers, and booleans — enough for any
    workbook ``write_xlsx`` or openpyxl's default writer produces."""
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        targets = {r.get("Id"): r.get("Target")
                   for r in rels.findall(f"{{{_NS_PR}}}Relationship")}
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in ss.findall(f"{{{_NS}}}si"):
                shared.append("".join(
                    t.text or "" for t in si.iter(f"{{{_NS}}}t")))
        out: dict[str, tuple[list[str], list[list]]] = {}
        for sheet in wb.findall(f"{{{_NS}}}sheets/{{{_NS}}}sheet"):
            target = targets[sheet.get(f"{{{_NS_R}}}id")].lstrip("/")
            if not target.startswith("xl/"):
                target = "xl/" + target
            tree = ET.fromstring(z.read(target))
            grid: list[list] = []
            for row in tree.findall(f"{{{_NS}}}sheetData/{{{_NS}}}row"):
                cells: list = []
                for c in row.findall(f"{{{_NS}}}c"):
                    ref = c.get("r", "")
                    m = re.match(r"([A-Z]+)", ref)
                    if m:
                        idx = 0
                        for ch in m.group(1):
                            idx = idx * 26 + (ord(ch) - ord("A") + 1)
                        idx -= 1
                    else:
                        idx = len(cells)
                    while len(cells) <= idx:
                        cells.append(None)
                    cells[idx] = _cell_value(c, shared)
                grid.append(cells)
            header = [str(v) if v is not None else "" for v in grid[0]] \
                if grid else []
            # pad short rows AND truncate long ones to the header width, so
            # callers indexing by header never see ragged rows (round-3
            # advice finding: stray cells beyond the header leaked through).
            # A foreign workbook whose header row has NO cells would make
            # that width 0 and silently drop every data cell (round-4
            # advice) — fall back to the widest data row instead.
            width = len(header) or max((len(r) for r in grid[1:]), default=0)
            rows = [(r + [None] * (width - len(r)))[:width]
                    for r in grid[1:]]
            out[sheet.get("name")] = (header, rows)
        return out
