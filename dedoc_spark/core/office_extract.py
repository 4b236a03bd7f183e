"""XLSX and PPTX extraction (in-memory zip + ElementTree).

References:
  - ExcelReader (dedoc/readers/excel_reader/excel_reader.py:26-61): one
    Table per sheet, stringified cell values, page_id = sheet index,
    lines empty. (The reference uses xlrd for legacy .xls; here the xlsx
    OOXML is parsed directly — sharedStrings + sheetN.xml.)
  - PptxReader (dedoc/readers/pptx_reader/pptx_reader.py:27-70): slides
    sorted numerically by filename index; shapes → lines (first shape =
    slide title tag HL), tables → Table, page_id = slide index.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, List, Optional, Tuple
from xml.etree import ElementTree as ET

from dedoc_spark.core.limits import BoundedZip
from dedoc_spark.core.model import Annotation, Cell, HierarchyLevel, Line, Table
from dedoc_spark.core.ooxml_ns import normalize_strict_ooxml

_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_DRAW = "{http://schemas.openxmlformats.org/drawingml/2006/main}"

def _col_index(ref: str) -> int:
    """'BC12' → 0-based column index."""
    col = 0
    for ch in ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return col - 1


def extract_xlsx_tables(payload: bytes, url_hash: str = "") -> Tuple[List[Table], List[str]]:
    """One rectangular Table per sheet, stringified values (numbers keep
    xlrd's float-ish rendering: '1' stays '1' as stored, inline/shared
    strings resolved)."""
    tables: List[Table] = []
    warnings: List[str] = []
    with BoundedZip(payload) as zf:
        names = set(zf.namelist())
        shared: List[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(normalize_strict_ooxml(zf.read("xl/sharedStrings.xml")))
            for si in root.findall(f"{_SSML}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_SSML}t")))
        sheet_names = sorted(
            (n for n in names if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[-1]).group()),
        )
        for sheet_id, name in enumerate(sheet_names):
            root = ET.fromstring(normalize_strict_ooxml(zf.read(name)))
            rows: List[List[str]] = []
            max_cols = 0
            for row_el in root.iter(f"{_SSML}row"):
                row: List[str] = []
                for c in row_el.findall(f"{_SSML}c"):
                    ref = c.get("r", "")
                    col = _col_index(ref) if ref else len(row)
                    while len(row) < col:
                        row.append("")
                    ctype = c.get("t", "n")
                    v = c.find(f"{_SSML}v")
                    if ctype == "s" and v is not None:
                        row.append(shared[int(v.text)])
                    elif ctype == "inlineStr":
                        row.append("".join(t.text or "" for t in c.iter(f"{_SSML}t")))
                    else:
                        row.append(v.text if v is not None and v.text else "")
                rows.append(row)
                max_cols = max(max_cols, len(row))
            cells = [
                [Cell(lines=[Line(line=row[i] if i < len(row) else "", page_id=sheet_id)]) for i in range(max_cols)]
                for row in rows
            ]
            uid = hashlib.md5(f"{url_hash}_xlsx_{sheet_id}".encode()).hexdigest()
            tables.append(Table(cells=cells, page_id=sheet_id, uid=uid))
    return tables, warnings


_R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def extract_pptx(payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
    """Slides (numeric filename order) → lines; first text shape of each
    slide gets the title tag HL (1, 1, False, header); a:tbl → Table with a
    table annotation on the preceding line; p:pic/a:blip → attachment
    annotation on the preceding line, rel id resolved through the slide's
    rels (pptx_reader.py:62-68,100-117 semantics; an empty anchor line is
    synthesized when the slide starts with a picture/table)."""
    from dedoc_spark.core.docx_extract import attachment_uid

    lines: List[Line] = []
    tables: List[Table] = []
    warnings: List[str] = []

    def anchor(slide_id: int) -> Line:
        if not lines:
            lines.append(Line(line="", page_id=slide_id, uid=f"{url_hash}_pptx_anchor{slide_id}"))
        return lines[-1]

    with BoundedZip(payload) as zf:
        names = zf.namelist()
        slide_names = sorted(
            (n for n in names if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[-1]).group()),
        )
        for slide_id, name in enumerate(slide_names):
            rels_name = f"ppt/slides/_rels/{name.rsplit('/', 1)[-1]}.rels"
            media_rels = {}
            if rels_name in names:
                for rel in ET.fromstring(normalize_strict_ooxml(zf.read(rels_name))).iter(f"{_REL_NS}Relationship"):
                    target = rel.get("Target") or ""
                    if "media/" in target:
                        media_rels[rel.get("Id") or ""] = target.rsplit("/", 1)[-1]
            root = ET.fromstring(normalize_strict_ooxml(zf.read(name)))
            sp_tree = next((el for el in root.iter() if el.tag.endswith("}spTree")), root)
            is_first_shape = True
            for node in sp_tree:
                if node.tag.endswith("}sp"):
                    paras = _shape_paragraphs(node)
                    if not paras:
                        continue
                    # per-shape numbering counters (pptx shape.py:34-45:
                    # deeper level restarts the sequence)
                    numbering2shift: Dict[Tuple[str, int], int] = {}
                    prev_list_level: Optional[int] = None
                    for text, autonum, buchar, level in paras:
                        if is_first_shape:
                            tag_hl: Optional[HierarchyLevel] = HierarchyLevel(
                                1, 1, False, HierarchyLevel.header
                            )
                        elif autonum is not None:
                            if prev_list_level is not None and level > prev_list_level:
                                numbering2shift[(autonum, level)] = 0
                            shift = numbering2shift.setdefault((autonum, level), 0)
                            numbering2shift[(autonum, level)] += 1
                            prev_list_level = level
                            text = _pptx_numbering_text(autonum, shift) + text
                            tag_hl = HierarchyLevel(2, level, False, HierarchyLevel.list_item)
                        elif buchar is not None:
                            text = buchar + " " + text
                            tag_hl = HierarchyLevel(3, level, False, HierarchyLevel.list_item)
                        else:
                            tag_hl = None
                        uid = f"{url_hash}_{hashlib.md5(f'pptx{slide_id}:{len(lines)}:{text}'.encode()).hexdigest()}"
                        lines.append(Line(line=text, page_id=slide_id, tag_hl=tag_hl, uid=uid))
                    is_first_shape = False
                elif node.tag.endswith("}pic"):
                    blip = next(iter(node.iter(f"{_DRAW}blip")), None)
                    if blip is not None:
                        media = media_rels.get(blip.get(f"{_R_NS}embed") or "")
                        if media:
                            ln = anchor(slide_id)
                            ln.annotations.append(
                                Annotation(0, len(ln.line), "attachment", attachment_uid(url_hash, media))
                            )
                else:
                    for tbl in node.iter(f"{_DRAW}tbl"):
                        table = _pptx_table(tbl, slide_id, url_hash, len(tables))
                        tables.append(table)
                        ln = anchor(slide_id)
                        ln.annotations.append(Annotation(0, len(ln.line), "table", table.uid))
    for i, line in enumerate(lines):
        line.line_id = i
    return lines, tables, warnings


# ST_TextAutonumberScheme rendering (pptx numbering_extractor.py:1-52,
# including its quirks: alpha wraps as aa/bb/cc and roman is additive-only)
_PPTX_NUM_FMT = {"ParenBoth": "({}) ", "ParenR": "{}) ", "Period": "{}. ", "Plain": "{} "}
_PPTX_ROMAN = [(1000, "m"), (500, "d"), (100, "c"), (50, "l"), (10, "x"), (5, "v"), (1, "i")]


def _pptx_numbering_text(numbering: str, shift: int) -> str:
    num_type, num_fmt = "arabic", "Period"
    for t in ("arabic", "alphaLc", "alphaUc", "romanLc", "romanUc"):
        for f in _PPTX_NUM_FMT:
            if numbering == t + f:
                num_type, num_fmt = t, f
    if num_type in ("alphaLc", "alphaUc"):
        shift1, shift2 = shift % 26, shift // 26 + 1
        base = "a" if num_type == "alphaLc" else "A"
        num_char = chr(ord(base) + shift1) * shift2
    elif num_type in ("romanLc", "romanUc"):
        num_char = ""
        for number, letter in _PPTX_ROMAN:
            cnt, shift = shift // number, shift % number
            if num_type == "romanUc":
                letter = letter.upper()
            num_char += letter * cnt
    else:
        num_char = str(1 + shift)
    return _PPTX_NUM_FMT[num_fmt].format(num_char)


def _shape_paragraphs(sp: ET.Element) -> List[Tuple[str, Optional[str], Optional[str], int]]:
    """(text, buAutoNum type, buChar char, level) per a:p — the bullet
    state the reference reads from pPr (pptx paragraph.py:25-27)."""
    out: List[Tuple[str, Optional[str], Optional[str], int]] = []
    for p in sp.iter(f"{_DRAW}p"):
        text = "".join(t.text or "" for t in p.iter(f"{_DRAW}t"))
        if not text.strip():
            continue
        ppr = p.find(f"{_DRAW}pPr")
        level = int(ppr.get("lvl", "0")) + 1 if ppr is not None else 1
        autonum = ppr.find(f"{_DRAW}buAutoNum") if ppr is not None else None
        buchar = ppr.find(f"{_DRAW}buChar") if ppr is not None else None
        out.append((
            text,
            (autonum.get("type") or "arabicPeriod") if autonum is not None else None,
            buchar.get("char") if buchar is not None else None,
            level,
        ))
    return out


def _pptx_table(tbl: ET.Element, slide_id: int, url_hash: str, index: int) -> Table:
    cells: List[List[Cell]] = []
    for tr in tbl.iter(f"{_DRAW}tr"):
        row = []
        for tc in tr.findall(f"{_DRAW}tc"):
            text = "\n".join(
                "".join(t.text or "" for t in p.iter(f"{_DRAW}t")) for p in tc.iter(f"{_DRAW}p")
            )
            row.append(Cell(lines=[Line(line=text, page_id=slide_id)]))
        cells.append(row)
    uid = hashlib.md5(f"{url_hash}_pptx_table_{slide_id}_{index}".encode()).hexdigest()
    return Table(cells=cells, page_id=slide_id, uid=uid)
