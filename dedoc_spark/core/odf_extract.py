"""OpenDocument (odt/ods/odp) extraction — content.xml via ElementTree.

The reference converts ODF via soffice→OOXML
(converters/concrete_converters/docx_converter.py:15-28); the formats are
themselves open XML-in-zip, so this native reader parses content.xml
directly:

  odt  office:text children — text:h (outline-level → header tag HL, like
       the docx heading mapping), text:p (raw text), text:list items
       (list_item tag HL); tabs/line-breaks/spaces elements expanded
  ods  table:table → one rectangular Table per sheet
       (number-columns-repeated honored, trailing empty repeats trimmed)
  odp  draw:page → slide; first text-box paragraph = title tag HL
       (same rule as the pptx reader)
"""

from __future__ import annotations

import hashlib
from typing import Dict, List, Optional, Tuple
from xml.etree import ElementTree as ET

from dedoc_spark.core.annotation_merger import merge_annotations
from dedoc_spark.core.limits import BoundedZip
from dedoc_spark.core.model import Annotation, Cell, HierarchyLevel, Line, Table

_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_DRAW = "{urn:oasis:names:tc:opendocument:xmlns:drawing:1.0}"
_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_STYLE = "{urn:oasis:names:tc:opendocument:xmlns:style:1.0}"
_FO = "{urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0}"


def _parse_text_styles(root: ET.Element) -> Dict[str, Dict[str, str]]:
    """automatic-styles → {style-name: {bold/italic/underlined: 'True'}}
    from style:text-properties (fo:font-weight, fo:font-style,
    style:text-underline-style)."""
    styles: Dict[str, Dict[str, str]] = {}
    auto = root.find(f"{_OFFICE}automatic-styles")
    if auto is None:
        return styles
    for st in auto.findall(f"{_STYLE}style"):
        name = st.get(f"{_STYLE}name")
        props = st.find(f"{_STYLE}text-properties")
        if not name or props is None:
            continue
        flags: Dict[str, str] = {}
        if props.get(f"{_FO}font-weight") == "bold":
            flags["bold"] = "True"
        if props.get(f"{_FO}font-style") == "italic":
            flags["italic"] = "True"
        underline = props.get(f"{_STYLE}text-underline-style")
        if underline and underline != "none":
            flags["underlined"] = "True"
        if flags:
            styles[name] = flags
    return styles


def _para_text(el: ET.Element, styles: Optional[Dict[str, Dict[str, str]]] = None,
               annotations: Optional[List[Annotation]] = None, offset: int = 0) -> str:
    """Paragraph text with tab/line-break/space elements expanded; when
    ``styles``/``annotations`` are given, text:span style refs become
    bold/italic/underlined annotations at the span offsets."""
    parts: List[str] = [el.text or ""]
    pos = offset + len(parts[0])
    for child in el:
        if child.tag == f"{_TEXT}tab":
            chunk = "\t"
            parts.append(chunk)
            pos += 1
        elif child.tag == f"{_TEXT}line-break":
            parts.append("\n")
            pos += 1
        elif child.tag == f"{_TEXT}s":
            chunk = " " * int(child.get(f"{_TEXT}c", "1"))
            parts.append(chunk)
            pos += len(chunk)
        else:
            start = pos
            inner = _para_text(child, styles, annotations, pos)
            parts.append(inner)
            pos += len(inner)
            if (
                styles is not None
                and annotations is not None
                and child.tag == f"{_TEXT}span"
            ):
                for name, value in styles.get(child.get(f"{_TEXT}style-name") or "", {}).items():
                    annotations.append(Annotation(start, pos, name, value))
        tail = child.tail or ""
        parts.append(tail)
        pos += len(tail)
    return "".join(parts)


def _content_root(payload: bytes) -> ET.Element:
    with BoundedZip(payload) as zf:
        return ET.fromstring(zf.read("content.xml"))


def extract_odt(payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
    root = _content_root(payload)
    body = root.find(f"{_OFFICE}body/{_OFFICE}text")
    text_styles = _parse_text_styles(root)
    lines: List[Line] = []
    tables: List[Table] = []

    def uid(tag: str, text: str) -> str:
        return f"{url_hash}_{hashlib.md5(f'odt{tag}{len(lines)}{text}'.encode()).hexdigest()}"

    def para_line(el: ET.Element) -> Tuple[str, List[Annotation]]:
        anns: List[Annotation] = []
        text = _para_text(el, text_styles, anns)
        return text, merge_annotations(anns, text)

    def walk(el: ET.Element, list_depth: int = 0) -> None:
        for child in el:
            if child.tag == f"{_TEXT}h":
                text, anns = para_line(child)
                level = int(child.get(f"{_TEXT}outline-level", "1"))
                lines.append(Line(line=text, tag_hl=HierarchyLevel(1, level, False, HierarchyLevel.header), annotations=anns, uid=uid("h", text)))
            elif child.tag == f"{_TEXT}p":
                text, anns = para_line(child)
                if list_depth > 0:
                    hl = HierarchyLevel(2, list_depth, False, HierarchyLevel.list_item)
                    lines.append(Line(line=text, tag_hl=hl, annotations=anns, uid=uid("li", text)))
                else:
                    lines.append(Line(line=text, annotations=anns, uid=uid("p", text)))
            elif child.tag == f"{_TEXT}list":
                walk(child, list_depth + 1)
            elif child.tag == f"{_TEXT}list-item":
                walk(child, list_depth)
            elif child.tag == f"{_TABLE}table":
                tables.append(_odf_table(child, len(tables), url_hash))

    if body is not None:
        walk(body)
    for i, ln in enumerate(lines):
        ln.line_id = i
    return lines, tables, ["odt parsed natively (reference converts via soffice)"]


def _odf_table(tbl: ET.Element, index: int, url_hash: str, page_id: int = 0) -> Table:
    rows: List[List[str]] = []
    max_cols = 0
    for tr in tbl.iter(f"{_TABLE}table-row"):
        row: List[str] = []
        for tc in tr.findall(f"{_TABLE}table-cell"):
            repeat = int(tc.get(f"{_TABLE}number-columns-repeated", "1"))
            text = "\n".join(_para_text(p) for p in tc.findall(f"{_TEXT}p"))
            row.extend([text] * min(repeat, 1000))
        while row and row[-1] == "":
            row.pop()  # trailing repeated empties pad to 16k cols otherwise
        rows.append(row)
        max_cols = max(max_cols, len(row))
    cells = [
        [Cell(lines=[Line(line=r[i] if i < len(r) else "", page_id=page_id)]) for i in range(max_cols)]
        for r in rows
    ]
    uid = hashlib.md5(f"{url_hash}_odf_table_{index}".encode()).hexdigest()
    return Table(cells=cells, page_id=page_id, uid=uid)


def extract_ods(payload: bytes, url_hash: str = "") -> Tuple[List[Table], List[str]]:
    root = _content_root(payload)
    sheets = root.findall(f"{_OFFICE}body/{_OFFICE}spreadsheet/{_TABLE}table")
    tables = [_odf_table(t, i, url_hash, page_id=i) for i, t in enumerate(sheets)]
    tables = [t for t in tables if t.cells]
    return tables, ["ods parsed natively (reference converts via soffice)"]


def extract_odp(payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
    root = _content_root(payload)
    lines: List[Line] = []
    tables: List[Table] = []
    pages = root.findall(f"{_OFFICE}body/{_OFFICE}presentation/{_DRAW}page")
    for page_id, page in enumerate(pages):
        first = True
        for p in page.iter(f"{_TEXT}p"):
            text = _para_text(p)
            if not text.strip():
                continue
            tag_hl = HierarchyLevel(1, 1, False, HierarchyLevel.header) if first else None
            uid = f"{url_hash}_{hashlib.md5(f'odp{page_id}:{len(lines)}:{text}'.encode()).hexdigest()}"
            lines.append(Line(line=text, page_id=page_id, tag_hl=tag_hl, uid=uid))
            first = False
        for t in page.iter(f"{_TABLE}table"):
            tables.append(_odf_table(t, len(tables), url_hash, page_id=page_id))
    for i, ln in enumerate(lines):
        ln.line_id = i
    return lines, tables, ["odp parsed natively (reference converts via soffice)"]
