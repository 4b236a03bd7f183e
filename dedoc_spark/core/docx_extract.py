"""DOCX → lines + tables extraction (in-memory zip + ElementTree).

Reference: dedoc/readers/docx_reader/ — docx_reader.py:21-53,
data_structures/docx_document.py:54-91 (body walk),
data_structures/paragraph.py:49-93 (style cascade),
line_with_meta_converter.py:34-67 (annotations + tag HL),
numbering_extractor.py (list numbering rendering).

Same output contract:
  - body walk: w:p → line, w:tbl → table (+ tag HL rules: heading style →
    (1, style_level, False, header); numbered paragraph → (2, ilvl+1,
    False, list_item); else unknown)
  - full style cascade (paragraph.py:50-59 order): docDefaults → default
    paragraph style → paragraph style with the complete basedOn chain
    applied root-first (styles_extractor.py:90-113) → paragraph direct
    pPr/rPr → per-run character style (rStyle chain, then the paragraph's
    direct rPr re-applied, run.py/__make_run_list) → direct run rPr
  - runs found recursively (hyperlink-wrapped runs included), adjacent
    equal-property runs merged, w:sym and w:caps handled
  - footnotes/endnotes (footnote_extractor.py:17-22): id → space-joined
    w:t texts; each referenced note becomes a linked_text annotation
    spanning the whole line (line_with_meta_converter.py:40-41)
  - per-run bold/italic/underlined/strike/sub/superscript annotations at
    run offsets; size = half-points/2; line-wide indentation/alignment/
    spacing/style annotations; annotation merger applied per line
  - numbering: numId→abstractNum ilvl counters, lvlText "%N." rendering
    (decimal/lowerLetter/upperLetter/lowerRoman/bullet), rendered text
    prepended as a run (paragraph.py:76-78 step 7)
  - spacing = max(prev paragraph's after, current before) in twips
  - tables: gridSpan/vMerge expansion into invisible clones (same
    rectangularization invariant as the HTML reader)
  - the reference's newline fix (docx_reader.py:37-53): unknown-type lines
    followed by same-tag-HL lines get a trailing "\\n"
"""

from __future__ import annotations

import hashlib
import io
import re
import zipfile
from typing import Dict, List, Optional, Tuple
from xml.etree import ElementTree as ET

from dedoc_spark.core.annotation_merger import merge_annotations
from dedoc_spark.core.limits import BoundedZip
from dedoc_spark.core.model import Annotation, Cell, HierarchyLevel, Line, Table
from dedoc_spark.core.ooxml_ns import normalize_strict_ooxml

W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

def attachment_uid(url_hash: str, name: str) -> str:
    """Deterministic uid for a docx media attachment — matches the row uid
    the attachments channel derives for url#name (the reference joins
    attachment_name2uid built from extractor uids, docx_document.py:27)."""
    return hashlib.md5(f"{url_hash}_attach_{name}".encode()).hexdigest()

_HEADING_RE = re.compile(r"heading\s*(\d+)", re.I)

# any-element open/close/self-closing tag (attribute values may hold ">")
_TAG_RE = re.compile(
    rb"<(/?)([A-Za-z_][\w:.-]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"
)
_PICT_RE = re.compile(rb"<(?:\w+:)?pict[\s/>]")


def _body_child_spans(
    content: bytes, start: int, end: int
) -> List[Tuple[bytes, int, int]]:
    """(local tag name, byte span) for every DIRECT child element of the
    body region content[start:end] — full depth tracking, so a w:p inside
    a table cell or textbox is never mistaken for a body child (the
    reference iterates ``bs.body`` children the same way)."""
    spans: List[Tuple[bytes, int, int]] = []
    depth = 0
    open_at: Optional[int] = None
    open_name: bytes = b""
    for m in _TAG_RE.finditer(content, start, end):
        closing, name, attrs = m.group(1), m.group(2), m.group(3)
        if closing == b"/":
            depth -= 1
            if depth == 0 and open_at is not None:
                spans.append((open_name, open_at, m.end()))
                open_at = None
        elif attrs.rstrip().endswith(b"/"):
            if depth == 0:
                spans.append((name.split(b":")[-1], m.start(), m.end()))
        else:
            if depth == 0:
                open_at = m.start()
                open_name = name.split(b":")[-1]
            depth += 1
    return spans


def diagram_paragraphs(
    document: bytes,
) -> Tuple[bytes, List[Tuple[Optional[int], Tuple[int, int]]]]:
    """The reference's diagram discovery (docx_attachments_extractor.py
    __extract_diagrams): whitespace-normalize document.xml, then every
    direct body child containing a VML ``pict`` element is a diagram
    (bs4 iterates ALL children — a pict inside a body-level table
    counts too). Returns (normalized document, [(index among body-level
    w:p children or None for non-paragraph children, span in the
    normalized bytes)]). The md5 of a span's bytes is the diagram uid
    (the reference hashes bs4's rendering of the same element —
    serializer-specific bytes, so uid VALUES differ while the name
    scheme, count and determinism match)."""
    content = re.sub(rb"\n[\t ]*", b"", document)
    bo = re.search(rb"<(?:\w+:)?body[\s>]", content)
    bc = re.search(rb"</(?:\w+:)?body>", content)
    if bo is None or bc is None:
        return content, []
    out: List[Tuple[Optional[int], Tuple[int, int]]] = []
    p_index = 0
    for name, s, e in _body_child_spans(content, bo.end(), bc.start()):
        if _PICT_RE.search(content, s, e):
            out.append((p_index if name == b"p" else None, (s, e)))
        if name == b"p":
            p_index += 1
    return content, out


def diagram_attachments(payload: bytes, max_members: int = 1000) -> List[Tuple[str, bytes]]:
    """One single-diagram docx per pict-bearing body child, named
    ``{uid}.docx`` (docx_attachments_extractor.py __extract_diagrams:44-94:
    the reference extracts EVERY Tag child out of ``bs.body`` — so the
    repacked document.xml holds ONLY the one diagram element, inserted back
    alone via ``bs.body.insert(1, p)``). Fixed zip timestamps keep the
    attachment bytes deterministic."""
    try:
        with BoundedZip(payload) as zf:
            names = [n for n in zf.namelist() if not n.endswith("/")]
            docname = next(
                (n for n in ("word/document.xml", "word/document2.xml") if n in names),
                None,
            )
            if docname is None:
                return []
            # normalize strict-OOXML URIs BEFORE hashing: the reader's
            # annotation side hashes the normalized document.xml, and the
            # two md5s must agree
            content, diag = diagram_paragraphs(normalize_strict_ooxml(zf.read(docname)))
            if not diag:
                return []
            # the other members are read only for a document that has a
            # diagram to repack them with
            members = {n: zf.read(n) for n in names if n != docname}
    except zipfile.BadZipFile:
        return []
    bo = re.search(rb"<(?:\w+:)?body[\s>]", content)
    bc = re.search(rb"</(?:\w+:)?body>", content)
    if bo is None or bc is None:
        return []
    open_tag = _TAG_RE.match(content, bo.start())
    if open_tag is None:
        return []
    body_open_end = open_tag.end()
    out: List[Tuple[str, bytes]] = []
    for _, (s, e) in diag[:max_members]:
        span = content[s:e]
        uid = hashlib.md5(span).hexdigest()
        new_doc = content[:body_open_end] + span + content[bc.start():]
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as nz:
            for n in names:
                info = zipfile.ZipInfo(n, date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                nz.writestr(info, new_doc if n == docname else members[n])
        out.append((f"{uid}.docx", buf.getvalue()))
    return out


def _w(tag: str) -> str:
    return f"{W}{tag}"


def _val(el: Optional[ET.Element], default: Optional[str] = None) -> Optional[str]:
    if el is None:
        return default
    return el.get(_w("val"), default)


def _to_int(s: Optional[str], default: int = 0) -> int:
    try:
        return int(s)
    except (TypeError, ValueError):
        return default


class _RunProps:
    __slots__ = ("bold", "italic", "underlined", "strike", "superscript", "subscript", "size", "caps")

    def __init__(self) -> None:
        self.bold = False
        self.italic = False
        self.underlined = False
        self.strike = False
        self.superscript = False
        self.subscript = False
        self.size = 20  # half-points (10 pt default)
        self.caps = False

    def copy(self) -> "_RunProps":
        c = _RunProps()
        for k in self.__slots__:
            setattr(c, k, getattr(self, k))
        return c

    def key(self) -> tuple:
        """Equality key for adjacent-run merging (run.py:52-59 __eq__:
        size + font flags + scripts — caps excluded, as in the reference)."""
        return (self.size, self.bold, self.italic, self.underlined,
                self.superscript, self.subscript)

    def apply_rpr(self, rpr: Optional[ET.Element]) -> None:
        if rpr is None:
            return

        def flag(tag: str) -> Optional[bool]:
            el = rpr.find(_w(tag))
            if el is None:
                return None
            return el.get(_w("val"), "true").lower() not in ("false", "0", "none")

        for tag, attr in (("b", "bold"), ("i", "italic"), ("u", "underlined"), ("strike", "strike")):
            v = flag(tag)
            if v is not None:
                setattr(self, attr, v if tag != "u" else (rpr.find(_w("u")).get(_w("val"), "single") != "none"))
        va = rpr.find(_w("vertAlign"))
        if va is not None:
            self.superscript = _val(va) == "superscript"
            self.subscript = _val(va) == "subscript"
        caps = rpr.find(_w("caps"))
        if caps is not None:
            self.caps = caps.get(_w("val"), "true").lower() not in ("false", "0")
        sz = rpr.find(_w("sz"))
        if sz is not None:
            self.size = _to_int(_val(sz), self.size)


class _Style:
    __slots__ = ("style_id", "name", "heading_level", "rpr", "based_on")

    def __init__(self, style_id: str, name: str, rpr, based_on: Optional[str]) -> None:
        self.style_id = style_id
        self.name = name
        m = _HEADING_RE.search(name or "")
        self.heading_level = int(m.group(1)) if m else None
        self.rpr = rpr
        self.based_on = based_on


def _parse_styles(data: Optional[bytes]) -> Tuple[Dict[str, _Style], _RunProps]:
    """styles.xml → style table + defaults. Defaults fold docDefaults AND
    the w:default="1" paragraph style (styles_extractor.py:52-55 applies
    both on every parse)."""
    styles: Dict[str, _Style] = {}
    defaults = _RunProps()
    if not data:
        return styles, defaults
    root = ET.fromstring(data)
    doc_defaults = root.find(f"{_w('docDefaults')}/{_w('rPrDefault')}/{_w('rPr')}")
    defaults.apply_rpr(doc_defaults)
    for st in root.findall(_w("style")):
        style_id = st.get(_w("styleId"))
        if not style_id:
            continue
        name = _val(st.find(_w("name")), style_id) or style_id
        based_on = _val(st.find(_w("basedOn")))
        styles[style_id] = _Style(style_id, name, st.find(_w("rPr")), based_on)
        if st.get(_w("default")) == "1" and st.get(_w("type")) == "paragraph":
            defaults.apply_rpr(st.find(_w("rPr")))
    return styles, defaults


def _style_chain(styles: Dict[str, _Style], style_id: str) -> List[_Style]:
    """Full basedOn ancestry, root-first (styles_extractor.py:90-113) —
    cycle-safe, so a style based on itself can't loop."""
    chain: List[_Style] = []
    seen = set()
    cur = styles.get(style_id)
    while cur is not None and cur.style_id not in seen:
        seen.add(cur.style_id)
        chain.append(cur)
        cur = styles.get(cur.based_on) if cur.based_on else None
    return chain[::-1]


def _parse_notes(data: Optional[bytes], kind: str) -> Dict[str, str]:
    """footnotes.xml / endnotes.xml → {id: space-joined w:t texts}
    (footnote_extractor.py:17-22)."""
    notes: Dict[str, str] = {}
    if not data:
        return notes
    root = ET.fromstring(data)
    for note in root.iter(_w(kind)):
        note_id = note.get(_w("id"))
        text = " ".join(t.text for t in note.iter(_w("t")) if t.text)
        if note_id and text:
            notes[note_id] = text
    return notes


class _Numbering:
    """numbering.xml subset: numId → abstractNum levels; stateful counters
    rendering lvlText (numbering_extractor.py semantics)."""

    _FMT_ALPHA = "abcdefghijklmnopqrstuvwxyz"
    _ROMAN = [(1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"), (90, "xc"),
              (50, "l"), (40, "xl"), (10, "x"), (9, "ix"), (5, "v"), (4, "iv"), (1, "i")]

    def __init__(self, data: Optional[bytes]) -> None:
        self.levels: Dict[Tuple[str, int], Dict] = {}
        self.counters: Dict[Tuple[str, int], int] = {}
        if not data:
            return
        root = ET.fromstring(data)
        abstract: Dict[str, Dict[int, Dict]] = {}
        for an in root.findall(_w("abstractNum")):
            aid = an.get(_w("abstractNumId"))
            lvls: Dict[int, Dict] = {}
            for lvl in an.findall(_w("lvl")):
                ilvl = _to_int(lvl.get(_w("ilvl")))
                lvls[ilvl] = {
                    "fmt": _val(lvl.find(_w("numFmt")), "decimal"),
                    "text": _val(lvl.find(_w("lvlText")), "%1."),
                    "start": _to_int(_val(lvl.find(_w("start")), "1"), 1),
                }
            abstract[aid] = lvls
        for num in root.findall(_w("num")):
            num_id = num.get(_w("numId"))
            aid = _val(num.find(_w("abstractNumId")))
            for ilvl, spec in abstract.get(aid, {}).items():
                self.levels[(num_id, ilvl)] = spec

    def _render_counter(self, fmt: str, value: int) -> str:
        if fmt == "lowerLetter":
            return self._FMT_ALPHA[(value - 1) % 26]
        if fmt == "upperLetter":
            return self._FMT_ALPHA[(value - 1) % 26].upper()
        if fmt in ("lowerRoman", "upperRoman"):
            out, v = [], value
            for n, sym in self._ROMAN:
                while v >= n:
                    out.append(sym)
                    v -= n
            s = "".join(out)
            return s.upper() if fmt == "upperRoman" else s
        if fmt == "bullet":
            return ""
        return str(value)

    def next_text(self, num_id: str, ilvl: int) -> Optional[str]:
        spec = self.levels.get((num_id, ilvl))
        if spec is None:
            return None
        key = (num_id, ilvl)
        self.counters[key] = self.counters.get(key, spec["start"] - 1) + 1
        # reset deeper levels (restart sublists)
        for (nid, lv) in list(self.counters):
            if nid == num_id and lv > ilvl:
                del self.counters[(nid, lv)]
        if spec["fmt"] == "bullet":
            return spec["text"]
        text = spec["text"]
        for (nid, lv), cnt in self.counters.items():
            if nid == num_id and lv <= ilvl:
                lspec = self.levels.get((nid, lv), spec)
                text = text.replace(f"%{lv + 1}", self._render_counter(lspec["fmt"], cnt))
        return text


class DocxExtractor:
    def extract(self, payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
        warnings: List[str] = []
        with BoundedZip(payload) as zf:
            names = set(zf.namelist())

            def read(name: str) -> Optional[bytes]:
                # strict-OOXML URIs normalized so ElementTree paths line
                # up (e.g. the corpus's size1.docx) — shared table, so
                # diagram uids hash the SAME normalized bytes everywhere
                return normalize_strict_ooxml(zf.read(name)) if name in names else None

            # some Word builds emit document2.xml (reference falls back the
            # same way, office_utils.get_bs_from_zip / docx_document.py:134-136)
            document = read("word/document.xml") or read("word/document2.xml")
            if document is None:
                raise ValueError("no word/document.xml")
            styles, defaults = _parse_styles(read("word/styles.xml"))
            numbering = _Numbering(read("word/numbering.xml"))
            footnotes = _parse_notes(read("word/footnotes.xml"), "footnote")
            footnotes.update(_parse_notes(read("word/endnotes.xml"), "endnote"))
            # rels: rId → media member name (docx_document.py:138-143)
            media_rels: Dict[str, str] = {}
            rels_data = read("word/_rels/document.xml.rels") or read("word/_rels/document2.xml.rels")
            if rels_data:
                for rel in ET.fromstring(rels_data).iter(f"{REL}Relationship"):
                    target = rel.get("Target") or ""
                    if target.startswith("media/"):
                        media_rels[rel.get("Id") or ""] = target[6:]

        root = ET.fromstring(document)
        body = root.find(_w("body"))
        lines: List[Line] = []
        tables: List[Table] = []
        prev_spacing_after = 0
        # caption join (docx_document.py:121-131): "Таблица N"-style paragraph
        # two-before the table gets the table annotation, else the one-before
        table_ref_reg = re.compile(r"^[Тт](аблица|абл?\.) ")
        # diagram (VML pict) paragraphs annotate like image attachments
        # (docx_document.py diagram handling; the attachment rows come from
        # formats.list_attachments' repacked one-paragraph docx files)
        norm_doc, diag_spans = diagram_paragraphs(document)
        diagram_uid_by_pidx = {
            i: hashlib.md5(norm_doc[s:e]).hexdigest()
            for i, (s, e) in diag_spans
            if i is not None  # pict inside a body-level tbl: table wins
            # in the reader (docx_document.py:70-76 checks tbl first)
        }
        p_index = 0
        if body is not None:
            for child in body:
                if child.tag == _w("p"):
                    line, prev_spacing_after = self._paragraph_to_line(
                        child, styles, defaults, numbering, url_hash, len(lines),
                        prev_spacing_after, footnotes,
                    )
                    # image refs → attachment annotations on the hosting line
                    # (docx_document.py:104-108 + __handle_images_xml:133-154)
                    for blip in child.iter(f"{A}blip"):
                        name = media_rels.get(blip.get(f"{R}embed") or "")
                        if name:
                            line.annotations.append(
                                Annotation(0, len(line.line), "attachment", attachment_uid(url_hash, name))
                            )
                    duid = diagram_uid_by_pidx.get(p_index)
                    if duid is not None:
                        line.annotations.append(
                            Annotation(0, len(line.line), "attachment",
                                       attachment_uid(url_hash, f"{duid}.docx"))
                        )
                    p_index += 1
                    lines.append(line)
                elif child.tag == _w("tbl"):
                    table = self._read_table(child, url_hash, len(tables))
                    tables.append(table)
                    if lines:
                        if len(lines) >= 2 and table_ref_reg.match(lines[-2].line):
                            target = lines[-2]
                        else:
                            target = lines[-1]
                        target.annotations.append(
                            Annotation(0, len(target.line), "table", table.uid)
                        )
        self._fix_lines(lines)
        for i, line in enumerate(lines):
            line.line_id = i
        return lines, tables, warnings

    # -- paragraphs ---------------------------------------------------------

    def _paragraph_to_line(
        self,
        p: ET.Element,
        styles: Dict[str, _Style],
        defaults: _RunProps,
        numbering: _Numbering,
        url_hash: str,
        index: int,
        prev_spacing_after: int,
        footnotes: Optional[Dict[str, str]] = None,
    ) -> Tuple[Line, int]:
        ppr = p.find(_w("pPr"))
        base = defaults.copy()
        style_name = None
        heading_level = None

        # cascade steps 1-3 (paragraph.py:50-59): docDefaults+default style
        # (in `defaults`) → paragraph style with full basedOn chain root-first
        if ppr is not None:
            pstyle = _val(ppr.find(_w("pStyle")))
            if pstyle and pstyle in styles:
                st = styles[pstyle]
                style_name = st.name
                heading_level = st.heading_level
                for ancestor in _style_chain(styles, pstyle):
                    base.apply_rpr(ancestor.rpr)

        # step 6: paragraph direct rPr inherits into every run
        ppr_rpr = ppr.find(_w("rPr")) if ppr is not None else None
        base.apply_rpr(ppr_rpr)

        # step 7: numbering direct formatting → rendered text as a run
        list_level = None
        num_text = None
        if ppr is not None:
            numpr = ppr.find(_w("numPr"))
            if numpr is not None:
                ilvl = _to_int(_val(numpr.find(_w("ilvl")), "0"))
                num_id = _val(numpr.find(_w("numId")))
                if num_id:
                    num_text = numbering.next_text(num_id, ilvl)
                    if num_text is not None:
                        list_level = ilvl + 1

        # step 8: runs — found recursively so hyperlink-wrapped runs are
        # included (the reference's find_all("w:r") recurses); character
        # style chain, then paragraph rPr re-applied, then direct rPr
        runs: List[Tuple[str, _RunProps]] = []

        def push(run_text: str, props: _RunProps) -> None:
            if props.caps:
                run_text = run_text.upper()
            if not run_text:
                return
            if runs and runs[-1][1].key() == props.key():  # run.py:52-59 merge
                runs[-1] = (runs[-1][0] + run_text, runs[-1][1])
            else:
                runs.append((run_text, props))

        if num_text:
            runs.append((num_text, base.copy()))
        for r in p.iter(_w("r")):
            props = base.copy()
            rpr = r.find(_w("rPr"))
            rstyle = _val(rpr.find(_w("rStyle"))) if rpr is not None else None
            if rstyle and rstyle in styles:
                for ancestor in _style_chain(styles, rstyle):
                    props.apply_rpr(ancestor.rpr)
                props.apply_rpr(ppr_rpr)
            props.apply_rpr(rpr)
            parts: List[str] = []
            for el in r:
                if el.tag == _w("t"):
                    parts.append(el.text or "")
                elif el.tag == _w("tab"):
                    parts.append("\t")
                elif el.tag == _w("br"):
                    parts.append("\n")
                elif el.tag == _w("cr"):
                    parts.append("\r")
                elif el.tag == _w("sym"):
                    char = el.get(_w("char"))
                    if char:
                        try:
                            parts.append(chr(int(char, 16)))
                        except ValueError:
                            pass
            push("".join(parts), props)

        text = "".join(t for t, _ in runs)

        # line-wide annotations (line_with_meta_converter.py:35-46)
        jc = _val(ppr.find(_w("jc")), "left") if ppr is not None else "left"
        jc = {"both": "both", "center": "center", "right": "right", "left": "left"}.get(jc, "left")
        ind = ppr.find(_w("ind")) if ppr is not None else None
        indentation = 0
        if ind is not None:
            indentation = _to_int(ind.get(_w("left")), 0) + _to_int(ind.get(_w("firstLine")), 0)
        spc = ppr.find(_w("spacing")) if ppr is not None else None
        before = _to_int(spc.get(_w("before")), 0) if spc is not None else 0
        after = _to_int(spc.get(_w("after")), 0) if spc is not None else 0
        spacing = max(prev_spacing_after, before)

        annotations: List[Annotation] = [
            Annotation(0, len(text), "indentation", str(indentation)),
            Annotation(0, len(text), "alignment", jc),
            Annotation(0, len(text), "spacing", str(spacing)),
        ]
        # footnote/endnote references → linked_text spanning the whole line
        # (paragraph.py:85-90 + line_with_meta_converter.py:40-41)
        if footnotes:
            for tag in ("footnoteReference", "endnoteReference"):
                for ref in p.iter(_w(tag)):
                    note = footnotes.get(ref.get(_w("id")))
                    if note:
                        annotations.append(Annotation(0, len(text), "linked_text", note))
        if style_name is not None:
            annotations.append(Annotation(0, len(text), "style", style_name))
        pos = 0
        for run_text, props in runs:
            start, end = pos, pos + len(run_text)
            pos = end
            annotations.append(Annotation(start, end, "size", str(props.size / 2)))
            for attr in ("bold", "italic", "underlined", "strike", "superscript", "subscript"):
                if getattr(props, attr):
                    annotations.append(Annotation(start, end, attr, "True"))
        annotations = merge_annotations(annotations, text)

        # tag HL (line_with_meta_converter.py:60-67)
        if heading_level is not None:
            tag_hl = HierarchyLevel(1, heading_level, False, HierarchyLevel.header)
        elif list_level is not None:
            tag_hl = HierarchyLevel(2, list_level, False, HierarchyLevel.list_item)
        else:
            tag_hl = HierarchyLevel.create_unknown()

        uid = f"{url_hash}_{hashlib.md5(f'docx{index}{text}'.encode()).hexdigest()}"
        return Line(line=text, tag_hl=tag_hl, annotations=annotations, uid=uid), after

    # -- the reference's newline fix (docx_reader.py:37-53) ------------------

    @staticmethod
    def _fix_lines(lines: List[Line]) -> None:
        for line, next_line in zip(lines[:-1], lines[1:]):
            if (
                line.tag_hl.is_unknown()
                and next_line.tag_hl.is_unknown()
                and not line.line.endswith("\n")
            ):
                line.line += "\n"
                for ann in line.annotations:
                    if ann.end == len(line.line) - 1:
                        ann.end = len(line.line)

    # -- tables ---------------------------------------------------------------

    def _read_table(self, tbl: ET.Element, url_hash: str, index: int) -> Table:
        # first pass: raw grid with span info
        grid: List[List[Cell]] = []
        for tr in tbl.findall(_w("tr")):
            row: List[Cell] = []
            for tc in tr.findall(_w("tc")):
                tcpr = tc.find(_w("tcPr"))
                colspan = 1
                vmerge = None
                if tcpr is not None:
                    colspan = _to_int(_val(tcpr.find(_w("gridSpan")), "1"), 1)
                    vm = tcpr.find(_w("vMerge"))
                    if vm is not None:
                        vmerge = vm.get(_w("val"), "continue")
                texts = [
                    "".join(t.text or "" for t in p.findall(f"{_w('r')}/{_w('t')}"))
                    for p in tc.findall(_w("p"))
                ]
                cell = Cell(lines=[Line(line=t) for t in texts], colspan=colspan, rowspan=1)
                cell_info = (cell, vmerge)
                row.append(cell_info)  # type: ignore[arg-type]
            grid.append(row)  # type: ignore[arg-type]

        # expand gridSpan horizontally and resolve vMerge vertically
        expanded: List[List[Cell]] = []
        for r, row in enumerate(grid):
            out_row: List[Cell] = []
            for cell, vmerge in row:  # type: ignore[misc]
                if vmerge == "continue":
                    col = len(out_row)
                    if expanded and col < len(expanded[-1]):
                        src = expanded[-1][col]
                        clone = Cell(lines=src.lines, colspan=src.colspan, rowspan=src.rowspan, invisible=True)
                        # find the visible origin and bump its rowspan
                        rr = len(expanded) - 1
                        while rr > 0 and expanded[rr][col].invisible:
                            rr -= 1
                        expanded[rr][col].rowspan += 1
                        for _ in range(cell.colspan):
                            out_row.append(clone)
                        continue
                for i in range(cell.colspan):
                    if i == 0:
                        out_row.append(cell)
                    else:
                        out_row.append(Cell(lines=cell.lines, colspan=1, rowspan=1, invisible=True))
            expanded.append(out_row)
        uid = hashlib.md5(f"{url_hash}_docx_table_{index}".encode()).hexdigest()
        return Table(cells=expanded, page_id=0, uid=uid)


_DOCX = DocxExtractor()


def extract_docx(payload: bytes, url_hash: str = "") -> Tuple[List[Line], List[Table], List[str]]:
    return _DOCX.extract(payload, url_hash)
