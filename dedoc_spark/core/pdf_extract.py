"""PDF text-layer extraction (pure Python, no pdfminer dependency) and the
cross-page header/footer frequency voting.

References:
  - PdfTxtlayerReader / pdfminer extractor semantics
    (dedoc/readers/pdf_reader/pdf_txtlayer_reader/pdf_txtlayer_reader.py:44-77,
    pdfminer_reader/pdfminer_extractor.py:53-116): per-page text lines in
    top-down order, bold from the font name, one page = page_id.
  - footer_header_analysis
    (dedoc/readers/pdf_reader/utils/header_footers_analysis.py:84-155):
    digit-masked patterns of the first/last 4 lines per page, pairwise
    difflib similarity between pages (step 2 if > 6 pages) accumulated
    into position scores; score > 0.5 → candidate position; per-position
    pattern kept if frequency > 0.4 (step 2) / 0.7 (step 1); matching
    lines removed.

The readers take a ``PdfFile`` (core/pdf_objects.parse_pdf: objects,
page order, streams and their filters). The parser covers the text-layer
subset pdfminer handles for the reference's tests: BT/ET blocks,
Tf/Td/TD/Tm/T* positioning, Tj/TJ/quote shows, literal and hex strings,
and composite Type0/Identity-H fonts with /ToUnicode CMap decoding
(bfchar + bfrange, both increment and array forms) so Cyrillic/CID text
layers come out as real Unicode. Page fan-out at scale: explode (url,
page_id, page_lines) rows — SURVEY.md §2.1.
"""

from __future__ import annotations

import difflib
import hashlib
import re
from collections import Counter
from typing import Dict, List, Optional, Tuple

from dedoc_spark.core.model import Annotation, HierarchyLevel, Line, select_pages
from dedoc_spark.core.pdf_objects import PdfFile, decode_stream, dict_value, inherited, refs

class _FontInfo:
    """Resolved font: base name (bold detection), optional ToUnicode map,
    and whether codes are 2-byte (Type0/Identity-H composite fonts)."""

    __slots__ = ("base", "to_unicode", "two_byte")

    def __init__(self, base: str = "", to_unicode: Optional[Dict[int, str]] = None, two_byte: bool = False) -> None:
        self.base = base
        self.to_unicode = to_unicode
        self.two_byte = two_byte


def _parse_tounicode(data: bytes) -> Dict[int, str]:
    """ToUnicode CMap → {code: str}. Handles bfchar pairs and bfrange in
    both increment (<lo> <hi> <dst>) and array (<lo> <hi> [<d0> <d1> …])
    forms; destination hex is UTF-16BE and may be multi-codepoint."""

    def uni(hexs: bytes) -> str:
        h = hexs if len(hexs) % 4 == 0 else hexs.rjust((len(hexs) + 3) // 4 * 4, b"0")
        return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", "ignore")

    cmap: Dict[int, str] = {}
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f]+)>", m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap[int(src, 16)] = uni(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f]+)>|(\[)|(\])", m.group(1))
        i = 0
        while i < len(toks):
            if not toks[i][0] or i + 2 >= len(toks) or not toks[i + 1][0]:
                i += 1
                continue
            lo, hi = int(toks[i][0], 16), int(toks[i + 1][0], 16)
            if toks[i + 2][1]:  # array form
                j = i + 3
                code = lo
                while j < len(toks) and not toks[j][2]:
                    if toks[j][0]:
                        cmap[code] = uni(toks[j][0])
                        code += 1
                    j += 1
                i = j + 1
            else:  # increment form
                base = toks[i + 2][0]
                base_str = uni(base)
                base_cp = int(base, 16) if len(base) <= 4 else (ord(base_str[-1]) if base_str else 0)
                for k in range(hi - lo + 1):
                    if len(base) <= 4:
                        cmap[lo + k] = chr(base_cp + k)
                    else:
                        cmap[lo + k] = base_str[:-1] + chr(base_cp + k) if base_str else ""
                i += 3
    return cmap


def _page_fonts(objects: Dict[int, bytes], pid: int) -> Dict[str, _FontInfo]:
    """Font resources of page ``pid`` (inherited, see pdf_objects.inherited).
    Each entry resolves BaseFont, Type0/Identity-H 2-byte coding, and the
    ToUnicode CMap when present."""
    fonts: Dict[str, _FontInfo] = {}
    for fm in re.finditer(rb"/(\w+)\s+(\d+)\s+\d+\s+R", inherited(objects, pid, b"/Font") or b""):
        font_obj = objects.get(int(fm.group(2)), b"")
        base_m = re.search(rb"/BaseFont\s*/([^\s/<>\[\]]+)", font_obj)
        base = base_m.group(1).decode("latin-1") if base_m else ""
        two_byte = b"/Type0" in font_obj or b"/Identity-H" in font_obj
        to_unicode: Optional[Dict[int, str]] = None
        tum = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", font_obj)
        if tum:
            cmap_data = decode_stream(objects.get(int(tum.group(1)), b""))
            if cmap_data:
                to_unicode = _parse_tounicode(cmap_data)
        fonts[fm.group(1).decode("latin-1")] = _FontInfo(base, to_unicode, two_byte)
    return fonts


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(a, b):
    """6-tuple PDF matrices [a b c d e f]: result = a · b."""
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


def _mat_apply(m, x: float, y: float):
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


class _TextState:
    """Text matrices per the PDF rendering model: tlm is the line matrix,
    tm the text matrix; device position = tm · CTM applied to the origin
    (pdfminer applies the same composition, which is what makes PDFs that
    place every line through a `cm` transform come out in real reading
    order instead of collapsing onto one local y)."""

    __slots__ = ("tm", "tlm", "font", "size", "leading")

    def __init__(self) -> None:
        self.tm = _IDENTITY
        self.tlm = _IDENTITY
        self.font = ""
        self.size = 0.0
        self.leading = 0.0

    def translate_line(self, tx: float, ty: float) -> None:
        self.tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, tx, ty), self.tlm)
        self.tm = self.tlm

    def set_matrix(self, vals) -> None:
        self.tlm = self.tm = tuple(vals)


_TOKEN_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|\[(?:\((?:\\.|[^\\()])*\)|[^\]])*\]|/[^\s/\[\]()<>]+|[-+.0-9]+|[A-Za-z'\"*]+"
)

_ESCAPES = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
             b"(": "(", b")": ")", b"\\": "\\"}


def _string_bytes(tok: bytes) -> bytes:
    """Raw bytes of a literal ``(…)`` or hex ``<…>`` PDF string token."""
    if tok.startswith(b"<"):
        hexstr = re.sub(rb"\s", b"", tok[1:-1])
        if len(hexstr) % 2:
            hexstr += b"0"
        return bytes.fromhex(hexstr.decode("ascii"))
    body = tok[1:-1]
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out.extend(_ESCAPES[nxt].encode("latin-1"))
                i += 2
                continue
            if nxt.isdigit():  # octal
                oct_digits = re.match(rb"[0-7]{1,3}", body[i + 1 : i + 4]).group(0)
                out.append(int(oct_digits, 8) & 0xFF)
                i += 1 + len(oct_digits)
                continue
            i += 1
            continue
        out.extend(c)
        i += 1
    return bytes(out)


def _decode_pdf_string(tok: bytes, font: Optional[_FontInfo] = None) -> str:
    """String token → text. Simple fonts decode as latin-1 (pdfminer's
    default-encoding behavior); fonts with a ToUnicode CMap map each code
    (2-byte for Type0/Identity-H composites) through the CMap."""
    raw = _string_bytes(tok)
    if font is None or (font.to_unicode is None and not font.two_byte):
        return raw.decode("latin-1")
    step = 2 if font.two_byte else 1
    cmap = font.to_unicode or {}
    out: List[str] = []
    for i in range(0, len(raw) - step + 1, step):
        code = int.from_bytes(raw[i : i + step], "big")
        mapped = cmap.get(code)
        out.append(mapped if mapped is not None else chr(code))
    return "".join(out)


_AVG_GLYPH_EM = 0.5  # deterministic advance estimate (no /Widths parsing)


def _extract_page_shows(
    content: bytes,
    fonts: Dict[str, _FontInfo],
    image_xobjects: Optional[Dict[str, int]] = None,
    images_out: Optional[List[Tuple[str, Tuple[float, float, float, float]]]] = None,
    rules_out: Optional[List[Tuple[float, float, float, float]]] = None,
) -> List[Tuple[float, float, str, str, float, float]]:
    """Content stream → list of (y, x, text, font_base, x2, y2) text shows,
    where (x2, y2) is the device-space image of the text-space extent
    (0.5·size·len(text), size) — a deterministic width estimate (average
    glyph advance of 0.5 em; exact metrics would need /Widths parsing,
    which pdfminer does via font programs).

    When ``image_xobjects`` maps XObject names to image object ids, every
    ``Do`` of an image appends (name, device bbox of the CTM-mapped unit
    square) to ``images_out`` — image placement per the PDF imaging model
    (an image fills the unit square of its own space).

    When ``rules_out`` is given, PAINTED path line art is collected as
    device-space segments (x0, y0, x1, y1): ``re`` contributes its four
    edges, ``m``/``l`` chains contribute each drawn segment, CTM applied
    at construction time. Only painting operators (S s f f* B B* b b*)
    flush the pending path; ``n`` (the clip no-op) discards it, so
    ``re W n`` clip rectangles never count as drawn rules. This is the
    input to core/pdf_tables.detect_ruled_tables — the txt-layer
    replacement for the reference's image-based table recognizer
    (pdf_txtlayer_reader.py:49-58)."""

    def dec(tok: bytes) -> str:
        return _decode_pdf_string(tok, fonts.get(st.font))

    def base(name: str) -> str:
        fi = fonts.get(name)
        return fi.base if fi is not None and fi.base else name

    shows: List[Tuple[float, float, str, str, float, float]] = []
    st = _TextState()
    ctm = _IDENTITY
    gs_stack: List[tuple] = []
    stack: List[bytes] = []
    path: List[Tuple[float, float, float, float]] = []
    cur_pt: Optional[Tuple[float, float]] = None
    sub_start: Optional[Tuple[float, float]] = None

    def emit(text: str) -> None:
        m = _mat_mul(st.tm, ctm)
        x, y = _mat_apply(m, 0.0, 0.0)
        x2, y2 = _mat_apply(m, _AVG_GLYPH_EM * st.size * len(text), st.size)
        shows.append((y, x, text, base(st.font), x2, y2))

    for tok in _TOKEN_RE.finditer(content):
        t = tok.group(0)
        first = t[:1]
        if first in b"(<[/" or first.isdigit() or first in b"-+.":
            stack.append(t)
            continue
        op = t
        if op == b"BT":
            st = _TextState()
        elif op == b"q":
            gs_stack.append(ctm)
        elif op == b"Q":
            if gs_stack:
                ctm = gs_stack.pop()
        elif op == b"cm" and len(stack) >= 6:
            try:
                m = tuple(float(v) for v in stack[-6:])
                ctm = _mat_mul(m, ctm)
            except ValueError:
                pass
        elif op == b"Tf" and len(stack) >= 2:
            st.font = stack[-2].decode("latin-1").lstrip("/")
            try:
                st.size = float(stack[-1])
            except ValueError:
                pass
        elif op in (b"Td", b"TD") and len(stack) >= 2:
            try:
                tx, ty = float(stack[-2]), float(stack[-1])
                st.translate_line(tx, ty)
                if op == b"TD":
                    st.leading = -ty
            except ValueError:
                pass
        elif op == b"Tm" and len(stack) >= 6:
            try:
                st.set_matrix(float(v) for v in stack[-6:])
            except ValueError:
                pass
        elif op == b"TL" and stack:
            try:
                st.leading = float(stack[-1])
            except ValueError:
                pass
        elif op == b"T*":
            st.translate_line(0.0, -st.leading)
        elif op == b"Tj" and stack:
            emit(dec(stack[-1]))
        elif op == b"'" and stack:
            st.translate_line(0.0, -st.leading)
            emit(dec(stack[-1]))
        elif op == b"TJ" and stack:
            arr = stack[-1]
            text = "".join(
                dec(m.group(0))
                for m in re.finditer(rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>", arr)
            )
            emit(text)
        elif op == b"Do" and stack and image_xobjects is not None and images_out is not None:
            name = stack[-1].decode("latin-1").lstrip("/")
            if name in image_xobjects:
                corners = [_mat_apply(ctm, cx, cy) for cx in (0.0, 1.0) for cy in (0.0, 1.0)]
                xs = [c[0] for c in corners]
                ys = [c[1] for c in corners]
                images_out.append((name, (min(xs), min(ys), max(xs), max(ys))))
        elif rules_out is not None:
            if op == b"m" and len(stack) >= 2:
                try:
                    cur_pt = _mat_apply(ctm, float(stack[-2]), float(stack[-1]))
                    sub_start = cur_pt
                except ValueError:
                    pass
            elif op == b"l" and len(stack) >= 2 and cur_pt is not None:
                try:
                    nxt = _mat_apply(ctm, float(stack[-2]), float(stack[-1]))
                    path.append((cur_pt[0], cur_pt[1], nxt[0], nxt[1]))
                    cur_pt = nxt
                except ValueError:
                    pass
            elif op == b"h" and cur_pt is not None and sub_start is not None:
                path.append((cur_pt[0], cur_pt[1], sub_start[0], sub_start[1]))
                cur_pt = sub_start
            elif op == b"re" and len(stack) >= 4:
                try:
                    rx, ry, rw, rh = (float(v) for v in stack[-4:])
                except ValueError:
                    rx = None
                if rx is not None:
                    c = [
                        _mat_apply(ctm, rx, ry),
                        _mat_apply(ctm, rx + rw, ry),
                        _mat_apply(ctm, rx + rw, ry + rh),
                        _mat_apply(ctm, rx, ry + rh),
                    ]
                    for i in range(4):
                        a, b = c[i], c[(i + 1) % 4]
                        path.append((a[0], a[1], b[0], b[1]))
                    cur_pt = c[0]
                    sub_start = c[0]
            elif op in (b"S", b"s", b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*"):
                if op in (b"s", b"b", b"b*") and cur_pt is not None and sub_start is not None:
                    path.append((cur_pt[0], cur_pt[1], sub_start[0], sub_start[1]))
                rules_out.extend(path)
                path = []
                cur_pt = sub_start = None
            elif op == b"n":  # clip-path consumer: nothing is painted
                path = []
                cur_pt = sub_start = None
        stack.clear()
    return shows


def _page_xobjects(objects: Dict[int, bytes], pid: int) -> Dict[str, int]:
    """Image XObject resources of page ``pid`` (inherited): {name: object
    id} for entries whose object is /Subtype /Image (Form XObjects are
    ignored — their nested content streams are out of the txt-layer
    subset)."""
    out: Dict[str, int] = {}
    for xm in re.finditer(rb"/(\w+)\s+(\d+)\s+\d+\s+R", inherited(objects, pid, b"/XObject") or b""):
        oid = int(xm.group(2))
        if b"/Image" in objects.get(oid, b""):
            out[xm.group(1).decode("latin-1")] = oid
    return out


def _page_media(objects: Dict[int, bytes], pid: int) -> Tuple[float, float]:
    """Page (width, height) from the inherited /MediaBox; US-Letter
    (612×792) when absent."""
    m = re.search(
        rb"\[\s*([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s+([-\d.]+)\s*\]",
        inherited(objects, pid, b"/MediaBox") or b"",
    )
    if not m:
        return (612.0, 792.0)
    x0, y0, x1, y1 = (float(m.group(i)) for i in range(1, 5))
    return (x1 - x0, y1 - y0)


def extract_pdf_pages(pdf: PdfFile) -> List[List[Tuple[str, bool]]]:
    """Per-page list of (line_text, is_bold), lines top-down."""
    return [
        [(text, bold) for text, bold, _bbox in page["lines"]]
        for page in extract_pdf_pages_layout(pdf)
    ]


def _looks_two_column(
    shows: List[Tuple[float, float, str, str, float, float]], width: float
) -> bool:
    """is_one_column_document="auto" (api_args.py:33 — the reference
    DEFAULT): the reference decides with its image-based column
    classifier (columns_orientation_classifier, de-scoped OCR family);
    the txt-layer analogue is an x-origin histogram over the page's text
    shows.  A two-column page has (a) a cluster of shows STARTING just
    right of the midline (the right column's left edge), (b) comparable
    mass in the left half, and (c) almost no show spanning the central
    gutter.  Ambiguity defaults to one column (the previous behavior)."""
    n = len(shows)
    if n < 8 or width <= 0:
        return False
    mid = width / 2.0
    eps = width * 0.03
    left = right_start = crossing = 0
    for _y, x, _t, _f, x2, _y2 in shows:
        hi = max(x, x2)
        if x < mid - eps:
            left += 1
            if hi > mid + eps:
                crossing += 1
        elif mid - eps <= x <= mid + width * 0.12:
            right_start += 1
    return right_start >= 0.25 * n and left >= 0.25 * n and crossing <= 0.08 * n


def extract_pdf_pages_layout(
    pdf: PdfFile, collect_rules: bool = True, one_column: Optional[bool] = True
) -> List[Dict]:
    """Per-page layout dicts, pages in ``pdf.pages`` order:

      {"width": w, "height": h,
       "lines":  [(text, is_bold, (x0, y0, x1, y1))],   top-down coords
       "images": [(xobject_name, (x0, y0, x1, y1))],
       "rules":  [(x0, y0, x1, y1)],                     painted line art
       "shows":  [(text, (x0, y0, x1, y1))]}             pre-merge shows

    Line bboxes union the member shows' device extents and are flipped to
    top-down (y_top = page_height − device_y_top) so downstream layout ops
    share the reference's image-pixel orientation (pdf_layout module)."""
    objects = pdf.objects
    pages: List[Dict] = []
    for pid in pdf.pages:
        page_obj = objects[pid]
        fonts = _page_fonts(objects, pid)
        xobjects = _page_xobjects(objects, pid)
        width, height = _page_media(objects, pid)
        contents = dict_value(page_obj, b"/Contents") or b""
        shows: List[Tuple[float, float, str, str, float, float]] = []
        images_dev: List[Tuple[str, Tuple[float, float, float, float]]] = []
        # rules/per-show bboxes feed ONLY the ruled-table detector —
        # collect_rules=False keeps the default extraction hot path free
        # of the line-art CTM mapping and the per-show tuple build
        rules_dev: Optional[List[Tuple[float, float, float, float]]] = [] if collect_rules else None
        for cid in refs(contents):
            data = decode_stream(objects.get(cid, b""))
            if data is None:
                continue
            shows.extend(_extract_page_shows(data, fonts, xobjects, images_dev, rules_dev))
        # group shows into lines by y, top-down (pdfminer sort, height − y1).
        # one_column=False (the reference's is_one_column_document="false"):
        # split shows at the page midline FIRST, so a two-column page reads
        # left column top-to-bottom then right column — same-y shows from
        # different columns must not concatenate into one line. A full-width
        # line (x0 left of the midline) sorts with the left column —
        # documented simple semantics (the reference's column classifier is
        # part of the de-scoped image path).
        by_y: Dict[Tuple[int, float], List[Tuple[float, str, str, float, float]]] = {}
        shows_td: List[Tuple[str, Tuple[float, float, float, float]]] = []
        mid = width / 2
        # one_column=None is "auto": per-page x-histogram decision (the
        # reference resolves is_one_column_document per page too)
        page_one_col = (
            one_column if one_column is not None else not _looks_two_column(shows, width)
        )
        for y, x, text, font, x2, y2 in shows:
            column = 0 if (page_one_col or x < mid) else 1
            by_y.setdefault((column, round(y, 1)), []).append((x, text, font, x2, y2))
            if not collect_rules:
                continue
            # per-show top-down bbox (pre line-merge) — the granularity the
            # ruled-table cell filler needs (same-y shows in different grid
            # cells must not fuse)
            shows_td.append(
                (
                    text,
                    (
                        round(min(max(min(x, x2), 0.0), width), 2),
                        round(min(max(height - max(y, y2), 0.0), height), 2),
                        round(min(max(max(x, x2), 0.0), width), 2),
                        round(min(max(height - min(y, y2), 0.0), height), 2),
                    ),
                )
            )
        lines: List[Tuple[str, bool, Tuple[float, float, float, float]]] = []
        # columns in reading order, each top-down (device y descends)
        for column, y in sorted(by_y, key=lambda k: (k[0], -k[1])):
            parts = sorted(by_y[(column, y)], key=lambda p: p[0])
            text = "".join(p[1] for p in parts)
            bold = any("Bold" in p[2] for p in parts)
            x0 = min(p[0] for p in parts)
            x1 = max(max(p[0], p[3]) for p in parts)
            y_dev_top = max(max(y, p[4]) for p in parts)
            # clamp into the MediaBox — rendered marks can't exceed the page,
            # and the 0.5-em width estimate otherwise overshoots on long lines
            bbox = (
                round(min(max(x0, 0.0), width), 2),
                round(min(max(height - y_dev_top, 0.0), height), 2),  # top-down flip
                round(min(max(x1, 0.0), width), 2),
                round(min(max(height - y, 0.0), height), 2),
            )
            lines.append((text, bold, bbox))
        images = [
            (name, (round(bx0, 2), round(height - by1, 2), round(bx1, 2), round(height - by0, 2)))
            for name, (bx0, by0, bx1, by1) in images_dev
        ]
        # same top-down flip as line bboxes so the table detector shares
        # the image-pixel orientation of the layout family
        rules = [
            (round(rx0, 2), round(height - ry0, 2), round(rx1, 2), round(height - ry1, 2))
            for rx0, ry0, rx1, ry1 in (rules_dev or [])
        ]
        pages.append(
            {
                "width": width,
                "height": height,
                "lines": lines,
                "images": images,
                "rules": rules,
                "shows": shows_td,
            }
        )
    return pages


def extract_pdf_lines(
    pdf: PdfFile,
    url_hash: str = "",
    pages_range: Optional[str] = None,
    with_layout: bool = False,
    need_paragraph_classification: bool = False,
    need_header_footer_analysis: bool = True,
    one_column: Optional[bool] = True,
    need_gost_frame_analysis: bool = False,
) -> Tuple[List[Line], List[str]]:
    """Full txt-layer read: per-page lines with page_id, bold annotations,
    header/footer voting applied for multi-page documents.

    ``pages_range`` = "l:r" (1-based, inclusive) prunes pages at the source
    like the reference's ``pages`` parameter (pdf_base_reader.py:108-128),
    appending the partial-parse warning.

    ``with_layout=True`` runs the layout family on top (the reference does
    this unconditionally in pdf_base_reader.py:131-147; here it is opt-in
    to keep default output bytes stable): per-line bboxes in extras, the
    bbox sanity filter, per-page size/indentation/spacing annotations, and
    the line↔object linker over the page's placed images."""
    lines, _tables, warnings = _extract_pdf_full(
        pdf, url_hash, pages_range, with_layout, detect_tables=False,
        need_paragraph_classification=need_paragraph_classification,
        need_header_footer_analysis=need_header_footer_analysis,
        one_column=one_column,
        need_gost_frame_analysis=need_gost_frame_analysis,
    )
    return lines, warnings


def extract_pdf_lines_tables(
    pdf: PdfFile,
    url_hash: str = "",
    pages_range: Optional[str] = None,
    with_layout: bool = False,
    need_paragraph_classification: bool = False,
    need_header_footer_analysis: bool = True,
    one_column: Optional[bool] = True,
    need_gost_frame_analysis: bool = False,
    table_type: str = "",
):
    """Txt-layer read WITH ruled-table analysis — the
    ``need_pdf_table_analysis`` path of the reference
    (pdf_txtlayer_reader.py:49-73): tables are detected (here from painted
    line art instead of an OpenCV image pass, core/pdf_tables.py), text
    lines inside table regions are dropped from the page flow, the
    detected tables are linked to their closest lines ("table"
    annotation, line_object_linker semantics) and page-adjacent
    continuations are merged by core/multipage.extract_multipage_tables.
    Returns (lines, tables, warnings)."""
    return _extract_pdf_full(
        pdf, url_hash, pages_range, with_layout, detect_tables=True,
        need_paragraph_classification=need_paragraph_classification,
        need_header_footer_analysis=need_header_footer_analysis,
        one_column=one_column,
        need_gost_frame_analysis=need_gost_frame_analysis,
        table_type=table_type,
    )


def _extract_pdf_full(
    pdf: PdfFile,
    url_hash: str,
    pages_range: Optional[str],
    with_layout: bool,
    detect_tables: bool,
    need_paragraph_classification: bool = False,
    need_header_footer_analysis: bool = True,
    one_column: Optional[bool] = True,
    need_gost_frame_analysis: bool = False,
    table_type: str = "",
):
    from dedoc_spark.core.pdf_layout import (
        BBox,
        Location,
        PageObject,
        add_indentation_annotations,
        add_size_annotations,
        add_spacing_annotations,
        bbox_sanity_filter,
        link_objects,
    )

    pages = extract_pdf_pages_layout(
        pdf,
        collect_rules=detect_tables or need_gost_frame_analysis,
        one_column=one_column,
    )
    pages, warnings = select_pages(pages, pages_range)
    page_lines: List[List[Line]] = []
    image_objects: List[PageObject] = []
    table_objects: List[PageObject] = []
    located_tables = []
    for page_id, page in enumerate(pages):
        cur: List[Line] = []
        boxes: List[BBox] = []
        for text, bold, bbox in page["lines"]:
            annotations = [Annotation(0, len(text), "bold", "True")] if bold else []
            uid = f"{url_hash}_{hashlib.md5(f'pdf{page_id}:{len(cur)}:{text}'.encode()).hexdigest()}"
            ln = Line(line=text, page_id=page_id, annotations=annotations, uid=uid)
            x0, y0, x1, y1 = bbox
            box = BBox(x0, y0, x1 - x0, y1 - y0)
            if with_layout:
                import json as _json

                ln.extras["location"] = Location(page_id, box)
                # BBoxAnnotation parity (bbox_annotation.py:27-43): relative
                # coords + page dims as the json value, non-mergeable
                ln.annotations.append(
                    Annotation(
                        0,
                        len(text),
                        "bounding box",
                        _json.dumps(box.to_relative_dict(page["width"], page["height"])),
                    )
                )
            cur.append(ln)
            boxes.append(box)
        page_rules = page["rules"]
        if need_gost_frame_analysis and page_rules:
            # pdf_txtlayer_reader.py:63-70: the detected frame's content
            # box is the readable block — text bboxes with NO intersection
            # leave the page (BBox.have_intersection_with_box is a plain
            # any-overlap test, so the keep predicate here is
            # intersection > 0, unlike the 0.3-of-line-area threshold the
            # table EXCLUSION uses); rules are cropped to the box so the
            # frame border and title block never reach the table detector
            # (the reference crops the image itself before recognition).
            # Table/text coordinates need NO shift-back on this path: the
            # content-stream parser works in page coordinates throughout,
            # whereas the reference's _move_table_cells only undoes its
            # own image crop.
            from dedoc_spark.core.pdf_tables import (
                _intersection_area,
                detect_gost_frame,
                segments_inside_box,
            )

            frame_box = detect_gost_frame(page_rules, page["width"], page["height"])
            if frame_box is not None:
                keep = [
                    i
                    for i in range(len(cur))
                    if _intersection_area(boxes[i], frame_box) > 0
                ]
                cur = [cur[i] for i in keep]
                boxes = [boxes[i] for i in keep]
                page_rules = segments_inside_box(page_rules, frame_box)
        if detect_tables and page_rules:
            from dedoc_spark.core.pdf_tables import (
                build_table_from_grid,
                detect_ruled_tables,
                inside_any_unreadable_block,
            )

            # table_type "one_cell_table" (table_type.py:4) waives the
            # more-than-one-column heuristic; the other two options are
            # image-morphology / OCR-text specific (wo_external_bounds,
            # split_last_column) and stay with the de-scoped image path
            grids = detect_ruled_tables(
                page_rules, one_cell_table="one_cell_table" in table_type
            )
            if grids:
                # pdf_txtlayer_reader.py:70-73: table locations are the
                # unreadable blocks; captured lines leave the page flow
                # and become the grid's cell texts instead
                blocks = [g.bbox for g in grids]
                captured = [
                    i for i in range(len(cur))
                    if inside_any_unreadable_block(boxes[i], blocks)
                ]
                # cell contents come from the PRE-MERGE shows: two cells of
                # one row share a y, so the merged page line would fuse them
                pairs = [
                    (text, BBox(sx0, sy0, sx1 - sx0, sy1 - sy0))
                    for text, (sx0, sy0, sx1, sy1) in page["shows"]
                ]
                for gi, g in enumerate(grids):
                    t = build_table_from_grid(g, pairs, page_id, url_hash, gi)
                    located_tables.append(t)
                    table_objects.append(PageObject("table", t.uid, t.location))
                capset = set(captured)
                cur = [ln for i, ln in enumerate(cur) if i not in capset]
        if with_layout:
            cur = bbox_sanity_filter(cur)
            # reference metadata extractor runs per page (one PageWithBBox):
            # per-page left bound, per-page median line height
            add_size_annotations(cur, page["height"])
            add_indentation_annotations(cur, page["width"])
            add_spacing_annotations(cur)
            for idx, (name, (x0, y0, x1, y1)) in enumerate(page["images"]):
                uid = hashlib.md5(f"{url_hash}_pdfimg_{page_id}_{idx}_{name}".encode()).hexdigest()
                image_objects.append(
                    PageObject("image", uid, Location(page_id, BBox(x0, y0, x1 - x0, y1 - y0)))
                )
        page_lines.append(cur)
    # the reference gates this behind need_header_footer_analysis
    # (default False, parameter_utils.py:51); HERE the default is True —
    # a documented deviation: at web scale repeated-header removal is the
    # useful default, and the engine's output contract since round 1.
    # Passing need_header_footer_analysis=False restores reference-default
    # behavior.
    if need_header_footer_analysis and len(page_lines) > 1:
        page_lines, headers, footers = footer_header_analysis(page_lines)
        removed = sum(len(h) for h in headers) + sum(len(f) for f in footers)
        if removed:
            warnings.append(f"removed {removed} header/footer lines")
    lines = [ln for page in page_lines for ln in page]
    # linking needs line locations, which only exist on the layout path
    link_targets = (image_objects + table_objects) if with_layout else []
    if link_targets:
        lines = link_objects(lines, link_targets)
    tables = []
    if located_tables:
        # page-adjacent continuations merge AFTER linking, so the absorbed
        # part's "table" annotation is removed from its referring line
        # (multipage_table_extractor semantics, core/multipage.py)
        from dedoc_spark.core.multipage import extract_multipage_tables
        from dedoc_spark.core.model import Table

        merged = extract_multipage_tables(located_tables, lines)
        tables = [
            Table(cells=t.cells, page_id=t.location.page_number, uid=t.uid)
            for t in merged
        ]
    for i, ln in enumerate(lines):
        ln.line_id = i
        ln.tag_hl = HierarchyLevel.create_unknown()
    if need_paragraph_classification and with_layout:
        # scan_paragraph_classifier_extractor contract: paragraph starts
        # get can_be_multiline=False on the reader-assigned tag level
        # (needs the layout bboxes, hence the with_layout guard)
        from dedoc_spark.core.paragraph_features import classify_paragraphs

        classify_paragraphs(lines)
    return lines, tables, warnings


# --- txt-layer correctness detection (pdf_auto_reader) ----------------------

_TXT_LAYER_MODEL = None


def detect_txt_layer(lines: List[Line], fast: bool = False) -> Tuple[bool, bool]:
    """PdfAutoReader routing decision (txtlayer_detector.py:22-58): classify
    the first ≤8 pages' text with the broadcast-style quality model; the
    first page is re-classified separately only when the whole layer is
    judged correct. Returns (is_correct_text_layer, is_first_page_correct).

    ``fast=True`` is fast_textual_layer_detection (txtlayer_detector.py:
    32-36): skip the classifier entirely — the layer is correct when ANY
    sampled line has a non-space character, and the first page is correct
    when it has lines and any of them is non-space (computed independently
    of is_correct, unlike the classifier path).
    """
    global _TXT_LAYER_MODEL
    from dedoc_spark.core.txtlayer import features_frame, train_default_model

    sample = [ln for ln in lines if (ln.page_id or 0) < 8]  # pages "1:8"
    if fast:
        is_correct = any(ln.line.strip() for ln in sample)
        first_page = [ln for ln in sample if (ln.page_id or 0) == 0]
        first_correct = bool(first_page) and any(ln.line.strip() for ln in first_page)
        return is_correct, first_correct
    if _TXT_LAYER_MODEL is None:
        _TXT_LAYER_MODEL = train_default_model()
    text = "\n".join(ln.line for ln in sample)
    if not text.strip():
        return False, False
    proba = float(_TXT_LAYER_MODEL.predict_proba(features_frame([text]))[0])
    is_correct = proba >= 0.5
    if not is_correct:
        return False, False
    first = "\n".join(ln.line for ln in sample if (ln.page_id or 0) == 0)
    if not first.strip():
        return True, False
    p_first = float(_TXT_LAYER_MODEL.predict_proba(features_frame([first]))[0])
    return True, p_first >= 0.5


# --- header/footer voting (header_footers_analysis.py:84-155) ---------------


def _get_pattern(s: str) -> str:
    return re.sub(r"\d+", "@", s.lower().strip())


def _similarity(s1: Optional[str], s2: Optional[str]) -> float:
    if not s1 or not s2:
        return 0.0
    return difflib.SequenceMatcher(None, s1, s2).ratio()


def footer_header_analysis(
    pages: List[List[Line]], threshold: float = 0.5
) -> Tuple[List[List[Line]], List[List[Line]], List[List[Line]]]:
    weights = [1.0, 1.0, 0.85, 0.75, 0.75, 0.85, 1.0, 1.0]
    max_cnt = 8
    scores = [0.0] * max_cnt
    page_cnt = len(pages)
    patterns: List[List[Optional[str]]] = [[] for _ in range(max_cnt)]

    # strip leading/trailing whitespace-only lines per page
    stripped: List[List[Line]] = []
    for page in pages:
        start, end = 0, len(page)
        while start < end and re.match(r"^\s*\n$", page[start].line):
            start += 1
        while end > start + 1 and re.match(r"^\s*\n$", page[end - 1].line):
            end -= 1
        stripped.append(page[start:end])
    pages = stripped

    step = 2 if page_cnt > 6 else 1

    for page in range(page_cnt):
        for li in range(max_cnt // 2):
            if len(pages[page]) < max_cnt:
                patterns[li].append(None)
                patterns[-li - 1].append(None)
            else:
                patterns[li].append(_get_pattern(pages[page][li].line))
                patterns[-li - 1].append(_get_pattern(pages[page][-li - 1].line))

    cnt_cmpr = 0
    for p1 in range(page_cnt - step):
        p2 = p1 + step
        if len(pages[p1]) < max_cnt or len(pages[p2]) < max_cnt:
            continue
        for li in range(max_cnt // 2):
            scores[li] += weights[li] * _similarity(patterns[li][p1], patterns[li][p2])
            scores[-li - 1] += weights[-li - 1] * _similarity(patterns[-li - 1][p1], patterns[-li - 1][p2])
        cnt_cmpr += 1
    if cnt_cmpr == 0:
        return pages, [[] for _ in pages], [[] for _ in pages]
    scores = [s / cnt_cmpr for s in scores]
    is_hf = [s > threshold for s in scores]

    freq_threshold = 0.4 if step == 2 else 0.7
    popular: List[List[str]] = [[] for _ in range(max_cnt)]
    for num, pattern_list in enumerate(patterns):
        if not is_hf[num]:
            continue
        filtered = [p for p in pattern_list if p]
        if not filtered:
            continue
        counts = Counter(filtered)
        for pat, cnt in counts.items():
            if cnt / len(filtered) > freq_threshold:
                popular[num].append(pat)

    def match_popular(page_id: int, line_id: int) -> Optional[Line]:
        if not is_hf[line_id] or abs(line_id) >= len(pages[page_id]):
            return None
        for pat in popular[line_id]:
            try:
                if re.match(pat, _get_pattern(pages[page_id][line_id].line)):
                    return pages[page_id][line_id]
            except re.error:
                pass
        return None

    headers: List[List[Line]] = []
    footers: List[List[Line]] = []
    result: List[List[Optional[Line]]] = [list(p) for p in pages]
    for page_id in range(page_cnt):
        headers.append([])
        footers.append([])
        for li in range(max_cnt // 2):
            h = match_popular(page_id, li)
            if h is not None:
                result[page_id][li] = None
                headers[-1].append(h)
            f = match_popular(page_id, -li - 1)
            if f is not None:
                result[page_id][-li - 1] = None
                footers[-1].append(f)
    cleaned = [[ln for ln in page if ln is not None] for page in result]
    return cleaned, headers, footers
