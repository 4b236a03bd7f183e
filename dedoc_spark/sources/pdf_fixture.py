"""Hand-built PDF generation for tests (FIXTURES.md §5) — no external
writer. Three packaging variants with identical text layout:

  build_pdf         classic PDF 1.4: uncompressed streams, classic xref
  build_pdf_objstm  PDF 1.5: non-stream objects packed in a FlateDecode
                    /ObjStm, FlateDecode content streams, xref stream
  build_pdf_type0   composite Type0/Identity-H fonts with a /ToUnicode
                    CMap (2-byte codes NOT equal to Unicode codepoints, so
                    only real CMap decoding extracts the text) — covers
                    Cyrillic/any-Unicode text layers
"""

from __future__ import annotations

import zlib
from typing import Dict, List, Optional, Sequence, Tuple

PageLines = Sequence[Tuple[str, bool]]  # (text, bold)


def _escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


PageImages = Sequence[Tuple[float, float, float, float]]  # (x, y, w, h) device


def table_ops(
    x: float,
    y_top: float,
    col_widths: Sequence[float],
    row_height: float,
    cell_texts: Sequence[Sequence[str]],
    font_size: float = 10.0,
) -> str:
    """Content-stream ops drawing a ruled table: grid lines via ``m``/``l``
    strokes + one cell text per cell, positioned with ``Tm``. ``y_top`` is
    the TOP edge in device (bottom-up) coords; rows grow downward."""
    n_rows = len(cell_texts)
    n_cols = len(col_widths)
    xs = [x]
    for w in col_widths:
        xs.append(xs[-1] + w)
    ys = [y_top - i * row_height for i in range(n_rows + 1)]  # descending
    ops: List[str] = []
    for yy in ys:  # horizontal rules
        ops.append(f"{xs[0]:g} {yy:g} m {xs[-1]:g} {yy:g} l S")
    for xx in xs:  # vertical rules
        ops.append(f"{xx:g} {ys[-1]:g} m {xx:g} {ys[0]:g} l S")
    for r, row in enumerate(cell_texts):
        for c, text in enumerate(row):
            if not text:
                continue
            tx = xs[c] + 2
            ty = ys[r] - row_height + 3  # baseline near the cell bottom
            ops.append(
                f"BT /F1 {font_size:g} Tf 1 0 0 1 {tx:g} {ty:g} Tm ({_escape(text)}) Tj ET"
            )
    return "\n".join(ops)


def gost_frame_ops(title_text: str = "", font_size: float = 10.0) -> str:
    """Content-stream ops drawing a GOST drawing frame on the 612×792
    page: an outer border rectangle (10..602 × 10..782 device), an inner
    content rectangle (40..597 × 120..777, ≈0.755 of the page area —
    above the recognizer's 0.65 threshold), and a title block in the
    strip between them (partition rules + optional stamp text at device
    y≈40, which sits OUTSIDE the content box and must vanish under
    need_gost_frame_analysis)."""
    ops: List[str] = []

    def rect(x0: float, y0: float, x1: float, y1: float) -> None:
        ops.append(f"{x0:g} {y0:g} m {x1:g} {y0:g} l S")
        ops.append(f"{x0:g} {y1:g} m {x1:g} {y1:g} l S")
        ops.append(f"{x0:g} {y0:g} m {x0:g} {y1:g} l S")
        ops.append(f"{x1:g} {y0:g} m {x1:g} {y1:g} l S")

    rect(10, 10, 602, 782)  # outer border
    rect(40, 120, 597, 777)  # content box (the readable block)
    # title-block partitions: offset from the content box edges so no
    # accidental rectangle closes with the frame rules
    ops.append("45 65 m 590 65 l S")
    ops.append("300 12 m 300 118 l S")
    if title_text:
        ops.append(
            f"BT /F1 {font_size:g} Tf 1 0 0 1 320 40 Tm ({_escape(title_text)}) Tj ET"
        )
    return "\n".join(ops)


def build_pdf(
    pages: Sequence[PageLines],
    images: Optional[Sequence[PageImages]] = None,
    extra_content: Optional[Sequence[str]] = None,
) -> bytes:
    """Each page: lines drawn top-down starting at y=760, 20pt leading.

    ``images``: optional per-page placements (x, y, w, h) in device points
    (y = bottom edge, PDF bottom-up) — each becomes a 1×1 /Image XObject
    shown via ``q w 0 0 h x y cm /ImN Do Q``.

    ``extra_content``: optional per-page raw content-stream ops appended
    after the text block (line art, positioned text — see table_ops)."""
    objects: List[bytes] = []

    def add(obj: str) -> int:
        objects.append(obj.encode("latin-1"))
        return len(objects)

    font_regular = add("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    font_bold = add("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>")

    page_images = list(images) if images is not None else [[] for _ in pages]
    image_ids: List[List[int]] = []
    for placements in page_images:
        ids = []
        for _ in placements:
            ids.append(
                add(
                    "<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
                    "/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\nstream\n\x00\nendstream"
                )
            )
        image_ids.append(ids)

    page_obj_ids: List[int] = []
    content_ids: List[int] = []
    for page_idx, lines in enumerate(pages):
        ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 760 Tm", "20 TL"]
        for i, (text, bold) in enumerate(lines):
            ops.append("/F2 12 Tf" if bold else "/F1 12 Tf")
            if i > 0:
                ops.append("T*")
            ops.append(f"({_escape(text)}) Tj")
        ops.append("ET")
        for k, (x, y, w, h) in enumerate(page_images[page_idx]):
            ops.append(f"q {w:g} 0 0 {h:g} {x:g} {y:g} cm /Im{k + 1} Do Q")
        if extra_content is not None and page_idx < len(extra_content) and extra_content[page_idx]:
            ops.append(extra_content[page_idx])
        stream = "\n".join(ops)
        content_ids.append(
            add(f"<< /Length {len(stream)} >>\nstream\n{stream}\nendstream")
        )

    pages_id_placeholder = len(objects) + len(pages) + 1
    for page_idx, content_id in enumerate(content_ids):
        xobj = ""
        if image_ids[page_idx]:
            entries = " ".join(
                f"/Im{k + 1} {oid} 0 R" for k, oid in enumerate(image_ids[page_idx])
            )
            xobj = f"/XObject << {entries} >> "
        page_obj_ids.append(
            add(
                f"<< /Type /Page /Parent {pages_id_placeholder} 0 R "
                f"/MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font_regular} 0 R /F2 {font_bold} 0 R >> {xobj}>> "
                f"/Contents {content_id} 0 R >>"
            )
        )
    kids = " ".join(f"{pid} 0 R" for pid in page_obj_ids)
    pages_id = add(f"<< /Type /Pages /Kids [{kids}] /Count {len(page_obj_ids)} >>")
    assert pages_id == pages_id_placeholder
    catalog_id = add(f"<< /Type /Catalog /Pages {pages_id} 0 R >>")

    out: List[bytes] = [b"%PDF-1.4\n"]
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(sum(len(b) for b in out))
        out.append(f"{i} 0 obj\n".encode() + obj + b"\nendobj\n")
    xref_pos = sum(len(b) for b in out)
    xref = [f"xref\n0 {len(objects) + 1}\n0000000000 65535 f \n"]
    for off in offsets[1:]:
        xref.append(f"{off:010d} 00000 n \n")
    out.append("".join(xref).encode())
    out.append(
        f"trailer\n<< /Size {len(objects) + 1} /Root {catalog_id} 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return b"".join(out)


def build_pdf_objstm(pages: Sequence[PageLines]) -> bytes:
    """Same text layout as build_pdf, PDF 1.5 packaging: fonts/pages/catalog
    live inside a compressed object stream, content streams are FlateDecode,
    and the xref is an xref stream (/Type /XRef, W [1 2 2])."""
    # object numbering: 1..P content streams, then packed objects (fonts,
    # pages, page objects, catalog) inside the ObjStm, then ObjStm, XRef
    n_pages = len(pages)
    content_ids = list(range(1, n_pages + 1))
    font_regular = n_pages + 1
    font_bold = n_pages + 2
    page_ids = [n_pages + 3 + i for i in range(n_pages)]
    pages_id = n_pages + 3 + n_pages
    catalog_id = pages_id + 1
    objstm_id = catalog_id + 1
    xref_id = objstm_id + 1

    def content_ops(lines: PageLines) -> bytes:
        ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 760 Tm", "20 TL"]
        for i, (text, bold) in enumerate(lines):
            ops.append("/F2 12 Tf" if bold else "/F1 12 Tf")
            if i > 0:
                ops.append("T*")
            ops.append(f"({_escape(text)}) Tj")
        ops.append("ET")
        return "\n".join(ops).encode("latin-1")

    # packed (non-stream) objects for the ObjStm
    packed: List[Tuple[int, bytes]] = [
        (font_regular, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        (font_bold, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>"),
    ]
    for pid, cid in zip(page_ids, content_ids):
        packed.append((
            pid,
            (f"<< /Type /Page /Parent {pages_id} 0 R /MediaBox [0 0 612 792] "
             f"/Resources << /Font << /F1 {font_regular} 0 R /F2 {font_bold} 0 R >> >> "
             f"/Contents {cid} 0 R >>").encode("latin-1"),
        ))
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    packed.append((pages_id, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()))
    packed.append((catalog_id, f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode()))

    offsets: List[int] = []
    bodies = b""
    for _, body in packed:
        offsets.append(len(bodies))
        bodies += body + b"\n"
    header = " ".join(f"{oid} {off}" for (oid, _), off in zip(packed, offsets)).encode() + b"\n"
    objstm_payload = zlib.compress(header + bodies)

    out: List[bytes] = [b"%PDF-1.5\n"]
    byte_offsets: Dict[int, int] = {}

    def emit(oid: int, body: bytes) -> None:
        byte_offsets[oid] = sum(len(b) for b in out)
        out.append(f"{oid} 0 obj\n".encode() + body + b"\nendobj\n")

    for cid, lines in zip(content_ids, pages):
        data = zlib.compress(content_ops(lines))
        emit(cid, f"<< /Length {len(data)} /Filter /FlateDecode >>\nstream\n".encode() + data + b"\nendstream")
    emit(
        objstm_id,
        (f"<< /Type /ObjStm /N {len(packed)} /First {len(header)} "
         f"/Length {len(objstm_payload)} /Filter /FlateDecode >>\nstream\n").encode()
        + objstm_payload + b"\nendstream",
    )
    # xref stream: W [1 4 2]; type-1 rows for top-level, type-2 for packed
    xref_pos = sum(len(b) for b in out)
    byte_offsets[xref_id] = xref_pos
    nobj = xref_id + 1
    rows = bytearray()
    rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
    packed_index = {oid: i for i, (oid, _) in enumerate(packed)}
    for oid in range(1, nobj):
        if oid in packed_index:
            rows += bytes([2]) + objstm_id.to_bytes(4, "big") + packed_index[oid].to_bytes(2, "big")
        else:
            rows += bytes([1]) + byte_offsets[oid].to_bytes(4, "big") + (0).to_bytes(2, "big")
    xref_payload = zlib.compress(bytes(rows))
    out.append(
        (f"{xref_id} 0 obj\n<< /Type /XRef /Size {nobj} /W [1 4 2] /Root {catalog_id} 0 R "
         f"/Length {len(xref_payload)} /Filter /FlateDecode >>\nstream\n").encode()
        + xref_payload + b"\nendstream\nendobj\n"
    )
    out.append(f"startxref\n{xref_pos}\n%%EOF\n".encode())
    return b"".join(out)


def build_pdf_type0(pages: Sequence[PageLines]) -> bytes:
    """Composite-font variant: every character is shown as a 2-byte code
    (sequential CIDs starting at 1 — deliberately ≠ the Unicode codepoint)
    through an Identity-H Type0 font whose /ToUnicode CMap recovers the
    text. Handles any Unicode text, e.g. Cyrillic."""
    charset = sorted({ch for lines in pages for text, _ in lines for ch in text})
    code_of = {ch: i + 1 for i, ch in enumerate(charset)}

    def cmap_stream() -> bytes:
        parts = [
            "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
            "/CMapName /TestToUnicode def\n/CMapType 2 def\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        ]
        items = list(code_of.items())
        for i in range(0, len(items), 100):  # bfchar blocks cap at 100 entries
            chunk = items[i : i + 100]
            parts.append(f"{len(chunk)} beginbfchar\n")
            for ch, code in chunk:
                dst = ch.encode("utf-16-be").hex().upper()
                parts.append(f"<{code:04X}> <{dst}>\n")
            parts.append("endbfchar\n")
        parts.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
        return "".join(parts).encode("ascii")

    objects: List[bytes] = []

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    cmap = cmap_stream()
    tounicode_id = add(f"<< /Length {len(cmap)} >>\nstream\n".encode() + cmap + b"\nendstream")
    desc_reg = add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /TestUni "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> >>"
    )
    desc_bold = add(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /TestUni-Bold "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> >>"
    )
    font_regular = add(
        (f"<< /Type /Font /Subtype /Type0 /BaseFont /TestUni /Encoding /Identity-H "
         f"/DescendantFonts [{desc_reg} 0 R] /ToUnicode {tounicode_id} 0 R >>").encode()
    )
    font_bold = add(
        (f"<< /Type /Font /Subtype /Type0 /BaseFont /TestUni-Bold /Encoding /Identity-H "
         f"/DescendantFonts [{desc_bold} 0 R] /ToUnicode {tounicode_id} 0 R >>").encode()
    )

    page_obj_ids: List[int] = []
    content_ids: List[int] = []
    for lines in pages:
        ops = ["BT", "/F1 12 Tf", "1 0 0 1 72 760 Tm", "20 TL"]
        for i, (text, bold) in enumerate(lines):
            ops.append("/F2 12 Tf" if bold else "/F1 12 Tf")
            if i > 0:
                ops.append("T*")
            hexcodes = "".join(f"{code_of[ch]:04X}" for ch in text)
            ops.append(f"<{hexcodes}> Tj")
        ops.append("ET")
        stream = "\n".join(ops)
        content_ids.append(add(f"<< /Length {len(stream)} >>\nstream\n{stream}\nendstream".encode()))

    pages_id_placeholder = len(objects) + len(pages) + 1
    for content_id in content_ids:
        page_obj_ids.append(
            add(
                (f"<< /Type /Page /Parent {pages_id_placeholder} 0 R /MediaBox [0 0 612 792] "
                 f"/Resources << /Font << /F1 {font_regular} 0 R /F2 {font_bold} 0 R >> >> "
                 f"/Contents {content_id} 0 R >>").encode()
            )
        )
    kids = " ".join(f"{pid} 0 R" for pid in page_obj_ids)
    pages_id = add(f"<< /Type /Pages /Kids [{kids}] /Count {len(page_obj_ids)} >>".encode())
    assert pages_id == pages_id_placeholder
    catalog_id = add(f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode())

    out: List[bytes] = [b"%PDF-1.6\n"]
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(sum(len(b) for b in out))
        out.append(f"{i} 0 obj\n".encode() + obj + b"\nendobj\n")
    xref_pos = sum(len(b) for b in out)
    xref = [f"xref\n0 {len(objects) + 1}\n0000000000 65535 f \n"]
    for off in offsets[1:]:
        xref.append(f"{off:010d} 00000 n \n")
    out.append("".join(xref).encode())
    out.append(
        f"trailer\n<< /Size {len(objects) + 1} /Root {catalog_id} 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return b"".join(out)


def example_pdf(n_pages: int = 3, with_header_footer: bool = True) -> bytes:
    """Multi-page fixture with repeated header/footer (digit-varying page
    numbers) around per-page body lines — drives the voting path."""
    # body lines must differ by WORDS, not digits: digit masking ('\d+'→'@')
    # folds digit-only differences into one pattern by design
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
    pages: List[List[Tuple[str, bool]]] = []
    for p in range(n_pages):
        lines: List[Tuple[str, bool]] = []
        if with_header_footer:
            lines.append(("ACME Corp confidential report", False))
        lines.append((f"Section {p + 1}", True))
        for i in range(6):
            w1 = words[(p * 6 + i) % len(words)]
            w2 = words[(p * 3 + i * 5 + 7) % len(words)]
            lines.append((f"body {w1} paragraph about {w2} here", False))
        if with_header_footer:
            lines.append((f"- {p + 1} -", False))
        pages.append(lines)
    return build_pdf(pages)


def build_scanned_pdf(page_rasters, image_filter: str = "flate") -> bytes:
    """A scanned PDF: each page is ONE full-page /Image XObject carrying a
    real grayscale raster and NO text layer — the input shape
    PdfImageReader exists for. ``page_rasters``: list of HxW uint8 numpy
    arrays (e.g. scanfont.render_scan_page).

    ``image_filter`` picks the stream encoding (all read through the
    core/pdf_objects filter cascade, then the image codec dispatch in
    core/ocr._decode_image_object): "flate" (8 bpc /DeviceGray, the
    default), "ccitt" (1-bit /CCITTFaxDecode K=-1 Group 4 — the codec
    real-world scanned PDFs use; the raster is binarized at 128),
    "ccitt_g3" (K=0 pure 1-D MH), "ccitt_g3_2d" (K=4 mixed with
    /EncodedByteAlign), "jbig2" (/JBIG2Decode embedded stream, MQ
    arithmetic generic region), "jbig2_mmr" (generic region with MMR
    body), "jbig2_sym" (symbol dictionary in a separate /JBIG2Globals
    object + text region), "lzw" (/LZWDecode 8 bpc) or "runlength"
    (/RunLengthDecode 8 bpc)."""
    import numpy as np

    objects: List[bytes] = []

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    image_ids = []
    for raster in page_rasters:
        arr = np.ascontiguousarray(np.asarray(raster, dtype=np.uint8))
        if arr.ndim == 3:
            arr = arr[..., :3].mean(axis=2).astype(np.uint8)
        h, w = arr.shape
        if image_filter in ("jbig2", "jbig2_mmr"):
            from dedoc_spark.core.jbig2 import encode_embedded

            bits = (arr < 128).astype(np.uint8)  # 1 = black
            data = encode_embedded(bits, mmr=image_filter == "jbig2_mmr")
            head = (
                f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace /DeviceGray /BitsPerComponent 1 "
                f"/Filter /JBIG2Decode "
                f"/Length {len(data)} >>"
            ).encode("latin-1")
        elif image_filter == "jbig2_sym":
            # symbol-dictionary + text-region coding (the mode jbig2enc
            # emits for text pages), with the dictionary in a SEPARATE
            # /JBIG2Globals stream object — the shared-dictionary shape
            # real PDF writers produce. Lossless: every non-blank 16x16
            # tile is a symbol, duplicates dedup into one glyph.
            from dedoc_spark.core.jbig2 import encode_symbol_text

            bits = (arr < 128).astype(np.uint8)
            ts = 16
            glyphs, gid_of, placements = [], {}, []
            for ty in range(0, h, ts):
                for tx in range(0, w, ts):
                    tile = bits[ty : ty + ts, tx : tx + ts]
                    if not tile.any():
                        continue
                    key = (tile.shape, tile.tobytes())
                    g = gid_of.get(key)
                    if g is None:
                        g = gid_of[key] = len(glyphs)
                        glyphs.append(np.ascontiguousarray(tile))
                    placements.append((g, tx, ty))
            if not placements:
                # all-white page: one blank glyph placed once keeps the
                # symbol-coded stream valid (encode_symbol_text needs at
                # least one placement; OR with a blank tile is identity)
                glyphs.append(np.zeros((1, 1), np.uint8))
                placements.append((0, 0, 0))
            sd_seg, data = encode_symbol_text(glyphs, placements, w, h, parts=True)
            gid = add(
                f"<< /Length {len(sd_seg)} >>".encode("latin-1")
                + b"\nstream\n" + sd_seg + b"\nendstream"
            )
            head = (
                f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace /DeviceGray /BitsPerComponent 1 "
                f"/Filter /JBIG2Decode "
                f"/DecodeParms << /JBIG2Globals {gid} 0 R >> "
                f"/Length {len(data)} >>"
            ).encode("latin-1")
        elif image_filter in ("ccitt", "ccitt_g3", "ccitt_g3_2d"):
            from dedoc_spark.core.ccitt import encode_g3, encode_g4

            if image_filter == "ccitt":
                data, parms = encode_g4(arr), f"/K -1 /Columns {w} /Rows {h}"
            elif image_filter == "ccitt_g3":
                data, parms = encode_g3(arr), f"/K 0 /Columns {w} /Rows {h}"
            else:
                data = encode_g3(arr, k=4, byte_align=True)
                parms = f"/K 4 /Columns {w} /Rows {h} /EncodedByteAlign true"
            head = (
                f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace /DeviceGray /BitsPerComponent 1 "
                f"/Filter /CCITTFaxDecode "
                f"/DecodeParms << {parms} >> "
                f"/Length {len(data)} >>"
            ).encode("latin-1")
        else:
            parms = ""
            if image_filter == "flate":
                data = zlib.compress(arr.tobytes())
                fname = "FlateDecode"
            elif image_filter == "flate_png_predictor":
                # PNG Up predictor (12): per-row filter byte 2 + row-prev
                import numpy as _np

                diff = arr.astype(_np.int16)
                diff[1:] -= arr[:-1].astype(_np.int16)
                rows = _np.concatenate(
                    [_np.full((h, 1), 2, dtype=_np.uint8),
                     (diff % 256).astype(_np.uint8)], axis=1
                )
                data = zlib.compress(rows.tobytes())
                fname = "FlateDecode"
                parms = (
                    f"/DecodeParms << /Predictor 12 /Colors 1 "
                    f"/BitsPerComponent 8 /Columns {w} >> "
                )
            elif image_filter == "flate_tiff_predictor":
                import numpy as _np

                diff = arr.astype(_np.int16)
                diff[:, 1:] -= arr[:, :-1].astype(_np.int16)
                data = zlib.compress((diff % 256).astype(_np.uint8).tobytes())
                fname = "FlateDecode"
                parms = (
                    f"/DecodeParms << /Predictor 2 /Colors 1 "
                    f"/BitsPerComponent 8 /Columns {w} >> "
                )
            elif image_filter == "lzw":
                from dedoc_spark.core.pdf_filters import lzw_encode

                data = lzw_encode(arr.tobytes())
                fname = "LZWDecode"
            elif image_filter == "runlength":
                from dedoc_spark.core.pdf_filters import runlength_encode

                data = runlength_encode(arr.tobytes())
                fname = "RunLengthDecode"
            else:
                raise ValueError(f"unknown image_filter {image_filter!r}")
            head = (
                f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                f"{parms}/Filter /{fname} /Length {len(data)} >>"
            ).encode("latin-1")
        # the direct /Length frames the stream exactly, so payloads ending
        # in EOL bytes (flate output does ~1/128 of the time) are safe
        image_ids.append(add(head + b"\nstream\n" + data + b"\nendstream"))

    page_obj_ids: List[int] = []
    content_ids: List[int] = []
    for raster in page_rasters:
        arr = np.asarray(raster)
        h, w = arr.shape[:2]
        stream = f"q {w:d} 0 0 {h:d} 0 {792 - h:d} cm /Im1 Do Q"
        content_ids.append(
            add(f"<< /Length {len(stream)} >>\nstream\n{stream}\nendstream".encode("latin-1"))
        )

    pages_id_placeholder = len(objects) + len(page_rasters) + 1
    for img_id, content_id in zip(image_ids, content_ids):
        page_obj_ids.append(
            add(
                (
                    f"<< /Type /Page /Parent {pages_id_placeholder} 0 R "
                    f"/MediaBox [0 0 612 792] "
                    f"/Resources << /XObject << /Im1 {img_id} 0 R >> >> "
                    f"/Contents {content_id} 0 R >>"
                ).encode("latin-1")
            )
        )
    kids = " ".join(f"{pid} 0 R" for pid in page_obj_ids)
    pages_id = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_obj_ids)} >>".encode("latin-1")
    )
    assert pages_id == pages_id_placeholder
    catalog_id = add(f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode("latin-1"))

    out: List[bytes] = [b"%PDF-1.4\n"]
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(sum(len(b) for b in out))
        out.append(f"{i} 0 obj\n".encode() + obj + b"\nendobj\n")
    xref_pos = sum(len(b) for b in out)
    xref = [f"xref\n0 {len(objects) + 1}\n0000000000 65535 f \n"]
    for off in offsets[1:]:
        xref.append(f"{off:010d} 00000 n \n")
    out.append("".join(xref).encode())
    out.append(
        f"trailer\n<< /Size {len(objects) + 1} /Root {catalog_id} 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return b"".join(out)


# The scanned documents of the OCR gates (plans/driver_queries q67/q68),
# built here once for the gates, scripts/profile_ocr_doc.py and
# scripts/ocr_sweep.py, with the params the gates extract them with.

SCAN_CODECS = (
    "flate", "ccitt", "ccitt_g3", "lzw",
    "runlength", "jbig2", "jbig2_mmr", "jbig2_sym",
)
Q67_PARAMS = {"pdf_with_text_layer": "false", "need_pdf_table_analysis": True}
Q68_PARAMS = {"pdf_with_text_layer": "false"}


def q67_scan_pdf(did: int, source: str, lang: str) -> bytes:
    """Three procedural-font pages: "Doc {did} scan" upright,
    "{source} {lang}" rotated 180°, and a ruled 2×2 table
    [["id", did], [source, lang]] under the body line "page three body".
    The raster codec rotates with ``did`` over SCAN_CODECS (CCITT G4/G3,
    LZW, RunLength and the three JBIG2 codings must recognize exactly
    like Flate: the closed form is codec-invariant)."""
    from dedoc_spark.core.scanfont import render_scan_page, render_table_page

    pages = [
        render_scan_page([f"Doc {did} scan"], scale=2),
        render_scan_page([f"{source} {lang}"], scale=2, rotate=180),
        render_table_page(
            [["id", str(did)], [source, lang]], scale=2, body_lines=["page three body"]
        ),
    ]
    return build_scanned_pdf(pages, image_filter=SCAN_CODECS[did % len(SCAN_CODECS)])


def q68_lines(did: int) -> List[str]:
    """Three lines of three id-derived 4-digit groups. A group of four
    '3's carries no distinctive glyph for the word's script vote (З and
    3 are pixel-twins in DejaVu), so 3333 is remapped to 3334."""

    def group(row: int, i: int) -> str:
        v = (did * 7919 + row * 104729 + i * 15485863) % 10000
        return str(3334 if v == 3333 else v).zfill(4)

    return [" ".join(group(row, i) for i in range(3)) for row in range(3)]


def q68_scan_pdf(did: int) -> bytes:
    """One page of q68_lines in real anti-aliased type (DejaVu Sans 40 px
    through FreeType), Flate-coded."""
    from dedoc_spark.core.ftrender import render_text_page

    return build_scanned_pdf([render_text_page(q68_lines(did), face="sans", px=40)])


def encrypt_pdf(
    payload: bytes,
    method: str = "aesv2",
    user_password: bytes = b"",
    owner_password: bytes = b"fixture-owner",
    info: Optional[Dict[str, str]] = None,
) -> bytes:
    """Encrypt a classic-xref fixture PDF (build_pdf output) with the
    standard security handler — the fixture-side counterpart of
    core/pdf_crypt so the decryptor round-trips without external
    encrypted samples. ``method``: "rc4" (V2/R3 128-bit), "aesv2"
    (V4/R4 AES-128) or "aesv3" (V5/R6 AES-256). ``info`` adds an /Info
    dictionary whose strings get encrypted (string-decryption
    coverage). Deterministic: IVs and the file /ID derive from content
    hashes, the AES-256 file key from the owner password bytes."""
    import hashlib
    import re as _re
    import struct

    from dedoc_spark.core.pdf_crypt import (
        _PAD,
        _compute_key_r234,
        _hash_r6,
        aes_cbc_encrypt,
        rc4,
    )

    p = -1324
    id0 = hashlib.md5(payload).digest()

    # split the incoming fixture into objects (classic layout only)
    body = []
    for m in _re.finditer(rb"(\d+)\s+0\s+obj\b(.*?)endobj", payload, _re.S):
        body.append((int(m.group(1)), m.group(2)))
    next_oid = max(o for o, _ in body) + 1
    root = _re.search(rb"/Root\s+(\d+)\s+0\s+R", payload).group(1).decode()

    if info:
        fields = " ".join(f"/{k} ({v})" for k, v in info.items())
        body.append((next_oid, f"\n<< {fields} >>\n".encode("latin-1")))
        info_oid = next_oid
        next_oid += 1

    if method == "rc4":
        v, r, length, cfm_extra = 2, 3, 128, b""
    elif method == "aesv2":
        v, r, length = 4, 4, 128
        cfm_extra = (
            b"/CF << /StdCF << /AuthEvent /DocOpen /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF "
        )
    elif method == "aesv3":
        v, r, length = 5, 6, 256
        cfm_extra = (
            b"/CF << /StdCF << /AuthEvent /DocOpen /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF "
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    if method in ("rc4", "aesv2"):
        # Algorithm 3: O from the owner password
        ok = hashlib.md5((owner_password + _PAD)[:32]).digest()
        for _ in range(50):
            ok = hashlib.md5(ok[: length // 8]).digest()
        ok = ok[: length // 8]
        o_entry = rc4(ok, (user_password + _PAD)[:32])
        for i in range(1, 20):
            o_entry = rc4(bytes(b ^ i for b in ok), o_entry)
        key = _compute_key_r234(user_password, o_entry, p, id0, r, length // 8, True)
        # Algorithm 5: U
        u_entry = rc4(key, hashlib.md5(_PAD + id0).digest())
        for i in range(1, 20):
            u_entry = rc4(bytes(b ^ i for b in key), u_entry)
        u_entry += b"\x00" * 16
        extra_entries = b""
    else:
        key = hashlib.sha256(b"filekey" + owner_password).digest()
        vsalt = hashlib.md5(b"vs" + id0).digest()[:8]
        ksalt = hashlib.md5(b"ks" + id0).digest()[:8]
        u_entry = _hash_r6(user_password, vsalt, b"") + vsalt + ksalt
        ikey = _hash_r6(user_password, ksalt, b"")
        ue = aes_cbc_encrypt(ikey, b"\x00" * 16, key)
        # owner entries are dummies: empty-user-password opening reads /U + /UE
        extra_entries = (
            b"/UE (" + _esc_bytes(ue) + b") /OE (" + _esc_bytes(b"\x00" * 32) + b") "
        )
        o_entry = b"\x00" * 48

    def obj_key(oid: int) -> bytes:
        if v >= 5:
            return key
        ext = struct.pack("<i", oid)[:3] + b"\x00\x00"
        salt = b"sAlT" if method == "aesv2" else b""
        k = hashlib.md5(key + ext + salt).digest()
        return k[: min(len(key) + 5, 16)]

    def enc_bytes(oid: int, pt: bytes) -> bytes:
        if method == "rc4":
            return rc4(obj_key(oid), pt)
        pad = 16 - len(pt) % 16
        iv = hashlib.md5(b"iv" + str(oid).encode() + pt[:8]).digest()
        return iv + aes_cbc_encrypt(obj_key(oid), iv, pt + bytes([pad]) * pad)

    out_objs: List[Tuple[int, bytes]] = []
    for oid, ob in body:
        sm = _re.search(rb"stream\r?\n", ob)
        if sm and b"/XRef" in ob[: sm.start()]:
            out_objs.append((oid, ob))  # xref streams are never encrypted
            continue
        if sm:
            head = ob[: sm.start()]
            end = ob.rfind(b"endstream")
            raw = ob[sm.end() : end]
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith((b"\n", b"\r")):
                raw = raw[:-1]
            ct = enc_bytes(oid, raw)
            head = _re.sub(
                rb"/Length\s+\d+", b"/Length " + str(len(ct)).encode(), head, count=1
            )
            out_objs.append((oid, head + b"stream\r\n" + ct + b"\r\nendstream"))
            continue
        # encrypt literal strings -> hex form
        def enc_str(m: "_re.Match[bytes]") -> bytes:
            pt = m.group(1)
            return b"<" + enc_bytes(oid, pt).hex().encode("ascii") + b">"

        out_objs.append((oid, _re.sub(rb"\(((?:\\.|[^\\)])*)\)", enc_str, ob)))

    enc_oid = next_oid
    enc_dict = (
        b"\n<< /Filter /Standard " + cfm_extra
        + f"/V {v} /R {r} /Length {length} /P {p} ".encode()
        + b"/O (" + _esc_bytes(o_entry) + b") /U (" + _esc_bytes(u_entry) + b") "
        + extra_entries + b">>\n"
    )
    out_objs.append((enc_oid, enc_dict))

    out: List[bytes] = [b"%PDF-1.6\n"]
    offsets: Dict[int, int] = {}
    for oid, ob in out_objs:
        offsets[oid] = sum(len(b) for b in out)
        out.append(f"{oid} 0 obj".encode() + ob + b"\nendobj\n")
    xref_pos = sum(len(b) for b in out)
    nobj = max(offsets) + 1
    xref = [f"xref\n0 {nobj}\n0000000000 65535 f \n"]
    for oid in range(1, nobj):
        xref.append(f"{offsets.get(oid, 0):010d} 00000 n \n")
    out.append("".join(xref).encode())
    idhex = id0.hex().upper().encode()
    info_entry = f"/Info {info_oid} 0 R ".encode() if info else b""
    out.append(
        f"trailer\n<< /Size {nobj} /Root {root} 0 R /Encrypt {enc_oid} 0 R ".encode()
        + info_entry
        + b"/ID [<" + idhex + b"> <" + idhex + b">] >>\n"
        + f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return b"".join(out)


def _esc_bytes(raw: bytes) -> bytes:
    """Escape arbitrary bytes for a PDF literal string."""
    out = bytearray()
    for b in raw:
        if b in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += bytes([0x5C, b])
        elif b == 0x0D:
            out += b"\\r"
        else:
            out.append(b)
    return bytes(out)
