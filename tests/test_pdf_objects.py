"""The PDF object layer (core/pdf_objects): one parse per document, one
page walk, one filter cascade, one trailer rule, and no stream framing
anywhere else under core/."""

from pathlib import Path

import pytest

from dedoc_spark.core import pdf_objects
from dedoc_spark.core.document import extract_document
from dedoc_spark.core.metadata import extract_pdf_metadata
from dedoc_spark.core.model import select_pages
from dedoc_spark.core.ocr import extract_pdf_page_images
from dedoc_spark.core.pdf_extract import extract_pdf_pages
from dedoc_spark.core.pdf_objects import parse_pdf

CORE = Path(__file__).resolve().parent.parent / "dedoc_spark" / "core"


def _pdf(objects, trailer: bytes) -> bytes:
    """Objects {id: body} written in the given order, then ``trailer``."""
    out = [b"%PDF-1.4\n"]
    for oid, body in objects.items():
        out.append(f"{oid} 0 obj\n".encode() + body + b"\nendobj\n")
    out.append(b"trailer\n<< " + trailer + b" >>\nstartxref\n0\n%%EOF\n")
    return b"".join(out)


def _stream(head: str, data: bytes) -> bytes:
    return f"<< {head} /Length {len(data)} >>".encode() + b"\nstream\n" + data + b"\nendstream"


def test_only_pdf_objects_frames_streams():
    offenders = []
    for path in sorted(CORE.rglob("*.py")):
        if path.name == "pdf_objects.py":
            continue
        for no, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            if "endstream" in line or "endobj" in line:
                offenders.append(f"{path.relative_to(CORE).as_posix()}:{no}")
    assert offenders == []


def _gray(value: int) -> bytes:
    return _stream("/Type /XObject /Subtype /Image /Width 1 /Height 1 /ColorSpace /DeviceGray /BitsPerComponent 8", bytes([value]))


def _page(parent: int, image: int, content: int) -> bytes:
    return (
        f"<< /Type /Page /Parent {parent} 0 R /MediaBox [0 0 612 792] "
        f"/Resources << /XObject << /Im1 {image} 0 R >> >> /Contents {content} 0 R >>"
    ).encode()


def test_nested_page_tree_keeps_document_order():
    """The inner /Pages node (id 1) has a lower id than the root (id 2):
    pages still come out in /Kids order, for rasters and text alike."""
    show = _stream("", b"q 1 0 0 1 0 0 cm /Im1 Do Q")
    pdf = _pdf(
        {
            1: b"<< /Type /Pages /Parent 2 0 R /Kids [5 0 R] /Count 1 >>",
            2: b"<< /Type /Pages /Kids [4 0 R 1 0 R] /Count 2 >>",
            3: b"<< /Type /Catalog /Pages 2 0 R >>",
            4: _page(2, 6, 8),
            5: _page(1, 7, 8),
            6: _gray(11),
            7: _gray(77),
            8: show,
        },
        b"/Size 9 /Root 3 0 R",
    )
    parsed = parse_pdf(pdf)
    assert parsed.pages == [4, 5]
    assert [int(imgs[0][0, 0]) for imgs in extract_pdf_page_images(parsed)] == [11, 77]


def test_page_tree_cycle_is_not_reentered():
    pdf = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R 2 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R >>",
        },
        b"/Size 4 /Root 1 0 R",
    )
    assert parse_pdf(pdf).pages == [3]


def _text_pdf(content_head: str, content: bytes) -> bytes:
    return _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
            4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
            5: _stream(content_head, content),
        },
        b"/Size 6 /Root 1 0 R",
    )


CONTENT = b"BT /F1 12 Tf 72 720 Td (Hello LZW world) Tj ET"


def _encoded(name: str):
    import zlib

    from dedoc_spark.core.pdf_filters import lzw_encode, runlength_encode

    if name == "lzw":
        return "/Filter /LZWDecode", lzw_encode(CONTENT)
    if name == "runlength":
        return "/Filter /RunLengthDecode", runlength_encode(CONTENT)
    # one row, each byte minus its left neighbour: TIFF predictor 2, or
    # PNG predictor 12 with the row's "Sub" filter byte (1) in front
    row = bytes([CONTENT[0]]) + bytes((b - a) % 256 for a, b in zip(CONTENT, CONTENT[1:]))
    predictor, data = (12, b"\x01" + row) if name == "flate_png_predictor" else (2, row)
    parms = f"/DecodeParms << /Predictor {predictor} /Colors 1 /BitsPerComponent 8 /Columns {len(CONTENT)} >>"
    return f"/Filter /FlateDecode {parms}", zlib.compress(data)


@pytest.mark.parametrize("name", ["lzw", "runlength", "flate_png_predictor", "flate_tiff_predictor"])
def test_text_layer_filters_decode_like_flate(name):
    import zlib

    flate = _text_pdf("/Filter /FlateDecode", zlib.compress(CONTENT))
    pdf = _text_pdf(*_encoded(name))
    assert extract_pdf_pages(parse_pdf(pdf)) == [[("Hello LZW world", False)]]
    assert extract_document("https://x/d.pdf", pdf, None) == extract_document("https://x/d.pdf", flate, None)


def test_unknown_content_filter_reads_nothing():
    pdf = _text_pdf("/Filter /ASCII85Decode", b"87cURD]i,\"Ebo80~>")
    assert extract_pdf_pages(parse_pdf(pdf)) == [[]]


@pytest.mark.parametrize(
    "page_resources, pages_resources",
    [
        (b"/Resources << /Font << /F1 4 0 R >> >>", b""),
        (b"/Resources << /Font 6 0 R >>", b""),
        (b"/Resources 7 0 R", b""),
        (b"", b"/Resources << /Font 6 0 R >>"),
    ],
    ids=["inline", "indirect_font", "indirect_resources", "inherited_indirect_font"],
)
def test_page_fonts_resolve_in_every_resource_shape(page_resources, pages_resources):
    """The bold font is found whether /Font is inline, an indirect
    dictionary inside inline /Resources, inside an indirect /Resources, or
    inherited from the /Pages node."""
    pdf = _pdf(
        {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 " + pages_resources + b" >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " + page_resources + b" /Contents 5 0 R >>",
            4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>",
            5: _stream("", b"BT /F1 12 Tf 72 720 Td (Bold line) Tj ET"),
            6: b"<< /F1 4 0 R >>",
            7: b"<< /Font 6 0 R >>",
        },
        b"/Size 8 /Root 1 0 R",
    )
    assert extract_pdf_pages(parse_pdf(pdf)) == [[("Bold line", True)]]


def test_inherited_lookup_stops_on_a_parent_cycle():
    objects = {
        2: b"<< /Type /Pages /Parent 8 0 R >>",
        3: b"<< /Type /Page /Parent 2 0 R >>",
        8: b"<< /Type /Pages /Parent 2 0 R /MediaBox [0 0 100 200] >>",
    }
    assert pdf_objects.inherited(objects, 3, b"/MediaBox") == b"[0 0 100 200]"
    assert pdf_objects.inherited(objects, 3, b"/Font") is None


def test_info_lookup_uses_trailer_reference_and_exact_id():
    """``2 0 obj`` is also a suffix of ``12 0 obj``; object 12 comes first
    and a stray /Info reference precedes the trailer's."""
    pdf = _pdf(
        {
            12: b"<< /Title (WRONG-12) >>",
            1: b"<< /Type /Catalog /Note (/Info 12 0 R) >>",
            2: b"<< /Title (RIGHT-2) >>",
        },
        b"/Size 13 /Root 1 0 R /Info 2 0 R",
    )
    assert extract_pdf_metadata(pdf) == {"title": "RIGHT-2"}


def test_info_lookup_takes_newest_object_version():
    base = _pdf({1: b"<< /Type /Catalog >>", 2: b"<< /Title (old) >>"}, b"/Size 3 /Root 1 0 R /Info 2 0 R")
    update = b"2 0 obj\n<< /Title (new) >>\nendobj\ntrailer\n<< /Size 3 /Root 1 0 R /Info 2 0 R >>\n"
    assert extract_pdf_metadata(base + update) == {"title": "new"}


def _scan(n_pages: int = 1) -> bytes:
    from dedoc_spark.core.scanfont import render_scan_page
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    return build_scanned_pdf([render_scan_page([f"Scan {i} line"], scale=2) for i in range(n_pages)])


@pytest.mark.parametrize(
    "params",
    [None, {"pdf_with_text_layer": "false"}, {"pdf_with_text_layer": "true"}, {"pages": "2:"}],
)
def test_pdf_parsed_once_per_document(monkeypatch, params):
    calls = []
    scan = pdf_objects._scan_objects
    monkeypatch.setattr(pdf_objects, "_scan_objects", lambda data: calls.append(1) or scan(data))
    row = extract_document("https://x/scan.pdf", _scan(2), None, params=params)
    assert row["error"] is None
    assert len(calls) == 1


def test_encrypted_pdf_derives_key_once(monkeypatch):
    from dedoc_spark.core import pdf_crypt
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    calls = []
    build = pdf_crypt.build_decryptor
    monkeypatch.setattr(pdf_crypt, "build_decryptor", lambda *a: calls.append(1) or build(*a))
    enc = encrypt_pdf(build_pdf([[("Locked body line", False)]]), method="aesv3")
    assert "Locked body line" in extract_document("https://x/e.pdf", enc, None)["text_extracted"]
    assert len(calls) == 1
    locked = encrypt_pdf(build_pdf([[("Locked body line", False)]]), user_password=b"x")
    assert extract_document("https://x/l.pdf", locked, None)["error"] == "needs_password:pdf"
    assert len(calls) == 2


def test_select_pages():
    pages = ["a", "b", "c"]
    assert select_pages(pages, None) == (pages, [])
    assert select_pages(pages, "1:3") == (pages, [])
    assert select_pages(pages, "2:") == (["b", "c"], ["The document is partially parsed"])
    assert select_pages(pages, ":1") == (["a"], ["The document is partially parsed"])


def test_stream_parts_framing():
    data = b"ab\r\n"  # a payload that ends in EOL bytes keeps them
    direct = b"<< /Length 4 >>\nstream\n" + data + b"\nendstream"
    assert pdf_objects.stream_parts(direct) == (b"<< /Length 4 >>\n", data)
    indirect = b"<< /Length 9 0 R >>\nstream\nab\r\nendstream"
    assert pdf_objects.stream_parts(indirect) == (b"<< /Length 9 0 R >>\n", b"ab")
