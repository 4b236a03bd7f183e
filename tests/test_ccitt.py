"""CCITT Group 4 codec + legacy PDF stream filters (LZW / RunLength).

The decoder side is the product (core/ocr.extract_pdf_page_images feeds
the PdfImageReader path — pdf_base_reader.py:227-256 in the reference
rasterizes via poppler); the encoders exist only to build deterministic
fixtures for these round-trips.
"""


import numpy as np
import pytest

from dedoc_spark.core.ccitt import (
    CcittError,
    decode_g3,
    decode_g4,
    encode_g3,
    encode_g4,
)
from dedoc_spark.core.pdf_filters import (
    PdfFilterError,
    lzw_decode,
    lzw_encode,
    runlength_decode,
    runlength_encode,
)
from dedoc_spark.core.pdf_objects import parse_pdf, stream_parts


# ---------------------------------------------------------------------------
# G4 round-trips


@pytest.mark.parametrize("width", [1, 7, 8, 63, 64, 65, 200])
def test_g4_roundtrip_random(width):
    rng = np.random.default_rng(width)
    img = np.where(rng.random((17, width)) < 0.3, np.uint8(0), np.uint8(255))
    out = decode_g4(encode_g4(img), width, rows=17)
    assert out.shape == img.shape
    assert np.array_equal(out, img)


def test_g4_roundtrip_structured():
    """Patterns that force each 2-D mode: vertical (edges drifting ±1),
    pass (short black islands vanishing), horizontal (runs jumping > 3)."""
    img = np.full((12, 90), 255, dtype=np.uint8)
    for y in range(12):
        img[y, 10 + y : 30 + y] = 0  # drifting edge -> V codes
        if y % 3 == 0:
            img[y, 50:54] = 0  # appearing/vanishing island -> pass
        img[y, (y * 17) % 60 + 20 : (y * 17) % 60 + 25] = 0  # jumps -> H
    out = decode_g4(encode_g4(img), 90, rows=12)
    assert np.array_equal(out, img)


def test_g4_roundtrip_extremes():
    all_white = np.full((5, 40), 255, dtype=np.uint8)
    all_black = np.zeros((5, 40), dtype=np.uint8)
    for img in (all_white, all_black):
        assert np.array_equal(decode_g4(encode_g4(img), 40, rows=5), img)
    # long runs exercise make-up codes incl. the extended >1728 table
    wide = np.full((3, 3000), 255, dtype=np.uint8)
    wide[1, 100:2900] = 0
    assert np.array_equal(decode_g4(encode_g4(wide), 3000, rows=3), wide)


def test_g4_roundtrip_rendered_page():
    from dedoc_spark.core import scanfont

    page = scanfont.render_scan_page(["Group four codec line"], scale=2)
    img = np.where(page < 128, np.uint8(0), np.uint8(255))
    out = decode_g4(encode_g4(img), img.shape[1], rows=img.shape[0])
    assert np.array_equal(out, img)


def test_g4_eofb_terminates_without_rows():
    img = np.where(np.indices((9, 50)).sum(axis=0) % 7 < 2, np.uint8(0), np.uint8(255))
    out = decode_g4(encode_g4(img), 50)  # rows=None -> stop at EOFB
    assert np.array_equal(out, img)


@pytest.mark.parametrize("k,byte_align", [(0, False), (0, True), (4, False), (4, True), (1, False)])
def test_g3_roundtrip(k, byte_align):
    rng = np.random.default_rng(100 + k + 10 * byte_align)
    img = np.where(rng.random((15, 73)) < 0.3, np.uint8(0), np.uint8(255))
    coded = encode_g3(img, k=k, byte_align=byte_align)
    out = decode_g3(coded, 73, rows=15, k=k, byte_align=byte_align)
    assert np.array_equal(out, img)
    if k > 0:
        # rows=None must stop at the RTC terminator, not read padding
        out2 = decode_g3(coded, 73, k=k, byte_align=byte_align)
        assert np.array_equal(out2, img)


def test_g3_1d_rows_none_stops_at_padding():
    img = np.where(np.indices((8, 40)).sum(axis=0) % 5 < 2, np.uint8(0), np.uint8(255))
    out = decode_g3(encode_g3(img), 40)
    assert np.array_equal(out, img)


def test_g3_optional_eols_tolerated():
    """K=0 streams written with EndOfLine=true carry EOLs between rows —
    the decoder consumes them transparently."""
    from dedoc_spark.core.ccitt import _BitWriter, _all_transitions, _encode_1d_row

    img = np.full((4, 30), 255, dtype=np.uint8)
    img[1, 5:20] = 0
    img[3, 0:30] = 0
    w = _BitWriter()
    for y in range(4):
        w.write(0b000000000001, 12)  # EOL before every row
        _encode_1d_row(w, _all_transitions(img)[y], 30)
    out = decode_g3(w.bytes(), 30, rows=4)
    assert np.array_equal(out, img)


def test_g4_corrupt_stream_raises():
    with pytest.raises(CcittError):
        # 0000000 prefix is no valid mode code and no EOL
        decode_g4(b"\x00\x00\x00\x00", 100, rows=4)


def test_g4_reference_scan_decodes(reference_file):
    """The reference corpus's laws/with_applications.pdf stores its pages
    as /CCITTFaxDecode K=-1 images (2475x3555 and up) — the canonical
    real-world scanned-PDF shape. All 4 pages must decode at full size
    with a document-like ink fraction."""
    from dedoc_spark.core.ocr import extract_pdf_page_images

    payload = reference_file("laws/with_applications.pdf").read_bytes()
    pages = extract_pdf_page_images(parse_pdf(payload))
    assert [len(p) for p in pages] == [1, 1, 1, 1]
    for imgs in pages:
        img = imgs[0]
        assert img.shape[1] >= 2475 and img.shape[0] >= 3555
        ink = float((img < 128).mean())
        assert 0.01 < ink < 0.5


# ---------------------------------------------------------------------------
# LZW / RunLength


def test_lzw_spec_vector():
    """PDF 32000-1:2008 §7.4.2.2's worked example (decimal bytes)."""
    plain = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    coded = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert lzw_decode(coded) == plain
    assert lzw_encode(plain) == coded


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_lzw_roundtrip(seed):
    rng = np.random.default_rng(seed)
    # low-entropy bytes force table growth through width bumps (9->12)
    data = rng.integers(0, 4, size=20000, dtype=np.uint8).tobytes()
    assert lzw_decode(lzw_encode(data)) == data


def test_lzw_invalid_code_raises():
    with pytest.raises(PdfFilterError):
        # first real code references a table entry that cannot exist yet
        lzw_decode(bytes([0x80, 0x60, 0x00]))  # Clear, then code 384


def test_runlength_roundtrip():
    rng = np.random.default_rng(7)
    runs = []
    for _ in range(200):
        runs.append(bytes([int(rng.integers(0, 256))]) * int(rng.integers(1, 200)))
    data = b"".join(runs)
    coded = runlength_encode(data)
    assert runlength_decode(coded) == data
    assert coded.endswith(b"\x80")  # EOD
    # bytes after EOD are ignored
    assert runlength_decode(coded + b"\xff\xff") == data


def test_runlength_truncated_raises():
    with pytest.raises(PdfFilterError):
        runlength_decode(bytes([200]))  # repeat marker with no byte


# ---------------------------------------------------------------------------
# end-to-end: scanned PDFs carrying each encoding through the OCR route


@pytest.mark.parametrize(
    "image_filter",
    ["ccitt", "ccitt_g3", "ccitt_g3_2d", "lzw", "runlength",
     "jbig2", "jbig2_mmr", "jbig2_sym"],
)
def test_scanned_pdf_filter_variants(image_filter):
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    from dedoc_spark.core import scanfont

    raster = scanfont.render_scan_page(["Filter variant scan line"], scale=2)
    pdf = build_scanned_pdf([raster], image_filter=image_filter)
    d = extract_document(
        "scan.pdf", pdf, None, params={"pdf_with_text_layer": "false"}
    )
    assert d.get("error") is None
    assert "Filter variant scan line" in d["text_extracted"]


def test_scanned_pdf_unsupported_filter_skipped():
    """A filter with no decoder (JBIG2) is skipped: fewer images, never
    an exception (ocr._decode_image_object)."""
    from dedoc_spark.core.ocr import extract_pdf_page_images
    from dedoc_spark.core import scanfont
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = scanfont.render_scan_page(["Unsupported filter"], scale=2)
    pdf = build_scanned_pdf([raster], image_filter="ccitt")
    pdf_bad = pdf.replace(b"/CCITTFaxDecode", b"/JBIG2Decode   ", 1)  # same length
    assert extract_pdf_page_images(parse_pdf(pdf_bad)) == [[]]


def test_ccitt_pdf_bytes_deterministic():
    from dedoc_spark.core import scanfont
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = scanfont.render_scan_page(["stable bytes"], scale=2)
    assert build_scanned_pdf([raster], image_filter="ccitt") == build_scanned_pdf(
        [raster], image_filter="ccitt"
    )


@pytest.mark.parametrize(
    "image_filter", ["flate_png_predictor", "flate_tiff_predictor"]
)
def test_scanned_pdf_predictor_variants(image_filter):
    """Flate image streams with /DecodeParms /Predictor (PNG Up = 12,
    TIFF horizontal differencing = 2) — the common real-world flate
    image shape — must decode to the same pixels as plain flate."""
    from dedoc_spark.core import scanfont
    from dedoc_spark.core.ocr import extract_pdf_page_images
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = scanfont.render_scan_page(["Predictor variant line"], scale=2)
    plain = extract_pdf_page_images(parse_pdf(build_scanned_pdf([raster])))[0][0]
    pred = extract_pdf_page_images(
        parse_pdf(build_scanned_pdf([raster], image_filter=image_filter))
    )[0][0]
    assert np.array_equal(pred, plain)


def test_decode_array_inversion():
    """/Decode [1 0] flips the component range (white-on-black scans):
    an inverted raster with the inverted decode array reads back as the
    original pixels, for both 8-bpc gray and 1-bit bilevel."""
    from dedoc_spark.core import scanfont
    from dedoc_spark.core.ocr import extract_pdf_page_images
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = scanfont.render_scan_page(["Inverted scan line"], scale=2)
    plain = extract_pdf_page_images(parse_pdf(build_scanned_pdf([raster])))[0][0]
    inv_pdf = build_scanned_pdf([255 - raster]).replace(
        b"/BitsPerComponent 8 ", b"/BitsPerComponent 8 /Decode [1 0] ", 1
    )
    assert np.array_equal(extract_pdf_page_images(parse_pdf(inv_pdf))[0][0], plain)
    # 1-bit path: G4-encode the inverted page, flip back via /Decode
    bin_plain = np.where(raster < 128, np.uint8(0), np.uint8(255))
    ccitt_inv = build_scanned_pdf([255 - raster], image_filter="ccitt")
    # CCITT output ignores /Decode here; check the raw 1-bit branch instead
    stride = (raster.shape[1] + 7) // 8
    packed = np.packbits(bin_plain == 0, axis=1)[:, :stride]  # 1 = ink
    raw_pdf = build_scanned_pdf([raster])  # template for structure
    # hand-build a 1-bit object: reuse fixture then swap the image object
    import zlib as _z

    h, w = bin_plain.shape
    head = (
        f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
        f"/ColorSpace /DeviceGray /BitsPerComponent 1 /Decode [1 0] "
        f"/Filter /FlateDecode /Length "
    )
    data = _z.compress(packed.tobytes())
    from dedoc_spark.core.ocr import _decode_image_object

    obj = (head + f"{len(data)} >>").encode() + b"\nstream\n" + data + b"\nendstream"
    img = _decode_image_object(obj)
    # packed bits: 1 where ink; /Decode [1 0] maps 1 -> 0 (black)
    assert img is not None and np.array_equal(img, bin_plain)


def test_raw_stream_payload_ending_in_eol_bytes():
    """r6 review finding: a stream payload legitimately ending in EOL
    bytes must not be truncated — the direct /Length frames it exactly
    (the old endstream-scan stripped up to 2 trailing bytes)."""
    from dedoc_spark.core.ocr import _decode_image_object

    arr = np.full((6, 7), 200, np.uint8)
    arr[-1, -2:] = [0x0D, 0x0A]  # payload ends "\r\n"
    head = (
        "<< /Type /XObject /Subtype /Image /Width 7 /Height 6 "
        f"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length {arr.size} >>"
    ).encode()
    obj = head + b"\nstream\n" + arr.tobytes() + b"\nendstream"
    assert stream_parts(obj)[1] == arr.tobytes()
    img = _decode_image_object(obj)
    assert img is not None and np.array_equal(img, arr)


def test_flate_zlib_output_ending_in_eol_roundtrips():
    """End-to-end shape of the q67 silent-raster-loss bug: a flate image
    whose compressed bytes end in 0x0A/0x0D decodes fully."""
    import zlib as _z

    from dedoc_spark.core.ocr import _decode_image_object

    arr = None
    for v in range(4096):
        cand = (
            (np.arange(48, dtype=np.uint32) * (v + 7)) % 251
        ).astype(np.uint8).reshape(6, 8)
        if _z.compress(cand.tobytes()).endswith((b"\n", b"\r")):
            arr = cand
            break
    assert arr is not None, "no EOL-tailed zlib output found in 4096 tries"
    data = _z.compress(arr.tobytes())
    head = (
        "<< /Type /XObject /Subtype /Image /Width 8 /Height 6 "
        "/ColorSpace /DeviceGray /BitsPerComponent 8 "
        f"/Filter /FlateDecode /Length {len(data)} >>"
    ).encode()
    img = _decode_image_object(head + b"\nstream\n" + data + b"\nendstream")
    assert img is not None and np.array_equal(img, arr)


def test_ccitt_blackis1_and_decode_inversion():
    """r6 review finding: /BlackIs1 true makes black pixels 1-samples,
    which the default /Decode [0 1] displays WHITE (net inversion);
    /Decode [1 0] inverts again so the pair cancels."""
    from dedoc_spark.core.ccitt import encode_g4
    from dedoc_spark.core.ocr import _decode_image_object

    img0 = np.where(
        np.add.outer(np.arange(12), np.arange(40)) % 5 < 2, np.uint8(0), np.uint8(255)
    )
    data = encode_g4(img0)

    def decode(parms_extra="", dict_extra=""):
        head = (
            "<< /Type /XObject /Subtype /Image /Width 40 /Height 12 "
            "/ColorSpace /DeviceGray /BitsPerComponent 1 "
            f"/Filter /CCITTFaxDecode {dict_extra}"
            f"/DecodeParms << /K -1 /Columns 40 /Rows 12 {parms_extra}>> "
            f"/Length {len(data)} >>"
        ).encode()
        return _decode_image_object(head + b"\nstream\n" + data + b"\nendstream")

    assert np.array_equal(decode(), img0)
    assert np.array_equal(decode(parms_extra="/BlackIs1 true "), 255 - img0)
    assert np.array_equal(decode(dict_extra="/Decode [1 0] "), 255 - img0)
    assert np.array_equal(
        decode(parms_extra="/BlackIs1 true ", dict_extra="/Decode [1 0] "), img0
    )


def test_run_lut_rejects_a_table_that_is_not_prefix_free():
    """Every window of the 14-bit LUT belongs to at most one code: a table
    edit where one code is a prefix of another fails when the LUT is
    built (at import), instead of the later code silently winning."""
    from dedoc_spark.core.ccitt import _WHITE_DECODE, _build_run_lut

    assert _build_run_lut({(2, 0b01): 5, (3, 0b001): 7}).count(None) == (1 << 14) - (1 << 12) - (1 << 11)
    with pytest.raises(ValueError, match="prefix-free"):
        _build_run_lut({(2, 0b01): 5, (3, 0b010): 7})
    with pytest.raises(ValueError, match="prefix-free"):
        _build_run_lut({**_WHITE_DECODE, (3, 0b100): 9999})
