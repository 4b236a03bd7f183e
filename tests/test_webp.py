"""WebP via the system libwebp binding (core/webp_decode): lossless
round-trips are exact, the reference corpus's real scanned webp
decodes with a document-like ink profile, and the document route
recognizes a webp scan end-to-end. Everything gates on the shared
library being present (webp_available) — absence must degrade to the
typed error, never crash."""

import numpy as np
import pytest

from dedoc_spark.core import webp_decode
from dedoc_spark.core.webp_decode import (
    decode_webp,
    encode_webp_lossless,
    webp_available,
)

needs_lib = pytest.mark.skipif(
    not webp_available(), reason="system libwebp not present"
)

@needs_lib
def test_lossless_roundtrip_exact():
    rgb = np.random.default_rng(81).integers(0, 256, size=(40, 57, 3), dtype=np.uint8)
    data = encode_webp_lossless(rgb)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    w, h, out = decode_webp(data)
    assert (w, h) == (57, 40)
    assert np.array_equal(out, rgb)


@needs_lib
def test_reference_corpus_scanned_webp(reference_file):
    """The reference's scanned/example.webp (lossy VP8): full-size decode
    with a scanned-document ink profile — mostly light page, a
    substantial band of text rows (same cross-format evidence style as
    the corpus TIFF test)."""
    w, h, rgb = decode_webp(reference_file("scanned/example.webp").read_bytes())
    assert (w, h) == (827, 1170)
    gray = rgb.mean(axis=2)
    assert gray.mean() > 160  # page is mostly light
    dark_rows = (gray < 128).sum(axis=1)
    assert (dark_rows > 5).sum() > 100  # many rows carry ink
    assert (dark_rows > 5).sum() < h  # but not all of them


@needs_lib
def test_decode_image_dispatch_webp():
    from dedoc_spark.core.image_decode import decode_image

    rgb = np.random.default_rng(82).integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    w, h, out = decode_image(encode_webp_lossless(rgb))
    assert (w, h) == (11, 9)
    assert np.array_equal(out, rgb)


@needs_lib
def test_scanned_webp_document_route():
    from dedoc_spark.core import scanfont
    from dedoc_spark.core.document import extract_document

    raster = scanfont.render_scan_page(["Webp scan line"], scale=2)
    rgb = np.repeat(raster[:, :, None], 3, axis=2)
    d = extract_document(
        "scan.webp",
        encode_webp_lossless(rgb),
        None,
        params={"pdf_with_text_layer": "false"},
    )
    assert d.get("error") is None
    assert "Webp scan line" in d["text_extracted"]


def test_webp_default_row_stays_typed():
    """Without the opt-in param a webp stays the typed media row —
    default output bytes do not depend on libwebp."""
    from dedoc_spark.core.document import extract_document

    payload = b"RIFF\x04\x00\x00\x00WEBP"
    d = extract_document("img.webp", payload, None)
    assert d.get("error") == "needs_decoder:image/webp"


def test_missing_library_degrades_typed(monkeypatch):
    monkeypatch.setattr(webp_decode, "_lib", None)
    monkeypatch.setattr(webp_decode, "_lib_tried", True)
    assert not webp_available()
    with pytest.raises(ValueError, match="libwebp unavailable"):
        decode_webp(b"RIFF\x00\x00\x00\x00WEBP")


@needs_lib
def test_bad_container_rejected():
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x08\x00\x00\x00WAVEdata")
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x20\x00\x00\x00WEBP" + b"\x00" * 32)
