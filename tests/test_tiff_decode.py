"""TIFF decoder (core/tiff_decode): fixture-written baseline TIFFs per
compression, fax strips through the CCITT codecs, multi-page, and the
scanned-image document route."""

import struct

import numpy as np
import pytest

from dedoc_spark.core.ccitt import encode_g3, encode_g4
from dedoc_spark.core.pdf_filters import lzw_encode, runlength_encode
from dedoc_spark.core.tiff_decode import _BITREV, decode_tiff, decode_tiff_pages


def _jpeg_segments(data):
    """[(marker, full segment bytes)]; SOS carries everything to EOI."""
    segs = []
    p = 2
    while p < len(data) - 1:
        m = data[p + 1]
        if m == 0xDA:
            segs.append((m, data[p:]))
            break
        ln = struct.unpack(">H", data[p + 2 : p + 4])[0]
        segs.append((m, data[p : p + 2 + ln]))
        p += 2 + ln
    return segs


def _write_tiff(
    pages,
    compression=1,
    photometric=None,
    fill_order=1,
    predictor=1,
    rows_per_strip=None,
    t4options=0,
    byte_order="<",
    bilevel=False,
    jpeg_tables_tag=False,
    tile=None,
    big=False,
    planar=False,
):
    """Minimal TIFF writer for fixtures: header, strip data, one IFD per
    page chained at the end. ``pages``: HxW (gray/bilevel) or HxWx3;
    uint16 pages write BitsPerSample 16.
    ``tile=(tw, th)`` writes the tiled organisation (§15) instead of
    strips — each tile padded to the full tile size like real writers.
    ``big`` writes the BigTIFF (version 43) header and 20-byte entries;
    ``planar`` writes PlanarConfiguration 2 (all strips of sample 0,
    then sample 1, ...)."""
    bo = byte_order
    if big:
        out = bytearray(
            (b"II" if bo == "<" else b"MM")
            + struct.pack(bo + "HHH", 43, 8, 0)
            + struct.pack(bo + "Q", 0)
        )
    else:
        out = bytearray(b"II*\x00\x00\x00\x00\x00" if bo == "<" else b"MM\x00*\x00\x00\x00\x00")
    ifd_offsets = []
    page_entries = []
    for img in pages:
        img = np.asarray(img)
        sixteen = img.dtype == np.uint16
        if not sixteen:
            img = img.astype(np.uint8)
        h, w = img.shape[:2]
        spp = img.shape[2] if img.ndim == 3 else 1
        rps = rows_per_strip or h
        strips = []
        strip_tables = None
        if planar:
            parts = [
                img[y0 : y0 + rps, :, s]
                for s in range(spp)
                for y0 in range(0, h, rps)
            ]
        elif tile:
            tw, th = tile
            parts = []
            for y0 in range(0, h, th):
                for x0 in range(0, w, tw):
                    part = img[y0 : y0 + th, x0 : x0 + tw]
                    pad_h, pad_w = th - part.shape[0], tw - part.shape[1]
                    if pad_h or pad_w:
                        pad_val = 255 if compression in (2, 3, 4) else 0
                        pads = [(0, pad_h), (0, pad_w)]
                        if part.ndim == 3:
                            pads.append((0, 0))
                        part = np.pad(part, pads, constant_values=pad_val)
                    parts.append(part)
        else:
            parts = [img[y0 : y0 + rps] for y0 in range(0, h, rps)]
        for part in parts:
            if compression == 4:
                data = encode_g4(part)
            elif compression == 3:
                data = encode_g3(part, k=4 if t4options & 1 else 0, byte_align=bool(t4options & 4))
            elif compression == 2:
                # TIFF 6.0 §10: MH rows begin on byte boundaries
                data = encode_g3(part, k=0, byte_align=True)
            elif compression == 5:
                raw = part
                if predictor == 2:
                    diff = part.astype(np.int32).copy()
                    diff[:, 1:] -= part[:, :-1].astype(np.int32)
                    mod = 65536 if sixteen else 256
                    raw = (diff % mod).astype(part.dtype)
                data = lzw_encode(
                    raw.astype(np.dtype(bo + "u2")).tobytes() if sixteen
                    else raw.astype(np.uint8).tobytes()
                )
            elif compression == 7:
                from dedoc_spark.core.jpeg_decode import encode_jpeg_gray

                data = encode_jpeg_gray(part)
                if jpeg_tables_tag:
                    # split DQT/DHT out into the shared JPEGTables stream
                    segs = _jpeg_segments(data)
                    tables = b"".join(s for m, s in segs if m in (0xDB, 0xC4))
                    body = b"".join(s for m, s in segs if m not in (0xDB, 0xC4))
                    strip_tables = b"\xff\xd8" + tables + b"\xff\xd9"
                    data = b"\xff\xd8" + body
            elif compression == 32773:
                data = runlength_encode(part.tobytes())
            elif bilevel:
                mask = (part > 127).astype(np.uint8)  # 1 = white for phot=1
                if photometric == 0:
                    mask = 1 - mask
                data = np.packbits(mask, axis=1).tobytes()
            else:
                data = (
                    part.astype(np.dtype(bo + "u2")).tobytes() if sixteen
                    else part.tobytes()
                )
            if (compression in (2, 3, 4) or bilevel) and fill_order == 2:
                data = _BITREV[np.frombuffer(data, dtype=np.uint8)].tobytes()
            strips.append(data)
        offsets = []
        for s in strips:
            offsets.append(len(out))
            out += s
        bps = 1 if (compression in (2, 3, 4) or bilevel) else (16 if sixteen else 8)
        phot = photometric
        if phot is None:
            phot = 0 if compression in (2, 3, 4) else (2 if spp == 3 else 1)
        entries = [
            (256, 4, [w]), (257, 4, [h]), (258, 3, [bps] * spp),
            (259, 3, [compression]), (262, 3, [phot]), (277, 3, [spp]),
        ]
        if tile:
            entries += [
                (322, 4, [tile[0]]), (323, 4, [tile[1]]),
                (324, 4, offsets), (325, 4, [len(s) for s in strips]),
            ]
        else:
            entries += [
                (278, 4, [rps]), (273, 4, offsets),
                (279, 4, [len(s) for s in strips]),
            ]
        if planar:
            entries.append((284, 3, [2]))
        if fill_order != 1:
            entries.append((266, 3, [fill_order]))
        if predictor != 1:
            entries.append((317, 3, [predictor]))
        if t4options:
            entries.append((292, 4, [t4options]))
        if strip_tables is not None:
            entries.append((347, 7, list(strip_tables)))
        page_entries.append(sorted(entries))

    # emit IFDs (values needing > inline bytes go into an overflow area)
    inline = 8 if big else 4
    count_size, entry_size = (8, 20) if big else (2, 12)
    # IFD entry-count field H/Q; per-entry value count LONG/LONG8
    cfmt, ecfmt, pfmt = ("Q", "Q", "Q") if big else ("H", "I", "I")
    prev_next_ptr = 8 if big else 4  # header's first-IFD pointer
    for entries in page_entries:
        overflow = bytearray()
        packed = []
        ifd_guess = len(out)
        for tag, typ, vals in entries:
            if typ == 7:  # undefined = raw bytes
                body = bytes(vals)
            else:
                fmt = {3: "H", 4: "I"}[typ]
                body = b"".join(struct.pack(bo + fmt, v) for v in vals)
            packed.append((tag, typ, len(vals), body))
        # two passes: first compute IFD size, then place overflow after it
        ifd_size = count_size + entry_size * len(packed) + (8 if big else 4)
        data_base = ifd_guess + ifd_size
        entry_bytes = bytearray(struct.pack(bo + cfmt, len(packed)))
        for tag, typ, cnt, body in packed:
            if len(body) <= inline:
                raw = body + b"\x00" * (inline - len(body))
            else:
                raw = struct.pack(bo + pfmt, data_base + len(overflow))
                raw += b"\x00" * (inline - len(raw))
                overflow += body
            entry_bytes += struct.pack(bo + "HH", tag, typ)
            entry_bytes += struct.pack(bo + ecfmt, cnt) + raw
        entry_bytes += struct.pack(bo + pfmt, 0)  # next-IFD placeholder
        struct.pack_into(bo + pfmt, out, prev_next_ptr, ifd_guess)
        prev_next_ptr = ifd_guess + count_size + entry_size * len(packed)
        out += entry_bytes + overflow
    return bytes(out)


def _gray(seed, shape=(24, 37)):
    return np.random.default_rng(seed).integers(0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_uncompressed_gray_both_orders(bo):
    img = _gray(1)
    w, h, rgb = decode_tiff(_write_tiff([img], byte_order=bo))
    assert (w, h) == (37, 24)
    assert np.array_equal(rgb[:, :, 0], img)


def test_white_is_zero_inverts():
    img = _gray(2)
    rgb = decode_tiff(_write_tiff([img], photometric=0))[2]
    assert np.array_equal(rgb[:, :, 0], 255 - img)


def test_rgb_packbits():
    img = np.random.default_rng(3).integers(0, 256, size=(10, 13, 3), dtype=np.uint8)
    w, h, rgb = decode_tiff(_write_tiff([img], compression=32773))
    assert np.array_equal(rgb, img)


def test_lzw_with_predictor():
    img = _gray(4, (16, 50))
    w, h, rgb = decode_tiff(_write_tiff([img], compression=5, predictor=2))
    assert np.array_equal(rgb[:, :, 0], img)


@pytest.mark.parametrize("compression,t4options", [(4, 0), (3, 0), (3, 1), (3, 5), (2, 0)])
def test_fax_compressions(compression, t4options):
    rng = np.random.default_rng(compression * 10 + t4options)
    img = np.where(rng.random((21, 64)) < 0.3, np.uint8(0), np.uint8(255))
    w, h, rgb = decode_tiff(
        _write_tiff([img], compression=compression, t4options=t4options)
    )
    assert np.array_equal(rgb[:, :, 0], img)


def test_bilevel_uncompressed_fill_order_2():
    """r6 review finding: FillOrder=2 pixel-bit reversal must apply to
    byte-oriented 1-bit strips too, not only fax codecs."""
    rng = np.random.default_rng(13)
    img = np.where(rng.random((9, 20)) < 0.4, np.uint8(0), np.uint8(255))
    w, h, rgb = decode_tiff(_write_tiff([img], bilevel=True, fill_order=2))
    assert np.array_equal(rgb[:, :, 0], img)


def test_black_is_zero_fax_inverts():
    """r6 review finding: PhotometricInterpretation=1 on a fax strip means
    the coded runs are inverted relative to the usual WhiteIsZero fax."""
    rng = np.random.default_rng(14)
    img = np.where(rng.random((11, 33)) < 0.3, np.uint8(0), np.uint8(255))
    rgb = decode_tiff(_write_tiff([img], compression=4, photometric=1))[2]
    assert np.array_equal(rgb[:, :, 0], 255 - img)


def test_g4_fill_order_2_and_multistrip():
    rng = np.random.default_rng(9)
    img = np.where(rng.random((30, 48)) < 0.25, np.uint8(0), np.uint8(255))
    data = _write_tiff([img], compression=4, fill_order=2, rows_per_strip=8)
    w, h, rgb = decode_tiff(data)
    assert np.array_equal(rgb[:, :, 0], img)


def test_multipage_fax():
    rng = np.random.default_rng(11)
    p1 = np.where(rng.random((12, 40)) < 0.3, np.uint8(0), np.uint8(255))
    p2 = np.where(rng.random((15, 40)) < 0.3, np.uint8(0), np.uint8(255))
    data = _write_tiff([p1, p2], compression=4)
    pages = decode_tiff_pages(data)
    assert len(pages) == 2
    assert np.array_equal(pages[0][:, :, 0], p1)
    assert np.array_equal(pages[1][:, :, 0], p2)
    # decode_tiff = first page only (PIL default-frame parity)
    assert decode_tiff(data)[2].shape[:2] == (12, 40)


def test_decode_image_dispatch():
    from dedoc_spark.core.image_decode import decode_image

    img = _gray(12)
    w, h, rgb = decode_image(_write_tiff([img]))
    assert np.array_equal(rgb[:, :, 0], img)


def test_scanned_tiff_document_route():
    """.tif routes as typed media by default; pdf_with_text_layer=false
    sends it through the scanned-page pipeline like any image."""
    from dedoc_spark.core import scanfont
    from dedoc_spark.core.document import extract_document

    page = scanfont.render_scan_page(["Tiff scan line here"], scale=2)
    payload = _write_tiff([page], compression=4)
    d = extract_document("scan.tif", payload, None, params={})
    assert d["error"] == "needs_decoder:image/tiff"  # default bytes stable
    d2 = extract_document(
        "scan.tif", payload, None, params={"pdf_with_text_layer": "false"}
    )
    assert d2.get("error") is None
    assert "Tiff scan line here" in d2["text_extracted"]


def test_multipage_tiff_document_route():
    """Every IFD page of a fax TIFF becomes a scanned page with its own
    page_id through the image route."""
    import json

    from dedoc_spark.core import scanfont
    from dedoc_spark.core.document import extract_document

    p1 = scanfont.render_scan_page(["Multi page one"], scale=2)
    p2 = scanfont.render_scan_page(["Multi page two"], scale=2)
    payload = _write_tiff([p1, p2], compression=4)
    d = extract_document(
        "fax.tif", payload, None, params={"pdf_with_text_layer": "false"}
    )
    assert d.get("error") is None
    assert "Multi page one" in d["text_extracted"]
    assert "Multi page two" in d["text_extracted"]
    pages = {ln["page_id"] for ln in json.loads(d["lines_json"])}
    assert pages == {0, 1}


def test_reference_tiff_cross_format_ground_truth(reference_file):
    """The corpus page exists as both TIFF and lossless PNG: the two
    decoders must agree PIXEL-EXACTLY (both 827x1170 RGB)."""
    from dedoc_spark.core.image_decode import decode_image

    tw, th, trgb = decode_tiff(reference_file("scanned/example.tiff").read_bytes())
    pw, ph, prgb = decode_image(reference_file("scanned/example.png").read_bytes())
    assert (tw, th) == (pw, ph) == (827, 1170)
    assert np.array_equal(trgb, prgb)


@pytest.mark.parametrize("tables", [False, True])
def test_jpeg_in_tiff(tables):
    """Compression 7 (new-style JPEG): full JFIF strips, and the
    TIFF/EP JPEGTables form where DQT/DHT live in tag 347 and each
    strip carries only SOI + frame + scan."""
    # quantization-stable content: flat 8x8-aligned blocks
    img = np.zeros((24, 40), np.uint8)
    img[:, :16] = 60
    img[8:16, 16:] = 200
    data = _write_tiff([img], compression=7, jpeg_tables_tag=tables)
    w, h, rgb = decode_tiff(data)
    assert (w, h) == (40, 24)
    assert np.abs(rgb[:, :, 0].astype(float) - img.astype(float)).max() < 6


def test_jpeg_in_tiff_multistrip():
    img = np.tile(np.linspace(40, 210, 8, dtype=np.uint8).repeat(8)[None, :], (32, 1))
    data = _write_tiff([img], compression=7, rows_per_strip=16, jpeg_tables_tag=True)
    w, h, rgb = decode_tiff(data)
    assert (w, h) == (64, 32)
    assert np.abs(rgb[:, :, 0].astype(float) - img.astype(float)).mean() < 3


def test_tiled_gray_matches_strip_layout():
    """Tiled organisation (§15): same pixels as the strip layout, edge
    tiles padded in the data and cropped on decode."""
    img = _gray(61, (24, 37))
    strip = decode_tiff(_write_tiff([img]))[2]
    tiled = decode_tiff(_write_tiff([img], tile=(16, 8)))[2]
    assert np.array_equal(tiled, strip)


@pytest.mark.parametrize("compression", [4, 5, 32773])
def test_tiled_codecs_roundtrip(compression):
    """Every strip codec decodes identically through the tile path."""
    if compression == 4:
        img = np.where(_gray(62, (30, 41)) > 128, 255, 0).astype(np.uint8)
    else:
        img = _gray(63, (30, 41))
    kw = {"predictor": 2} if compression == 5 else {}
    strip = decode_tiff(_write_tiff([img], compression=compression, **kw))[2]
    tiled = decode_tiff(
        _write_tiff([img], compression=compression, tile=(16, 16), **kw)
    )[2]
    assert np.array_equal(tiled, strip)


def test_tiled_rgb_partial_edge_tiles():
    img = _gray(64, (20, 27, 3))
    tiled = decode_tiff(_write_tiff([img], tile=(16, 16)))[2]
    assert np.array_equal(tiled, img)


def test_tiled_jpeg():
    """Compression 7 tiles: each tile is its own JFIF stream; MCU
    padding cropped per tile."""
    img = np.zeros((24, 40), np.uint8)
    img[:, :16] = 60
    img[8:16, 16:] = 200
    data = _write_tiff([img], compression=7, tile=(16, 16))
    w, h, rgb = decode_tiff(data)
    assert (w, h) == (40, 24)
    assert np.abs(rgb[:, :, 0].astype(float) - img.astype(float)).max() < 6


def test_tiled_bilevel():
    img = np.where(_gray(65, (22, 33)) > 128, 255, 0).astype(np.uint8)
    tiled = decode_tiff(_write_tiff([img], bilevel=True, tile=(16, 8)))[2]
    strip = decode_tiff(_write_tiff([img], bilevel=True))[2]
    assert np.array_equal(tiled, strip)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_bigtiff_header_and_ifd(bo):
    """BigTIFF (version 43): 8-byte offsets, 20-byte entries, LONG8
    counts — same pixels as the classic container."""
    img = _gray(71, (24, 37))
    classic = decode_tiff(_write_tiff([img], byte_order=bo))[2]
    bigt = decode_tiff(_write_tiff([img], byte_order=bo, big=True))[2]
    assert np.array_equal(bigt, classic)


def test_bigtiff_multipage_packbits():
    pages = [_gray(72, (10, 13)), _gray(73, (8, 11))]
    out = decode_tiff_pages(
        _write_tiff(pages, compression=32773, big=True)
    )
    assert len(out) == 2
    assert np.array_equal(out[0][:, :, 0], pages[0])
    assert np.array_equal(out[1][:, :, 0], pages[1])


@pytest.mark.parametrize("bo", ["<", ">"])
def test_sixteen_bit_gray_keeps_high_byte(bo):
    img16 = (_gray(74, (12, 19)).astype(np.uint16) << 8) | 0x7F
    rgb = decode_tiff(_write_tiff([img16], byte_order=bo))[2]
    assert np.array_equal(rgb[:, :, 0], (img16 >> 8).astype(np.uint8))


def test_sixteen_bit_lzw_predictor():
    img16 = np.random.default_rng(75).integers(
        0, 65536, size=(14, 21), dtype=np.uint16
    )
    rgb = decode_tiff(_write_tiff([img16], compression=5, predictor=2))[2]
    assert np.array_equal(rgb[:, :, 0], (img16 >> 8).astype(np.uint8))


def test_planar_configuration_rgb():
    """PlanarConfiguration 2: all strips of sample 0, then 1, then 2."""
    img = np.random.default_rng(76).integers(0, 256, size=(18, 23, 3), dtype=np.uint8)
    chunky = decode_tiff(_write_tiff([img]))[2]
    planar = decode_tiff(_write_tiff([img], planar=True, rows_per_strip=5))[2]
    assert np.array_equal(planar, chunky)


def test_planar_configuration_lzw():
    img = np.random.default_rng(77).integers(0, 256, size=(12, 17, 3), dtype=np.uint8)
    planar = decode_tiff(
        _write_tiff([img], compression=5, planar=True, rows_per_strip=4)
    )[2]
    assert np.array_equal(planar, img)


def test_bigtiff_document_route():
    """BigTIFF magic (II+/MM+) must route through sniffing, the scanned
    route's container check, and decode_image alike."""
    from dedoc_spark.core import scanfont
    from dedoc_spark.core.document import extract_document

    raster = scanfont.render_scan_page(["Bigtiff scan line"], scale=2)
    data = _write_tiff([raster], compression=5, big=True, rows_per_strip=16)
    d = extract_document(
        "scan.tif", data, None, params={"pdf_with_text_layer": "false"}
    )
    assert d.get("error") is None
    assert "Bigtiff scan line" in d["text_extracted"]
