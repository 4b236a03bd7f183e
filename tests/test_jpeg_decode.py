"""Baseline JPEG decoder tests: round-trip against the independent minimal
encoder (quantization-bounded error), hand-verifiable flat images, the
reference's own scanned JPEG, and scope errors for progressive streams."""

import numpy as np
import pytest

from dedoc_spark.core.image_decode import decode_image
from dedoc_spark.core.jpeg_decode import decode_jpeg, encode_jpeg_gray


def test_flat_image_exact_within_one():
    img = np.full((16, 24), 77, dtype=np.uint8)
    w, h, rgb = decode_jpeg(encode_jpeg_gray(img))
    assert (w, h) == (24, 16)
    assert np.abs(rgb[:, :, 0].astype(int) - 77).max() <= 1


def test_gradient_roundtrip_quant_bounded():
    x = np.linspace(0, 255, 64)
    img = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
    w, h, rgb = decode_jpeg(encode_jpeg_gray(img))
    err = np.abs(rgb[:, :, 0].astype(float) - img.astype(float))
    assert (w, h) == (64, 64)
    assert err.max() <= 8 and err.mean() < 2.5  # Q50 quantization noise


def test_non_multiple_of_8_dimensions():
    img = (np.arange(13 * 21, dtype=np.int64) % 200).astype(np.uint8).reshape(13, 21)
    w, h, rgb = decode_jpeg(encode_jpeg_gray(img))
    assert (w, h) == (21, 13) and rgb.shape == (13, 21, 3)


def test_reference_scanned_page(reference_file):
    """The reference's scanned-page JPEG (827×1170, 4:2:0 color) decodes to
    its SOF dimensions with mostly-white pixel stats."""
    data = reference_file("scanned/example.jpeg").read_bytes()
    w, h, rgb = decode_jpeg(data)
    assert (w, h) == (827, 1170)
    assert rgb.mean() > 240  # a scanned white page
    assert rgb.std() > 5  # but not blank — there is text


def test_progressive_real_image(reference_file):
    """Progressive JPEG (SOF2 with DC/AC spectral-selection + successive-
    approximation scans): the reference's progressive scan decodes to its
    SOF dimensions with scanned-page stats."""
    data = reference_file("tz/small_image.jpg").read_bytes()
    w, h, rgb = decode_jpeg(data)
    assert (w, h) == (1656, 2339)
    assert rgb.mean() > 240 and rgb.std() > 5


def test_cross_format_ground_truth(reference_file):
    """The corpus holds the SAME scanned page as lossless PNG and as JPEG:
    our JPEG decode must match the PNG pixels up to compression noise —
    ground truth fully independent of our own encoder."""
    from dedoc_spark.core.image_decode import decode_image

    png = decode_image(reference_file("scanned/example.png").read_bytes())
    jpg = decode_image(reference_file("scanned/example.jpeg").read_bytes())
    assert (png[0], png[1]) == (jpg[0], jpg[1]) == (827, 1170)
    a, b = png[2].astype(float), jpg[2].astype(float)
    diff = np.abs(a - b)
    assert diff.mean() < 2.0
    assert float(np.corrcoef(a.ravel(), b.ravel())[0, 1]) > 0.99


def test_dispatch_via_decode_image():
    img = np.full((8, 8), 128, dtype=np.uint8)
    w, h, rgb = decode_image(encode_jpeg_gray(img))
    assert (w, h) == (8, 8)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 truncated jpeg")


def _encode_jpeg_4comp(planes, transform):
    """Test-local 4-component baseline encoder (all 1x1 sampling, shared
    tables, per-MCU interleave) with an Adobe APP14 transform marker."""
    import struct

    from dedoc_spark.core import jpeg_decode as J

    h, w = planes[0].shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = []
    for img in planes:
        p = np.zeros((ph, pw), dtype=np.float64)
        p[:h, :w] = img.astype(np.float64)
        p[h:, :w] = img[-1:, :].astype(np.float64)
        p[:, w:] = p[:, w - 1 : w]
        padded.append(p)
    dc_codes = J._huff_codes(J._DC_COUNTS, J._DC_SYMBOLS)
    ac_codes = J._huff_codes(J._AC_COUNTS, J._AC_SYMBOLS)
    bw = J._BitWriter()
    preds = [0, 0, 0, 0]
    qzig = J._Q_LUMA.astype(np.float64)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci, p in enumerate(padded):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coefs = J._M @ block @ J._M.T
                zig = np.round(coefs.reshape(64)[J._ZIGZAG] / qzig).astype(np.int64)
                diff = int(zig[0]) - preds[ci]
                preds[ci] = int(zig[0])
                s = int(abs(diff)).bit_length()
                code, length = dc_codes[s]
                bw.write(code, length)
                if s:
                    bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
                run = 0
                for k in range(1, 64):
                    v = int(zig[k])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, length = ac_codes[0xF0]
                        bw.write(code, length)
                        run -= 16
                    s = int(abs(v)).bit_length()
                    code, length = ac_codes[(run << 4) | s]
                    bw.write(code, length)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if run:
                    code, length = ac_codes[0x00]
                    bw.write(code, length)
    entropy = bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    out += seg(0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform]))
    out += seg(0xDB, bytes([0x00]) + bytes(int(x) for x in J._Q_LUMA))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([4])
    for cid in (1, 2, 3, 4):
        sof += bytes([cid, 0x11, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(J._DC_COUNTS) + J._DC_SYMBOLS)
    out += seg(0xC4, bytes([0x10]) + bytes(J._AC_COUNTS) + J._AC_SYMBOLS)
    sos = bytes([4])
    for cid in (1, 2, 3, 4):
        sos += bytes([cid, 0x00])
    out += seg(0xDA, sos + bytes([0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"
    return out


def test_cmyk_adobe_jpeg():
    """4-component Adobe CMYK (transform 0): inverted-domain channels,
    RGB = channel * K / 255. Uniform blocks survive quantization almost
    exactly."""
    from dedoc_spark.core.jpeg_decode import decode_jpeg

    # inverted CMYK for a pure-red region (R=255: C'=255) next to a
    # dark-cyan region
    c = np.full((16, 16), 255, np.uint8); c[:, 8:] = 40
    m = np.full((16, 16), 60, np.uint8); m[:, 8:] = 255
    y = np.full((16, 16), 60, np.uint8); y[:, 8:] = 255
    k = np.full((16, 16), 255, np.uint8)
    w, h, rgb = decode_jpeg(_encode_jpeg_4comp([c, m, y, k], transform=0))
    assert (w, h) == (16, 16)
    expect_left = np.array([255 * 255, 60 * 255, 60 * 255]) / 255.0
    expect_right = np.array([40 * 255, 255 * 255, 255 * 255]) / 255.0
    assert np.abs(rgb[4, 4].astype(float) - expect_left).max() < 6
    assert np.abs(rgb[4, 12].astype(float) - expect_right).max() < 6


def test_ycck_adobe_jpeg():
    """Transform 2 (YCCK): the first three channels are YCbCr-coded
    inverted CMY. Gray (Cb=Cr=128) with full K must reproduce the luma."""
    from dedoc_spark.core.jpeg_decode import decode_jpeg

    yp = np.full((8, 8), 200, np.uint8)
    cb = np.full((8, 8), 128, np.uint8)
    cr = np.full((8, 8), 128, np.uint8)
    k = np.full((8, 8), 255, np.uint8)
    w, h, rgb = decode_jpeg(_encode_jpeg_4comp([yp, cb, cr, k], transform=2))
    assert np.abs(rgb.astype(float) - 200.0).max() < 6


def test_cmyk_without_adobe_marker_not_inverted():
    """r6 review finding: a 4-component JPEG WITHOUT the Adobe APP14
    marker stores standard (non-inverted) CMYK ink — libjpeg/PIL do not
    invert, so neither do we: RGB = (255-ch)(255-K)/255."""
    import struct

    from dedoc_spark.core.jpeg_decode import decode_jpeg

    # ink-domain twin of test_cmyk_adobe_jpeg's channels
    c = 255 - np.where(np.arange(16) < 8, np.uint8(255), np.uint8(40))[None, :].repeat(16, 0)
    m = 255 - np.where(np.arange(16) < 8, np.uint8(60), np.uint8(255))[None, :].repeat(16, 0)
    y = 255 - np.where(np.arange(16) < 8, np.uint8(60), np.uint8(255))[None, :].repeat(16, 0)
    k = np.zeros((16, 16), np.uint8)  # ink K=0 == inverted K'=255
    jpg = _encode_jpeg_4comp(
        [c.astype(np.uint8), m.astype(np.uint8), y.astype(np.uint8), k], transform=0
    )
    # strip the APP14 segment (0xFFEE + length-prefixed body)
    i = jpg.find(b"\xff\xee")
    assert i >= 0
    (seg_len,) = struct.unpack(">H", jpg[i + 2 : i + 4])
    bare = jpg[:i] + jpg[i + 2 + seg_len :]
    assert b"Adobe" not in bare
    w, h, rgb = decode_jpeg(bare)
    assert (w, h) == (16, 16)
    expect_left = np.array([255 * 255, 60 * 255, 60 * 255]) / 255.0
    expect_right = np.array([40 * 255, 255 * 255, 255 * 255]) / 255.0
    assert np.abs(rgb[4, 4].astype(float) - expect_left).max() < 6
    assert np.abs(rgb[4, 12].astype(float) - expect_right).max() < 6
