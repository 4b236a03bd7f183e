"""Pure-python image decoder tests: PNG filter reversal round-trips,
color-type handling, BMP, and the pixel-hash/feature contracts. The
reference converts images via PIL/cv2 (png_converter.py:16-39); this
decoder must byte-exactly reproduce the encoded pixels."""

import numpy as np
import pytest

from dedoc_spark.core.image_decode import (
    decode_image,
    encode_png,
    image_features,
    pixel_hash,
)


def _gradient(w=16, h=16, seed=0):
    v = (np.arange(w * h, dtype=np.int64) * 7 + seed) % 256
    return v.astype(np.uint8).reshape(h, w)


def test_png_roundtrip_all_filters():
    rgb = np.repeat(_gradient()[:, :, None], 3, axis=2)
    rgb[:, :, 1] = 255 - rgb[:, :, 1]  # make channels differ
    for ft in (0, 1, 2):
        w, h, dec = decode_image(encode_png(rgb, filter_type=ft))
        assert (w, h) == (16, 16)
        assert np.array_equal(dec, rgb), f"filter {ft} mismatch"


def test_png_gray_and_rgb_agree():
    g = _gradient(8, 8, 3)
    _, _, from_gray = decode_image(encode_png(g, color_type=0))
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    _, _, from_rgb = decode_image(encode_png(rgb, color_type=2))
    assert np.array_equal(from_gray, from_rgb)


def test_png_paeth_and_average_filters():
    """Decode a PNG whose scanlines use Average (3) and Paeth (4) filters —
    hand-filtered here, so the decoder's predictor math is what's tested."""
    import struct
    import zlib

    from dedoc_spark.core.image_decode import PNG_MAGIC

    rgb = np.repeat(_gradient(4, 3, 9)[:, :, None], 3, axis=2)
    bpp, stride = 3, 12
    flat = rgb.reshape(3, stride)
    raw = bytearray()
    prev = bytes(stride)
    for r, ftype in enumerate((3, 4, 3)):
        line = flat[r].tobytes()
        raw.append(ftype)
        enc = bytearray()
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc.append((line[i] - pred) & 0xFF)
        raw += enc
        prev = line

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    png = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    _, _, dec = decode_image(png)
    assert np.array_equal(dec, rgb)


def test_png_palette():
    import struct
    import zlib

    from dedoc_spark.core.image_decode import PNG_MAGIC

    idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(2))

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    png = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    _, _, dec = decode_image(png)
    assert dec[0, 0].tolist() == [255, 0, 0]
    assert dec[0, 1].tolist() == [0, 255, 0]
    assert dec[1, 0].tolist() == [0, 0, 255]


def test_bmp_24bit_bottom_up():
    import struct

    # 2×2: top row red green, bottom row blue white; BMP stores BGR bottom-up
    width, height = 2, 2
    row_size = (width * 3 + 3) // 4 * 4
    rows = [
        bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00" * (row_size - 6),  # bottom
        bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00" * (row_size - 6),  # top
    ]
    pixel_data = b"".join(rows)
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    )
    w, h, dec = decode_image(header + pixel_data)
    assert (w, h) == (2, 2)
    assert dec[0, 0].tolist() == [255, 0, 0]  # top-left red
    assert dec[0, 1].tolist() == [0, 255, 0]
    assert dec[1, 0].tolist() == [0, 0, 255]
    assert dec[1, 1].tolist() == [255, 255, 255]


def test_features_and_hash_deterministic():
    rgb = np.repeat(_gradient()[:, :, None], 3, axis=2)
    png = encode_png(rgb)
    w, h, feat = image_features(png)
    assert (w, h) == (16, 16) and len(feat) == 8
    assert image_features(png) == (w, h, feat)
    assert pixel_hash(png) == pixel_hash(encode_png(rgb, filter_type=1))  # same pixels


def test_unsupported_and_corrupt():
    with pytest.raises(ValueError):
        decode_image(b"")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg")
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\x08 truncated")


def test_gif_roundtrip():
    """GIF89a LZW round-trip: palette indices survive encode→decode with
    variable code widths (table growth past the initial code size)."""
    from dedoc_spark.core.image_decode import encode_gif

    rng_free = (np.arange(12 * 10) * 5) % 7  # 7 colors → code growth
    idx = rng_free.astype(np.uint8).reshape(10, 12)
    palette = bytes(
        b for c in range(7) for b in (c * 30 % 256, 255 - c * 20, c * 11)
    )
    gif = encode_gif(idx, palette)
    assert gif[:6] == b"GIF89a" and gif[-1:] == b"\x3b"
    w, h, rgb = decode_image(gif)
    assert (w, h) == (12, 10)
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(7, 3)
    assert np.array_equal(rgb, pal[idx])


def test_gif_classic_1x1():
    # the canonical 1x1 transparent GIF (public constant)
    import base64

    gif = base64.b64decode("R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    w, h, rgb = decode_image(gif)
    assert (w, h) == (1, 1)
    assert rgb.shape == (1, 1, 3)


def test_gif_corrupt_rejected():
    with pytest.raises(ValueError):
        decode_image(b"GIF89a\x01")
    with pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 20)


def test_wav_roundtrip_and_features():
    from dedoc_spark.core.image_decode import audio_features, decode_audio, encode_wav

    tone = np.sin(np.linspace(0, 2 * np.pi * 50, 4000))
    wav = encode_wav(tone, rate=4000)
    rate, channels, mono = decode_audio(wav)
    assert (rate, channels, len(mono)) == (4000, 1, 4000)
    assert np.max(np.abs(mono - tone)) < 1e-3  # 16-bit quantization error
    r, n, feat = audio_features(wav)
    assert (r, n) == (4000, 4000) and len(feat) == 8
    assert abs(feat[0] - 1.0) < 1e-6  # duration
    # a 50 Hz tone at 4 kHz: all energy in the lowest spectral quarter
    assert feat[4] > 0.99
    # stereo collapses to mono by mean
    stereo = np.column_stack([tone, -tone]).reshape(-1)
    wav2 = encode_wav(stereo, rate=4000, channels=2)
    _, ch2, mono2 = decode_audio(wav2)
    assert ch2 == 2 and np.max(np.abs(mono2)) < 1e-3  # L+R cancel


def test_audio_corrupt_rejected():
    from dedoc_spark.core.image_decode import decode_audio

    with pytest.raises(ValueError):
        decode_audio(b"ID3\x03 mp3 data")
    with pytest.raises(ValueError):
        decode_audio(b"RIFF\x00\x00\x00\x00AVI LIST")


def test_png_adam7_interlaced():
    """Adam7 deinterlacing: build the seven-pass stream by hand from the
    spec's pass geometry and require exact pixel recovery."""
    import struct
    import zlib

    from dedoc_spark.core.image_decode import PNG_MAGIC, _ADAM7

    rgb = np.repeat(_gradient(10, 7, 5)[:, :, None], 3, axis=2)
    rgb[:, :, 2] = 255 - rgb[:, :, 2]
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = rgb[y0::dy, x0::dx]
        for r in range(sub.shape[0]):
            raw.append(0)  # filter None
            raw += sub[r].tobytes()

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    png = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 7, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    w, h, dec = decode_image(png)
    assert (w, h) == (10, 7)
    assert np.array_equal(dec, rgb)


def test_gif_interlaced():
    """GIF89a interlace: rows stored in passes 0::8, 4::8, 2::4, 1::2 —
    build the stream by permuting rows and require exact recovery."""
    from dedoc_spark.core.image_decode import encode_gif

    idx = (np.arange(12 * 16, dtype=np.int64) % 5).astype(np.uint8).reshape(16, 12)
    palette = bytes(b for c in range(5) for b in (c * 40, c * 30, 255 - c * 25))
    # encode with rows pre-permuted into interlace order, then flip the bit
    order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(start, 16, step)]
    gif = bytearray(encode_gif(idx[order], palette))
    # image descriptor packed byte: header(6)+LSD(7)+GCT(8*3=24) → 0x2C at 37
    desc = gif.index(0x2C, 13)
    gif[desc + 9] |= 0x40  # set interlace flag
    w, h, rgb = decode_image(bytes(gif))
    assert (w, h) == (12, 16)
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(5, 3)
    assert np.array_equal(rgb, pal[idx])


def test_gif_multi_frame_roundtrip():
    """Animated GIF: every image-descriptor block is a frame; the encoder/
    decoder pair round-trips all of them in order."""
    import numpy as np

    from dedoc_spark.core.image_decode import decode_gif_frames, encode_gif_frames

    palette = bytes(v for g in (0, 85, 170, 255) for v in (g, g, g))
    frames = [
        np.fromfunction(lambda r, c: (f + 4 * r + c) % 4, (4, 4)).astype(np.uint8)
        for f in range(3)
    ]
    dec = decode_gif_frames(encode_gif_frames(frames, palette))
    assert len(dec) == 3
    for (w, h, rgb), src in zip(dec, frames):
        assert (w, h) == (4, 4)
        assert (rgb[:, :, 0] == src * 85).all()
    # max_frames truncates
    assert len(decode_gif_frames(encode_gif_frames(frames, palette), max_frames=2)) == 2


def test_resize_nearest_integer_semantics():
    """NN source index is floor(i·in/out) — exact integer math."""
    import numpy as np

    from dedoc_spark.core.image_decode import resize_nearest

    rgb = np.arange(16 * 8 * 3, dtype=np.uint8).reshape(8, 16, 3)
    out = resize_nearest(rgb, 8, 4)
    assert out.shape == (4, 8, 3)
    assert (out == rgb[::2, ::2]).all()
    # upscale repeats source pixels
    up = resize_nearest(rgb[:2, :2], 4, 4)
    assert (up[0] == up[1]).all() and (up[:, 0] == up[:, 1]).all()


def _png_chunks(w, h, depth, color_type, rows, palette=b""):
    """Minimal PNG writer for fixtures: IHDR + optional PLTE + one IDAT
    (filter 0 per scanline) + IEND. ``rows`` = packed scanline bytes."""
    import struct
    import zlib

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(b"\x00" + r for r in rows))
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette:
        out += chunk(b"PLTE", palette)
    return out + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def test_png_gray_bit_depth_4():
    """Samples 0..15 expand to 0..255 via the 17x scale (PNG §7.2
    MSB-first packing)."""
    import numpy as np

    from dedoc_spark.core.image_decode import decode_image

    rows = [bytes([0x0F, 0x73]), bytes([0xA5, 0xC0])]  # 2x4 samples
    w, h, rgb = decode_image(_png_chunks(4, 2, 4, 0, rows))
    assert (w, h) == (4, 2)
    expect = np.array([[0, 15, 7, 3], [10, 5, 12, 0]]) * 17
    assert np.array_equal(rgb[:, :, 0], expect.astype(np.uint8))


def test_png_gray_bit_depth_1_and_2():
    import numpy as np

    from dedoc_spark.core.image_decode import decode_image

    rgb1 = decode_image(_png_chunks(8, 1, 1, 0, [bytes([0b10110001])]))[2]
    assert np.array_equal(rgb1[0, :, 0], np.array([1, 0, 1, 1, 0, 0, 0, 1]) * 255)
    rgb2 = decode_image(_png_chunks(4, 1, 2, 0, [bytes([0b11011000])]))[2]
    assert np.array_equal(rgb2[0, :, 0], np.array([3, 1, 2, 0]) * 85)


def test_png_palette_bit_depth_4():
    import numpy as np

    from dedoc_spark.core.image_decode import decode_image

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    rgb = decode_image(_png_chunks(3, 1, 4, 3, [bytes([0x01, 0x20])], palette))[2]
    assert np.array_equal(rgb[0], [[255, 0, 0], [0, 255, 0], [0, 0, 255]])


def test_png_gray_bit_depth_16_keeps_high_byte():
    import numpy as np

    from dedoc_spark.core.image_decode import decode_image

    rows = [bytes([0xAB, 0xCD, 0x12, 0x34])]  # two 16-bit samples
    rgb = decode_image(_png_chunks(2, 1, 16, 0, rows))[2]
    assert np.array_equal(rgb[0, :, 0], [0xAB, 0x12])


def test_reference_short_lines_pngs_decode_and_are_straight(reference_file):
    """The reference's skew-corrector corpus short_lines-*.png are 4-bit
    grayscale; its own unit test asserts rotated_angle == 0 on them
    (test_module_skew_corrector.py) — same assertion here through our
    decoder + estimator."""
    from dedoc_spark.core.image_decode import decode_image
    from dedoc_spark.core.ocr import estimate_skew, ink_mask

    for i in range(1, 6):
        w, h, rgb = decode_image(reference_file(f"skew_corrector/short_lines-{i}.png").read_bytes())
        assert (w, h) == (1654, 2339)
        assert estimate_skew(ink_mask(rgb)) == 0.0
