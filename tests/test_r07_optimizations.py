"""Focused regression tests for the round-7 optimization work: each
rewritten operator internal is pinned against a straightforward
reference implementation or a defined invariant, so future edits can't
silently change behavior the bit-exact rewrites preserved."""

import numpy as np
import pandas as pd
import pytest


# --- RunLength encoder vs the greedy reference scanner -----------------------


def _runlength_greedy(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i + 1
        while j < n and (j + 1 >= n or data[j] != data[j + 1]) and j - i < 128:
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    out.append(128)
    return bytes(out)


def test_runlength_encode_matches_greedy_reference():
    from dedoc_spark.core.pdf_filters import runlength_decode, runlength_encode

    rng = np.random.default_rng(11)
    cases = [b"", b"\x00", b"ab", b"a" * 129, b"a" * 128, b"a" * 130, b"ab" * 200]
    for trial in range(120):
        n = int(rng.integers(0, 1500))
        style = trial % 4
        if style == 0:
            data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        elif style == 1:
            data = bytes(np.repeat(rng.integers(0, 3, max(n // 50, 1), dtype=np.uint8), 50)[:n])
        elif style == 2:
            data = bytes(np.repeat(rng.integers(0, 2, max(n // 200, 1), dtype=np.uint8), 200)[:n])
        else:
            data = bytes(rng.integers(0, 2, n, dtype=np.uint8))
        cases.append(data)
    for data in cases:
        enc = runlength_encode(data)
        assert enc == _runlength_greedy(data)
        assert runlength_decode(enc) == data


# --- LZW encoder: (prefix code, byte) automaton --------------------------------


def test_lzw_spec_example_and_clear_boundary():
    from dedoc_spark.core.pdf_filters import lzw_decode, lzw_encode

    # PDF 32000-1:2008 §7.4.4.2 worked example
    assert lzw_encode(bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])).hex() == \
        "800b6050220c0c8501"
    # long repetitive stream crosses the 12-bit table Clear boundary
    data = bytes(np.repeat(np.arange(8, dtype=np.uint8), 2000))
    assert lzw_decode(lzw_encode(data)) == data


# --- glyph matcher: deterministic pixel-twin tie order -------------------------


def test_match_band_ties_order_by_template_index():
    from dedoc_spark.core.glyph_ocr import GRID, GlyphBank, _crop_feats, _match_from_dist1, _shape_dist

    rng = np.random.default_rng(5)
    g_dup = rng.integers(0, 256, GRID * GRID).tolist()
    templates = []
    for i in range(300):
        if i in (40, 170, 260):  # three pixel-twin copies of one glyph
            g = list(g_dup)
        else:
            g = rng.integers(0, 256, GRID * GRID).tolist()
        templates.append({"c": chr(ord("a") + i % 26), "g": g, "a": 1.0,
                          "h": 0.7, "d": 0.0})
    bank = GlyphBank({"grid": GRID, "templates": templates})
    crop = np.array(g_dup, dtype=np.float64).reshape(GRID, GRID) / 255.0
    crops = [crop] * 4
    boxes = [(i * 20, 0, i * 20 + GRID, GRID) for i in range(4)]
    feats, heights, _, aspect = _crop_feats(crops, boxes)
    bottoms = np.array([y1 for _, _, _, y1 in boxes], dtype=np.float64)
    idx, dist, _ = _match_from_dist1(bank, _shape_dist(bank, feats, aspect), heights, bottoms, 5)
    for row_i, row_d in zip(idx, dist):
        # the three exact twins come first, in ascending template index
        assert list(row_i[:3]) == [40, 170, 260]
        assert row_d[0] == row_d[1] == row_d[2]


# --- txt-layer feature extractor: table-driven rewrite pinned ------------------


def test_feature_dicts_pinned_values():
    from dedoc_spark.core.txtlayer import _feature_dicts

    texts = ["", " ", "aA", "Hello Мир 123 [ok]? \x1f", "ё" * 7 + "\U0001d11e"]
    rows = _feature_dicts(pd.Series(texts))
    # empty text: all-zero proportions, NaN word stats (documented divergence)
    assert rows[0]["letters_proportion"] == 0.0
    assert np.isnan(rows[0]["mean_word_length"])
    assert rows[0]["std_char_ord"] == 0.0
    # "aA": one lower->upper transition over denom 2
    assert rows[2]["case_changes"] == 0.5
    assert rows[2]["letters_proportion"] == 1.0
    assert rows[2]["a_proportion"] == 0.5
    assert rows[2]["A_proportion"] == 0.5
    # mixed text: counts stay integers, ordinal stats match a direct compute
    t = texts[3]
    ords = [ord(c) for c in t]
    assert rows[3]["trash_chars_number"] == sum(
        1 for o in ords if o <= 32 or 160 <= o <= 879
    )
    assert rows[3]["mean_char_ord"] == pytest.approx(float(np.mean(ords)), abs=0)
    assert rows[3]["symbol0_number"] == 1  # '[' remapped name
    # astral char (surrogate-free codepoint view) + high Cyrillic
    t = texts[4]
    assert rows[4]["median_char_ord"] == float(np.median([ord(c) for c in t]))
    assert rows[4]["rus_proportion"] == 7 / 8


# --- CCITT: batched per-row transitions ----------------------------------------


def _row_transitions(row) -> list:
    """Per-row reference: every x where the colour changes, starting
    from white, with a row ending black closed at its width."""
    out, black = [], False
    for x, v in enumerate(row.tolist() + [255]):
        if (v == 0) != black:
            out.append(x)
            black = not black
    return out


def test_all_transitions_matches_per_row():
    from dedoc_spark.core.ccitt import _all_transitions

    rng = np.random.default_rng(3)
    for _ in range(20):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 120))
        img = np.where(rng.random((h, w)) < 0.3, 0, 255).astype(np.uint8)
        batched = _all_transitions(img)
        for y in range(h):
            assert batched[y] == _row_transitions(img[y])


# --- JBIG2: blank-stretch batching around renorm/ink boundaries ----------------


def test_jbig2_blank_stretch_roundtrip():
    from dedoc_spark.core.jbig2 import decode_generic, encode_generic

    rng = np.random.default_rng(9)
    # wide blank page with sparse ink islands — exercises the run skip,
    # the window rebuild at ink boundaries, and renorm-in-gap steps
    bm = np.zeros((64, 500), dtype=np.uint8)
    for _ in range(25):
        y, x = int(rng.integers(0, 60)), int(rng.integers(0, 490))
        bm[y : y + int(rng.integers(1, 4)), x : x + int(rng.integers(1, 8))] = 1
    data = encode_generic(bm)
    out = decode_generic(data, 500, 64)
    assert np.array_equal(out, bm)
    # fully blank and fully black edge cases
    for fill in (0, 1):
        bm2 = np.full((16, 300), fill, dtype=np.uint8)
        assert np.array_equal(decode_generic(encode_generic(bm2), 300, 16), bm2)


# --- LZW encoder vs the per-byte reference automaton ---------------------------


def _lzw_encode_per_byte(data: bytes, early_change: int = 1) -> bytes:
    """The per-byte (prefix code, byte) automaton, kept as the
    behavioural reference for lzw_encode."""
    table = {}
    next_code = 258
    width = 9
    chunks = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            chunks.append((acc >> nacc) & 0xFF)
        acc &= (1 << nacc) - 1

    emit(256)
    seq = -1
    for byte in bytes(data):
        if seq < 0:
            seq = byte
            continue
        key = (seq << 8) | byte
        hit = table.get(key)
        if hit is not None:
            seq = hit
            continue
        emit(seq)
        if next_code + early_change >= (1 << 12):
            emit(256)
            table.clear()
            next_code = 258
            width = 9
        else:
            table[key] = next_code
            next_code += 1
            if next_code + early_change - 1 >= (1 << width) and width < 12:
                width += 1
        seq = byte
    if seq >= 0:
        emit(seq)
    if next_code + early_change >= (1 << width) and width < 12:
        width += 1
    emit(257)
    if nacc:
        chunks.append((acc << (8 - nacc)) & 0xFF)
    return bytes(chunks)


def test_lzw_run_chain_matches_per_byte_automaton():
    from dedoc_spark.core.pdf_filters import lzw_decode, lzw_encode

    rng = np.random.default_rng(23)
    cases = [b"", b"A", b"AA", b"AAA", bytes(50000), b"\xff" * 50000]
    for trial in range(60):
        n = int(rng.integers(1, 20000))
        style = trial % 4
        if style == 0:
            data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        elif style == 1:  # run-heavy
            pieces = []
            total = 0
            while total < n:
                run = bytes([int(rng.integers(0, 4)) * 85]) * int(rng.integers(1, 3000))
                pieces.append(run)
                total += len(run)
            data = b"".join(pieces)[:n]
        elif style == 2:  # raster-like: sparse specks on paper
            a = np.zeros(n, dtype=np.uint8)
            idx = rng.integers(0, n, max(1, n // 40))
            a[idx] = rng.integers(1, 256, idx.size, dtype=np.uint8)
            data = bytes(a)
        else:  # short alternating runs (chain/table interleaving)
            data = b"".join(
                bytes([int(rng.integers(0, 3))]) * int(rng.integers(1, 9))
                for _ in range(max(1, n // 4))
            )
        cases.append(data)
    # long enough to force the 12-bit table Clear
    a = np.zeros(300000, dtype=np.uint8)
    a[rng.integers(0, 300000, 25000)] = 7
    cases.append(bytes(a))
    for data in cases:
        enc = lzw_encode(data)
        assert enc == _lzw_encode_per_byte(data)
        assert lzw_decode(enc) == data


# --- glyph pass-2: unique-metric-pair gather vs the direct form ---------------


def test_pass2_rows_unique_pair_gather_bit_identical():
    from dedoc_spark.core import glyph_ocr as g

    bank = g._bank_for_language("rus+eng")
    if bank is None:
        pytest.skip("glyph bank not built")

    def direct(dist1_rows, hs_rows, bottoms_rows, S, base_est):
        size_pen = np.log(hs_rows / np.maximum(bank.h_rel[None, :] * S, 1e-6)) ** 2
        base_pen = (
            (bottoms_rows[:, None] - base_est - bank.desc_rel[None, :] * S) / S
        ) ** 2
        return dist1_rows + g._W_SIZE * size_pen + g._W_BASE * base_pen

    rng = np.random.default_rng(31)
    for _ in range(10):
        m = int(rng.integers(1, 50))
        dist1 = rng.random((m, bank.grids.shape[0]))
        hs = np.maximum(rng.integers(1, 60, m).astype(np.float64), 1)[:, None]
        bottoms = rng.integers(0, 500, m).astype(np.float64)
        S = float(rng.random() * 50 + 0.01)
        base = float(rng.random() * 400)
        a = direct(dist1, hs, bottoms, S, base)
        b = g._pass2_rows(bank, dist1, hs, bottoms, S, base)
        assert np.array_equal(a, b)
