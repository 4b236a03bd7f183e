"""CCITT Group 4 (ITU-T T.6) and Group 3 (T.4) bilevel codecs, pure
Python + numpy.

Scanned PDFs overwhelmingly store their page rasters as 1-bit
/CCITTFaxDecode images (K < 0 = pure two-dimensional MMR coding) — the
reference reads them through pdf2image/poppler (pdf_base_reader.py:
227-256); here the decoder feeds core/ocr.extract_pdf_page_images
directly so the PdfImageReader path covers the canonical scan codec
without a native runtime. Legacy fax PDFs use Group 3 instead: K = 0
pure one-dimensional MH rows (no row sync unless EndOfLine) and K > 0
mixed rows, each EOL+tag-prefixed (T.4 §2.2.2) — decode_g3 covers
both, with /EncodedByteAlign.

The run-length code tables are the published ITU-T T.4 §2 tables
(white/black terminating codes 0-63, make-up codes 64-1728, and the
shared extended make-up codes 1792-2560); the two-dimensional mode
codes (V0/VR/VL, pass, horizontal) are T.4 §2.2.1 table 4 as used by
T.6 §2.2. Validated against a real-world G4 stream: the reference
corpus's laws/with_applications.pdf (2475x3555, K=-1) decodes to
full-width rows with a document-like ink profile (test_ccitt.py).

An encoder lives here too — it exists to build deterministic test
fixtures (encode->decode round-trips over random and structured pages),
never to claim fax-writer support.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# ITU-T T.4 run-length code tables: run -> (code value, bit count)

_WHITE_CODES: Dict[int, Tuple[int, int]] = {
    0: (0b00110101, 8), 1: (0b000111, 6), 2: (0b0111, 4), 3: (0b1000, 4),
    4: (0b1011, 4), 5: (0b1100, 4), 6: (0b1110, 4), 7: (0b1111, 4),
    8: (0b10011, 5), 9: (0b10100, 5), 10: (0b00111, 5), 11: (0b01000, 5),
    12: (0b001000, 6), 13: (0b000011, 6), 14: (0b110100, 6), 15: (0b110101, 6),
    16: (0b101010, 6), 17: (0b101011, 6), 18: (0b0100111, 7), 19: (0b0001100, 7),
    20: (0b0001000, 7), 21: (0b0010111, 7), 22: (0b0000011, 7), 23: (0b0000100, 7),
    24: (0b0101000, 7), 25: (0b0101011, 7), 26: (0b0010011, 7), 27: (0b0100100, 7),
    28: (0b0011000, 7), 29: (0b00000010, 8), 30: (0b00000011, 8), 31: (0b00011010, 8),
    32: (0b00011011, 8), 33: (0b00010010, 8), 34: (0b00010011, 8), 35: (0b00010100, 8),
    36: (0b00010101, 8), 37: (0b00010110, 8), 38: (0b00010111, 8), 39: (0b00101000, 8),
    40: (0b00101001, 8), 41: (0b00101010, 8), 42: (0b00101011, 8), 43: (0b00101100, 8),
    44: (0b00101101, 8), 45: (0b00000100, 8), 46: (0b00000101, 8), 47: (0b00001010, 8),
    48: (0b00001011, 8), 49: (0b01010010, 8), 50: (0b01010011, 8), 51: (0b01010100, 8),
    52: (0b01010101, 8), 53: (0b00100100, 8), 54: (0b00100101, 8), 55: (0b01011000, 8),
    56: (0b01011001, 8), 57: (0b01011010, 8), 58: (0b01011011, 8), 59: (0b01001010, 8),
    60: (0b01001011, 8), 61: (0b00110010, 8), 62: (0b00110011, 8), 63: (0b00110100, 8),
    # make-up codes
    64: (0b11011, 5), 128: (0b10010, 5), 192: (0b010111, 6), 256: (0b0110111, 7),
    320: (0b00110110, 8), 384: (0b00110111, 8), 448: (0b01100100, 8),
    512: (0b01100101, 8), 576: (0b01101000, 8), 640: (0b01100111, 8),
    704: (0b011001100, 9), 768: (0b011001101, 9), 832: (0b011010010, 9),
    896: (0b011010011, 9), 960: (0b011010100, 9), 1024: (0b011010101, 9),
    1088: (0b011010110, 9), 1152: (0b011010111, 9), 1216: (0b011011000, 9),
    1280: (0b011011001, 9), 1344: (0b011011010, 9), 1408: (0b011011011, 9),
    1472: (0b010011000, 9), 1536: (0b010011001, 9), 1600: (0b010011010, 9),
    1664: (0b011000, 6), 1728: (0b010011011, 9),
}

_BLACK_CODES: Dict[int, Tuple[int, int]] = {
    0: (0b0000110111, 10), 1: (0b010, 3), 2: (0b11, 2), 3: (0b10, 2),
    4: (0b011, 3), 5: (0b0011, 4), 6: (0b0010, 4), 7: (0b00011, 5),
    8: (0b000101, 6), 9: (0b000100, 6), 10: (0b0000100, 7), 11: (0b0000101, 7),
    12: (0b0000111, 7), 13: (0b00000100, 8), 14: (0b00000111, 8),
    15: (0b000011000, 9), 16: (0b0000010111, 10), 17: (0b0000011000, 10),
    18: (0b0000001000, 10), 19: (0b00001100111, 11), 20: (0b00001101000, 11),
    21: (0b00001101100, 11), 22: (0b00000110111, 11), 23: (0b00000101000, 11),
    24: (0b00000010111, 11), 25: (0b00000011000, 11), 26: (0b000011001010, 12),
    27: (0b000011001011, 12), 28: (0b000011001100, 12), 29: (0b000011001101, 12),
    30: (0b000001101000, 12), 31: (0b000001101001, 12), 32: (0b000001101010, 12),
    33: (0b000001101011, 12), 34: (0b000011010010, 12), 35: (0b000011010011, 12),
    36: (0b000011010100, 12), 37: (0b000011010101, 12), 38: (0b000011010110, 12),
    39: (0b000011010111, 12), 40: (0b000001101100, 12), 41: (0b000001101101, 12),
    42: (0b000011011010, 12), 43: (0b000011011011, 12), 44: (0b000001010100, 12),
    45: (0b000001010101, 12), 46: (0b000001010110, 12), 47: (0b000001010111, 12),
    48: (0b000001100100, 12), 49: (0b000001100101, 12), 50: (0b000001010010, 12),
    51: (0b000001010011, 12), 52: (0b000000100100, 12), 53: (0b000000110111, 12),
    54: (0b000000111000, 12), 55: (0b000000100111, 12), 56: (0b000000101000, 12),
    57: (0b000001011000, 12), 58: (0b000001011001, 12), 59: (0b000000101011, 12),
    60: (0b000000101100, 12), 61: (0b000001011010, 12), 62: (0b000001100110, 12),
    63: (0b000001100111, 12),
    # make-up codes
    64: (0b0000001111, 10), 128: (0b000011001000, 12), 192: (0b000011001001, 12),
    256: (0b000001011011, 12), 320: (0b000000110011, 12), 384: (0b000000110100, 12),
    448: (0b000000110101, 12), 512: (0b0000001101100, 13), 576: (0b0000001101101, 13),
    640: (0b0000001001010, 13), 704: (0b0000001001011, 13), 768: (0b0000001001100, 13),
    832: (0b0000001001101, 13), 896: (0b0000001110010, 13), 960: (0b0000001110011, 13),
    1024: (0b0000001110100, 13), 1088: (0b0000001110101, 13), 1152: (0b0000001110110, 13),
    1216: (0b0000001110111, 13), 1280: (0b0000001010010, 13), 1344: (0b0000001010011, 13),
    1408: (0b0000001010100, 13), 1472: (0b0000001010101, 13), 1536: (0b0000001011010, 13),
    1600: (0b0000001011011, 13), 1664: (0b0000001100100, 13), 1728: (0b0000001100101, 13),
}

# extended make-up codes shared by both colors (T.4 table 3)
_EXT_CODES: Dict[int, Tuple[int, int]] = {
    1792: (0b00000001000, 11), 1856: (0b00000001100, 11), 1920: (0b00000001101, 11),
    1984: (0b000000010010, 12), 2048: (0b000000010011, 12), 2112: (0b000000010100, 12),
    2176: (0b000000010101, 12), 2240: (0b000000010110, 12), 2304: (0b000000010111, 12),
    2368: (0b000000011100, 12), 2432: (0b000000011101, 12), 2496: (0b000000011110, 12),
    2560: (0b000000011111, 12),
}

# decode maps: (bit count, value) -> run length
_WHITE_DECODE: Dict[Tuple[int, int], int] = {}
_BLACK_DECODE: Dict[Tuple[int, int], int] = {}
for _run, (_v, _n) in _WHITE_CODES.items():
    _WHITE_DECODE[(_n, _v)] = _run
for _run, (_v, _n) in _BLACK_CODES.items():
    _BLACK_DECODE[(_n, _v)] = _run
for _run, (_v, _n) in _EXT_CODES.items():
    _WHITE_DECODE[(_n, _v)] = _run
    _BLACK_DECODE[(_n, _v)] = _run

_WHITE_LENGTHS = sorted({n for n, _ in _WHITE_DECODE})
_BLACK_LENGTHS = sorted({n for n, _ in _BLACK_DECODE})


def _build_run_lut(decode: Dict[Tuple[int, int], int]) -> List[Optional[Tuple[int, int]]]:
    """14-bit window -> (run, code length) for the unique prefix match
    (the T.4 tables are prefix-free per color, so the windows a code
    covers never overlap another's); None = no code matches. Replaces
    the per-length probe loop in _read_run with one list index. A table
    that is not prefix-free raises here, at import, instead of letting
    the later code silently win the shared windows."""
    lut: List[Optional[Tuple[int, int]]] = [None] * (1 << 14)
    for (n, v), run in decode.items():
        lo = v << (14 - n)
        for w in range(lo, lo + (1 << (14 - n))):
            if lut[w] is not None:
                raise ValueError(f"code {v:0{n}b} overlaps code of run {lut[w][0]}: table is not prefix-free")
            lut[w] = (run, n)
    return lut


_WHITE_LUT = _build_run_lut(_WHITE_DECODE)
_BLACK_LUT = _build_run_lut(_BLACK_DECODE)
_WHITE_MAXLEN = _WHITE_LENGTHS[-1]
_BLACK_MAXLEN = _BLACK_LENGTHS[-1]

# 7-bit window -> (mode, dv, code length); None = EOL candidate (both
# 12-bit EOLs start 0000000/0000001) or garbage — resolved by peek(12)
_MODE_LUT: List[Optional[Tuple[str, int, int]]] = [None] * 128
for _v7, _entry in (
    [(v, ("v", 0, 1)) for v in range(0b1000000, 0b10000000)]
    + [(v, ("v", 1, 3)) for v in range(0b0110000, 0b1000000)]
    + [(v, ("v", -1, 3)) for v in range(0b0100000, 0b0110000)]
    + [(v, ("h", 0, 3)) for v in range(0b0010000, 0b0100000)]
    + [(v, ("p", 0, 4)) for v in range(0b0001000, 0b0010000)]
    + [(v, ("v", 2, 6)) for v in (0b0000110, 0b0000111)]
    + [(v, ("v", -2, 6)) for v in (0b0000100, 0b0000101)]
    + [(0b0000011, ("v", 3, 7)), (0b0000010, ("v", -3, 7))]
):
    _MODE_LUT[_v7] = _entry

# two-dimensional mode codes (T.4 table 4): value is read MSB-first
_M_V0 = (0b1, 1)
_M_VR = {1: (0b011, 3), 2: (0b000011, 6), 3: (0b0000011, 7)}
_M_VL = {1: (0b010, 3), 2: (0b000010, 6), 3: (0b0000010, 7)}
_M_H = (0b001, 3)
_M_PASS = (0b0001, 4)


class CcittError(ValueError):
    pass


class _BitReader:
    """MSB-first bit cursor over bytes. Peeks read a precomputed 24-bit
    window per byte offset (the old per-peek bytes slice +
    int.from_bytes pair allocated on every one of the ~70k peeks a page
    decode makes); codes are at most 14 bits, so one window always
    covers a peek."""

    __slots__ = ("data", "pos", "nbits", "win")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8
        import numpy as np

        a = np.frombuffer(data + b"\x00\x00\x00", dtype=np.uint8).astype(np.uint32)
        self.win = (
            (a[:-3] << 24) | (a[1:-2] << 16) | (a[2:-1] << 8) | a[3:]
        ).tolist()

    def peek(self, n: int) -> int:
        pos = self.pos
        if pos + n > self.nbits:
            raise CcittError("bit stream exhausted")
        return (self.win[pos >> 3] >> (32 - (pos & 7) - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n


def _read_run(r: _BitReader, white: bool) -> int:
    """One complete run length: make-up codes accumulate until a
    terminating (<64) code arrives (T.4 §2.1.2). One windowed 14-bit
    peek indexes the per-color prefix LUT — the unique prefix-free
    match, same result (and same exhausted/invalid error split) as
    probing each candidate length in ascending order."""
    lut = _WHITE_LUT if white else _BLACK_LUT
    maxlen = _WHITE_MAXLEN if white else _BLACK_MAXLEN
    total = 0
    win = r.win
    nbits = r.nbits
    while True:
        pos = r.pos
        avail = nbits - pos
        if avail <= 0:
            raise CcittError("bit stream exhausted")
        hit = lut[(win[pos >> 3] >> (18 - (pos & 7))) & 0x3FFF]  # next 14 bits
        if hit is None:
            # the ascending-length probe would have hit its first
            # length > avail before exhausting the candidates
            if avail < maxlen:
                raise CcittError("bit stream exhausted")
            raise CcittError(f"invalid {'white' if white else 'black'} run code at bit {r.pos}")
        run, n = hit
        if n > avail:
            raise CcittError("bit stream exhausted")
        r.pos = pos + n
        total += run
        if run < 64:
            return total


def _read_mode(r: _BitReader) -> Tuple[str, int]:
    """(mode, vertical offset). EOL (000000000001) reports as ('eol', 0).

    Fast path: every mode code fits 7 bits except EOL, so one windowed
    7-bit peek resolves the LUT entry (padding zeros beyond the stream
    are harmless — a matched code longer than the remaining bits cannot
    occur because the LUT's codes are <= 7 bits and get length-checked,
    and the None entries fall through to the same peek(12) the
    sequential probe chain ends with). The sub-7-bit tail keeps the
    original peek chain for identical exhausted-stream errors."""
    pos = r.pos
    if r.nbits - pos >= 7:
        hit = _MODE_LUT[(r.win[pos >> 3] >> (25 - (pos & 7))) & 0x7F]
        if hit is not None:
            mode, dv, n = hit
            r.pos = pos + n
            return (mode, dv)
        if r.peek(12) == 0b000000000001:
            r.skip(12)
            return ("eol", 0)
        raise CcittError(f"invalid 2-D mode code at bit {r.pos}")
    if r.peek(1) == 1:
        r.skip(1)
        return ("v", 0)
    if r.peek(3) == 0b011:
        r.skip(3)
        return ("v", 1)
    if r.peek(3) == 0b010:
        r.skip(3)
        return ("v", -1)
    if r.peek(3) == 0b001:
        r.skip(3)
        return ("h", 0)
    if r.peek(4) == 0b0001:
        r.skip(4)
        return ("p", 0)
    if r.peek(6) == 0b000011:
        r.skip(6)
        return ("v", 2)
    if r.peek(6) == 0b000010:
        r.skip(6)
        return ("v", -2)
    if r.peek(7) == 0b0000011:
        r.skip(7)
        return ("v", 3)
    if r.peek(7) == 0b0000010:
        r.skip(7)
        return ("v", -3)
    if r.peek(12) == 0b000000000001:
        r.skip(12)
        return ("eol", 0)
    raise CcittError(f"invalid 2-D mode code at bit {r.pos}")


def _decode_2d_row(
    r: _BitReader, ref: List[int], columns: int
) -> Tuple[Optional[List[int]], bool]:
    """One 2-D coded row against reference transitions ``ref`` (which
    must carry two ``columns`` sentinels). Returns (changing elements,
    hit_eol); on EOL the partial row is discarded (None, True)."""
    cur: List[int] = []
    a0 = -1
    color_white = True
    i0 = 0  # a0 is monotonic, so the ref scan pointer only moves right
    nref = len(ref)
    while a0 < columns:
        # b1: first ref transition > a0 with the same color parity as
        # the current color (transitions at even index flip white->
        # black, odd flip black->white; row starts white)
        while i0 < nref and ref[i0] <= a0:
            i0 += 1
        idx = i0 if (i0 & 1) == (0 if color_white else 1) else i0 + 1
        b1 = ref[idx] if idx < nref else columns
        b2 = ref[idx + 1] if idx + 1 < nref else columns
        # inlined _read_mode fast path (single call site; the sub-7-bit
        # stream tail and EOL both fall back to the full reader)
        p_ = r.pos
        hit = (
            _MODE_LUT[(r.win[p_ >> 3] >> (25 - (p_ & 7))) & 0x7F]
            if r.nbits - p_ >= 7 else None
        )
        if hit is not None:
            mode, dv, n_ = hit
            r.pos = p_ + n_
        else:
            mode, dv = _read_mode(r)
        if mode == "eol":
            return None, True
        if mode == "p":
            a0 = b2
            continue
        if mode == "v":
            a1 = b1 + dv
            cur.append(min(max(a1, 0), columns))
            a0 = a1
            color_white = not color_white
            continue
        # horizontal: two complete runs from a0 (a0 = 0 for the
        # imaginary first element)
        base = a0 if a0 > 0 else 0
        r1 = _read_run(r, color_white)
        r2 = _read_run(r, not color_white)
        a1 = base + r1
        a2 = a1 + r2
        cur.append(min(a1, columns))
        cur.append(min(a2, columns))
        a0 = a2
    return cur, False


def _decode_1d_row(r: _BitReader, columns: int) -> List[int]:
    """One 1-D (MH) coded row: alternating complete runs, white first,
    summing exactly to ``columns`` (T.4 §2.1). Returns the changing
    elements (cumulative run boundaries)."""
    cur: List[int] = []
    total = 0
    white = True
    while total < columns:
        run = _read_run(r, white)
        total += run
        if total > columns:
            raise CcittError(f"1-D runs overflow row width at bit {r.pos}")
        cur.append(total)
        white = not white
    return cur


def _paint_row(cur: List[int], columns: int) -> np.ndarray:
    row = np.full(columns, 255, dtype=np.uint8)
    # paint black between alternate transitions (white starts)
    for i in range(0, len(cur) - 1, 2):
        row[cur[i] : cur[i + 1]] = 0
    if len(cur) % 2 == 1:
        row[cur[-1] :] = 0
    return row


def decode_g4(data: bytes, columns: int, rows: Optional[int] = None) -> np.ndarray:
    """Pure two-dimensional (K < 0) CCITT decode -> uint8 grayscale
    (ink 0, paper 255), the /CCITTFaxDecode K=-1 case every scanned PDF
    in the wild uses. Stops at ``rows`` when given, else at EOFB or
    stream end. Raises CcittError on a corrupt stream."""
    r = _BitReader(data)
    out: List[np.ndarray] = []
    # reference line transitions; colors alternate starting white->black
    ref: List[int] = [columns, columns]
    while rows is None or len(out) < rows:
        if r.pos >= r.nbits:
            break
        cur, hit_eol = _decode_2d_row(r, ref, columns)
        if hit_eol:
            # T.6 EOFB: EOL + EOL terminates the image
            if r.pos + 12 <= r.nbits and r.peek(12) == 0b000000000001:
                r.skip(12)
            break
        out.append(_paint_row(cur, columns))
        ref = cur + [columns, columns]
    return _rows_to_image(out, columns)


def _sync_eol(r: _BitReader) -> bool:
    """Consume fill bits (zeros) through the next EOL terminator bit.
    False when the stream ends first; CcittError when a 1 arrives with
    fewer than 11 preceding zeros (not an EOL)."""
    zeros = 0
    while r.pos < r.nbits:
        bit = r.peek(1)
        r.skip(1)
        if bit == 0:
            zeros += 1
            continue
        if zeros >= 11:
            return True
        raise CcittError(f"expected EOL at bit {r.pos}")
    return False


def decode_g3(
    data: bytes,
    columns: int,
    rows: Optional[int] = None,
    k: int = 0,
    byte_align: bool = False,
) -> np.ndarray:
    """Group 3 decode (/CCITTFaxDecode K >= 0) -> uint8 grayscale
    (ink 0, paper 255). K = 0 is pure one-dimensional MH coding with
    optional EOLs between rows (the PDF EndOfLine=false default writes
    none); K > 0 is the mixed mode where every row is prefixed by
    EOL + a 1-bit tag (1 = 1-D, 0 = 2-D against the previous row —
    T.4 §2.2.2). ``byte_align`` is /EncodedByteAlign. Ends at ``rows``,
    RTC (consecutive EOLs), or stream end."""
    r = _BitReader(data)
    out: List[np.ndarray] = []
    ref: List[int] = [columns, columns]
    while rows is None or len(out) < rows:
        if byte_align:
            r.pos = (r.pos + 7) & ~7
        if k > 0:
            # mandatory row sync: fill + EOL, then the coding-mode tag
            try:
                if not _sync_eol(r):
                    break
            except CcittError:
                if rows is None:
                    break  # trailing pad bits
                raise
            if r.pos >= r.nbits:
                break
            if r.pos + 12 <= r.nbits and r.peek(12) == 0b000000000001:
                break  # RTC: another EOL immediately (no code starts with 11 zeros)
            tag = r.peek(1)
            r.skip(1)
            if tag == 1:
                cur = _decode_1d_row(r, columns)
            else:
                cur, hit_eol = _decode_2d_row(r, ref, columns)
                if hit_eol:
                    break
        else:
            # optional EOLs between 1-D rows (EndOfLine=true streams)
            while r.pos + 12 <= r.nbits and r.peek(12) == 0b000000000001:
                r.skip(12)
            if r.pos >= r.nbits:
                break
            if rows is None and r.nbits - r.pos < 4:
                break  # byte padding, not another row
            try:
                cur = _decode_1d_row(r, columns)
            except CcittError:
                if rows is None and not out:
                    raise
                if rows is None:
                    break  # trailing pad bits read as a partial row
                raise
        out.append(_paint_row(cur, columns))
        ref = cur + [columns, columns]
    return _rows_to_image(out, columns)


def _rows_to_image(rows: List[np.ndarray], columns: int) -> np.ndarray:
    if not rows:
        return np.full((0, columns), 255, dtype=np.uint8)
    return np.stack(rows)


# ---------------------------------------------------------------------------
# encoder (fixture-side only: deterministic round-trip tests)


class _BitWriter:
    __slots__ = ("chunks", "acc", "nacc")

    def __init__(self) -> None:
        self.chunks: List[int] = []
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | value
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            self.chunks.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def bytes(self) -> bytes:
        if self.nacc:
            self.chunks.append((self.acc << (8 - self.nacc)) & 0xFF)
            self.acc = 0
            self.nacc = 0
        return bytes(self.chunks)


def _write_run(w: _BitWriter, run: int, white: bool) -> None:
    table = _WHITE_CODES if white else _BLACK_CODES
    while run >= 64:
        if run >= 2624:
            mk = 2560
        else:
            mk = (run // 64) * 64
            if mk > 1728 or mk not in table:
                mk = min(mk, 1728)
        code = table.get(mk) or _EXT_CODES[mk]
        w.write(*code)
        run -= mk
    w.write(*table[run])


def _all_transitions(img: np.ndarray) -> List[List[int]]:
    """Per-row changing-element positions (white start) of a 0/255
    image, in one numpy pass over the whole image (a per-row diff costs
    ~20 us of numpy-call overhead per row)."""
    h, _ = img.shape
    black = img == 0
    padded = np.zeros((h, black.shape[1] + 2), dtype=np.int8)
    padded[:, 1:-1] = black
    d = np.diff(padded, axis=1)
    rows_idx, cols = np.nonzero(d)
    out: List[List[int]] = [[] for _ in range(h)]
    for r, c in zip(rows_idx.tolist(), cols.tolist()):
        out[r].append(c)
    return out


def _encode_2d_row(w: _BitWriter, cur: List[int], ref: List[int], columns: int) -> None:
    """2-D code one row's changing elements against ``ref``: standard
    mode choice — vertical when |a1-b1| <= 3, else pass when b2 < a1,
    else horizontal."""
    coding = cur + [columns, columns]
    a0 = -1
    color_white = True
    ci = 0  # next transition index in the coding line
    i0 = 0
    nref = len(ref)
    while a0 < columns:
        a1 = coding[ci] if ci < len(coding) else columns
        while i0 < nref and ref[i0] <= a0:
            i0 += 1
        idx = i0 if (i0 & 1) == (0 if color_white else 1) else i0 + 1
        b1 = ref[idx] if idx < nref else columns
        b2 = ref[idx + 1] if idx + 1 < nref else columns
        if b2 < a1:
            w.write(*_M_PASS)
            a0 = b2
            continue
        if abs(a1 - b1) <= 3:
            d = a1 - b1
            if d == 0:
                w.write(*_M_V0)
            elif d > 0:
                w.write(*_M_VR[d])
            else:
                w.write(*_M_VL[-d])
            a0 = a1
            ci += 1
            color_white = not color_white
            continue
        a2 = coding[ci + 1] if ci + 1 < len(coding) else columns
        base = a0 if a0 > 0 else 0
        w.write(*_M_H)
        _write_run(w, a1 - base, color_white)
        _write_run(w, a2 - a1, not color_white)
        a0 = a2
        ci += 2


def _encode_1d_row(w: _BitWriter, cur: List[int], columns: int) -> None:
    """1-D (MH) code one row: alternating complete runs, white first
    (a row starting black opens with a zero-length white run)."""
    prev = 0
    white = True
    for t in cur + [columns]:
        if t > columns:
            break
        _write_run(w, t - prev, white)
        prev = t
        white = not white
        if prev == columns:
            break
    if prev < columns:
        _write_run(w, columns - prev, white)


def encode_g4(image: np.ndarray) -> bytes:
    """T.6 encoder over a uint8 image (ink <128 = black), terminated by
    EOFB."""
    img = np.where(np.asarray(image) < 128, np.uint8(0), np.uint8(255))
    h, columns = img.shape
    w = _BitWriter()
    ref: List[int] = [columns, columns]
    all_cur = _all_transitions(img)
    for y in range(h):
        cur = all_cur[y]
        _encode_2d_row(w, cur, ref, columns)
        ref = cur + [columns, columns]
    w.write(0b000000000001, 12)
    w.write(0b000000000001, 12)
    return w.bytes()


def encode_g3(image: np.ndarray, k: int = 0, byte_align: bool = False) -> bytes:
    """Group 3 encoder (fixture-side): K = 0 writes pure 1-D rows with
    no EOLs (the PDF EndOfLine=false shape); K > 0 prefixes every row
    with EOL + tag and codes one 1-D row per K rows, the rest 2-D."""
    img = np.where(np.asarray(image) < 128, np.uint8(0), np.uint8(255))
    h, columns = img.shape
    w = _BitWriter()
    ref: List[int] = [columns, columns]
    all_cur = _all_transitions(img)
    for y in range(h):
        if byte_align and w.nacc:
            w.write(0, 8 - w.nacc)
        cur = all_cur[y]
        if k <= 0:
            _encode_1d_row(w, cur, columns)
        else:
            w.write(0b000000000001, 12)
            if y % k == 0:
                w.write(1, 1)
                _encode_1d_row(w, cur, columns)
            else:
                w.write(0, 1)
                _encode_2d_row(w, cur, ref, columns)
        ref = cur + [columns, columns]
    if k > 0:
        # RTC-ish terminator so rows=None decoding stops cleanly
        w.write(0b000000000001, 12)
        w.write(0b000000000001, 12)
    return w.bytes()
