"""Legacy PDF stream filters: LZWDecode and RunLengthDecode.

Pure-python ports of the two non-Flate lossless filters older scanned
PDFs carry (PDF 32000-1:2008 §7.4.2 / §7.4.5); the LZW variant is the
MSB-first 9..12-bit code stream with Clear=256 / EOD=257 and the
EarlyChange=1 default (code width grows one code early). Validated
against the specification's own worked example
(45 45 45 45 45 65 45 45 45 66 <-> 80 0B 60 50 22 0C 0C 85 01).
"""

from __future__ import annotations

from typing import Dict


class PdfFilterError(ValueError):
    pass


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (§7.4.2): variable-width MSB-first codes."""
    out = bytearray()
    table: Dict[int, bytes] = {}
    width = 9
    next_code = 258
    prev: bytes = b""
    acc = 0
    nacc = 0
    for byte in data:
        acc = (acc << 8) | byte
        nacc += 8
        while nacc >= width:
            nacc -= width
            code = (acc >> nacc) & ((1 << width) - 1)
            if code == 256:  # clear table
                table.clear()
                width = 9
                next_code = 258
                prev = b""
                continue
            if code == 257:  # EOD
                return bytes(out)
            if code < 256:
                entry = bytes([code])
            elif code in table:
                entry = table[code]
            elif code == next_code and prev:
                entry = prev + prev[:1]
            else:
                raise PdfFilterError(f"invalid LZW code {code}")
            out += entry
            if prev:
                table[next_code] = prev + entry[:1]
                next_code += 1
            prev = entry
            # early-change convention (xpdf LZWStream): the width grows
            # when next_code + EarlyChange reaches the current capacity —
            # the decoder lags the encoder's table by exactly one entry
            if next_code + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """Fixture-side LZW writer (round-trip tests only).

    The dictionary keys on (prefix code, next byte) pairs, the classic
    LZW automaton: hashing an int is O(1), where hashing ever-longer
    prefix strings made the encoder quadratic in the length of
    repetitive runs (a flat scan raster is exactly that)."""
    table: Dict[int, int] = {}  # (prefix_code << 8 | byte) -> code
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
    seq_code = -1  # code of the current prefix; single bytes are their own code
    for byte in bytes(data):
        if seq_code < 0:
            seq_code = byte
            continue
        key = (seq_code << 8) | byte
        hit = table.get(key)
        if hit is not None:
            seq_code = hit
            continue
        emit(seq_code)
        if next_code + early_change >= (1 << 12):
            # table full: Clear before any code could outgrow 12 bits
            emit(256)
            table.clear()
            next_code = 258
            width = 9
        else:
            table[key] = next_code
            next_code += 1
            # one behind the decoder's check (its table lags one entry)
            if next_code + early_change - 1 >= (1 << width) and width < 12:
                width += 1
        seq_code = byte
    if seq_code >= 0:
        emit(seq_code)
    # the decoder adds one last entry after the final data code and
    # re-checks its width before reading EOD — mirror that exactly
    if next_code + early_change >= (1 << width) and width < 12:
        width += 1
    emit(257)
    if nacc:
        chunks.append((acc << (8 - nacc)) & 0xFF)
    return bytes(chunks)


def runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): L<128 copies L+1 literals, L>128
    repeats the next byte 257-L times, 128 is EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i >= n:
                raise PdfFilterError("truncated run")
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)


def runlength_encode(data: bytes) -> bytes:
    """Fixture-side RunLength writer (round-trip tests only): greedy
    runs of 2..128 equal bytes, literal stretches of at most 128."""
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
