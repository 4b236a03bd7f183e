"""PDF file structure: the one place that knows how a PDF file is laid out.

``parse_pdf`` reads a payload once into a ``PdfFile``: every ``N G obj …
endobj`` body (decrypted when the standard security handler opens with
the empty user password, object streams expanded), the page object ids
in document order, and whether the document is locked. The text-layer
reader (core/pdf_extract) and the scanned-page raster reader
(core/ocr.extract_pdf_page_images) both take that ``PdfFile``.

The module also owns:
  - stream framing (``stream_parts``) and the one non-image filter
    cascade (``decode_filters``: Flate, LZW, RunLength, PNG/TIFF
    predictors). Content streams, object streams, ToUnicode CMaps,
    JBIG2Globals and image objects all go through it; an image codec
    (DCT, CCITT, JBIG2) ends the cascade and is left to core/ocr.
  - the page walk: /Catalog → /Pages in /Kids order, falling back to the
    id-ordered /Page objects; and the inherited page entries (resources,
    /MediaBox) up the /Parent chain (``inherited``).
  - the trailer-governed reference lookup (``trailer_ref``) and the cheap
    single-object read (``read_object``) that metadata uses for /Info.

Ciphers and key derivation stay in core/pdf_crypt.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, List, NamedTuple, Optional, Tuple

#  the spec says CRLF or LF after the keyword, but CR-only writers exist
#  in the wild (reference corpus tables/example_with_table1.pdf)
_STREAM_START_RE = re.compile(rb"stream(?:\r\n|\n|\r)")
_DIRECT_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_FILTER_RE = re.compile(rb"/(\w+Decode)\b")


class PdfFile(NamedTuple):
    """One parsed PDF. ``objects``: object id → body (plaintext when the
    document opens with the empty user password); ``pages``: page object
    ids in document order; ``locked``: the trailer names an /Encrypt dict
    that needs a real password or an unsupported handler."""

    objects: Dict[int, bytes]
    pages: List[int]
    locked: bool


def parse_pdf(payload: bytes) -> PdfFile:
    objects, gens = _scan_objects(payload)
    locked = b"/Encrypt" in payload and not _decrypt_objects(payload, objects, gens)
    _expand_object_streams(objects)
    return PdfFile(objects, _page_ids(objects), locked)


def _scan_objects(data: bytes) -> Tuple[Dict[int, bytes], Dict[int, int]]:
    """Full-scan object parser: every ``N G obj … endobj`` span, with stream
    payloads skipped via /Length (or an endstream scan) so binary stream
    bytes can't truncate an object or fabricate a fake one. The LAST
    version of an object wins: incremental updates append newer ones."""
    objects: Dict[int, bytes] = {}
    gens: Dict[int, int] = {}
    pos = 0
    for m in _OBJ_RE.finditer(data):
        if m.start() < pos:  # match is inside a previous object's stream
            continue
        start = m.end()
        sm = _STREAM_START_RE.search(data, start)
        endobj = data.find(b"endobj", start)
        if endobj == -1:
            continue
        if sm and sm.start() < endobj:
            lm = _DIRECT_LENGTH_RE.search(data[start : sm.start()])
            search_from = sm.end() + int(lm.group(1)) if lm else sm.end()
            es = data.find(b"endstream", search_from)
            if es != -1:
                endobj = data.find(b"endobj", es)
                if endobj == -1:
                    continue
        oid = int(m.group(1))
        objects[oid] = data[start:endobj]
        gens[oid] = int(m.group(2))
        pos = endobj
    return objects, gens


# ---------------------------------------------------------------------------
# streams: framing and the filter cascade


def stream_parts(obj: bytes) -> Optional[Tuple[bytes, bytes]]:
    """(dictionary, undecoded payload) of a stream object body. A direct
    /Length frames the payload exactly (compressed output may legitimately
    END in 0x0A/0x0D bytes); an indirect one falls back to the endstream
    scan with a trailing-EOL strip."""
    sm = _STREAM_START_RE.search(obj)
    if sm is None:
        return None
    head, start = obj[: sm.start()], sm.end()
    lm = _DIRECT_LENGTH_RE.search(head)
    if lm:
        return head, obj[start : start + int(lm.group(1))]
    end = obj.find(b"endstream", start)
    if end == -1:
        return None
    data = obj[start:end]
    if data.endswith(b"\r\n"):
        return head, data[:-2]
    if data.endswith((b"\n", b"\r")):
        return head, data[:-1]
    return head, data


def decode_filters(head: bytes, data: bytes) -> Optional[Tuple[bytes, Optional[str]]]:
    """Apply the stream's /Filter chain in array order (/Filter [/A /B])
    for the filters this module owns. Returns (bytes, codec): ``codec`` is
    the first filter it does not own (an image codec such as "DCTDecode",
    left for the caller with ``bytes`` as its input), or None when every
    filter was applied. None when a filter fails.

    The filter functions are looked up on core/pdf_filters at call time, so
    a wrapper installed there by a tracer sees every call."""
    for name in _FILTER_RE.findall(head):
        if name == b"FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error:
                return None
            data = _undo_predictor(data, head)
        elif name == b"LZWDecode":
            from dedoc_spark.core.pdf_filters import PdfFilterError, lzw_decode

            em = re.search(rb"/EarlyChange\s+(\d+)", head)
            try:
                data = lzw_decode(data, early_change=int(em.group(1)) if em else 1)
            except PdfFilterError:
                return None
            data = _undo_predictor(data, head)
        elif name == b"RunLengthDecode":
            from dedoc_spark.core.pdf_filters import PdfFilterError, runlength_decode

            try:
                data = runlength_decode(data)
            except PdfFilterError:
                return None
        else:
            return data, name.decode("latin-1")
        if data is None:
            return None
    return data, None


def decode_stream(obj: bytes) -> Optional[bytes]:
    """Fully decoded payload of a non-image stream object (content stream,
    object stream, CMap); None when it is not a stream, a filter fails or
    a filter is outside the cascade."""
    parts = stream_parts(obj)
    if parts is None:
        return None
    decoded = decode_filters(*parts)
    if decoded is None or decoded[1] is not None:
        return None
    return decoded[0]


def _undo_predictor(raw: bytes, head: bytes) -> Optional[bytes]:
    """Reverse /DecodeParms /Predictor after Flate/LZW: PNG predictors
    (>= 10, per-row filter byte — reuses the PNG decoder's unfilter) and
    TIFF horizontal differencing (2). None for a combination it cannot
    undo."""
    pm = re.search(rb"/Predictor\s+(\d+)", head)
    if pm is None:
        return raw
    predictor = int(pm.group(1))
    if predictor <= 1:
        return raw

    def parm(key: bytes, default: int) -> int:
        m = re.search(key + rb"\s+(\d+)", head)
        return int(m.group(1)) if m else default

    colors = parm(rb"/Colors", 1)
    bpc = parm(rb"/BitsPerComponent", 8)
    columns = parm(rb"/Columns", 1)
    stride = (columns * colors * bpc + 7) // 8
    bpp = max(1, (colors * bpc) // 8)
    if predictor >= 10:
        from dedoc_spark.core.image_decode import _png_unfilter

        height = len(raw) // (stride + 1)
        if height == 0:
            return None
        try:
            return bytes(_png_unfilter(raw, height, stride, bpp))
        except (ValueError, IndexError):
            return None
    if predictor == 2 and bpc == 8:
        import numpy as np

        height = len(raw) // stride
        rows = np.frombuffer(raw[: height * stride], dtype=np.uint8).reshape(
            height, columns, colors
        )
        return np.add.accumulate(rows, axis=1, dtype=np.uint8).tobytes()
    return None  # exotic predictor/bit-depth combination


def _expand_object_streams(objects: Dict[int, bytes]) -> None:
    """PDF 1.5 object streams: unpack /Type /ObjStm members into the object
    table (xref streams never need parsing — the full scan already found
    every top-level object). A top-level object beats a packed one."""
    for obj in list(objects.values()):
        if b"/ObjStm" not in obj:
            continue
        data = decode_stream(obj)
        nm = re.search(rb"/N\s+(\d+)", obj)
        fm = re.search(rb"/First\s+(\d+)", obj)
        if data is None or not nm or not fm:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header = data[:first].split()
        pairs = [int(x) for x in header[: 2 * n]]
        ids, offs = pairs[0::2], pairs[1::2]
        for i, (sid, off) in enumerate(zip(ids, offs)):
            end = first + offs[i + 1] if i + 1 < len(offs) else len(data)
            objects.setdefault(sid, data[first + off : end])


# ---------------------------------------------------------------------------
# dictionaries and the page tree


def dict_value(obj: bytes, key: bytes) -> Optional[bytes]:
    """Raw value of ``key`` in a dict body: a whole [ … ] array, or the
    tokens up to the next name/dict end."""
    m = re.search(re.escape(key) + rb"\s*", obj)
    if not m:
        return None
    rest = obj[m.end():]
    if rest.startswith(b"["):
        depth = 0
        for i, ch in enumerate(rest):
            if ch == ord("["):
                depth += 1
            elif ch == ord("]"):
                depth -= 1
                if depth == 0:
                    return rest[: i + 1]
    m2 = re.match(rb"[^/>\]\r\n]*", rest)
    return m2.group(0).strip() if m2 else None


def refs(value: bytes) -> List[int]:
    """Object ids of every ``N G R`` reference in ``value``, in order."""
    return [int(m.group(1)) for m in _REF_RE.finditer(value)]


def _page_ids(objects: Dict[int, bytes]) -> List[int]:
    """Page objects in document order: the first /Catalog's /Pages tree in
    /Kids order; without one (or when it yields nothing), every /Page
    object in id order. A /Pages node already on the current path is not
    entered again (a /Kids cycle)."""
    ids: List[int] = []

    def walk(oid: int, path: Tuple[int, ...]) -> None:
        obj = objects.get(oid, b"")
        if b"/Type" not in obj:
            return
        if b"/Pages" in obj:
            if oid in path:
                return
            for kid in refs(dict_value(obj, b"/Kids") or b""):
                walk(kid, path + (oid,))
        elif b"/Page" in obj:
            ids.append(oid)

    roots = [oid for oid, obj in objects.items() if b"/Type" in obj and b"/Catalog" in obj]
    if roots:
        for oid in refs(dict_value(objects[roots[0]], b"/Pages") or b""):
            walk(oid, ())
    if not ids:
        ids = sorted(
            oid for oid, obj in objects.items() if b"/Type" in obj and b"/Page" in obj and b"/Pages" not in obj
        )
    return ids


_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_PARENT_RE = re.compile(rb"/Parent\s+(\d+)\s+\d+\s+R")
# the page and at most five ancestors
_INHERIT_DEPTH = 6


def inherited(objects: Dict[int, bytes], pid: int, key: bytes) -> Optional[bytes]:
    """Page ``pid``'s value for an inheritable ``key`` (b"/Font",
    b"/XObject", b"/MediaBox"): its own entry, else the nearest /Parent's.
    Each node is searched directly (an inline /Resources included), then
    through an indirect ``/Resources N 0 R``. The value is the body of an
    inline ``<< … >>``, a ``[ … ]`` array, or, for ``key N 0 R``, the
    referenced object's body. The walk is bounded, and a node already on
    the path is not entered again (a /Parent cycle)."""
    value_re = re.compile(re.escape(key) + rb"\s*(?:<<(.*?)>>|(\[[^\]]*\])|(\d+)\s+\d+\s+R)", re.S)
    path = []
    oid: Optional[int] = pid
    while oid is not None and oid not in path and len(path) < _INHERIT_DEPTH:
        path.append(oid)
        node = objects.get(oid, b"")
        scopes = [node]
        rm = _RESOURCES_REF_RE.search(node)
        if rm:
            scopes.append(objects.get(int(rm.group(1)), b""))
        for scope in scopes:
            m = value_re.search(scope)
            if m:
                inline, array, ref = m.groups()
                if ref is not None:
                    return objects.get(int(ref), b"")
                return inline if inline is not None else array
        pm = _PARENT_RE.search(node)
        oid = int(pm.group(1)) if pm else None
    return None


# ---------------------------------------------------------------------------
# trailer references and single-object reads


def trailer_ref(payload: bytes, key: bytes) -> Optional[int]:
    """Object id that the GOVERNING trailer names under ``key`` (b"/Encrypt",
    b"/Info"): the last trailer dict, or (xref-stream PDFs) the dict the
    final startxref offset points at — never an 'N G R' byte sequence
    floating in arbitrary content (a plaintext stream about PDF internals
    must not mark the document encrypted)."""
    ref_re = re.compile(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R")
    trailers = list(re.finditer(rb"trailer", payload))
    if trailers:
        t = trailers[-1]
        m = ref_re.search(payload, t.end(), t.end() + 4096)
        return int(m.group(1)) if m else None
    sxs = re.findall(rb"startxref\s+(\d+)", payload)
    if sxs:
        off = int(sxs[-1])
        m = ref_re.search(payload, off, off + 4096)
        return int(m.group(1)) if m else None
    # no trailer, no startxref: damaged file — fall back to the last
    # reference anywhere (matches recovery-mode readers)
    found = ref_re.findall(payload)
    return int(found[-1]) if found else None


def _last_object(payload: bytes, oid: int) -> Optional[Tuple[int, bytes]]:
    """(generation, body) of the newest ``oid G obj … endobj`` in the file."""
    got = None
    for m in re.finditer(
        rb"(?<![0-9])" + str(oid).encode("ascii") + rb"\s+(\d+)\s+obj(.*?)endobj", payload, re.S
    ):
        got = (int(m.group(1)), m.group(2))
    return got


def read_object(payload: bytes, oid: int) -> Optional[bytes]:
    """Newest version of one object without parsing the whole file (the
    cheap /Info read); its strings are decrypted when the document is
    encrypted, and a locked document reads None. An object packed in an
    object stream falls back to the full parse."""
    hit = _last_object(payload, oid)
    if hit is None:
        pdf = parse_pdf(payload)
        return None if pdf.locked else pdf.objects.get(oid)
    gen, obj = hit
    enc_oid = trailer_ref(payload, b"/Encrypt") if b"/Encrypt" in payload else None
    if enc_oid is None:
        return obj
    from dedoc_spark.core.pdf_crypt import PdfCryptError, build_decryptor

    enc = _last_object(payload, enc_oid)
    try:
        dec = build_decryptor(payload, enc[1] if enc else None)
    except PdfCryptError:
        return None
    return _decrypt_strings(obj, dec, oid, gen)


# ---------------------------------------------------------------------------
# decryption (ciphers and key derivation: core/pdf_crypt)


def _decrypt_objects(payload: bytes, objects: Dict[int, bytes], gens: Dict[int, int]) -> bool:
    """In-place stream + string decryption. Streams are re-framed with an
    exact direct /Length; strings re-encode as hex. False when the document
    needs a real password or an unsupported handler (objects stay opaque)."""
    from dedoc_spark.core.pdf_crypt import PdfCryptError, build_decryptor

    enc_oid = trailer_ref(payload, b"/Encrypt")
    if enc_oid is None:
        return True
    try:
        dec = build_decryptor(payload, objects.get(enc_oid))
    except PdfCryptError:
        return False
    for oid, obj in list(objects.items()):
        if oid == enc_oid:
            continue
        gen = gens.get(oid, 0)
        parts = stream_parts(obj)
        if parts is None:
            if not _STREAM_START_RE.search(obj):
                objects[oid] = _decrypt_strings(obj, dec, oid, gen)
            continue
        head, raw = parts
        if b"/XRef" in head:
            continue  # cross-reference streams are never encrypted
        if b"/Metadata" in head and not dec.encrypt_metadata:
            continue  # /EncryptMetadata false: already plaintext
        try:
            pt = dec.decrypt(oid, gen, raw)
        except PdfCryptError:
            continue
        new_len = b"/Length " + str(len(pt)).encode("ascii")
        head2, n = re.subn(rb"/Length\s+\d+\s+\d+\s+R", new_len, head, count=1)
        if not n:
            head2, n = re.subn(rb"/Length\s+\d+", new_len, head, count=1)
        if not n:
            head2 = head
        # trailing \r\n before endstream: exact strip whatever pt ends with
        objects[oid] = head2 + b"stream\r\n" + pt + b"\r\nendstream"
    return True


def _decrypt_strings(obj: bytes, dec, oid: int, gen: int) -> bytes:
    """Replace every literal/hex string in a (non-stream) object body
    with the hex form of its decrypted bytes."""
    from dedoc_spark.core.pdf_crypt import PdfCryptError, _pdf_string

    out = bytearray()
    i = 0
    n = len(obj)
    while i < n:
        c = obj[i]
        if c == 0x3C and obj[i + 1 : i + 2] != b"<":  # "<" hex string
            j = obj.find(b">", i)
            if j == -1:
                out += obj[i:]
                break
            hexstr = re.sub(rb"\s", b"", obj[i + 1 : j])
            if len(hexstr) % 2:
                hexstr += b"0"
            try:
                pt = dec.decrypt_string(oid, gen, bytes.fromhex(hexstr.decode("ascii")))
                out += b"<" + pt.hex().encode("ascii") + b">"
            except (PdfCryptError, ValueError):
                out += obj[i : j + 1]
            i = j + 1
            continue
        if c == 0x3C:  # "<<" dict open
            out += b"<<"
            i += 2
            continue
        if c != 0x28:  # "("
            out.append(c)
            i += 1
            continue
        # literal string: find the matching ")" honoring escapes/nesting
        depth = 1
        j = i + 1
        while j < n and depth:
            cj = obj[j]
            if cj == 0x5C:
                j += 2
                continue
            if cj == 0x28:
                depth += 1
            elif cj == 0x29:
                depth -= 1
            j += 1
        raw = _pdf_string(b"\x00" + obj[i:j], b"\x00")
        if raw is None:
            out += obj[i:j]
        else:
            try:
                pt = dec.decrypt_string(oid, gen, raw)
                out += b"<" + pt.hex().encode("ascii") + b">"
            except PdfCryptError:
                out += obj[i:j]
        i = j
    return bytes(out)
