"""PDF standard security handler (ISO 32000-1 §7.6 / 32000-2 §7.6.4):
pure Python + numpy decryption of encrypted PDFs that open without a
password (empty user password — the common "protected" shape; the
reference reads them through pdfminer/poppler, which carry the same
handler).

Covers: V1/V2 (RC4 40-128 bit), V4 crypt filters (CFM V2 = RC4, AESV2 =
AES-128-CBC), V5 (R5 and the ISO AES-256 R6 with the 2.B hardening
loop). The AES core generates its S-box/GF tables from field arithmetic
(no hand-typed constants) and is validated against the FIPS-197 example
vectors in tests/test_pdf_crypt.py; bulk CBC decryption is vectorized
across blocks with numpy (CBC decrypt has no chain dependency).
"""

from __future__ import annotations

import hashlib
import re
import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

# ISO 32000-1 Algorithm 2's 32-byte password pad
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
        0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


class PdfCryptError(ValueError):
    pass


# ---------------------------------------------------------------------------
# RC4


def rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES (FIPS-197): tables generated from GF(2^8) arithmetic


def _gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B  # x^8 + x^4 + x^3 + x + 1
        b >>= 1
    return p


def _build_tables() -> Tuple[np.ndarray, np.ndarray, Dict[int, np.ndarray]]:
    # multiplicative inverses, then the affine transform -> S-box
    inv = [0] * 256
    for a in range(1, 256):
        for b in range(1, 256):
            if _gf_mul(a, b) == 1:
                inv[a] = b
                break
    sbox = np.zeros(256, dtype=np.uint8)
    for a in range(256):
        x = inv[a]
        s = x
        for _ in range(4):
            x = ((x << 1) | (x >> 7)) & 0xFF
            s ^= x
        sbox[a] = s ^ 0x63
    inv_sbox = np.zeros(256, dtype=np.uint8)
    for a in range(256):
        inv_sbox[sbox[a]] = a
    mul = {
        c: np.array([_gf_mul(x, c) for x in range(256)], dtype=np.uint8)
        for c in (2, 3, 9, 11, 13, 14)
    }
    return sbox, inv_sbox, mul


_SBOX, _INV_SBOX, _MUL = _build_tables()
# ShiftRows on the flat 16-byte block (byte i = row i%4, col i//4)
_SHIFT = np.array([(i + 4 * (i % 4)) % 16 for i in range(16)])
_INV_SHIFT = np.argsort(_SHIFT)


def _expand_key(key: bytes) -> List[bytes]:
    nk = len(key) // 4
    nr = nk + 6
    words = [key[4 * i : 4 * i + 4] for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes(_SBOX[b] for b in t[1:] + t[:1])
            t = bytes([t[0] ^ rcon]) + t[1:]
            rcon = _gf_mul(rcon, 2)
        elif nk > 6 and i % nk == 4:
            t = bytes(_SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _mix_columns(s: np.ndarray, invert: bool) -> np.ndarray:
    b = s.reshape(-1, 4, 4)  # (blocks, column, row-in-column)
    # flat layout is column-major: bytes 0..3 = column 0 rows 0..3
    r0, r1, r2, r3 = b[:, :, 0], b[:, :, 1], b[:, :, 2], b[:, :, 3]
    out = np.empty_like(b)
    if invert:
        m9, m11, m13, m14 = _MUL[9], _MUL[11], _MUL[13], _MUL[14]
        out[:, :, 0] = m14[r0] ^ m11[r1] ^ m13[r2] ^ m9[r3]
        out[:, :, 1] = m9[r0] ^ m14[r1] ^ m11[r2] ^ m13[r3]
        out[:, :, 2] = m13[r0] ^ m9[r1] ^ m14[r2] ^ m11[r3]
        out[:, :, 3] = m11[r0] ^ m13[r1] ^ m9[r2] ^ m14[r3]
    else:
        m2, m3 = _MUL[2], _MUL[3]
        out[:, :, 0] = m2[r0] ^ m3[r1] ^ r2 ^ r3
        out[:, :, 1] = r0 ^ m2[r1] ^ m3[r2] ^ r3
        out[:, :, 2] = r0 ^ r1 ^ m2[r2] ^ m3[r3]
        out[:, :, 3] = m3[r0] ^ r1 ^ r2 ^ m2[r3]
    return out.reshape(-1, 16)


def aes_ecb_encrypt(key: bytes, data: bytes) -> bytes:
    """Block-parallel ECB encrypt (len(data) % 16 == 0)."""
    rk = [np.frombuffer(k, dtype=np.uint8) for k in _expand_key(key)]
    s = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16) ^ rk[0]
    for r in range(1, len(rk) - 1):
        s = _SBOX[s][:, _SHIFT]
        s = _mix_columns(s, invert=False) ^ rk[r]
    s = _SBOX[s][:, _SHIFT] ^ rk[-1]
    return s.tobytes()


def aes_ecb_decrypt(key: bytes, data: bytes) -> bytes:
    rk = [np.frombuffer(k, dtype=np.uint8) for k in _expand_key(key)]
    s = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16) ^ rk[-1]
    for r in range(len(rk) - 2, 0, -1):
        s = _INV_SBOX[s[:, _INV_SHIFT]] ^ rk[r]
        s = _mix_columns(s, invert=True)
    s = _INV_SBOX[s[:, _INV_SHIFT]] ^ rk[0]
    return s.tobytes()


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Sequential CBC encrypt (only small R6-hardening inputs use it)."""
    rk = [np.frombuffer(k, dtype=np.uint8) for k in _expand_key(key)]
    nr = len(rk) - 1
    prev = np.frombuffer(iv, dtype=np.uint8)
    out = []
    for i in range(0, len(data), 16):
        s = (np.frombuffer(data[i : i + 16], dtype=np.uint8) ^ prev ^ rk[0])[None, :]
        for r in range(1, nr):
            s = _SBOX[s][:, _SHIFT]
            s = _mix_columns(s, invert=False) ^ rk[r]
        s = _SBOX[s][:, _SHIFT] ^ rk[-1]
        prev = s[0]
        out.append(prev.tobytes())
    return b"".join(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes, unpad: bool = True) -> bytes:
    """Block-parallel CBC decrypt: ECB-decrypt all blocks at once, then
    XOR each with the previous ciphertext block (no chain dependency)."""
    if len(data) % 16 or not data:
        raise PdfCryptError("CBC data not block-aligned")
    pt = np.frombuffer(aes_ecb_decrypt(key, data), dtype=np.uint8).reshape(-1, 16)
    chain = np.concatenate(
        [np.frombuffer(iv, dtype=np.uint8)[None, :],
         np.frombuffer(data[:-16], dtype=np.uint8).reshape(-1, 16)]
    ) if len(data) > 16 else np.frombuffer(iv, dtype=np.uint8)[None, :]
    out = (pt ^ chain).tobytes()
    if unpad:
        n = out[-1]
        if 1 <= n <= 16:
            out = out[:-n]
    return out


# ---------------------------------------------------------------------------
# standard security handler key derivation


def _compute_key_r234(
    password: bytes, o: bytes, p: int, id0: bytes, r: int, key_len: int,
    encrypt_metadata: bool,
) -> bytes:
    """Algorithm 2: the RC4/AES-128 file key from a (padded) password."""
    md = hashlib.md5()
    md.update((password + _PAD)[:32])
    md.update(o[:32])
    md.update(struct.pack("<i", p))
    md.update(id0)
    if r >= 4 and not encrypt_metadata:
        md.update(b"\xff\xff\xff\xff")
    key = md.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:key_len]).digest()
    return key[:key_len]


def _check_user_password_r234(
    key: bytes, u: bytes, id0: bytes, r: int
) -> bool:
    """Algorithms 4/5: recompute U from the candidate key and compare."""
    if r == 2:
        return rc4(key, _PAD) == u[:32]
    md = hashlib.md5()
    md.update(_PAD)
    md.update(id0)
    step = rc4(key, md.digest())
    for i in range(1, 20):
        step = rc4(bytes(b ^ i for b in key), step)
    return step == u[:16]


def _hash_r6(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 hardening loop); R5 is the
    plain SHA-256 special case handled by the caller."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _authenticate_r56(u: bytes, ue: bytes, r: int) -> Optional[bytes]:
    """Empty-user-password check (Algorithm 11) + file key from /UE
    (Algorithm 8a reversed). Returns the 32-byte file key or None."""
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 5:
        if hashlib.sha256(vsalt).digest() != u[:32]:
            return None
        ikey = hashlib.sha256(ksalt).digest()
    else:
        if _hash_r6(b"", vsalt, b"") != u[:32]:
            return None
        ikey = _hash_r6(b"", ksalt, b"")
    return aes_cbc_decrypt(ikey, b"\x00" * 16, ue[:32], unpad=False)


# ---------------------------------------------------------------------------
# PDF plumbing: parse the /Encrypt dict, decrypt streams/strings


def _pdf_string(obj: bytes, key: bytes) -> Optional[bytes]:
    """First literal ( ) or hex < > string after ``key`` in ``obj``,
    unescaped to raw bytes. The name-boundary guard keeps /U from
    matching the prefix of /UE (dict entry order is arbitrary)."""
    m = re.search(re.escape(key) + rb"(?![A-Za-z])\s*", obj)
    if not m:
        return None
    i = m.end()
    if i >= len(obj):
        return None
    if obj[i : i + 1] == b"<":
        j = obj.find(b">", i)
        if j < 0:
            return None  # unterminated hex string: malformed, not fatal
        hexstr = re.sub(rb"\s", b"", obj[i + 1 : j])
        if not re.fullmatch(rb"[0-9A-Fa-f]*", hexstr):
            return None
        if len(hexstr) % 2:
            hexstr += b"0"
        return bytes.fromhex(hexstr.decode("ascii"))
    if obj[i : i + 1] != b"(":
        return None
    out = bytearray()
    depth = 1
    i += 1
    n = len(obj)
    while i < n and depth:
        c = obj[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = obj[i : i + 1]
            table = {b"n": 10, b"r": 13, b"t": 9, b"b": 8, b"f": 12}
            if e in table:
                out.append(table[e])
            elif e in (b"(", b")", b"\\"):
                out.append(e[0])
            elif b"0" <= e <= b"7":  # octal digits ONLY — \8 \9 are literal
                om = re.match(rb"[0-7]{1,3}", obj[i : i + 3])
                out.append(int(om.group(0), 8) & 0xFF)
                i += om.end() - 1
            elif e in (b"\n", b"\r"):
                if e == b"\r" and obj[i + 1 : i + 2] == b"\n":
                    i += 1
            else:
                out.append(e[0])
        elif c == 0x28:
            depth += 1
            out.append(c)
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
        else:
            out.append(c)
        i += 1
    return bytes(out)


class PdfDecryptor:
    """Per-document stream/string decryptor (empty user password).
    /StrF is assumed to match /StmF (universally true in the wild)."""

    def __init__(
        self, file_key: bytes, v: int, cfm: str, encrypt_metadata: bool = True
    ) -> None:
        self.file_key = file_key
        self.v = v
        self.cfm = cfm  # "rc4" | "aesv2" | "aesv3" | "identity"
        self.encrypt_metadata = encrypt_metadata

    def _object_key(self, oid: int, gen: int) -> bytes:
        if self.v >= 5:
            return self.file_key
        ext = struct.pack("<i", oid)[:3] + struct.pack("<i", gen)[:2]
        salt = b"sAlT" if self.cfm == "aesv2" else b""
        key = hashlib.md5(self.file_key + ext + salt).digest()
        return key[: min(len(self.file_key) + 5, 16)]

    def decrypt(self, oid: int, gen: int, data: bytes) -> bytes:
        if self.cfm == "identity" or not data:
            return data
        key = self._object_key(oid, gen)
        if self.cfm == "rc4":
            return rc4(key, data)
        # AES: the first 16 bytes are the IV
        if len(data) < 32 or len(data) % 16:
            raise PdfCryptError("AES stream not block-aligned")
        return aes_cbc_decrypt(key, data[:16], data[16:])

    decrypt_string = decrypt  # same per-object key and cipher


def build_decryptor(payload: bytes, enc: Optional[bytes]) -> PdfDecryptor:
    """The document's decryptor for ``enc``, the /Encrypt dict its trailer
    names (None when that object is missing; core/pdf_objects finds it),
    opened with the EMPTY user password. Raises PdfCryptError for
    encryption that needs a real password or an unsupported handler."""
    if enc is None:
        raise PdfCryptError("missing /Encrypt object")
    if b"/Standard" not in enc:
        raise PdfCryptError("non-standard security handler")

    def num(key: bytes, default: int) -> int:
        m = re.search(re.escape(key) + rb"\s+(-?\d+)", enc)
        return int(m.group(1)) if m else default

    v = num(b"/V", 0)
    r = num(b"/R", 2)
    p = num(b"/P", -1)
    # /Length appears twice in V4 dicts: top-level in BITS (40..256) and
    # inside /CF/StdCF in BYTES (5..32) — a plain first-match grabs the
    # wrong one, so normalize every candidate to bits and take the max
    lengths = [int(x) for x in re.findall(rb"/Length\s+(\d+)", enc)]
    length = max((x if x >= 40 else x * 8 for x in lengths), default=40)
    o = _pdf_string(enc, b"/O") or b""
    u = _pdf_string(enc, b"/U") or b""
    encrypt_metadata = b"/EncryptMetadata false" not in re.sub(rb"\s+", b" ", enc)
    # first file ID from the trailer (hex form is near-universal)
    idm = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>", payload)
    id0 = bytes.fromhex(re.sub(rb"\s", b"", idm.group(1)).decode("ascii")) if idm else b""

    cfm = "rc4"
    if v == 4 or v == 5:
        cm = re.search(rb"/CFM\s*/(\w+)", enc)
        name = cm.group(1).decode("ascii", "replace") if cm else "V2"
        cfm = {"V2": "rc4", "AESV2": "aesv2", "AESV3": "aesv3", "Identity": "identity"}.get(name)
        if cfm is None:
            raise PdfCryptError(f"unsupported crypt filter {name}")

    if v in (1, 2, 4) or (v == 0 and r in (2, 3)):
        key_len = 5 if r == 2 else max(5, min(16, length // 8))
        key = _compute_key_r234(b"", o, p, id0, r, key_len, encrypt_metadata)
        if not _check_user_password_r234(key, u, id0, r):
            raise PdfCryptError("password required (user password not empty)")
        return PdfDecryptor(key, v, cfm, encrypt_metadata)
    if v == 5 and r in (5, 6):
        ue = _pdf_string(enc, b"/UE") or b""
        key = _authenticate_r56(u, ue, r)
        if key is None:
            raise PdfCryptError("password required (user password not empty)")
        return PdfDecryptor(key, v, cfm, encrypt_metadata)
    raise PdfCryptError(f"unsupported encryption V={v} R={r}")
