"""Native RAR container walk (core/rar_extract.py; reference
archive_reader.py:18-55 routes .rar via rarfile+unrar — proprietary
DECOMPRESSION stays a typed error, the CONTAINER walk and stored members
are native).  Header-offset correctness is validated against the
reference's own real rar files (member names + methods parse right);
stored-member extraction uses crafted fixtures in the documented
layouts."""

import pytest

from dedoc_spark.core.formats import detect_format, list_archive_members
from dedoc_spark.core.rar_extract import list_members
from dedoc_spark.sources.archive_fixture import build_rar4_stored as _rar4_stored
from dedoc_spark.sources.archive_fixture import build_rar5_stored as _rar5_stored


def _rar4_compressed(members):
    """A stored RAR4 fixture whose first member claims method 0x33
    ("normal" compression): the synthetic stand-in for the reference's
    real compressed archives."""
    payload = bytearray(_rar4_stored(members))
    payload[7 + 13 + 25] = 0x33  # signature, MAIN_HEAD, then the file block's METHOD
    return bytes(payload)


@pytest.mark.parametrize("builder", [_rar4_stored, _rar5_stored])
def test_stored_members_extract(builder):
    payload = builder([("a/readme.txt", b"hello rar"), ("data.bin", b"\x00\x01\x02")])
    got = list_members(payload)
    assert got == [("readme.txt", b"hello rar"), ("data.bin", b"\x00\x01\x02")]
    # joins the archive channel end-to-end
    assert detect_format("x.rar", payload, None) == "zip"
    assert list_archive_members(payload) == got


def test_synthetic_compressed_member_typed_error():
    payload = _rar4_compressed([("doc/english_doc.docx", b"x" * 16)])
    with pytest.raises(ValueError, match="needs_unpacker:rar compressed member .*english_doc.docx"):
        list_members(payload)


def test_reference_rar4_compressed_members_typed_error(reference_file):
    """The reference's real rar4 archives: the container walk reaches the
    first member (offsets right → the NAME parses), and its proprietary
    compression raises the typed needs_unpacker error."""
    for fname, member in [
        ("arch_with_attachs.rar", "arch_with_attachs/english_doc.pdf"),
        ("subfolders.rar", "subfolders/english/doc/english_doc.docx"),
    ]:
        payload = reference_file(f"archives/{fname}").read_bytes()
        with pytest.raises(ValueError, match="needs_unpacker:rar compressed"):
            list_members(payload)
        try:
            list_members(payload)
        except ValueError as e:
            assert member in str(e)


def test_reference_rar5_compressed_members_typed_error(reference_file):
    payload = reference_file("archives/zipka.rar").read_bytes()
    with pytest.raises(ValueError, match="zipka/ZD-odin.jpg"):
        list_members(payload)


def test_extract_document_rar_error_row():
    """A compressed rar through the per-row reader: typed error row, not
    a crash; a stored rar lists its members in the warnings channel."""
    from dedoc_spark.core.document import extract_document

    compressed = _rar4_compressed([("inner.txt", b"inner text")])
    d = extract_document("x.rar", compressed, None)
    assert d["error"] is not None and "needs_unpacker:rar" in d["error"]

    stored = _rar4_stored([("inner.txt", b"inner text")])
    d = extract_document("x.rar", stored, None)
    assert d["error"] is not None and "needs_explosion:zip" in d["error"]
    assert any("inner.txt" in w for w in d["warnings"])
