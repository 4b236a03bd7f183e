"""Native 7z reader tests — fixture round-trips plus validation against
the reference's own real .7z archives (tests/data/archives), whose member
bytes are cross-checked against the sibling .zip of the same content."""

import zipfile

import pytest

from dedoc_spark.core.formats import detect_format, list_archive_members
from dedoc_spark.core.sevenzip import build_7z, list_members

MEMBERS = [
    ("a.txt", b"hello world"),
    ("b/inner.html", b"<html><body>Doc</body></html>"),
    ("empty.txt", b""),
]


@pytest.mark.parametrize("codec", ["copy", "lzma2"])
def test_roundtrip(codec):
    blob = build_7z(MEMBERS, codec)
    assert blob[:6] == b"7z\xbc\xaf\x27\x1c"
    assert list_members(blob) == MEMBERS


def test_dispatch_and_archive_channel():
    blob = build_7z(MEMBERS)
    # extension and magic both land in the archive-explosion channel
    assert detect_format("https://a/x.7z", blob, None) == "zip"
    assert detect_format("https://a/download", blob, None) == "zip"
    assert list_archive_members(blob) == MEMBERS


def test_reference_corpus_archives(reference_file):
    """Every .7z in the reference's test data must list, with directories
    skipped; zipka.7z member bytes must equal the sibling zipka.zip's."""
    zipka_7z = reference_file("archives/zipka.7z")
    zipka_zip = reference_file("archives/zipka.zip")
    paths = sorted(zipka_7z.parents[1].rglob("*.7z"))
    assert len(paths) >= 3
    for path in paths:
        members = list_members(path.read_bytes())
        assert members, path
        assert all(name.rstrip("/") == name for name, _ in members)

    sz = dict(list_members(zipka_7z.read_bytes()))
    zf = zipfile.ZipFile(zipka_zip)
    for info in zf.infolist():
        if info.is_dir():
            continue
        name = info.filename
        key = next(k for k in sz if k.endswith(name.rsplit("/", 1)[-1]))
        assert sz[key] == zf.read(info), name


def test_corrupt_rejected():
    with pytest.raises(ValueError):
        list_members(b"7z\xbc\xaf\x27\x1c" + b"\x00" * 26)
    with pytest.raises(ValueError):
        list_members(b"PK\x03\x04 not a 7z")


def test_pipeline_explodes_7z(spark):
    """7z rows flow through extract_with_archives like any archive."""
    from dedoc_spark.operators.archives import extract_with_archives

    blob = build_7z([("page.html", b"<html><body><p>seven zip body</p></body></html>")])
    df = spark.createDataFrame(
        [("https://a/bundle.7z", bytearray(blob))], "url string, html binary"
    )
    out = {r.url: r for r in extract_with_archives(df).collect()}
    row = out["https://a/bundle.7z#page.html"]
    assert row.error is None and "seven zip body" in row.text_extracted


def test_decompression_bomb_capped():
    """ADVICE r3: the header's unpack_size is untrusted — a tiny archive
    claiming a multi-GB output must raise instead of allocating it."""
    import pytest

    from dedoc_spark.core.sevenzip import MAX_UNPACK_BYTES, _Folder

    folder = _Folder()
    folder.coder_id = b"\x21"  # LZMA2
    folder.props = b"\x28"
    folder.unpack_sizes = [MAX_UNPACK_BYTES + 1]
    with pytest.raises(ValueError, match="exceeds cap"):
        folder.decode(b"\x00\x00")
