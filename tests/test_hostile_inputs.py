"""Hostile inputs give one error row in bounded time and memory.

Each case runs in a fresh subprocess, which reports the wall time of the
one call and its peak RSS (``VmHWM``, imports included; ``ru_maxrss``
would also count the parent's peak, which Linux carries across exec). The zip
bombs hold members of 4 x MAX_UNZIP_BYTES; ``BoundedZip`` stops the read
one byte past the budget. A bare zip's row lists its member names from
the central directory and reads no member."""

import ast
import io
import json
import struct
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from dedoc_spark.core import limits
from dedoc_spark.core.limits import BoundedZip, ResourceLimit

ROOT = Path(__file__).resolve().parents[1]
MAX_SECONDS = 1.0
MAX_RSS_MB = 500

_RUN = """
import hashlib, json, sys, time
from dedoc_spark.core.document import extract_document
from dedoc_spark.core.formats import list_attachments
from dedoc_spark.core.limits import ResourceLimit

url, path, call = sys.argv[1:]
payload = open(path, "rb").read()
t0 = time.perf_counter()
warnings = attachments = None
if call == "extract_document":
    row = extract_document(url, payload, None)
    error, warnings = row["error"], row["warnings"]
else:
    try:
        got = list_attachments(url, payload)
        attachments = [[n, hashlib.md5(b).hexdigest()] for n, b in got]
        error = None
    except ResourceLimit as e:
        error = str(e)
seconds = time.perf_counter() - t0
with open("/proc/self/status") as f:
    rss_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")) / 1024
print(json.dumps({
    "error": error, "warnings": warnings, "attachments": attachments,
    "seconds": seconds, "rss_mb": rss_mb,
}))
"""


def _run(tmp_path, url: str, payload: bytes, call: str = "extract_document") -> dict:
    path = tmp_path / "payload"
    path.write_bytes(payload)
    out = subprocess.run(
        [sys.executable, "-c", _RUN, url, str(path), call],
        cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "kind, url, call",
    [
        ("docx", "https://h.example/a.docx", "extract_document"),
        ("xlsx", "https://h.example/a.xlsx", "extract_document"),
        ("pptx", "https://h.example/a.pptx", "extract_document"),
        ("odt", "https://h.example/a.odt", "extract_document"),
        ("docx", "https://h.example/misnamed.doc", "extract_document"),
        ("zip", "https://h.example/a.zip", "list_attachments"),
        ("docx", "https://h.example/a.docx", "list_attachments"),
    ],
    ids=["docx", "xlsx", "pptx", "odt", "docx-as-doc", "zip", "docx-attachments"],
)
def test_zip_bomb_gives_the_limit_row_quickly(tmp_path, zip_bomb, kind, url, call):
    got = _run(tmp_path, url, zip_bomb(kind), call)
    assert got["error"] == "resource_limit:zip_member"
    assert got["seconds"] < MAX_SECONDS and got["rss_mb"] < MAX_RSS_MB, got


_EXPLODE = "needs_explosion:zip (use operators.archives.extract_with_archives)"


def _streamed_zip(members) -> bytes:
    """A deflate zip of ``(name, byte, size)`` members, each ``size``
    copies of ``byte``, written in 1 MiB chunks."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, byte, size in members:
            with zf.open(name, "w") as f:
                for _ in range(size >> 20):
                    f.write(byte * (1 << 20))
    return buf.getvalue()


def test_a_bare_zip_row_names_its_members_without_reading_them(tmp_path, zip_bomb):
    """20 members of 8 MiB pass the zip budget together; the row still
    lists every name, and so does a zip bomb's."""
    payload = _streamed_zip([(f"m{i:02d}.txt", b" ", 8 << 20) for i in range(20)])
    got = _run(tmp_path, "https://h.example/many.zip", payload)
    assert got["error"] == _EXPLODE
    assert got["warnings"] == [f"archive member: m{i:02d}.txt" for i in range(20)]
    assert got["seconds"] < MAX_SECONDS and got["rss_mb"] < 200, got
    got = _run(tmp_path, "https://h.example/a.zip", zip_bomb("zip"))
    assert got["error"] == _EXPLODE
    assert got["warnings"] == ["archive member: a.txt", "archive member: b.txt"]
    assert got["seconds"] < MAX_SECONDS and got["rss_mb"] < MAX_RSS_MB, got


def test_docx_media_attachments_keep_their_bytes(tmp_path):
    """A docx with no diagram: the diagram pass reads document.xml only,
    and the ten media members come out whole."""
    import hashlib

    size = 8 << 20
    media = [(f"word/media/image{i}.png", bytes([65 + i]), size) for i in range(10)]
    buf = io.BytesIO(_streamed_zip(media))
    with zipfile.ZipFile(buf, "a", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("word/document.xml", b"<w:document><w:body><w:p/></w:body></w:document>")
    got = _run(tmp_path, "https://h.example/media.docx", buf.getvalue(), "list_attachments")
    assert got["error"] is None
    assert got["attachments"] == [
        [f"image{i}.png", hashlib.md5(bytes([65 + i]) * size).hexdigest()] for i in range(10)
    ]


def test_docx_attachments_read_each_member_once(monkeypatch):
    from dedoc_spark.core.formats import list_attachments

    reads = []
    real = BoundedZip.read

    def spy(self, name_or_info):
        reads.append(getattr(name_or_info, "filename", name_or_info))
        return real(self, name_or_info)

    monkeypatch.setattr(BoundedZip, "read", spy)
    payload = _zip(
        ("word/document.xml", b"<w:document><w:body><w:p/></w:body></w:document>"),
        ("word/styles.xml", b"<w:styles/>"),
        ("word/media/a.png", b"a"),
        ("word/media/b.png", b"b"),
    )
    assert list_attachments("https://h.example/a.docx", payload) == [("a.png", b"a"), ("b.png", b"b")]
    assert sorted(reads) == ["word/document.xml", "word/media/a.png", "word/media/b.png"]


def test_tables_nested_past_the_cap_give_the_limit_row_quickly(tmp_path):
    depth = limits.MAX_TABLE_DEPTH + 1
    page = "<table><tr><td>" * depth + "x" + "</td></tr></table>" * depth
    got = _run(tmp_path, "https://h.example/tables.html", page.encode())
    assert got["error"] == "resource_limit:depth"
    assert got["seconds"] < MAX_SECONDS and got["rss_mb"] < MAX_RSS_MB, got


# --- BoundedZip -------------------------------------------------------------

BUDGET = 1000


def _zip(*members) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


@pytest.fixture
def budget(monkeypatch):
    monkeypatch.setattr(limits, "MAX_UNZIP_BYTES", BUDGET)


def test_a_member_at_the_budget_reads(budget):
    with BoundedZip(_zip(("a", b"x" * BUDGET))) as zf:
        assert zf.read("a") == b"x" * BUDGET
        assert zf.left == 0
        with pytest.raises(ResourceLimit):  # the budget is spent
            zf.read(zf.infolist()[0])


def test_one_byte_past_the_budget_raises(budget):
    with BoundedZip(_zip(("a", b"x" * (BUDGET + 1)))) as zf:
        with pytest.raises(ResourceLimit, match="^resource_limit:zip_member$"):
            zf.read("a")


def test_the_budget_is_shared_by_the_reads_of_one_zip(budget):
    part = b"x" * (BUDGET * 6 // 10)
    payload = _zip(("a", part), ("b", part))
    with BoundedZip(payload) as zf:
        assert zf.read("a") == part
        with pytest.raises(ResourceLimit):
            zf.read("b")
    with BoundedZip(payload) as zf:  # each opened zip has its own budget
        assert zf.read("b") == part


def test_a_declared_size_below_the_data_still_fails_the_crc_check():
    data = b"hello, world " * 8
    payload = bytearray(_zip(("a", data)))
    # uncompressed size: 22 bytes into the local header, 24 into the
    # central directory entry
    for magic, offset in ((b"PK\x03\x04", 22), (b"PK\x01\x02", 24)):
        at = payload.index(magic) + offset
        assert struct.unpack_from("<I", payload, at)[0] == len(data)
        struct.pack_into("<I", payload, at, len(data) // 2)
    with BoundedZip(bytes(payload)) as zf:
        with pytest.raises(zipfile.BadZipFile, match="CRC"):
            zf.read("a")


def test_zipfile_errors_pass_through():
    with pytest.raises(zipfile.BadZipFile, match="^File is not a zip file$"):
        BoundedZip(b"{\\rtf1 not a zip}")
    with BoundedZip(_zip(("a", b"x"))) as zf:
        with pytest.raises(KeyError):
            zf.read("content.xml")


# --- one zip read site --------------------------------------------------------

_WRITE_MODES = ("w", "x")


def _zip_readers(tree: ast.AST):
    """Line numbers that name ``ZipFile`` other than as a call that opens
    a zip for writing."""
    writers = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            mode = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "mode"), None
            )
            if isinstance(mode, ast.Constant) and mode.value in _WRITE_MODES:
                writers.add(id(node.func))
    for node in ast.walk(tree):
        named = (
            (isinstance(node, ast.Attribute) and node.attr == "ZipFile")
            or (isinstance(node, ast.Name) and node.id == "ZipFile")
            or (isinstance(node, ast.alias) and node.name == "ZipFile")
        )
        if named and id(node) not in writers:
            yield node.lineno


def test_zip_members_are_read_only_through_bounded_zip():
    package = ROOT / "dedoc_spark"
    offenders = [
        f"{path.relative_to(package).as_posix()}:{line}"
        for path in sorted(package.rglob("*.py"))
        if path != package / "core" / "limits.py"
        for line in _zip_readers(ast.parse(path.read_text(encoding="utf-8")))
    ]
    assert offenders == []


def test_the_guard_finds_a_reader():
    src = "import zipfile\nzipfile.ZipFile(b)\nzipfile.ZipFile(b, 'w')\nzipfile.ZipFile(b, mode='r')\n"
    assert list(_zip_readers(ast.parse(src))) == [2, 4]
