"""Format readers: JSON tree-flatten, CSV, email, MHTML, archive members,
dispatch (reference suites: test_api_format_json/csv/email/mhtml)."""

import json as jsonlib
import zipfile
import io

from dedoc_spark.core.document import extract_document
from dedoc_spark.core.formats import (
    detect_format,
    extract_csv_table,
    extract_email,
    extract_json_lines,
    extract_mhtml,
    list_archive_members,
)


def test_json_nesting_past_the_budget_is_a_limit_row():
    """MAX_JSON_DEPTH arrays or objects may nest; one level more gives
    ``resource_limit:depth`` before json.loads recurses. Brackets inside
    strings do not count."""
    from dedoc_spark.core.limits import MAX_JSON_DEPTH

    def row(doc):
        return extract_document("https://x/deep.json", doc.encode(), None)

    d = MAX_JSON_DEPTH
    ok = row("[" * d + '"x"' + "]" * d)
    assert ok["error"] is None and ok["text_extracted"].count("x") == 1
    assert row('{"k": ' * d + "1" + "}" * d)["error"] is None
    for doc in ("[" * (d + 1) + '"x"' + "]" * (d + 1), '{"k": ' * (d + 1) + "[]" + "}" * (d + 1), "[" * 5000):
        limited = row(doc)
        assert limited["error"] == "resource_limit:depth" and limited["text_extracted"] == ""
    quoted = '["' + "[" * 3000 + '\\"' + "{" * 600 + '", "]]"]'
    assert row(quoted)["error"] is None
    lines = [ln["line"] for ln in jsonlib.loads(row(quoted)["lines_json"])]
    assert lines == ["[" * 3000 + '"' + "{" * 600, "]]"]


def test_json_depth_check_is_linear_on_an_unterminated_string():
    """A string that never closes (truncated JSON holding escaped JSON)
    past a budget's worth of brackets: doubling it may cost at most 2.5x.
    The timings take turns, so a slow spell of a shared host hits them all."""
    import gc
    import time

    import pytest

    from dedoc_spark.core.limits import MAX_JSON_DEPTH, ResourceLimit

    docs = ["[" * (MAX_JSON_DEPTH + 1) + '"' + '\\"' * n for n in (100_000, 200_000)]
    best = [float("inf")] * len(docs)
    gc.disable()
    try:
        for _ in range(5):
            for k, doc in enumerate(docs):
                t0 = time.perf_counter()
                with pytest.raises(ResourceLimit):
                    extract_json_lines(doc)
                best[k] = min(best[k], time.perf_counter() - t0)
    finally:
        gc.enable()
    assert best[1] <= 2.5 * best[0], best


def test_json_dict_sorted_keys():
    lines = extract_json_lines('{"b": 1, "a": "x"}')
    got = [(ln.line, ln.tag_hl.line_type, ln.tag_hl.level_1) for ln in lines]
    # keys in sorted order, each followed by its value at depth+1
    assert got == [
        ("a", "key", 1),
        ("x", "raw_text", 2),
        ("b", "key", 1),
        ("1", "raw_text", 2),
    ]


def test_json_list_items():
    lines = extract_json_lines('["x", "y", {"k": "v"}, "z"]')
    got = [(ln.line, ln.tag_hl.line_type, ln.tag_hl.level_1) for ln in lines]
    assert got == [
        ("x", "list_item", 1),
        ("y", "list_item", 1),
        ("", "list_item", 1),  # nested dict item emits empty list_item line
        ("k", "key", 2),
        ("v", "raw_text", 3),
        ("z", "list_item", 1),
    ]


def test_json_null_value_key_only():
    lines = extract_json_lines('{"k": null}')
    assert [(ln.line, ln.tag_hl.line_type) for ln in lines] == [("k", "key")]


def test_csv_and_tsv():
    tables, warnings = extract_csv_table('a,b,"c,d"\n1,2,3\n')
    cells = tables[0].cells
    assert [[c.get_text() for c in row] for row in cells] == [["a", "b", "c,d"], ["1", "2", "3"]]
    assert warnings == ["delimiter is ','"]
    tables, _ = extract_csv_table("x\ty\n", is_tsv=True)
    assert [c.get_text() for c in tables[0].cells[0]] == ["x", "y"]


EML = b"""From: Alice <alice@example.com>
To: bob@example.com
Subject: Test message
Date: Mon, 1 Jan 2024 00:00:00 +0000
MIME-Version: 1.0
Content-Type: multipart/alternative; boundary="B"

--B
Content-Type: text/plain; charset="utf-8"

plain body line
--B
Content-Type: text/html; charset="utf-8"

<html><body><p>html body</p></body></html>
--B--
"""


def test_email_header_and_html_part():
    lines, tables, warnings = extract_email(EML)
    # subject first with (0,0) root level
    assert lines[0].line == "Test message"
    assert (lines[0].tag_hl.level_1, lines[0].tag_hl.level_2) == (0, 0)
    field_types = {ln.tag_hl.line_type for ln in lines[1:5]}
    assert "from" in field_types and "to" in field_types
    # html part wins over the text/plain alternative
    assert any("html body" in ln.line for ln in lines)
    assert not any("plain body" in ln.line for ln in lines)


def test_email_plain_fallback():
    eml = EML.replace(b"--B\nContent-Type: text/html", b"--X\nContent-Type: text/html")
    lines, _, _ = extract_email(eml)
    assert any("plain body" in ln.line for ln in lines)


MHTML = b"""MIME-Version: 1.0
Content-Type: multipart/related; boundary="M"

--M
Content-Type: text/html; charset="utf-8"
Content-Location: https://p.example/

<html><body><h1>Archived page</h1><p>content</p></body></html>
--M
Content-Type: image/png
Content-Location: https://p.example/logo.png
Content-Transfer-Encoding: base64

iVBORw0KGgo=
--M--
"""


def test_mhtml():
    lines, tables, warnings = extract_mhtml(MHTML)
    assert any("Archived page" in ln.line for ln in lines)
    assert any("logo.png" in w for w in warnings)


def test_archive_members():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.html", "<p>inner a</p>")
        zf.writestr("dir/b.txt", "inner b")
    members = list_archive_members(buf.getvalue())
    assert [m[0] for m in members] == ["a.html", "dir/b.txt"]
    assert members[0][1] == b"<p>inner a</p>"


def test_detect_format():
    assert detect_format("https://x/y.html", b"anything", "") == "html"
    assert detect_format("https://x/y.json", b"{}", "") == "json"
    assert detect_format("https://x/y", b'{"a": 1}', "") == "json"
    assert detect_format("https://x/y", b"%PDF-1.4", "") == "pdf"
    assert detect_format("https://x/y", b"<html><body>", "") == "html"
    assert detect_format("https://x/y", b"MIME-Version: 1.0\nFrom: a", "") == "email"
    assert detect_format("https://x/y", None, "some text") == "txt"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x", "y")
    assert detect_format("https://x/y", buf.getvalue(), "") == "zip"


def test_dispatch_through_extract_document():
    d = extract_document("https://x/data.json", b'{"title": "T", "items": ["a", "b"]}', None)
    assert d["error"] is None
    lines = jsonlib.loads(d["lines_json"])
    assert [ln["line"] for ln in lines] == ["items", "a", "b", "title", "T"]
    # items/title keys at level 1, list items at level 2 via tag HL
    d2 = extract_document("https://x/t.csv", b"a,b\n1,2\n", None)
    assert d2["n_tables"] == 1
    d3 = extract_document("https://x/m.eml", EML, None)
    assert "Test message" in d3["text_extracted"]


def test_email_tree_subject_is_root():
    d = extract_document("https://x/m.eml", EML, None)
    tree = jsonlib.loads(d["tree_json"])
    # subject (0,0) line becomes the root text (tree_constructor.py:63-71)
    assert tree["text"] == "Test message"
    assert tree["metadata"]["paragraph_type"] == "root"


def test_archive_explosion_spark(spark):
    import zipfile, io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("inner.html", "<p>from archive</p>")
        zf.writestr("notes.txt", "plain notes")
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("deep.html", "<p>nested</p>")
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as zf:
        zf.writestr("nested.zip", inner.getvalue())

    from dedoc_spark.operators.archives import extract_with_archives

    rows = [
        ("https://a/x.zip", bytearray(buf.getvalue()), ""),
        ("https://a/nested.zip", bytearray(buf2.getvalue()), ""),
        ("https://a/plain.html", bytearray(b"<p>direct</p>"), ""),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string")
    out = {r.url: r for r in extract_with_archives(df).collect()}
    assert "from archive" in out["https://a/x.zip#inner.html"].text_extracted
    assert "plain notes" in out["https://a/x.zip#notes.txt"].text_extracted
    assert "nested" in out["https://a/nested.zip#nested.zip#deep.html"].text_extracted
    assert "direct" in out["https://a/plain.html"].text_extracted


def test_txt_encoding_detection():
    from dedoc_spark.core.formats import decode_text_payload

    ru = "русский текст в кодировке"
    assert decode_text_payload(ru.encode("utf-8")) == ru
    assert decode_text_payload(ru.encode("cp1251")) == ru  # detected
    assert decode_text_payload(ru.encode("koi8-r"), encoding="koi8-r") == ru  # explicit wins
    assert decode_text_payload(b"\xef\xbb\xbfbom text") == "bom text"
    d = extract_document("https://x/notes.txt", ru.encode("cp1251"), None)
    assert ru in d["text_extracted"]


def test_needs_conversion_magics():
    """Magic-based routing for legacy office payloads: rtf/odt/ods/odp and
    OLE2-with-known-stream resolve to native readers; unrecognized OLE2 and
    unparseable payloads keep typed needs_conversion rows — never the
    html-fallback garbage path."""
    ole2 = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 100
    rtf = b"{\\rtf1\\ansi Hello world\\par}"
    odt_buf = io.BytesIO()
    with zipfile.ZipFile(odt_buf, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
        zf.writestr("content.xml", "<office/>")
    # content magic (extension-less urls) → native formats
    assert detect_format("https://x/download", rtf, None) == "rtf"
    assert detect_format("https://x/download", odt_buf.getvalue(), None) == "odt"
    for ext in ("rtf", "odt", "ods", "odp", "doc", "ppt", "xls"):
        assert detect_format(f"https://x/f.{ext}", b"whatever", None) == ext
    # OLE2 without a recognized stream keeps the typed error
    assert detect_format("https://x/download", ole2, None) == "needs_conversion:ole2"
    d = extract_document("https://x/report.doc", ole2, None)
    assert d["error"] == "needs_conversion:doc"
    assert d["n_lines"] == 0 and d["text_extracted"] == ""
    # rtf now extracts natively
    d = extract_document("https://x/download", rtf, None)
    assert d["error"] is None and "Hello world" in d["text_extracted"]


def test_zip_routes_to_explosion_hint_not_html():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.html", "<p>hi</p>")
        zf.writestr("b.txt", "notes")
    d = extract_document("https://x/bundle.zip", buf.getvalue(), None)
    assert d["error"].startswith("needs_explosion:zip")
    assert d["text_extracted"] == ""  # no garbage lines from raw zip bytes
    assert any("a.html" in w for w in d["warnings"])


def test_archive_error_channel_spark(spark):
    """Broken archives and zips nested beyond max_depth surface as error
    rows — every input url yields ≥1 output row."""
    from dedoc_spark.operators.archives import extract_with_archives

    broken = b"PK\x03\x04" + b"\x00" * 40  # PK magic, invalid central dir
    z3 = io.BytesIO()
    with zipfile.ZipFile(z3, "w") as zf:
        zf.writestr("leaf.txt", "deep leaf")
    z2 = io.BytesIO()
    with zipfile.ZipFile(z2, "w") as zf:
        zf.writestr("level2.zip", z3.getvalue())
    z1 = io.BytesIO()
    with zipfile.ZipFile(z1, "w") as zf:
        zf.writestr("level1.zip", z2.getvalue())

    rows = [
        ("https://a/broken.zip", bytearray(broken), ""),
        ("https://a/deep.zip", bytearray(z1.getvalue()), ""),
        ("https://a/ok.html", bytearray(b"<p>fine</p>"), ""),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string")
    out = extract_with_archives(df, max_depth=2).collect()
    by_url = {r.url: r for r in out}
    assert by_url["https://a/broken.zip"].error is not None
    # the depth-2 zip is still unexploded at max_depth=2 → typed error row
    deep_err = [r for r in out if r.url.startswith("https://a/deep.zip") and r.error]
    assert deep_err and "needs_explosion" in deep_err[0].error
    assert "fine" in by_url["https://a/ok.html"].text_extracted


def test_docx_inside_zip_is_not_exploded(spark):
    """A .docx member (PK bytes) must extract as a document, not be torn
    into its XML members."""
    from dedoc_spark.operators.archives import extract_with_archives
    from dedoc_spark.sources.docx_fixture import build_docx, paragraph

    docx_bytes = build_docx(paragraph([("Inside text", "")]))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("report.docx", docx_bytes)
    df = spark.createDataFrame(
        [("https://a/docs.zip", bytearray(buf.getvalue()), "")],
        "url string, html binary, text string",
    )
    out = {r.url: r for r in extract_with_archives(df).collect()}
    assert "Inside text" in out["https://a/docs.zip#report.docx"].text_extracted


def test_direct_docx_row_passes_through_archive_operator(spark):
    """A bare .docx url (PK magic at top level) goes through passthrough
    classification, not member explosion."""
    from dedoc_spark.operators.archives import extract_with_archives
    from dedoc_spark.sources.docx_fixture import build_docx, paragraph

    docx_bytes = build_docx(paragraph([("Top level doc", "")]))
    df = spark.createDataFrame(
        [("https://a/r.docx", bytearray(docx_bytes), "")],
        "url string, html binary, text string",
    )
    out = extract_with_archives(df).collect()
    assert len(out) == 1
    assert "Top level doc" in out[0].text_extracted


PNG_BYTES = bytes.fromhex("89504e470d0a1a0a0000000d49484452") + b"\x00" * 32


def test_list_attachments_email_and_office():
    from dedoc_spark.core.formats import list_attachments
    import email.mime.multipart, email.mime.text, email.mime.application, email.mime.image

    inner_zip = io.BytesIO()
    with zipfile.ZipFile(inner_zip, "w") as zf:
        zf.writestr("inner.html", "<p>zipped page</p>")

    msg = email.mime.multipart.MIMEMultipart()
    msg["Subject"] = "with attachments"
    msg.attach(email.mime.text.MIMEText("body text", "plain"))
    zip_part = email.mime.application.MIMEApplication(inner_zip.getvalue(), "zip")
    zip_part.add_header("Content-Disposition", "attachment", filename="bundle.zip")
    msg.attach(zip_part)
    img_part = email.mime.image.MIMEImage(PNG_BYTES, "png")
    img_part.add_header("Content-Disposition", "attachment", filename="photo.png")
    msg.attach(img_part)

    atts = list_attachments("m.eml", msg.as_bytes())
    # first attachment = the synthetic header json (email_reader.py:59-67),
    # then the real parts in order
    assert atts[0][0].startswith("message_header_") and atts[0][0].endswith(".json")
    import json as jsonlib

    assert jsonlib.loads(atts[0][1])["Subject"] == "with attachments"
    assert [n for n, _ in atts[1:]] == ["bundle.zip", "photo.png"]
    assert atts[1][1] == inner_zip.getvalue()
    assert atts[2][1] == PNG_BYTES

    # docx with an embedded media image
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", "<w:document/>")
        zf.writestr("word/media/image1.png", PNG_BYTES)
    atts = list_attachments("r.docx", buf.getvalue())
    assert atts == [("image1.png", PNG_BYTES)]


def test_media_typed_routing():
    d = extract_document("https://x/photo.png", PNG_BYTES, None)
    assert d["error"] == "needs_decoder:image/png"
    d = extract_document("https://x/noext", PNG_BYTES, None)  # by magic
    assert d["error"] == "needs_decoder:image/png"


def test_extract_with_attachments_spark(spark):
    """.eml carrying a zip (with an html member) + a png: attachments become
    rows, the zip's member extracts at depth 2, the png routes to the typed
    decoder channel — VERDICT item 7's done-criterion."""
    import email.mime.multipart, email.mime.text, email.mime.application, email.mime.image

    from dedoc_spark.operators.archives import extract_with_attachments

    inner_zip = io.BytesIO()
    with zipfile.ZipFile(inner_zip, "w") as zf:
        zf.writestr("inner.html", "<p>zipped page</p>")
    msg = email.mime.multipart.MIMEMultipart()
    msg["Subject"] = "report mail"
    msg.attach(email.mime.text.MIMEText("covering note", "plain"))
    zp = email.mime.application.MIMEApplication(inner_zip.getvalue(), "zip")
    zp.add_header("Content-Disposition", "attachment", filename="bundle.zip")
    msg.attach(zp)
    ip = email.mime.image.MIMEImage(PNG_BYTES, "png")
    ip.add_header("Content-Disposition", "attachment", filename="photo.png")
    msg.attach(ip)

    df = spark.createDataFrame(
        [("https://a/m.eml", bytearray(msg.as_bytes()), "")],
        "url string, html binary, text string",
    )
    out = {r.url: r for r in extract_with_attachments(df, max_depth=2).collect()}
    assert "report mail" in out["https://a/m.eml"].text_extracted
    assert out["https://a/m.eml#photo.png"].error == "needs_decoder:image/png"
    assert "zipped page" in out["https://a/m.eml#bundle.zip#inner.html"].text_extracted


def test_rar_typed_7z_native_routing():
    """rar and 7z both join the archive channel natively since r6/r3
    (core/rar_extract.py walks the container; only the proprietary
    COMPRESSION keeps a typed error, raised per member)."""
    rar = b"Rar!\x1a\x07\x01\x00" + b"\x00" * 20
    sevenz = b"7z\xbc\xaf\x27\x1c" + b"\x00" * 20
    assert detect_format("https://x/a", rar, None) == "zip"
    assert detect_format("https://x/a", sevenz, None) == "zip"
    assert detect_format("https://x/a.rar", b"??", None) == "zip"
    assert detect_format("https://x/a.7z", b"??", None) == "zip"
    # a broken/empty rar container lands in the typed error channel
    d = extract_document("https://x/a.rar", rar, None)
    assert d["error"] is not None and d["n_lines"] == 0


def test_tar_gz_archives_native(spark):
    """tar/tar.gz join the archive channel (stdlib): members become rows."""
    import gzip
    import tarfile

    from dedoc_spark.core.formats import list_attachments
    from dedoc_spark.operators.archives import extract_with_archives

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in [("page.html", b"<p>tarred page</p>"), ("notes.txt", b"tar notes")]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    tgz = gzip.compress(buf.getvalue())

    assert detect_format("https://a/bundle.tar.gz", tgz, None) == "zip"
    assert detect_format("https://a/download", tgz, None) == "zip"  # gzip magic
    assert detect_format("https://a/download", buf.getvalue(), None) == "zip"  # ustar

    atts = list_attachments("b.tar", buf.getvalue())
    assert [n for n, _ in atts] == ["page.html", "notes.txt"]

    df = spark.createDataFrame(
        [("https://a/b.tgz", bytearray(tgz), "")], "url string, html binary, text string"
    )
    out = {r.url: r for r in extract_with_archives(df).collect()}
    assert "tarred page" in out["https://a/b.tgz#page.html"].text_extracted
    assert "tar notes" in out["https://a/b.tgz#notes.txt"].text_extracted


def test_bare_gzip_single_member():
    from dedoc_spark.core.formats import list_archive_members
    import gzip

    gz = gzip.compress(b"just some text")
    assert list_archive_members(gz) == [("member", b"just some text")]


def test_content_resniff_misnamed_files():
    """Extension-routed parse failure triggers the reference's mime-retry:
    an ODT shipped as .doc extracts through the ODF reader (the reference
    corpus really contains one: tests/data/laws/ukrf.doc)."""
    from dedoc_spark.sources.office_fixture import build_odt

    odt = build_odt([("h", 1, "Real Heading"), ("p", "real body")])
    d = extract_document("https://x/misnamed.doc", odt, None)
    assert d["error"] is None
    assert "Real Heading" in d["text_extracted"]
    assert any("re-sniffed by content: odt" in w for w in d["warnings"])

    # docx shipped as .rtf
    from dedoc_spark.sources.docx_fixture import build_docx, paragraph

    docx = build_docx(paragraph([("docx body text", "")]))
    d = extract_document("https://x/misnamed.rtf", docx, None)
    assert d["error"] is None and "docx body text" in d["text_extracted"]


def test_docx_document2_xml_fallback():
    """Word builds that emit word/document2.xml still extract (the
    reference's get_bs_from_zip fallback)."""
    import io
    import zipfile

    from dedoc_spark.sources.docx_fixture import CONTENT_TYPES, W_NS

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", CONTENT_TYPES)
        zf.writestr(
            "word/document.xml.disabled", "<w:document/>"
        )
        zf.writestr(
            "word/document2.xml",
            f'<?xml version="1.0"?><w:document {W_NS}><w:body>'
            "<w:p><w:r><w:t>second doc part</w:t></w:r></w:p></w:body></w:document>",
        )
    d = extract_document("https://x/d2.docx", buf.getvalue(), None)
    assert d["error"] is None and "second doc part" in d["text_extracted"]


def test_bz2_and_xz_archives():
    """tar.bz2 / tar.xz / bare .bz2 / bare .xz are stdlib-native archive
    channels (compressed rar keeps the typed needs_unpacker error; 7z and
    stored-rar are native)."""
    import bz2
    import io
    import lzma
    import tarfile

    from dedoc_spark.core.formats import detect_format, list_archive_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"member body text"
        info = tarfile.TarInfo("inner.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    tar = buf.getvalue()

    for blob in (bz2.compress(tar), lzma.compress(tar)):
        assert detect_format("https://a/download", blob, None) == "zip"
        members = list_archive_members(blob)
        assert members == [("inner.txt", b"member body text")]

    assert list_archive_members(bz2.compress(b"just bytes")) == [("member", b"just bytes")]
    assert list_archive_members(lzma.compress(b"just bytes")) == [("member", b"just bytes")]
    assert detect_format("https://a/x.tbz2", None, None) == "zip"
    assert detect_format("https://a/x.txz", None, None) == "zip"


def test_txt_gz_reads_as_single_text_document():
    """.txt.gz is ONE text document in the reference (RawTextReader
    can_read), not an archive to explode into member rows."""
    import gzip

    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.formats import detect_format

    payload = gzip.compress("first line\nsecond line".encode())
    assert detect_format("https://x/notes.txt.gz", payload, None) == "txt_gz"
    d = extract_document("https://x/notes.txt.gz", payload, None)
    assert d["error"] is None and d["n_lines"] == 2
    assert "first line" in d["text_extracted"] and "second line" in d["text_extracted"]
    # a bare .gz (no .txt) still explodes through the archive channel
    assert detect_format("https://x/data.gz", payload, None) == "zip"


def test_txt_gz_not_exploded_by_archive_channel(spark):
    import gzip

    from dedoc_spark.operators.archives import extract_with_archives, unpersist_intermediates

    df = spark.createDataFrame(
        [
            ("https://x/notes.txt.gz", bytearray(gzip.compress(b"gzipped text body"))),
            ("https://x/bundle.gz", bytearray(gzip.compress(b"bare member body"))),
        ],
        "url string, html binary",
    )
    rows = {r.url: r for r in extract_with_archives(df, max_depth=1).collect()}
    unpersist_intermediates()
    assert rows["https://x/notes.txt.gz"].error is None
    assert "gzipped text body" in rows["https://x/notes.txt.gz"].text_extracted
    member = next(u for u in rows if u.startswith("https://x/bundle.gz#"))
    assert "bare member body" in rows[member].text_extracted


def test_json_html_fields_excluded_and_attached():
    """json_reader.py html_fields: listed key paths leave the flatten
    (empty parents pruned bottom-up) and become html attachments named
    json.dumps(keys)+'.html'; non-string end nodes are skipped."""
    import json

    from dedoc_spark.core.document import extract_json_document
    from dedoc_spark.core.formats import json_html_field_attachments, list_attachments

    payload = json.dumps(
        {"a": {"b": "<p>inner html</p>"}, "c": "<i>outer html</i>", "keep": "plain", "n": 5}
    )
    fields = [["a", "b"], ["c"], ["n"]]
    atts = json_html_field_attachments(payload, fields)
    assert atts == [
        ('["a", "b"].html', b"<p>inner html</p>"),
        ('["c"].html', b"<i>outer html</i>"),
        # "n" is not a string → skipped (reference behavior)
    ]
    d = extract_json_document("x.json", payload, params={"html_fields": fields})
    assert "inner html" not in d["text_linear"] and "outer html" not in d["text_linear"]
    assert "plain" in d["text_linear"]
    # "a" became empty after exclusion → pruned, so no dangling "a" key line
    assert "a" not in d["text_linear"].split("\n")
    assert d["warnings"] == ['attachment: ["a", "b"].html', 'attachment: ["c"].html']
    # attachment channel surfaces the same payloads
    listed = list_attachments("x.json", payload.encode(), params={"html_fields": fields})
    assert listed == atts


def test_csv_delimiter_param():
    """csv_reader.py:31-33: an explicit delimiter parameter beats the
    extension default."""
    import json

    from dedoc_spark.core.document import extract_document

    d = extract_document("t.csv", b"a;b;c\n1;2;3", None, params={"delimiter": ";"})
    cells = json.loads(d["tables_json"])[0]["cells"]
    texts = [[l["line"] for c in row for l in c["lines"]] for row in cells]
    assert texts == [["a", "b", "c"], ["1", "2", "3"]]
    assert "delimiter is ';'" in d["warnings"]


def test_txt_gz_member_inside_archive(spark):
    """A .txt.gz MEMBER of an archive reads as one text document instead of
    burning an explosion level (or erroring at the depth bound)."""
    import gzip
    import io
    import zipfile

    from dedoc_spark.operators.archives import extract_with_archives, unpersist_intermediates

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("notes.txt.gz", gzip.compress(b"member text body"))
    df = spark.createDataFrame(
        [("https://x/bundle.zip", bytearray(buf.getvalue()))], "url string, html binary"
    )
    rows = {r.url: r for r in extract_with_archives(df, max_depth=1).collect()}
    unpersist_intermediates()
    member = rows["https://x/bundle.zip#notes.txt.gz"]
    assert member.error is None
    assert "member text body" in member.text_extracted


def test_html_fields_attachments_through_spark_channel(spark):
    """extract_with_attachments(params={'html_fields': ...}) must surface
    the excluded json fields as url#name attachment rows."""
    import json

    from dedoc_spark.operators.archives import extract_with_attachments, unpersist_intermediates

    payload = json.dumps({"a": {"b": "<p>field html</p>"}, "keep": "plain"}).encode()
    df = spark.createDataFrame(
        [("https://x/data.json", bytearray(payload))], "url string, html binary"
    )
    rows = {
        r.url: r
        for r in extract_with_attachments(
            df, max_depth=1, params={"html_fields": [["a", "b"]]}
        ).collect()
    }
    unpersist_intermediates()
    att_url = 'https://x/data.json#["a", "b"].html'
    assert att_url in rows, sorted(rows)
    assert "field html" in rows[att_url].text_extracted
    # the excluded field is gone from the parent's flatten
    assert "field html" not in rows["https://x/data.json"].text_linear


def test_param_surface_never_raises_on_hostile_bytes():
    """The error channel must hold for EVERY opt-in parameter combination:
    hostile/truncated payloads under every document_type and pdf flag come
    back as rows (extracted or typed error), never exceptions."""
    import hashlib

    from dedoc_spark.core.document import extract_document

    payloads = [
        b"",
        b"\x00" * 64,
        b"%PDF-1.4 truncated",
        b"PK\x03\x04garbage",
        b"GIF89a\x01",
        b"{\\rtf1 unterminated",
        b'{"broken json',
        hashlib.md5(b"x").digest() * 40,
        "ЗАКОН\nСтатья 1. але".encode("cp1251"),
    ]
    param_sets = [
        {},
        {"document_type": "law"},
        {"document_type": "foiv_law"},
        {"document_type": "tz"},
        {"document_type": "diploma"},
        {"document_type": "fintoc"},
        {"document_type": "article"},
        {"need_pdf_table_analysis": True, "with_layout": True},
        {"need_paragraph_classification": True},
        {"need_header_footer_analysis": "false"},
        {"html_fields": [["a"]]},
        {"structure_type": "linear"},
    ]
    for ext in ("html", "pdf", "txt", "json", "zip", "txt.gz", "docx"):
        for payload in payloads:
            for params in param_sets:
                d = extract_document(f"u.{ext}", payload, None, params=dict(params))
                assert isinstance(d, dict) and "error" in d, (ext, params)


def test_note_pickle_reader_restricted():
    """NoteReader port: the pickled dict's content becomes one line —
    and a MALICIOUS pickle requesting any global lands in the error
    channel instead of executing (security deviation from the reference's
    raw pickle.load, documented)."""
    import pickle

    from dedoc_spark.core.document import extract_document

    good = pickle.dumps({"content": "note body text"})
    d = extract_document("n.note.pickle", good, None)
    assert d["error"] is None and d["n_lines"] == 1
    assert "note body text" in d["text_extracted"]
    # bytes content decodes
    d = extract_document("n.note.pickle", pickle.dumps({"content": b"bytes body"}), None)
    assert "bytes body" in d["text_extracted"]

    class Evil:
        def __reduce__(self):
            import os

            return (os.system, ("echo pwned",))

    d = extract_document("n.note.pickle", pickle.dumps(Evil()), None)
    assert d["error"] is not None and "refused" in d["error"]


def test_note_metadata_extractor():
    """NoteMetadataExtractor port (note_metadata_extarctor.py:33-60): the
    note dict's own size/time/author fields become the metadata through
    the restricted unpickler; malicious or broken notes yield {} from the
    dispatch (the reference raises BadFileFormatError)."""
    import pickle

    from dedoc_spark.core.metadata import extract_document_metadata

    note = pickle.dumps(
        {
            "content": "body",
            "size": 512,
            "created_time": 1700000000,
            "modified_time": 1700000100,
            "author": "alice",
        }
    )
    meta = extract_document_metadata("n.note.pickle", note)
    assert meta["file_type"] == "note"
    assert meta["size"] == "512"
    assert meta["author"] == "alice"
    assert meta["access_time"] == meta["modified_time"] == "1700000100"
    assert meta["created_time"] == "1700000000"

    class Evil:
        def __reduce__(self):
            import os

            return (os.system, ("echo pwned",))

    assert extract_document_metadata("n.note.pickle", pickle.dumps(Evil())) == {}
    assert extract_document_metadata("n.note.pickle", pickle.dumps({"content": "x"})) == {}
