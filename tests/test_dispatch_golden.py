"""Golden digests of format dispatch: one small document per format, sent
through ``extract_document`` under its own extension, a wrong extension
and no extension, plus broken payloads and text-only rows, under the
default parameters and under ``need_pdf_table_analysis``.

Every row's md5 is pinned in ``dispatch_golden.json``, so any change in
which reader a row reaches, in the re-sniff retry or in the error channel
shows up here.

``pdf_golden.json`` pins the PDF file-structure cases the per-format slice
does not reach: object streams, Type0 fonts, the three encryption methods
and a locked document, every scan codec under auto and forced OCR and
with a ``pages`` range, and the /Info metadata of plain and encrypted
files. Its ``fixture:`` entries pin the raw bytes the fixture encoders
write. After an intended output change, re-record both files with
``python tests/test_dispatch_golden.py --write``.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import pickle
import re
import sys

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dispatch_golden.json")
PDF_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pdf_golden.json")
PARAMS = {"default": None, "tables": {"need_pdf_table_analysis": True}}

EML = b"""From: Alice <alice@example.com>
To: bob@example.com
Subject: Quarterly report
MIME-Version: 1.0
Content-Type: multipart/alternative; boundary="B"

--B
Content-Type: text/plain; charset="utf-8"

1. Budget
plain body line
--B
Content-Type: text/html; charset="utf-8"

<p>html body</p>
--B--
"""

MHTML = b"""MIME-Version: 1.0
Content-Type: multipart/related; boundary="M"

--M
Content-Type: text/html; charset="utf-8"
Content-Location: https://p.example/

<html><body><h1>Archived page</h1><p>content</p></body></html>
--M--
"""

TEI = b"""<?xml version="1.0" encoding="UTF-8"?>
<TEI xmlns="http://www.tei-c.org/ns/1.0">
 <teiHeader><fileDesc><titleStmt><title level="a" type="main">On Readers</title></titleStmt>
 </fileDesc><profileDesc><abstract><p>One table for all readers.</p></abstract></profileDesc></teiHeader>
 <text><body><div><head n="1">Introduction</head><p>Dispatch by format.</p></div></body></text>
</TEI>
"""


def _documents():
    """(extension, payload) — one valid document per format."""
    from dedoc_spark.sources import docx_fixture as dx
    from dedoc_spark.sources import office_fixture as of
    from dedoc_spark.sources.pdf_fixture import build_pdf, table_ops

    paras = ["1. Introduction", "first body line", "2. Method", "second body line"]
    grid = [["name", "value"], ["alpha", "1"], ["beta", "2"]]
    docx_body = "".join(dx.paragraph([(p, "")], style="Heading1" if p[0].isdigit() else None) for p in paras)
    docx_body += dx.table([[(c, 1, None) for c in row] for row in grid])
    pdf = build_pdf(
        [[("Section 1", True), ("body line one", False), ("body line two", False)]],
        extra_content=[table_ops(72, 400, [120, 120], 20, grid)],
    )
    return [
        ("html", b"<html><body><h1>Title</h1><p>para</p><ul><li>item</li></ul></body></html>"),
        ("txt", "\n".join(paras).encode("utf-8")),
        ("json", json.dumps({"title": "T", "items": [{"name": "a", "text": "b"}]}).encode()),
        ("csv", b"name,value\nalpha,1\nbeta,2\n"),
        ("tsv", b"name\tvalue\nalpha\t1\n"),
        ("eml", EML),
        ("mhtml", MHTML),
        ("txt.gz", gzip.compress("\n".join(paras).encode("utf-8"), mtime=0)),
        ("note.pickle", pickle.dumps({"content": "note body"}, protocol=4)),
        ("tei.xml", TEI),
        ("docx", dx.build_docx(docx_body)),
        ("xlsx", of.build_xlsx([grid])),
        ("xls", of.build_xls([grid])),
        ("pptx", of.build_pptx([{"shapes": [["Slide title", "bullet"]], "table": grid}])),
        ("odt", of.build_odt([("h", 1, paras[0]), ("p", paras[1]), ("list", ["x", "y"])])),
        ("ods", of.build_ods([grid])),
        ("odp", of.build_odp([["Slide title", "bullet"]])),
        ("rtf", b"{\\rtf1\\ansi{\\fonttbl{\\f0 Times;}}\n1. Introduction\\par\nbody\\par\n}"),
        ("doc", of.build_doc(paras)),
        ("ppt", of.build_ppt(["Slide text body"])),
        ("pdf", pdf),
        ("zip", of.zip_bytes([("inner.txt", "inner text")])),
        ("png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 32),
    ]


def _wrong_ext(ext: str) -> str:
    """A native best-effort extension (parse failure re-sniffs) for every
    document, and a different one for the .doc payload itself."""
    return "rtf" if ext == "doc" else "doc"


def _cases():
    """(case name, url, html, text)."""
    cases = []
    docs = _documents()
    for ext, payload in docs:
        cases.append((f"{ext}/own", f"https://x/d.{ext}", payload, None))
        cases.append((f"{ext}/wrong", f"https://x/d.{_wrong_ext(ext)}", payload, None))
        cases.append((f"{ext}/as_xlsx", "https://x/d.xlsx" if ext != "xlsx" else "https://x/d.docx", payload, None))
        cases.append((f"{ext}/noext", "https://x/download", payload, None))
    docx = dict(docs)["docx"]
    broken = {
        "junk": bytes(range(256)) * 4,
        "ole2_header": b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 504,
        "truncated_zip": docx[: len(docx) // 2],
        "bad_rtf": b"{\\rtf1 {\\*\\unclosed \\bin999999 body",
    }
    for name, payload in broken.items():
        for ext in ("doc", "ppt", "xls", "rtf", "odt", "docx", "xlsx", "pptx", "pdf", "zip", "txt", ""):
            url = f"https://x/broken.{ext}" if ext else "https://x/broken"
            cases.append((f"broken_{name}/{ext or 'noext'}", url, payload, None))
    for ext in ("txt", "html", "pdf", "docx", ""):
        url = f"https://x/t.{ext}" if ext else "https://x/t"
        cases.append((f"text_only/{ext or 'noext'}", url, None, "1. Heading\nplain body"))
        cases.append((f"empty/{ext or 'noext'}", url, None, None))
    return cases


def _md5(value) -> str:
    blob = json.dumps(value, sort_keys=True, ensure_ascii=False).encode("utf-8")
    return hashlib.md5(blob).hexdigest()


def _digests():
    from dedoc_spark.core.document import extract_document

    out = {}
    for pname, params in PARAMS.items():
        for name, url, html, text in _cases():
            row = extract_document(url, html, text, params=None if params is None else dict(params))
            out[f"{pname}:{name}"] = _md5(row)
    return out


PDF_PAGES = [
    [("1. Encrypted heading", True), ("first page body line", False)],
    [("second page line", False), ("2. Closing heading", False)],
]
TYPE0_PAGES = [[("Заголовок первый", True), ("mixed Кириллица line", False)]]
INFO = {"Title": "Golden title", "Author": "Jo Roe", "CreationDate": "D:20200601120000Z"}


def _with_info(pdf: bytes) -> bytes:
    """A plain (unencrypted) fixture with an /Info dict named by its trailer."""
    oid = int(re.search(rb"/Size (\d+)", pdf).group(1))
    fields = " ".join(f"/{k} ({v})" for k, v in INFO.items())
    info = f"{oid} 0 obj\n<< {fields} >>\nendobj\n".encode("latin-1")
    head, tail = pdf.split(b"xref\n", 1)
    tail = tail.replace(b"trailer\n<< ", f"trailer\n<< /Info {oid} 0 R ".encode(), 1)
    return head + info + b"xref\n" + tail


def _pdf_cases():
    """(case name, payload, params) for the PDF file-structure rows."""
    from dedoc_spark.core.scanfont import render_scan_page
    from dedoc_spark.sources.pdf_fixture import (
        SCAN_CODECS,
        build_pdf,
        build_pdf_objstm,
        build_pdf_type0,
        build_scanned_pdf,
        encrypt_pdf,
    )

    plain = build_pdf(PDF_PAGES)
    cases = [
        ("objstm", build_pdf_objstm(PDF_PAGES), None),
        ("type0", build_pdf_type0(TYPE0_PAGES), None),
        ("locked", encrypt_pdf(plain, user_password=b"x"), None),
    ]
    for method in ("rc4", "aesv2", "aesv3"):
        cases.append((f"encrypted_{method}", encrypt_pdf(plain, method=method, info=INFO), None))
    one = [render_scan_page(["Scan 7 page"], scale=2)]
    two = one + [render_scan_page(["Second 8 page"], scale=2)]
    for codec in SCAN_CODECS:
        single = build_scanned_pdf(one, image_filter=codec)
        cases.append((f"scan_{codec}/auto", single, None))
        cases.append((f"scan_{codec}/forced", single, {"pdf_with_text_layer": "false"}))
        cases.append((f"scan_{codec}/pages_2", build_scanned_pdf(two, image_filter=codec), {"pages": "2:"}))
    return cases


def _pdf_digests():
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.metadata import extract_pdf_metadata
    from dedoc_spark.sources.pdf_fixture import build_pdf, encrypt_pdf

    out = {}
    for name, payload, params in _pdf_cases():
        out[f"extract:{name}"] = _md5(extract_document("https://x/d.pdf", payload, None, params=params))
    plain = build_pdf(PDF_PAGES)
    out["metadata:plain"] = _md5(extract_pdf_metadata(_with_info(plain)))
    for method in ("rc4", "aesv2", "aesv3"):
        enc = encrypt_pdf(plain, method=method, info=INFO)
        out[f"metadata:encrypted_{method}"] = _md5(extract_pdf_metadata(enc))
    for name, payload in _fixture_cases():
        out[f"fixture:{name}"] = hashlib.md5(payload).hexdigest()
    return out


def _fixture_cases():
    """(case name, bytes) straight from the fixture writers. Extraction
    goldens accept any valid encoding, so these pin the encoders' own
    output: the scanned gate documents, and each writer on the inputs
    that reach its edge cases (LZW Clear, RunLength 128-chunking, G3
    K>0 with byte-aligned EOLs, every JBIG2 template and a custom AT,
    symbol-dictionary strips and corners, MMR)."""
    import numpy as np

    from dedoc_spark.core.ccitt import encode_g3, encode_g4
    from dedoc_spark.core.jbig2 import encode_embedded, encode_generic, encode_symbol_text
    from dedoc_spark.core.pdf_filters import lzw_encode, runlength_encode
    from dedoc_spark.core.scanfont import render_scan_page
    from dedoc_spark.sources.pdf_fixture import SCAN_CODECS, q67_scan_pdf, q68_scan_pdf

    for did, codec in enumerate(SCAN_CODECS):
        yield f"q67_{codec}", q67_scan_pdf(did, f"s{did % 5}", ("en", "ru")[did % 2])
    yield "q68_0", q68_scan_pdf(0)

    rng = np.random.default_rng(5)
    page = render_scan_page(["Fixture 42 bytes"], scale=2)
    # random bytes fill the 12-bit table (Clear) twice; the raster adds runs
    lzw_in = rng.integers(0, 256, 12000, dtype=np.uint8).tobytes() + page.tobytes()
    for early in (0, 1):
        yield f"lzw_early{early}", lzw_encode(lzw_in, early_change=early)
    for n in (1, 2, 128, 129, 130):
        yield f"runlength_run{n}", runlength_encode(b"r" * n + b"xyz")
    yield "runlength_literal300", runlength_encode(bytes(i % 251 for i in range(300)))

    yield "ccitt_g3_k4_aligned", encode_g3(page, k=4, byte_align=True)
    yield "ccitt_g4", encode_g4(page)

    ink = (page < 128).astype(np.uint8)
    for template in range(4):
        yield f"jbig2_generic_t{template}", encode_generic(ink, template)
    yield "jbig2_generic_t0_at", encode_generic(ink, 0, [(4, -1), (-3, -1), (2, -2), (-1, -2)])
    glyphs = [
        (rng.random((7, 5)) < 0.5).astype(np.uint8),
        (rng.random((7, 4)) < 0.5).astype(np.uint8),
        (rng.random((9, 6)) < 0.5).astype(np.uint8),
    ]
    placements = [(0, 2, 3), (1, 9, 3), (0, 15, 3), (2, 22, 2), (2, 5, 13), (1, 13, 13), (0, 40, 14)]
    sd, region = encode_symbol_text(glyphs, placements, 60, 24, parts=True, log_strips=1, ref_corner=0)
    yield "jbig2_symbol_dict", sd
    yield "jbig2_symbol_region", region
    yield "jbig2_embedded_mmr", encode_embedded(ink, mmr=True)


def _check(path: str, got) -> None:
    with open(path, encoding="utf-8") as f:
        want = json.load(f)
    assert sorted(got) == sorted(want)
    changed = sorted(k for k in want if got[k] != want[k])
    assert not changed, f"{len(changed)} rows changed: {changed[:20]}"


def test_dispatch_golden_digests():
    _check(GOLDEN, _digests())


def test_pdf_golden_digests():
    _check(PDF_GOLDEN, _pdf_digests())


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_dispatch_golden.py --write")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for path, digests in ((GOLDEN, _digests()), (PDF_GOLDEN, _pdf_digests())):
        with open(path, "w", encoding="utf-8") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
