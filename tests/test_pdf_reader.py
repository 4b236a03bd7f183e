"""PDF text-layer reader + header/footer voting tests
(pdf_txtlayer_reader / header_footers_analysis semantics over hand-built
PDF fixtures)."""

from dedoc_spark.core.pdf_extract import extract_pdf_lines, extract_pdf_pages, footer_header_analysis
from dedoc_spark.core.document import extract_document
from dedoc_spark.core.model import Line
from dedoc_spark.core.pdf_objects import parse_pdf
from dedoc_spark.sources.pdf_fixture import build_pdf, example_pdf


def test_single_page_lines_top_down():
    pdf = build_pdf([[("first line", False), ("second line", True), ("third", False)]])
    pages = extract_pdf_pages(parse_pdf(pdf))
    assert len(pages) == 1
    assert [t for t, _ in pages[0]] == ["first line", "second line", "third"]
    assert [b for _, b in pages[0]] == [False, True, False]


def test_multi_page_order_and_page_ids():
    pdf = build_pdf([[("page one text", False)], [("page two text", False)]])
    lines, _ = extract_pdf_lines(parse_pdf(pdf))
    assert [(ln.page_id, ln.line) for ln in lines] == [
        (0, "page one text"),
        (1, "page two text"),
    ]
    assert [ln.line_id for ln in lines] == [0, 1]


def test_bold_annotation():
    pdf = build_pdf([[("normal", False), ("heading", True)]])
    lines, _ = extract_pdf_lines(parse_pdf(pdf))
    assert lines[0].annotations == []
    assert [(a.name, a.value) for a in lines[1].annotations] == [("bold", "True")]


def test_string_escapes_and_parens():
    pdf = build_pdf([[("with (parens) and \\ backslash", False)]])
    pages = extract_pdf_pages(parse_pdf(pdf))
    assert pages[0][0][0] == "with (parens) and \\ backslash"


def test_header_footer_removed_on_multipage():
    pdf = example_pdf(n_pages=8)
    lines, warnings = extract_pdf_lines(parse_pdf(pdf))
    texts = [ln.line for ln in lines]
    assert not any("ACME Corp" in t for t in texts)
    assert not any(t.startswith("- ") and t.endswith(" -") for t in texts)
    assert any("body alpha paragraph" in t for t in texts)
    assert any("removed" in w for w in warnings)


def test_header_footer_kept_when_not_repeating():
    pdf = example_pdf(n_pages=3, with_header_footer=False)
    lines, warnings = extract_pdf_lines(parse_pdf(pdf))
    assert warnings == []
    assert sum(1 for ln in lines if "body " in ln.line) == 18


def test_voting_digit_mask_folds_page_numbers():
    # "- 1 -", "- 2 -", ... all mask to "- @ -" → footer removed everywhere
    pages = []
    for p in range(8):
        page = [Line(line=f"Page {p} of 8", page_id=p)]
        page += [Line(line=f"unique body {w} {p}", page_id=p) for w in "abcdefg"]
        page.append(Line(line=f"- {p} -", page_id=p))
        pages.append(page)
    cleaned, headers, footers = footer_header_analysis(pages)
    assert all(len(h) >= 1 for h in headers)
    assert all(len(f) >= 1 for f in footers)
    assert not any("Page" in ln.line for page in cleaned for ln in page)


def test_full_pipeline_pdf():
    doc = extract_document("https://x/report.pdf", example_pdf(4), None)
    assert doc["error"] is None
    # "Section N" masks to "section @" at a fixed header position → voted
    # out along with the repeated header/footer (faithful to the reference)
    assert "body alpha paragraph" in doc["text_extracted"]
    assert "ACME Corp" not in doc["text_extracted"]
    assert "Section" not in doc["text_extracted"]


def test_pages_param_prunes():
    from dedoc_spark.sources.pdf_fixture import example_pdf

    doc_all = extract_document("https://x/r.pdf", example_pdf(5, with_header_footer=False), None)
    doc_slice = extract_document(
        "https://x/r.pdf", example_pdf(5, with_header_footer=False), None,
        params={"pages": "2:3"},
    )
    import json

    pages_all = {ln["page_id"] for ln in json.loads(doc_all["lines_json"])}
    pages_slice = {ln["page_id"] for ln in json.loads(doc_slice["lines_json"])}
    assert pages_all == {0, 1, 2, 3, 4}
    assert pages_slice == {0, 1}  # two pages kept, re-numbered from 0
    assert "partially parsed" in " ".join(doc_slice["warnings"])
    assert "Section 2" in doc_slice["text_extracted"]
    assert "Section 1" not in doc_slice["text_extracted"]


def test_objstm_packaging_same_text():
    """PDF 1.5 object-stream packaging (compressed xref era) extracts the
    same lines as classic packaging (pdfminer parity: PDF 1.5+ files are
    most PDFs in the wild)."""
    from dedoc_spark.sources.pdf_fixture import build_pdf, build_pdf_objstm

    pages = [
        [("Doc 7", True), ("first body line", False), ("second body line", False)],
        [("Page two", True), ("tail content", False)],
    ]
    classic = extract_pdf_pages(parse_pdf(build_pdf(pages)))
    modern = extract_pdf_pages(parse_pdf(build_pdf_objstm(pages)))
    assert modern == classic == [list(p) for p in pages]


def test_type0_cmap_cyrillic():
    """Identity-H composite font with ToUnicode CMap: codes are sequential
    CIDs (≠ codepoints), so only real CMap decoding recovers the text."""
    from dedoc_spark.sources.pdf_fixture import build_pdf_type0

    pages = [[("Заголовок отчёта", True), ("Привет, мир — кириллица работает.", False)]]
    got = extract_pdf_pages(parse_pdf(build_pdf_type0(pages)))
    assert got == [list(p) for p in pages]
    # bold detection still works through the Type0 BaseFont
    assert got[0][0][1] is True and got[0][1][1] is False
    doc = extract_document("https://x/отчёт.pdf", build_pdf_type0(pages), None)
    assert doc["error"] is None
    assert "кириллица работает" in doc["text_extracted"]


def test_tounicode_bfrange_forms():
    """bfrange increment and array forms both decode."""
    from dedoc_spark.core.pdf_extract import _parse_tounicode

    cmap = (
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfrange\n<0010> <0012> <0410>\nendbfrange\n"
        b"1 beginbfrange\n<0020> <0022> [<042F> <0401> <00410042>]\nendbfrange\n"
        b"2 beginbfchar\n<0001> <0416>\n<0002> <04160417>\nendbfchar\n"
    )
    m = _parse_tounicode(cmap)
    assert m[0x10] == "А" and m[0x11] == "Б" and m[0x12] == "В"  # increment
    assert m[0x20] == "Я" and m[0x21] == "Ё" and m[0x22] == "AB"  # array
    assert m[0x1] == "Ж" and m[0x2] == "ЖЗ"  # bfchar, multi-codepoint dst


def test_auto_reader_routing_warnings():
    """PdfAutoReader decision (txtlayer_detector.py:22-58): a real text
    layer gets the correct-layer warning; a mojibake layer gets the
    incorrect-layer warning (no embedded rasters to OCR-reread, so the
    extracted lines are kept — test_ocr.py covers the raster reread)."""
    from dedoc_spark.sources.pdf_fixture import build_pdf

    good = build_pdf([[("A perfectly normal document heading", True),
                       ("with several plain readable body words here", False)]])
    d = extract_document("https://x/good.pdf", good, None)
    assert "Assume document has a correct textual layer" in d["warnings"]

    garbage = build_pdf([[("".join(chr(33 + (j * 7) % 14) for j in range(60)), False)]])
    d = extract_document("https://x/bad.pdf", garbage, None)
    assert "Assume document has incorrect textual layer" in d["warnings"]
    assert d["error"] is None  # lines kept; vector pages have no rasters to OCR

    # explicit non-auto mode skips detection entirely
    d = extract_document("https://x/good.pdf", good, None, params={"pdf_with_text_layer": "tabby"})
    assert not any(w.startswith("Assume") for w in d["warnings"])


def test_header_footer_param_opt_out():
    """need_header_footer_analysis=False (the REFERENCE default,
    parameter_utils.py:51) keeps repeated headers/footers in the flow;
    this engine's default stays True (documented deviation)."""
    doc = extract_document(
        "https://x/report.pdf", example_pdf(4), None,
        params={"need_header_footer_analysis": "false"},
    )
    assert doc["error"] is None
    assert "ACME Corp" in doc["text_extracted"]  # header kept
    doc_on = extract_document("https://x/report.pdf", example_pdf(4), None)
    assert "ACME Corp" not in doc_on["text_extracted"]  # default removal


def test_two_column_reading_order():
    """is_one_column_document="false": a two-column page reads the left
    column top-to-bottom, then the right column — same-y shows from
    different columns must not concatenate into one interleaved line."""
    from dedoc_spark.sources.pdf_fixture import build_pdf

    ops = "\n".join(
        f"BT /F1 12 Tf 1 0 0 1 {x:g} {y:g} Tm ({t}) Tj ET"
        for x, y, t in [
            (72, 700, "left one"),
            (330, 700, "right one"),
            (72, 680, "left two"),
            (330, 680, "right two"),
        ]
    )
    pdf = build_pdf([[]], extra_content=[ops])
    d = extract_document("c.pdf", pdf, None, params={"is_one_column_document": "false"})
    lines = [ln.strip() for ln in d["text_linear"].split("\n") if ln.strip()]
    assert lines == ["left one", "left two", "right one", "right two"]
    # default single-column behavior: same-y shows concatenate by x order
    d1 = extract_document("c.pdf", pdf, None)
    lines1 = [ln.strip() for ln in d1["text_linear"].split("\n") if ln.strip()]
    assert lines1 == ["left oneright one", "left tworight two"]


def test_fast_textual_layer_detection():
    """fast_textual_layer_detection (txtlayer_detector.py:32-36): skip the
    classifier — ANY non-space char makes the layer correct, even mojibake
    the classifier path rejects."""
    from dedoc_spark.sources.pdf_fixture import build_pdf

    garbage = build_pdf([[("".join(chr(33 + (j * 7) % 14) for j in range(60)), False)]])
    d = extract_document("https://x/bad.pdf", garbage, None)
    assert "Assume document has incorrect textual layer" in d["warnings"]
    d = extract_document(
        "https://x/bad.pdf", garbage, None,
        params={"fast_textual_layer_detection": "true"},
    )
    assert "Assume document has a correct textual layer" in d["warnings"]
    # value semantics follow parameter_utils: only "true" (any case) is true
    d = extract_document(
        "https://x/bad.pdf", garbage, None,
        params={"fast_textual_layer_detection": "false"},
    )
    assert "Assume document has incorrect textual layer" in d["warnings"]


def test_return_base64_metadata():
    """return_base64 (base_metadata_extractor.py:49-52): attachment rows
    gain base64_encode of the raw payload; non-attachments never do."""
    import base64

    from dedoc_spark.core.metadata import extract_document_metadata
    from dedoc_spark.sources.pdf_fixture import build_pdf

    payload = build_pdf([[("hello", False)]])
    # explicit is_attached (the handler-set reference contract) + param
    meta = extract_document_metadata(
        "inner.pdf", payload, {"return_base64": "true", "is_attached": True}
    )
    assert meta["base64_encode"] == base64.b64encode(payload).decode()
    # default off: no base64 key, metadata otherwise unchanged
    meta_off = extract_document_metadata("inner.pdf", payload, {"is_attached": True})
    assert "base64_encode" not in meta_off
    # not an attachment: param alone is not enough (reference gates on
    # is_attached first) — and a bare "#" in the url is NOT an attachment
    # signal (crawled urls carry fragments)
    meta = extract_document_metadata("top.pdf", payload, {"return_base64": "true"})
    assert "base64_encode" not in meta
    meta = extract_document_metadata(
        "https://x/page#section", payload, {"return_base64": "true"}
    )
    assert "base64_encode" not in meta


def test_is_one_column_document_auto():
    """is_one_column_document="auto" (the REFERENCE default,
    api_args.py:33): the txt-layer x-histogram flips a clear two-column
    page into column reading order with no parameter at all, while
    one-column pages keep their previous bytes; explicit "true" still
    forces single-column on the same fixture."""
    from dedoc_spark.sources.pdf_fixture import build_pdf

    def page_ops(coords):
        return "\n".join(
            f"BT /F1 12 Tf 1 0 0 1 {x:g} {y:g} Tm ({t}) Tj ET"
            for x, y, t in coords
        )

    two_col = [
        (x, 700 - 20 * i, f"{side} {i}")
        for i in range(6)
        for x, side in ((72, "left"), (330, "right"))
    ]
    pdf = build_pdf([[]], extra_content=[page_ops(two_col)])

    auto = extract_document("c.pdf", pdf, None)  # no param → auto
    lines = [ln.strip() for ln in auto["text_linear"].split("\n") if ln.strip()]
    assert lines[:6] == [f"left {i}" for i in range(6)]
    assert lines[6:] == [f"right {i}" for i in range(6)]
    explicit_auto = extract_document(
        "c.pdf", pdf, None, params={"is_one_column_document": "auto"}
    )
    assert explicit_auto["text_linear"] == auto["text_linear"]

    forced = extract_document(
        "c.pdf", pdf, None, params={"is_one_column_document": "true"}
    )
    flines = [ln.strip() for ln in forced["text_linear"].split("\n") if ln.strip()]
    assert flines[0] == "left 0right 0"  # same-y concatenation preserved

    # a one-column page (all starts at the left margin) stays one-column
    # under auto — byte-identical to the forced-true reading
    one_col = [(72, 700 - 20 * i, f"only column line {i}") for i in range(10)]
    pdf1 = build_pdf([[]], extra_content=[page_ops(one_col)])
    a = extract_document("c.pdf", pdf1, None)
    t = extract_document("c.pdf", pdf1, None, params={"is_one_column_document": "true"})
    assert a["text_linear"] == t["text_linear"]
    assert [ln.strip() for ln in a["text_linear"].split("\n") if ln.strip()][0] == "only column line 0"
