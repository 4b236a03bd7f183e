"""Parity checks against the REFERENCE'S OWN test documents and expected
strings (ported from tests/unit_tests/test_format_docx_reader.py:32-60) —
skipped when the reference checkout is absent."""


def test_reference_example_docx_exact_lines(reference_file):
    """The reference's own assertions on tests/data/docx/example.docx."""
    from dedoc_spark.core.docx_extract import extract_docx

    payload = reference_file("docx/example.docx").read_bytes()
    lines, tables, _ = extract_docx(payload, "h")
    texts = [ln.line.strip() for ln in lines]
    assert texts[0] == "Пример документа"
    assert texts[1] == "Глава 1"
    assert texts[3] == "Статья 1"
    assert texts[5] == "Статья 2"
    assert texts[6] == "Дадим пояснения"
    assert texts[7] == "1.2.1. Поясним за непонятное"
    assert texts[8] == "1.2.2. Поясним за понятное"
    assert texts[9] == "а) это даже ежу понятно"
    assert texts[10] == "б) это ежу не понятно"
    assert texts[11] == "1.2.3."
    assert len(tables) == 2
    # first table annotated on the "Дадим пояснения" line (reference :51-57)
    ann6 = [a.value for a in lines[6].annotations if a.name == "table"]
    assert ann6 == [tables[0].uid]
    ann11 = [a.value for a in lines[11].annotations if a.name == "table"]
    assert ann11 == [tables[1].uid]


def test_reference_corpus_sweep_no_errors(reference_file):
    """Every real (non-'broken') office document in the reference corpus
    extracts without an error row, and none raises."""
    from dedoc_spark.core.document import extract_document

    exts = {"docx", "pdf", "doc", "rtf", "odt", "ods", "odp", "xls", "xlsx", "ppt", "pptx"}
    checked = 0
    for p in sorted(reference_file(".").rglob("*")):  # the whole corpus
        if not p.is_file() or p.suffix.lstrip(".").lower() not in exts:
            continue
        d = extract_document(p.name, p.read_bytes(), None)
        if "broken" not in p.name:
            assert d["error"] is None, f"{p.name}: {d['error']}"
        checked += 1
    assert checked > 100


def test_reference_english_doc_pdf(reference_file):
    """Real text-layer PDF from the reference corpus: title + list items
    extract, and per-line annotations are never duplicated (the reference's
    own assertion, test_format_pdf_reader.py test_pdf_text_layer)."""
    from dedoc_spark.core.pdf_extract import extract_pdf_lines
    from dedoc_spark.core.pdf_objects import parse_pdf

    payload = reference_file("pdf_with_text_layer/english_doc.pdf").read_bytes()
    lines, _ = extract_pdf_lines(parse_pdf(payload), "h")
    texts = [ln.line.strip() for ln in lines]
    assert texts[0] == "THE GREAT ENGLISH DOCUMENT"
    assert any(t.startswith("1) Fisrst item") for t in texts)
    assert any(t.startswith("2) Second item") for t in texts)
    for ln in lines:
        anns = {(a.name, a.value, a.start, a.end) for a in ln.annotations}
        assert len(anns) == len(ln.annotations)


def test_reference_cyrillic_pdfs(reference_file):
    """Real Cyrillic text-layer PDFs decode through ToUnicode/CMaps with
    the CTM-aware line placement: content matches the companion text."""
    from dedoc_spark.core.pdf_extract import extract_pdf_lines
    from dedoc_spark.core.pdf_objects import parse_pdf

    lines, _ = extract_pdf_lines(parse_pdf(reference_file("pdf_with_text_layer/example.pdf").read_bytes()), "h")
    texts = [ln.line.strip() for ln in lines]
    assert texts[0] == "Пример документа"
    assert texts[1] == "Глава 1"

    lines, _ = extract_pdf_lines(parse_pdf(reference_file("pdf_with_text_layer/cp1251.pdf").read_bytes()), "h")
    body = " ".join(ln.line.replace("\t", " ") for ln in lines)
    expected_head = reference_file("pdf_with_text_layer/cp1251.txt").read_text(encoding="utf-8").split()[:6]
    for word in expected_head:
        assert word in body


def test_scanned_table_pdfs_yield_rasters(reference_file):
    """The tables/*.pdf scans exercise real-world PDF shapes the parser
    must survive: /XObject as an indirect reference (not_table.pdf,
    example_with_table0.pdf), CR-only line endings after the stream
    keyword (example_with_table1.pdf), and a /Filter cascade
    [/FlateDecode /DCTDecode] (gost_multipage_table.pdf). Every page
    must produce a decoded raster."""
    from dedoc_spark.core.ocr import extract_pdf_page_images
    from dedoc_spark.core.pdf_objects import parse_pdf

    expect = {
        "example_with_table0.pdf": [1, 1],
        "example_with_table1.pdf": [1],
        "not_table.pdf": [1],
        "gost_multipage_table.pdf": [1, 1],
    }
    for name, counts in expect.items():
        payload = reference_file(f"tables/{name}").read_bytes()
        pages = extract_pdf_page_images(parse_pdf(payload))
        assert [len(p) for p in pages] == counts, name


def test_reference_diagram_and_strict_docx(reference_file):
    """diagram_1.docx: exactly 1 repacked diagram attachment with the
    annotation on its hosting line (test_format_docx_reader.py:246-253
    count semantics; uid VALUES differ — bs4 serialization). size1.docx:
    ISO-strict namespaces — every size annotation reads 12.0
    (test_format_docx_reader.py:287-293)."""
    from dedoc_spark.core.docx_extract import extract_docx
    from dedoc_spark.core.formats import list_attachments

    payload = reference_file("docx/diagram_1.docx").read_bytes()
    atts = list_attachments("diagram_1.docx", payload)
    assert len(atts) == 1 and atts[0][0].endswith(".docx")
    lines, _, _ = extract_docx(payload, "h")
    assert any(a.name == "attachment" for a in lines[0].annotations)

    payload2 = reference_file("with_attachments/with_attachments_2.docx").read_bytes()
    assert len(list_attachments("x.docx", payload2)) >= 1

    payload3 = reference_file("docx/size1.docx").read_bytes()
    lines3, _, _ = extract_docx(payload3, "h")
    assert len(lines3) > 0
    sizes = {a.value for ln in lines3 for a in ln.annotations if a.name == "size"}
    assert sizes == {"12.0"}
