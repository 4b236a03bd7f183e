"""Scanned-document path: core/scanfont + core/ocr + the PdfImageReader
routes in core/document (reference pdf_image_reader/pdf_image_reader.py,
ocr/, line_metadata_extractor/, table_recognizer/ — see module docstrings
for the stand-in boundaries)."""

import json

import numpy as np
import pytest

from dedoc_spark.core import ocr, scanfont
from dedoc_spark.core.document import extract_document
from dedoc_spark.core.image_decode import encode_png


def _rgb(gray: np.ndarray) -> np.ndarray:
    return np.stack([gray] * 3, axis=2)


# ---------------------------------------------------------------------------
# font


def test_font_coverage_and_distinctness():
    full = scanfont.charset_for_language("rus+eng")
    assert "A" in full and "я" in full and "Ё" in full and "7" in full
    keys = {scanfont.GLYPHS[ch].tobytes() for ch in full}
    assert len(keys) == len(full)
    # every row and column of every glyph carries ink (exact segmentation)
    for ch in full:
        g = scanfont.GLYPHS[ch]
        assert g.any(axis=0).all() and g.any(axis=1).all()
        assert g.sum() == scanfont.INK_CELLS


def test_language_charsets():
    eng = scanfont.charset_for_language("eng")
    rus = scanfont.charset_for_language("rus")
    assert "A" in eng and "Д" not in eng
    assert "Д" in rus and "A" not in rus
    assert "5" in eng and "5" in rus
    # unknown language falls back to the rus+eng default
    assert scanfont.charset_for_language("xyz") == scanfont.charset_for_language("rus+eng")


# ---------------------------------------------------------------------------
# recognition round-trip


@pytest.mark.parametrize("scale", [1, 2, 3])
def test_roundtrip_exact(scale):
    lines = ["Hello World 42", "punctuation, (brackets) + signs!"]
    page = scanfont.render_scan_page(lines, scale=scale)
    got = ocr.recognize_page(page)
    assert [ln.text for ln in got] == [t + "\n" for t in lines]
    assert all(w.conf == 100 for ln in got for w in ln.words)


def test_roundtrip_cyrillic():
    lines = ["Сканированный документ", "строка два 123"]
    page = scanfont.render_scan_page(lines, scale=2)
    got = ocr.recognize_page(page, language="rus")
    assert [ln.text for ln in got] == [t + "\n" for t in lines]


def test_language_mismatch_degrades_confidence():
    page = scanfont.render_scan_page(["Привет"], scale=2)
    eng = ocr.recognize_page(page, language="eng")
    assert eng and all(w.conf < 100 for ln in eng for w in ln.words)
    # and the conf threshold drops such words entirely
    assert ocr.recognize_page(page, language="eng", ocr_conf_threshold=100) == []


@pytest.mark.parametrize("rot", [0, 90, 180, 270])
def test_orientation_detection(rot):
    page = scanfont.render_scan_page(["Rotate me please now"], scale=2, rotate=rot)
    assert ocr.detect_orientation(page) == rot


def test_two_column_reading_order():
    page = scanfont.render_scan_page(
        [], columns=[["left one", "left two"], ["right one", "right two"]]
    )
    auto = [ln.text.strip() for ln in ocr.recognize_page(page)]
    assert auto == ["left one", "left two", "right one", "right two"]
    forced = [ln.text.strip() for ln in ocr.recognize_page(page, is_one_column=True)]
    assert forced == ["left one right one", "left two right two"]


def test_bbox_filter():
    # a 1-px-tall 200-px-wide "line" (h/w < 0.01) must be filtered
    wide = ocr.OcrLineOut(0, (0, 0, 200, 1), [])
    tall = ocr.OcrLineOut(1, (0, 0, 2, 100), [])
    ok = ocr.OcrLineOut(2, (0, 0, 50, 10), [])
    assert ocr.filter_lines_by_bbox([wide, tall, ok]) == [ok]


# ---------------------------------------------------------------------------
# binarization


def test_otsu_and_valley_emphasis():
    gray = np.full((40, 40), 220, dtype=np.uint8)
    gray[10:20, 10:30] = 30
    thr = ocr.otsu_threshold(gray)
    assert 30 < thr < 220
    # the valley-emphasis histogram spans the DATA range and its neighbor
    # window never counts bin 0 (reference valley_emphasis_binarizer.py:
    # 33-45 max(1, t-n) quirk), so it only separates full-range images —
    # exactly what the renderer emits (ink 0 on paper 255)
    full = np.full((40, 40), 255, dtype=np.uint8)
    full[10:20, 10:30] = 0
    img01 = ocr.valley_emphasis_binarize01(full)
    assert set(np.unique(img01)) == {0, 1}
    assert img01[15, 20] == 0 and img01[0, 0] == 1


def test_adaptive_binarize_shading():
    # gradient background + dark text: global threshold would smear,
    # the local-mean stand-in keeps the glyphs
    page = scanfont.render_scan_page(["shaded text"], scale=2).astype(np.int32)
    grad = np.linspace(0, 60, page.shape[1], dtype=np.int32)[None, :]
    shaded = np.clip(page - grad, 0, 255).astype(np.uint8)
    binarized = ocr.adaptive_binarize(shaded)
    got = ocr.recognize_page(binarized)
    assert [ln.text.strip() for ln in got] == ["shaded text"]


# ---------------------------------------------------------------------------
# metadata annotations (metadata_extractor.py port)


def _annotated(lines_spec, scale=3):
    page = scanfont.render_scan_page(lines_spec, scale=scale)
    ocr_lines = ocr.recognize_page(page)
    return ocr.build_scan_lines(ocr_lines, page, 0, "seed"), page


def test_word_confidence_and_bbox_annotations():
    lines, page = _annotated(["two words"])
    (ln,) = lines
    confs = [a for a in ln.annotations if a.name == "confidence"]
    boxes = [a for a in ln.annotations if a.name == "bounding box"]
    assert [(a.start, a.end) for a in confs] == [(0, 3), (4, 9)]
    assert [a.value for a in confs] == ["1.0", "1.0"]
    rel = json.loads(boxes[0].value)
    assert rel["page_width"] == page.shape[1] and rel["page_height"] == page.shape[0]
    assert 0 <= rel["x_top_left"] < 1 and rel["width"] > 0


def test_bold_words_annotated():
    lines, _ = _annotated(
        [
            [("normal", False), ("words", False)],
            [("bold", True), ("heavy", True)],
            [("plain", False), ("text", False)],
        ]
    )
    bold = [[(a.start, a.end) for a in ln.annotations if a.name == "bold"] for ln in lines]
    assert bold == [[], [(0, 4), (5, 10)], []]


def test_all_regular_page_has_no_bold():
    # enough words that the homogeneity F-criterion is stable: with <7
    # words a single glyph-dependent eval outlier can form a singleton
    # cluster and pass the split test (the reference's criterion has the
    # same small-n fragility — agglomerative_clusterizer.py:38-50)
    lines, _ = _annotated(["the quick brown fox", "jumps over lazy dogs"])
    assert all(a.name != "bold" for ln in lines for a in ln.annotations)


def test_size_spacing_annotations():
    lines, page = _annotated(["first line", "second line"])
    h = page.shape[0]
    for ln in lines:
        size = next(a for a in ln.annotations if a.name == "size")
        # A4-pitch font size: bbox height 8*scale px (metadata_extractor.py:130-142)
        assert size.value == str(round(24 * (297 / h) / 0.353))
    spacing = [next(a for a in ln.annotations if a.name == "spacing").value for ln in lines]
    assert spacing[0] == "50"  # default on the first line
    # gap = 6 cells * scale = 18px over median height 24 -> 75
    assert spacing[1] == "75"


def test_indentation_annotation():
    # second line indented far right of the modal left bound
    page = scanfont.render_scan_page(["aaaa bbbb", "aaaa cccc", "aaaa dddd"], scale=2).copy()
    shifted = np.full_like(page, 255)
    # no leading-space glyphs exist, so shift the third band manually:
    # margin = margin_cells(4) * scale(2) = 8px, line pitch = LINE_ADV(14) * 2
    b0 = 4 * 2 + 2 * 14 * 2  # top of band 3
    shifted[:b0] = page[:b0]
    shifted[b0:, 60:] = page[b0:, :-60]
    lines = ocr.build_scan_lines(
        ocr.recognize_page(shifted), shifted, 0, "seed", call_classifier=False
    )
    ind = [[a.value for a in ln.annotations if a.name == "indentation"] for ln in lines]
    assert ind[0] == [] and ind[1] == []
    assert len(ind[2]) == 1 and int(ind[2][0]) > 0


def test_color_annotation_rgb_only():
    gray_lines, _ = _annotated(["gray page"])
    assert all(a.name != "color_annotation" for ln in gray_lines for a in ln.annotations)
    page = scanfont.render_scan_page(["red text"], scale=2)
    rgb = _rgb(page).copy()
    rgb[page == 0] = (200, 10, 10)
    lines = ocr.build_scan_lines(ocr.recognize_page(rgb), rgb, 0, "seed")
    color = next(a for a in lines[0].annotations if a.name == "color_annotation")
    val = json.loads(color.value)
    assert val["red"] > 150 and val["green"] < 60 and list(val) == ["red", "blue", "green"]


def test_line_uids_deterministic():
    lines1, _ = _annotated(["stable uid line"])
    lines2, _ = _annotated(["stable uid line"])
    assert lines1[0].uid == lines2[0].uid and lines1[0].uid.startswith("bbox_")


# ---------------------------------------------------------------------------
# tables from pixels


def _page_with_table(cell_texts, scale=2, last_col_open_rows=None, drop_outer=False):
    """Render body + an n x m ruled grid below it; returns (page, meta)."""
    n_rows, n_cols = len(cell_texts), len(cell_texts[0])
    cell_w, cell_h = 90 * scale, 24 * scale
    x0, y0 = 10, 80 * scale
    page = scanfont.render_scan_page(["body line here"], scale=scale, margin_cells=5)
    h = max(page.shape[0], y0 + n_rows * cell_h + 20)
    w = max(page.shape[1], x0 + n_cols * cell_w + 20)
    canvas = np.full((h, w), 255, dtype=np.uint8)
    canvas[: page.shape[0], : page.shape[1]] = page
    for r in range(n_rows + 1):
        y = y0 + r * cell_h
        x_end = x0 + n_cols * cell_w
        if last_col_open_rows is not None and 0 < r < n_rows and r in last_col_open_rows:
            x_end = x0 + (n_cols - 1) * cell_w  # rule stops before last column
        canvas[y, x0 : x_end + 1] = 0
    for c in range(n_cols + 1):
        if drop_outer and c in (0, n_cols):
            continue
        x = x0 + c * cell_w
        canvas[y0 : y0 + n_rows * cell_h + 1, x] = 0
    if drop_outer:
        canvas[y0, :] = 255
        canvas[y0 + n_rows * cell_h, :] = 255
        # keep inner horizontals only
        for r in range(1, n_rows):
            canvas[y0 + r * cell_h, x0 : x0 + n_cols * cell_w + 1] = 0
    for r, row in enumerate(cell_texts):
        for c, text in enumerate(row):
            if text is None:
                continue
            block = scanfont.render_scan_page([text], scale=scale, margin_cells=0)
            y = y0 + r * cell_h + 6
            x = x0 + c * cell_w + 8
            canvas[y : y + block.shape[0], x : x + block.shape[1]] = np.minimum(
                canvas[y : y + block.shape[0], x : x + block.shape[1]], block
            )
    return canvas


def _cells_text(table):
    return [["\n".join(l.line for l in c.lines) for c in row] for row in table.cells]


def test_table_recognition_and_flow_split():
    page = _page_with_table([["aa", "bb"], ["cc", "dd"]])
    tables, cleaned = ocr.recognize_tables_from_image(page, 0, "seed")
    assert len(tables) == 1
    assert _cells_text(tables[0]) == [["aa", "bb"], ["cc", "dd"]]
    flow = [ln.text.strip() for ln in ocr.recognize_page(cleaned)]
    assert flow == ["body line here"]


def test_table_spanned_cells_master_and_clones():
    # last-column rule between rows 1-2 missing -> vertical union
    page = _page_with_table([["aa", "top"], ["cc", None]], last_col_open_rows={1})
    tables, _ = ocr.recognize_tables_from_image(page, 0, "seed")
    (t,) = tables
    assert t.cells[0][1].rowspan == 2 and not t.cells[0][1].invisible
    assert t.cells[1][1].invisible
    assert [l.line for l in t.cells[0][1].lines] == ["top"]
    assert [l.line for l in t.cells[1][1].lines] == ["top"]  # content copy


def test_table_split_last_column_mode():
    page = _page_with_table([["aa", "top"], ["cc", None]], last_col_open_rows={1})
    tables, _ = ocr.recognize_tables_from_image(
        page, 0, "seed", table_type="split_last_column"
    )
    (t,) = tables
    assert t.cells[0][1].rowspan == 1 and not t.cells[0][1].invisible
    assert not t.cells[1][1].invisible
    assert [l.line for l in t.cells[0][1].lines] == ["top"]
    assert [l.line for l in t.cells[1][1].lines] == []


def test_table_wo_external_bounds():
    page = _page_with_table([["aa", "bb"], ["cc", "dd"]], drop_outer=True)
    none, _ = ocr.recognize_tables_from_image(page, 0, "seed")
    assert none == []
    tables, _ = ocr.recognize_tables_from_image(
        page, 0, "seed", table_type="wo_external_bounds"
    )
    assert len(tables) == 1
    assert _cells_text(tables[0]) == [["aa", "bb"], ["cc", "dd"]]


# ---------------------------------------------------------------------------
# document routes


def test_image_route_opt_in_and_default_stable():
    page = scanfont.render_scan_page(["Image with text"], scale=2)
    png = encode_png(_rgb(page))
    d = extract_document("scan.png", png, None, params={"pdf_with_text_layer": "false"})
    assert d.get("error") is None
    assert "Image with text" in d["text_extracted"]
    # default bytes: the multimodal typed row, unchanged
    d2 = extract_document("scan.png", png, None, params={})
    assert d2["error"] == "needs_decoder:image/png"


def test_scanned_pdf_route():
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    p1 = scanfont.render_scan_page(["First scanned page"], scale=2)
    p2 = scanfont.render_scan_page(["Second scanned page"], scale=2)
    pdf = build_scanned_pdf([p1, p2])
    d = extract_document("scan.pdf", pdf, None, params={"pdf_with_text_layer": "false"})
    assert d.get("error") is None
    assert "First scanned page" in d["text_extracted"]
    assert "Second scanned page" in d["text_extracted"]
    lines = json.loads(d["lines_json"])
    assert {ln["page_id"] for ln in lines} == {0, 1}
    # pages pruning (pdf_base_reader.py:108-128)
    d2 = extract_document(
        "scan.pdf", pdf, None, params={"pdf_with_text_layer": "false", "pages": "2:2"}
    )
    assert "First scanned page" not in d2["text_extracted"]
    assert "Second scanned page" in d2["text_extracted"]


def test_scanned_pdf_rotated_page_warning():
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = scanfont.render_scan_page(["Rotate me please now"], scale=2, rotate=90)
    pdf = build_scanned_pdf([raster])
    d = extract_document("rot.pdf", pdf, None, params={"pdf_with_text_layer": "false"})
    assert "Rotate me please now" in d["text_extracted"]
    assert any("rotated page angles" in w for w in d["warnings"])
    # document_orientation=no_change skips the rotation correction
    d2 = extract_document(
        "rot.pdf",
        pdf,
        None,
        params={"pdf_with_text_layer": "false", "document_orientation": "no_change"},
    )
    assert "Rotate me please now" not in d2["text_extracted"]


def test_scanned_pdf_table_analysis():
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    page = _page_with_table([["k1", "v1"], ["k2", "v2"]])
    pdf = build_scanned_pdf([page])
    d = extract_document(
        "tbl.pdf",
        pdf,
        None,
        params={"pdf_with_text_layer": "false", "need_pdf_table_analysis": True},
    )
    assert d["n_tables"] == 1
    cells = json.loads(d["tables_json"])[0]["cells"]
    texts = [["\n".join(l["line"] for l in c["lines"]) for c in row] for row in cells]
    assert texts == [["k1", "v1"], ["k2", "v2"]]
    assert "body line here" in d["text_extracted"]
    assert "k1" not in d["text_extracted"]


def test_auto_mode_ocr_reread_for_scanned_pdf():
    """PdfAutoReader incorrect-layer branch (pdf_auto_reader.py:70-76):
    in DEFAULT auto mode a PDF whose pages are embedded rasters with no
    text layer re-reads through the OCR pipeline; the routing warning
    lands after the reader's own warnings."""
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = scanfont.render_scan_page(["Auto routed scan"], scale=2)
    pdf = build_scanned_pdf([raster])
    d = extract_document("auto.pdf", pdf, None, params={})
    assert "Auto routed scan" in d["text_extracted"]
    assert d["warnings"][-1] == "Assume document has incorrect textual layer"


def test_need_binarization_param():
    page = scanfont.render_scan_page(["Binarize this scan"], scale=2).astype(np.int32)
    grad = np.linspace(0, 60, page.shape[1], dtype=np.int32)[None, :]
    shaded = np.clip(page - grad, 0, 255).astype(np.uint8)
    png = encode_png(_rgb(shaded))
    d = extract_document(
        "shade.png",
        png,
        None,
        params={"pdf_with_text_layer": "false", "need_binarization": "true"},
    )
    assert "Binarize this scan" in d["text_extracted"]


def test_spark_identical_to_plain_call():
    """Determinism: same bytes -> identical output dict, twice."""
    page = scanfont.render_scan_page(["determinism check line"], scale=2)
    png = encode_png(_rgb(page))
    a = extract_document("d.png", png, None, params={"pdf_with_text_layer": "false"})
    b = extract_document("d.png", png, None, params={"pdf_with_text_layer": "false"})
    assert a == b


@pytest.mark.parametrize("cells", [ocr.GLYPH, 16])
def test_block_cache_stays_bounded(cells):
    """The bounds and (h, w) count caches behind block_means (the
    scanfont GLYPH grid and the glyph engine's 16 grid) are cleared when
    full, so a long-lived worker seeing many crop sizes keeps each at or
    under its cap; means are the same whether or not the entry was
    cached."""
    ocr._block_bounds_cache.clear()
    ocr._block_outer_cache.clear()
    crop = np.random.default_rng(5).random((37, 23))
    want = ocr.block_means(crop, cells)
    for h in range(1, 70):
        for w in range(1, 40):
            ocr.block_means(np.ones((h, w)), cells)
            assert len(ocr._block_outer_cache) <= ocr._BLOCK_CACHE_MAX
    for n in range(1, 2 * ocr._BLOCK_CACHE_MAX):
        ocr.block_means(np.ones((1, n)), cells)
        assert len(ocr._block_bounds_cache) <= ocr._BLOCK_CACHE_MAX
    assert np.array_equal(ocr.block_means(crop, cells), want)


def _q67_table_page(source: str):
    return scanfont.render_table_page(
        [["id", "5"], [source, "en"]], scale=2, body_lines=["page three body"]
    )


def test_table_page_with_two_char_cell_stays_upright():
    """An upright fixture table page whose body line reads perfectly but
    whose table band fuses to a lone glyph: the mean over its bands
    (0.81) missed the scanfont floor, and the glyph re-score read the
    page at 270°. The best substantial band keeps it upright."""
    assert ocr.detect_orientation(_q67_table_page("s3")) == 0


def test_table_page_stays_upright():
    """The same page with the cell text 'src3' (the source shape the q67
    gate sees) is read upright."""
    assert ocr.detect_orientation(_q67_table_page("src3")) == 0


def _spy_orientation_confidences(monkeypatch):
    from dedoc_spark.core import glyph_ocr

    calls = []
    real = glyph_ocr.orientation_confidences

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(glyph_ocr, "orientation_confidences", spy)
    return calls


@pytest.mark.parametrize("source", ["s3", "src3"])
def test_fixture_table_page_skips_the_glyph_rescore(monkeypatch, source):
    """Fixture table pages exit on their upright scanfont score: the
    four-rotation glyph re-score is not run for them."""
    calls = _spy_orientation_confidences(monkeypatch)
    assert ocr.detect_orientation(_q67_table_page(source)) == 0
    assert calls == []


def test_real_font_page_runs_the_glyph_rescore_once(monkeypatch):
    from dedoc_spark.core.ftrender import ft_available, render_text_page
    from dedoc_spark.sources.pdf_fixture import q68_lines

    if not ft_available():
        pytest.skip("freetype/fonts absent")
    calls = _spy_orientation_confidences(monkeypatch)
    page = render_text_page(q68_lines(0), face="sans", px=40)
    assert ocr.detect_orientation(np.ascontiguousarray(np.rot90(page, 1))) == 270
    assert len(calls) == 1
