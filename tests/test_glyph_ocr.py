"""Real-font OCR engine (core/glyph_ocr + core/ftrender): the committed
DejaVu template bank, two-pass joint matching with script/case repair,
touching-glyph splitting, scan-mask cleaning, auto engine selection in
recognize_page, and the REAL corpus fax scan. Matching needs only the
committed bank; page RENDERING for fixtures needs the system FreeType,
so those tests gate on ft_available()."""


import numpy as np
import pytest

from dedoc_spark.core import glyph_ocr
from dedoc_spark.core.ftrender import ft_available
from dedoc_spark.core.ocr import ink_mask, recognize_page
from dedoc_spark.core.pdf_objects import parse_pdf

needs_ft = pytest.mark.skipif(not ft_available(), reason="freetype/fonts absent")

LINES = [
    "The quick brown fox jumps over the lazy dog 0123456789",
    "PACK MY BOX WITH FIVE DOZEN LIQUOR JUGS",
    "Съешь же ещё этих мягких французских булок, да выпей чаю.",
    "Contract No. 17-42/B was signed on 2024-03-15 (see p. 4).",
]


def _accuracy(want_lines, got_lines):
    total = hits = 0
    for want, have in zip(want_lines, got_lines):
        w = want.replace(" ", "")
        h = have.replace(" ", "")
        total += max(len(w), len(h))
        hits += sum(a == b for a, b in zip(w, h))
    return hits / max(total, 1)


def _recognize_rendered(face, px):
    from dedoc_spark.core.ftrender import render_text_page

    page = render_text_page(LINES, face=face, px=px)
    mask = ink_mask(np.repeat(page[:, :, None], 3, axis=2))
    # production path (recognize_page) feeds the engine fractional ink
    # coverage whenever the page carries gray detail; match it here
    cov = 1.0 - page.astype(np.float64) / 255.0
    blocks = glyph_ocr.recognize_block(mask, 0, 0, "rus+eng", gray=cov)
    return [" ".join(w.text for w in ws) for _, ws, _ in blocks]


def test_bank_artifact_loads():
    bank = glyph_ocr.load_bank()
    assert bank is not None
    assert len(bank.chars) > 900  # 6 faces x 2 sizes x ~160 chars
    assert bank.grids.shape[1] == glyph_ocr.GRID * glyph_ocr.GRID


@needs_ft
@pytest.mark.parametrize("face", ["serif", "sans", "mono", "serif-bold"])
def test_rendered_page_accuracy(face):
    """300-dpi-scale type (32 px ≈ 10 pt at 300 dpi) reads at >= 93%
    character accuracy across the DejaVu families, mixed Latin +
    Cyrillic + digits + punctuation."""
    got = _recognize_rendered(face, 32)
    assert len(got) == len(LINES)
    assert _accuracy(LINES, got) >= 0.93


@needs_ft
def test_small_size_grid_mean():
    """Regression floor for the faces x sizes accuracy grid (14-32 px,
    five DejaVu families). Measured 0.881 after the r6 gray-coverage /
    DP-segmentation / seam-cut / band-fallback work (was 0.714); the
    floor leaves noise headroom but catches any structural backslide."""
    total = n = 0
    for face in ["serif", "sans", "mono", "serif-bold", "sans-bold"]:
        for px in [14, 16, 18, 20, 24, 32]:
            got = _recognize_rendered(face, px)
            got += [""] * (len(LINES) - len(got))
            total += _accuracy(LINES, got)
            n += 1
    assert total / n >= 0.86


@needs_ft
def test_binary_path_still_reads():
    """Bilevel pages (fax scans) have no gray detail: the binary path
    must keep reading 300-dpi-scale type on its own."""
    from dedoc_spark.core.ftrender import render_text_page

    page = render_text_page(LINES, face="sans", px=32)
    mask = ink_mask(np.repeat(page[:, :, None], 3, axis=2))
    blocks = glyph_ocr.recognize_block(mask, 0, 0, "rus+eng")
    got = [" ".join(w.text for w in ws) for _, ws, _ in blocks]
    assert _accuracy(LINES, got) >= 0.90


@needs_ft
def test_script_and_case_repair():
    """Homoglyph ties resolve by word context: the Latin sentence stays
    Latin, the Cyrillic one Cyrillic, the digit run digits, and the
    all-caps word keeps I (identical to l in sans)."""
    got = _recognize_rendered("sans", 32)
    assert "WITH" in got[1]
    assert "булок, да выпей чаю" in got[2]
    assert "0123456789" in got[0].replace(" ", "")


@needs_ft
def test_word_boundaries_preserved():
    got = _recognize_rendered("serif", 32)
    words = got[1].split()
    assert words[:3] == ["PACK", "MY", "ВОХ"] or words[:3] == ["PACK", "MY", "BOX"]


def test_seam_split_edges_and_shape():
    """_seam_split: degenerate cells refuse; a two-blob cell with a
    clean diagonal gap separates with zero seam ink; the sides
    partition the cell exactly."""
    assert glyph_ocr._seam_split(np.ones((2, 20))) is None
    assert glyph_ocr._seam_split(np.ones((20, 4))) is None
    cell = np.zeros((12, 16))
    cell[:, 2:6] = 1.0  # left blob
    cell[:, 10:14] = 1.0  # right blob
    res = glyph_ocr._seam_split(cell)
    assert res is not None
    left, right, mean_ink = res
    assert mean_ink == 0.0
    assert np.array_equal(left + right, cell)
    assert left[:, 2:6].all() and not left[:, 10:14].any()
    assert right[:, 10:14].all() and not right[:, 2:6].any()
    # solid ink: the seam must still return a partition, never raise
    res2 = glyph_ocr._seam_split(np.ones((10, 10)))
    assert res2 is not None
    l2, r2, m2 = res2
    assert m2 > 0
    assert np.array_equal(l2 + r2, np.ones((10, 10)))


@needs_ft
def test_refine_runs_seam_reads_overlapping_pair():
    """The serif 'fo' pair at 24 px touches through the f-hood ABOVE a
    stroke-thick column — no vertical cut separates it; the seam path
    must, and the word must read 'fox' (this exact page read 'Ox'
    before the seam fallback)."""
    from dedoc_spark.core.ftrender import render_text_page

    page = render_text_page(
        ["The quick brown fox jumps over the lazy dog"],
        face="serif", px=24,
    )
    mask = ink_mask(np.repeat(page[:, :, None], 3, axis=2))
    cov = 1.0 - page.astype(np.float64) / 255.0
    blocks = glyph_ocr.recognize_block(mask, 0, 0, "rus+eng", gray=cov)
    words = [w.text for _, ws, _ in blocks for w in ws]
    assert "fox" in words


def test_clean_scan_mask_edges_and_specks():
    """A page-long border column disappears; a glyph stem in the margin
    zone of a short page survives (contiguity test); isolated specks
    are dropped; connected strokes keep every pixel."""
    m = np.zeros((100, 100), dtype=bool)
    m[:, 2] = True  # full-height scan edge in the margin
    m[10:20, 50] = True  # a 10-px stem
    m[70, 70] = True  # isolated speck
    out = glyph_ocr.clean_scan_mask(m)
    assert not out[:, 2].any()
    assert out[11:19, 50].all()
    assert not out[70, 70]


@needs_ft
def test_auto_engine_selection():
    """recognize_page(auto): a scanfont fixture page keeps the scanfont
    matcher byte-for-byte; a FreeType-rendered page routes to the glyph
    engine (identical to engine='glyph')."""
    from dedoc_spark.core import scanfont
    from dedoc_spark.core.ftrender import render_text_page

    fixture = scanfont.render_scan_page(["Auto mode line"], scale=2)
    rgb = np.repeat(fixture[:, :, None], 3, axis=2)
    auto = recognize_page(rgb)
    scan = recognize_page(rgb, engine="scanfont")
    assert [w.text for l in auto for w in l.words] == [
        w.text for l in scan for w in l.words
    ]
    assert "Auto mode line" == " ".join(w.text for w in auto[0].words)

    real = render_text_page(["Real type line"], face="serif", px=32)
    rgb2 = np.repeat(real[:, :, None], 3, axis=2)
    auto2 = recognize_page(rgb2)
    glyph2 = recognize_page(rgb2, engine="glyph")
    assert [w.text for l in auto2 for w in l.words] == [
        w.text for l in glyph2 for w in l.words
    ]
    assert "Real" in auto2[0].words[0].text


@needs_ft
def test_scanned_pdf_real_type_end_to_end():
    """A scanned PDF whose raster is real proportional type extracts
    readable text through the full document route (the case that
    previously produced garbage)."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    raster = render_text_page(["Quarterly report 2024"], face="serif", px=32)
    pdf = build_scanned_pdf([raster], image_filter="flate")
    d = extract_document(
        "real_type.pdf", pdf, None, params={"pdf_with_text_layer": "false"}
    )
    assert d.get("error") is None
    assert "Quarterly report 2024" in d["text_extracted"]


def test_missing_bank_falls_back_to_scanfont(monkeypatch):
    from dedoc_spark.core import scanfont

    monkeypatch.setattr(glyph_ocr, "_bank", None)
    monkeypatch.setattr(glyph_ocr, "_bank_tried", True)
    monkeypatch.setattr(glyph_ocr, "_subsets", {})
    fixture = scanfont.render_scan_page(["Fallback line"], scale=2)
    rgb = np.repeat(fixture[:, :, None], 3, axis=2)
    lines = recognize_page(rgb, engine="glyph")  # bank gone -> scanfont
    assert "Fallback line" == " ".join(w.text for w in lines[0].words)


def test_real_fax_scan_reads_anchor_lines(reference_file):
    """The corpus's real 300-dpi G4 fax (laws/with_applications.pdf):
    the glyph engine reads the document header — previously every
    scanned page decoded pixels but matched garbage."""
    from dedoc_spark.core.ocr import extract_pdf_page_images

    payload = reference_file("laws/with_applications.pdf").read_bytes()
    img = extract_pdf_page_images(parse_pdf(payload))[0][0]
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    lines = recognize_page(rgb, mask=ink_mask(rgb))
    text = "\n".join(" ".join(w.text for w in l.words) for l in lines)
    assert "ПРИКАЗ" in text
    assert "ФСТЭК России" in text


_ROTATED_LINES = ["Rotated real type page", "with two text lines here"]
# digits are near-symmetric under a 180-degree flip, and 16 px type is
# small: both bring a rotation's score close to the upright one
_MIXED_LINES = ["1234 5678 9012", "The quick brown", "Пример текста"]


@needs_ft
@pytest.mark.parametrize(
    "face, px, lines, k",
    [pytest.param("serif", 32, _ROTATED_LINES, k, id=str(k)) for k in (1, 2, 3)]
    + [
        pytest.param(face, px, _MIXED_LINES, k, id=f"{face}{px}-{k}")
        for face, px in (("sans", 40), ("mono", 16))
        for k in range(4)
    ],
)
def test_orientation_real_type(face, px, lines, k):
    """Rotated REAL-type pages are detected via the glyph-engine
    re-score (the scanfont orientation scorer is noise on real fonts);
    a decisive-margin rule keeps unreadable pages unrotated."""
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.core.ocr import detect_orientation

    page = render_text_page(lines, face=face, px=px)
    rgb = np.repeat(page[:, :, None], 3, axis=2)
    rot = np.ascontiguousarray(np.rot90(rgb, -k))
    assert detect_orientation(rot) == k * 90


@needs_ft
@pytest.mark.parametrize("true_deg", [1.2, -2.4, 3.8])
def test_skew_estimation_recovers_angle(true_deg):
    """estimate_skew (projection-profile energy maximization) recovers a
    known small rotation within 0.2 degrees."""
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.core.ocr import estimate_skew, rotate_small

    page = render_text_page(
        ["Skew estimation test line one",
         "and a second longer line of text here",
         "third line with more content for profiles"],
        face="serif", px=28,
    )
    rgb = np.repeat(page[:, :, None], 3, axis=2)
    est = estimate_skew(ink_mask(rotate_small(rgb, true_deg)))
    assert abs(est - true_deg) <= 0.2


@needs_ft
def test_skew_zero_on_straight_pages():
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.core.ocr import estimate_skew

    page = render_text_page(["perfectly straight line of text"], face="sans", px=28)
    assert estimate_skew(ink_mask(np.repeat(page[:, :, None], 3, axis=2))) == 0.0
    assert estimate_skew(np.zeros((50, 80), dtype=bool)) == 0.0


def test_reference_skew_corrector_images(reference_file):
    """The reference's own skew-corrector corpus: rotated_2.jpg carries
    a real ~1 degree skew; rotated_1/3/4 are 90-degree-family rotations
    whose small-angle skew is zero (the orientation classifier's job,
    not the deskewer's)."""
    from dedoc_spark.core.image_decode import decode_image
    from dedoc_spark.core.ocr import estimate_skew

    def est(name):
        _, _, rgb = decode_image(reference_file(f"skew_corrector/{name}").read_bytes())
        return estimate_skew(ink_mask(rgb))

    assert abs(est("rotated_2.jpg") - (-1.1)) <= 0.3
    for name in ("rotated_1.jpg", "rotated_3.jpg", "rotated_4.jpg"):
        assert est(name) == 0.0


@needs_ft
def test_skewed_scan_end_to_end():
    """A 2.3-degree-skewed real-type scan extracts readable text and
    reports the fractional angle in the rotated-angles warning."""
    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.core.ocr import rotate_small
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    page = render_text_page(
        ["Skewed scan recovery test", "second line for the profile",
         "third line of running text"], face="serif", px=32)
    rgb = np.repeat(page[:, :, None], 3, axis=2)
    skewed = rotate_small(rgb, 2.3)[:, :, 0]
    d = extract_document(
        "skewed.pdf",
        build_scanned_pdf([skewed], image_filter="flate"),
        None,
        params={"pdf_with_text_layer": "false"},
    )
    assert d.get("error") is None
    assert "third line of running text" in d["text_extracted"]
    warn = next(w for w in d["warnings"] if w.startswith("rotated"))
    assert "2.2" in warn or "2.3" in warn or "2.4" in warn


@needs_ft
def test_real_type_ruled_table_cells():
    """A scanned page of REAL type with a ruled 2x2 table: the page-level
    engine probe routes the table-cell OCR through the glyph engine too
    (cells are too small to probe individually), the table region leaves
    the text flow, and every cell reads exactly."""
    import json

    from dedoc_spark.core.document import extract_document
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    cells = [["4017", "8253"], ["1946", "7302"]]
    cw, ch = 160, 60
    W, H = 2 * cw + 3, 2 * ch + 3 + 90
    page = np.full((H, W), 255, np.uint8)
    for r in range(3):
        page[90 + r * (ch + 1), 0 : 2 * cw + 3] = 0
    for c in range(3):
        page[90 : 90 + 2 * ch + 3, c * (cw + 1)] = 0
    body = render_text_page(["Body 5670 line"], face="sans", px=32, margin=4)
    page[4 : 4 + body.shape[0], 4 : 4 + body.shape[1]] = np.minimum(
        page[4 : 4 + body.shape[0], 4 : 4 + body.shape[1]], body
    )
    for r in range(2):
        for c in range(2):
            im = render_text_page([cells[r][c]], face="sans", px=32, margin=4)
            y0, x0 = 90 + r * (ch + 1) + 8, c * (cw + 1) + 8
            page[y0 : y0 + im.shape[0], x0 : x0 + im.shape[1]] = np.minimum(
                page[y0 : y0 + im.shape[0], x0 : x0 + im.shape[1]], im
            )
    d = extract_document(
        "rt.pdf",
        build_scanned_pdf([page], image_filter="flate"),
        None,
        params={"pdf_with_text_layer": "false", "need_pdf_table_analysis": True},
    )
    assert d.get("error") is None
    assert d["n_tables"] == 1
    assert d["text_extracted"] == "\nBody 5670 line\n\n"
    got = [
        ["\n".join(l["line"] for l in c["lines"]) for c in row]
        for row in json.loads(d["tables_json"])[0]["cells"]
    ]
    assert got == cells
