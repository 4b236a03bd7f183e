"""Line↔object linker family tests — semantics mirror the reference's
line_object_linker.py / metadata_extractor.py / ocr_line_extractor.py
(see pdf_layout module docstring for file:line citations)."""

from dedoc_spark.core.model import Line
from dedoc_spark.core.pdf_extract import extract_pdf_lines, extract_pdf_pages_layout
from dedoc_spark.core.pdf_objects import parse_pdf
from dedoc_spark.core.pdf_layout import (
    BBox,
    Location,
    PageObject,
    add_indentation_annotations,
    add_spacing_annotations,
    bbox_sanity_filter,
    link_objects,
)
from dedoc_spark.sources.pdf_fixture import build_pdf


def _line(text: str, page: int, x: float, y: float, w: float, h: float = 12.0) -> Line:
    ln = Line(line=text, page_id=page)
    ln.extras["location"] = Location(page, BBox(x, y, w, h))
    return ln


def _ann(ln: Line):
    return [(a.name, a.value) for a in ln.annotations]


def test_linker_min_distance_same_page():
    """Object links to the min bbox-distance line on its page
    (line_object_linker.py:88-101): the adjacent line with full horizontal
    overlap wins over a distant one."""
    lines = [
        _line("far away", 0, 72, 20, 100),
        _line("right above", 0, 72, 80, 200),
        _line("far below", 0, 72, 400, 100),
    ]
    table = PageObject("table", "tab-1", Location(0, BBox(72, 100, 200, 50)))
    link_objects(lines, [table])
    assert _ann(lines[1]) == [("table", "tab-1")]
    assert _ann(lines[0]) == [] and _ann(lines[2]) == []


def test_linker_table_prefix_preferred():
    """'table ' prefix earns −0.5 distance (line_object_linker.py:115-119):
    a caption slightly farther beats a nearer plain line."""
    lines = [
        _line("some plain text", 0, 72, 68, 200),  # gap 20 → dist −0.6
        _line("Table 3 results", 0, 72, 60, 200),  # gap 28 → 0.56−1−0.5 = −0.94
    ]
    table = PageObject("table", "t", Location(0, BBox(72, 100, 200, 50)))
    link_objects(lines, [table])
    assert _ann(lines[1]) == [("table", "t")]


def test_linker_empty_line_penalized():
    lines = [
        _line("", 0, 72, 80, 200),  # nearer but empty: +0.5
        _line("real text", 0, 72, 60, 200),
    ]
    img = PageObject("image", "i", Location(0, BBox(72, 100, 200, 50)))
    link_objects(lines, [img])
    assert _ann(lines[1]) == [("attachment", "i")]


def test_linker_prev_page_fallback():
    """No line on the object's page → last line of the previous page
    (line_object_linker.py:91-95)."""
    lines = [
        _line("page0 first", 0, 72, 20, 100),
        _line("page0 last", 0, 72, 40, 100),
    ]
    img = PageObject("image", "i2", Location(1, BBox(72, 100, 200, 50)))
    link_objects(lines, [img])
    assert _ann(lines[1]) == [("attachment", "i2")]


def test_linker_empty_corpus_placeholder():
    """Zero lines → the linker synthesizes one empty placeholder line and
    annotates it (line_object_linker.py:37-39)."""
    img = PageObject("image", "i3", Location(0, BBox(0, 0, 10, 10)))
    out = link_objects([], [img])
    assert len(out) == 1 and out[0].line == ""
    assert _ann(out[0]) == [("attachment", "i3")]


def test_bbox_sanity_filter_bounds():
    """Keep iff 0.01 < h/(w+1e-6) < 24 (ocr_line_extractor.py:44-48)."""
    ok = _line("ok", 0, 0, 0, 100, 12)  # 0.12
    too_flat = _line("flat", 0, 0, 0, 10000, 12)  # 0.0012
    too_tall = _line("tall", 0, 0, 0, 1, 48)  # 48
    no_loc = Line(line="noloc")
    kept = bbox_sanity_filter([ok, too_flat, too_tall, no_loc])
    assert [ln.line for ln in kept] == ["ok", "noloc"]


def test_spacing_from_median():
    """space = 100·gap/median-height, default 50 at page starts/overlaps,
    floor 1 (metadata_extractor.py:146-164)."""
    lines = [
        _line("a", 0, 72, 20, 100),  # first → 50
        _line("b", 0, 72, 38, 100),  # gap 38-32=6 → 100*6/12=50
        _line("c", 0, 72, 50.06, 100),  # gap 0.06 → <1 → floor 1
        _line("d", 1, 72, 20, 100),  # page change → 50
        _line("e", 1, 72, 30, 100),  # overlap (32 >= 30) → 50
    ]
    add_spacing_annotations(lines)
    assert [a.value for ln in lines for a in ln.annotations if a.name == "spacing"] == [
        "50", "50", "1", "50", "50",
    ]


def test_indentation_left_bound_mode():
    """Left bound = leftmost of the two most frequent left edges; lines
    within one char width of it get no annotation; twips formula uses
    297/page-width (metadata_extractor.py:70-128)."""
    lines = [
        _line("aaaa", 0, 72, 20, 24),  # at bound (width_per_char 6)
        _line("bbbb", 0, 72, 40, 24),
        _line("cccc", 0, 100, 60, 24),  # indented 28
    ]
    add_indentation_annotations(lines, page_width=612)
    assert _ann(lines[0]) == [] and _ann(lines[1]) == []
    expected = int((28 * 297 / 612) / 10 * 567)
    assert _ann(lines[2]) == [("indentation", str(expected))]


def test_end_to_end_image_link_and_metadata():
    """Fixture PDF with a placed image: the txt-layer path retains bboxes,
    adds size/spacing annotations, and links the image to the closest line
    ('table 1 caption' wins on overlap + prefix bonus)."""
    pdf = build_pdf(
        [[("Title line", True), ("body text here", False), ("table 1 caption", False)]],
        images=[[(72, 600, 200, 100)]],
    )
    page = extract_pdf_pages_layout(parse_pdf(pdf))[0]
    assert (page["width"], page["height"]) == (612.0, 792.0)
    assert page["lines"][0][2] == (72.0, 20.0, 132.0, 32.0)  # 10 chars · 6pt, 12pt tall
    assert page["images"] == [("Im1", (72.0, 92.0, 272.0, 192.0))]

    lines, _ = extract_pdf_lines(parse_pdf(pdf), "h", with_layout=True)
    by_text = {ln.line: ln for ln in lines}
    names = {a.name for ln in lines for a in ln.annotations}
    assert {"size", "spacing"} <= names
    attach = [(ln.line, a.value) for ln in lines for a in ln.annotations if a.name == "attachment"]
    assert len(attach) == 1 and attach[0][0] == "table 1 caption"
    assert by_text["Title line"].extras["location"].bbox.height == 12.0


def test_default_path_unchanged():
    """with_layout=False (the default) must not add layout annotations or
    extras — byte parity with rounds 1-2 output."""
    pdf = build_pdf([[("Title", True), ("body", False)]], images=[[(72, 600, 100, 50)]])
    lines, _ = extract_pdf_lines(parse_pdf(pdf), "h")
    assert all("location" not in ln.extras for ln in lines)
    assert {a.name for ln in lines for a in ln.annotations} <= {"bold"}


def test_bbox_annotation_relative_roundtrip():
    """'bounding box' annotations carry relative coords + page dims (the
    BBoxAnnotation contract, bbox_annotation.py:27-43): reconstructing via
    get_bbox_from_value semantics recovers the absolute box."""
    import json

    pdf = build_pdf([[("Title line", True)]])
    lines, _ = extract_pdf_lines(parse_pdf(pdf), "h", with_layout=True)
    ann = next(a for a in lines[0].annotations if a.name == "bounding box")
    d = json.loads(ann.value)
    assert (d["page_width"], d["page_height"]) == (612.0, 792.0)
    x = d["x_top_left"] * d["page_width"]
    y = d["y_top_left"] * d["page_height"]
    w = d["width"] * d["page_width"]
    h = d["height"] * d["page_height"]
    loc = lines[0].extras["location"].bbox
    assert (round(x, 2), round(y, 2), round(w, 2), round(h, 2)) == (
        loc.x_top_left, loc.y_top_left, loc.width, loc.height,
    )
    assert (ann.start, ann.end) == (0, len("Title line"))
