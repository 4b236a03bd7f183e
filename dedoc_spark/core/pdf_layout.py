"""PDF layout model: per-line bounding boxes, the line↔object linker, the
bbox sanity filter, and bbox-derived line metadata (spacing / indentation /
font size). Pure Python — runs identically in unit tests and inside
mapInPandas.

Reference semantics:
  - BBox / Location ordering: dedocutils BBox(x_top_left, y_top_left,
    width, height) + readers/pdf_reader/data_classes/tables/location.py:29-35
    (Location compares as (page_number, bbox.y_bottom_right)).
  - LineObjectLinker: readers/pdf_reader/utils/line_object_linker.py:27-127
    — sort lines+objects by (order, location), keep a 5-line window before
    and after each object, link to the min bbox-distance line on the same
    page (distance = vertical/(obj.height+1e-3) − horizontal-overlap/line
    width + special: +0.5 empty line, −0.5 "таблица|таб.|table " prefix);
    cross-page fallbacks: last line of the previous page, then max line
    before, then min line overall. Tables get a "table" annotation with the
    table uid, images an "attachment" annotation with the attachment uid
    (both non-mergeable, annotation.py registry).
  - bbox sanity filter: pdf_image_reader/ocr/ocr_line_extractor.py:44-48 —
    keep a line iff 0.01 < height/(width+1e-6) < 24.
  - spacing / indentation / size: pdf_image_reader/line_metadata_extractor/
    metadata_extractor.py:70-164 — spacing = 100·gap/median-line-height
    (default 50 on page breaks/overlaps, floor 1); indentation bound = the
    leftmost of the two most frequent left edges, value in twips via
    pixel2mm = 297/image_width (the reference uses the WIDTH here — quirk
    kept); font size pt = height·(297/image_height)/0.353 rounded.

Coordinates are top-down (y grows downward) like the reference's image
pixels; pdf_extract converts PDF device space via the MediaBox height.
"""

from __future__ import annotations

from collections import Counter, deque
from typing import Dict, List, Optional, Sequence, Tuple

from dedoc_spark.core.model import Annotation, Line


class BBox:
    """Axis-aligned box, top-down y (dedocutils BBox contract)."""

    __slots__ = ("x_top_left", "y_top_left", "width", "height")

    def __init__(self, x_top_left: float, y_top_left: float, width: float, height: float) -> None:
        self.x_top_left = x_top_left
        self.y_top_left = y_top_left
        self.width = width
        self.height = height

    @property
    def x_bottom_right(self) -> float:
        return self.x_top_left + self.width

    @property
    def y_bottom_right(self) -> float:
        return self.y_top_left + self.height

    def to_relative_dict(self, page_width: float, page_height: float) -> Dict:
        """Relative-coordinate dict, the BBoxAnnotation value contract
        (inverse of bbox_annotation.py:32-43 get_bbox_from_value)."""
        return {
            "x_top_left": self.x_top_left / page_width,
            "y_top_left": self.y_top_left / page_height,
            "width": self.width / page_width,
            "height": self.height / page_height,
            "page_width": page_width,
            "page_height": page_height,
        }

    def __repr__(self) -> str:
        return f"BBox({self.x_top_left},{self.y_top_left},{self.width},{self.height})"


class Location:
    """Page placement; totally ordered by (page_number, bbox bottom edge)
    like the reference's Location (location.py:29-35)."""

    __slots__ = ("page_number", "bbox")

    def __init__(self, page_number: int, bbox: BBox) -> None:
        self.page_number = page_number
        self.bbox = bbox

    def _key(self) -> Tuple[int, float]:
        return (self.page_number, self.bbox.y_bottom_right)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Location) and self._key() == other._key()

    def __lt__(self, other: "Location") -> bool:
        return self._key() < other._key()

    def __repr__(self) -> str:
        # content-only repr: lines_json str()s extras values, so the
        # default object repr's memory address would leak into lines_json
        # and break byte determinism
        return f"Location({self.page_number},{self.bbox!r})"


class PageObject:
    """A non-line page object (table or image attachment) for the linker."""

    __slots__ = ("kind", "uid", "location", "order")

    def __init__(self, kind: str, uid: str, location: Location, order: int = -1) -> None:
        assert kind in ("table", "image")
        self.kind = kind
        self.uid = uid
        self.location = location
        self.order = order


def line_location(ln: Line) -> Optional[Location]:
    loc = ln.extras.get("location")
    return loc if isinstance(loc, Location) else None


def bbox_sanity_filter(lines: List[Line]) -> List[Line]:
    """Drop degenerate boxes (ocr_line_extractor.py:44-48): keep iff
    0.01 < height/(width+1e-6) < 24. Lines without a location pass."""
    out = []
    for ln in lines:
        loc = line_location(ln)
        if loc is None:
            out.append(ln)
            continue
        ratio = loc.bbox.height / (loc.bbox.width + 1e-6)
        if 0.01 < ratio < 24:
            out.append(ln)
    return out


# --- line ↔ object linker (line_object_linker.py:27-127) ---------------------

_N_LINES = 5


def _distance_bboxes(line: Line, line_bbox: BBox, object_bbox: BBox) -> float:
    vertical_distance_abs = min(
        abs(line_bbox.y_top_left - object_bbox.y_bottom_right),
        abs(line_bbox.y_bottom_right - object_bbox.y_top_left),
    )
    vertical_distance = vertical_distance_abs / (object_bbox.height + 1e-3)
    left = max(line_bbox.x_top_left, object_bbox.x_top_left)
    right = min(line_bbox.x_bottom_right, object_bbox.x_bottom_right)
    horizontal_intersection = (right - left) / line_bbox.width if right > left else 0
    special_distance = 0.0
    text = line.line.lower().strip()
    if len(text) == 0:
        special_distance += 0.5
    elif text.startswith(("таблица ", "таб. ", "table ")):
        special_distance -= 0.5
    return vertical_distance - horizontal_intersection + special_distance


def _find_closest_line(
    page_object: PageObject,
    lines_before: List[Line],
    lines_after: List[Line],
    last_page_line: Dict[int, Line],
) -> Line:
    all_lines = lines_before + lines_after
    same_page = [
        ln for ln in all_lines if line_location(ln).page_number == page_object.location.page_number
    ]
    if len(same_page) == 0:
        previous_page_id = page_object.location.page_number - 1
        if previous_page_id in last_page_line:
            return last_page_line[previous_page_id]
        lines_prev = [ln for ln in all_lines if line_location(ln) < page_object.location]
        if lines_prev:
            return max(lines_prev, key=line_location)
        return min(all_lines, key=line_location)
    scored = [
        (_distance_bboxes(ln, line_location(ln).bbox, page_object.location.bbox), ln)
        for ln in same_page
    ]
    return min(scored, key=lambda t: t[0])[1]


def link_objects(lines: List[Line], objects: Sequence[PageObject]) -> List[Line]:
    """Annotate, for every page object, the closest line (in place on the
    line's annotations; returns lines). Mirrors LineObjectLinker.link_objects
    including the empty-corpus placeholder line."""
    if not objects:
        return lines
    if len(lines) == 0:
        placeholder = Line(line="", page_id=0)
        placeholder.extras["location"] = Location(0, BBox(0, 0, 1, 1))
        lines = [placeholder]
    last_page_line: Dict[int, Line] = {}
    for ln in lines:
        loc = line_location(ln)
        if loc is not None:
            last_page_line[loc.page_number] = ln

    def sort_key(o):
        if isinstance(o, PageObject):
            return (o.order, o.location._key())
        return (o.extras.get("order", -1), line_location(o)._key())

    linkable = [ln for ln in lines if line_location(ln) is not None]
    all_objects = sorted(list(linkable) + list(objects), key=sort_key)

    candidates: Dict[str, Dict] = {}

    def add_lines(seq, key: str) -> None:
        window: deque = deque(maxlen=_N_LINES)
        for obj in seq:
            if isinstance(obj, PageObject):
                entry = candidates.setdefault(obj.uid, {"object": obj})
                entry[key] = list(window)
            else:
                window.append(obj)

    add_lines(all_objects, "previous_lines")
    add_lines(all_objects[::-1], "next_lines")

    for entry in candidates.values():
        obj: PageObject = entry["object"]
        best = _find_closest_line(
            obj, entry.get("previous_lines", []), entry.get("next_lines", []), last_page_line
        )
        name = "table" if obj.kind == "table" else "attachment"
        best.annotations.append(Annotation(0, len(best.line), name, obj.uid))
    return lines


# --- bbox-derived metadata (metadata_extractor.py:70-164) ---------------------


def _median(values: List[float]) -> float:
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def add_spacing_annotations(lines: List[Line], default_spacing: int = 50) -> None:
    """Spacing from the bbox gap to the previous line, as a percentage of
    the median line height (metadata_extractor.py:146-164). In place."""
    located = [(ln, line_location(ln)) for ln in lines]
    located = [(ln, loc) for ln, loc in located if loc is not None]
    if not located:
        return
    median_h = _median([loc.bbox.height for _, loc in located])
    prev_loc: Optional[Location] = None
    for ln, loc in located:
        if (
            prev_loc is None
            or prev_loc.page_number != loc.page_number
            or prev_loc.bbox.y_bottom_right >= loc.bbox.y_top_left
        ):
            space = float(default_spacing)
        else:
            space = loc.bbox.y_top_left - prev_loc.bbox.y_bottom_right
            space = 100 * space / median_h
            space = int(space) if space > 1 else 1
        ln.annotations.append(Annotation(0, len(ln.line), "spacing", str(int(space))))
        prev_loc = loc


def _text_left_bound(left_points: List[float]) -> float:
    """Leftmost of the two most frequent left edges
    (metadata_extractor.py:81-91)."""
    counts = Counter(left_points)
    # np.unique sorts values; argsort(-counts) is stable → count desc,
    # value asc on ties
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return min(v for v, _ in ranked[:2])


def add_indentation_annotations(lines: List[Line], page_width: float) -> None:
    """Indentation in twips from the left text bound
    (metadata_extractor.py:70-128; pixel2mm uses 297/image_WIDTH — the
    reference's quirk, kept). In place; empty lines are skipped (the
    reference divides by len(text))."""
    import re as _re

    located = [(ln, line_location(ln)) for ln in lines]
    located = [(ln, loc) for ln, loc in located if loc is not None and len(ln.line) > 0]
    if not located:
        return
    left_bound = _text_left_bound([loc.bbox.x_top_left for _, loc in located])
    spaces_for_tab = "    "
    for ln, loc in located:
        width_per_char = loc.bbox.width / len(ln.line)
        indentation_text = _re.findall("^[ \t]+", ln.line)
        width_space_indentation = 0.0
        if indentation_text:
            expanded = indentation_text[0].replace("\t", spaces_for_tab)
            width_space_indentation = len(expanded) * width_per_char
        indentation_width = (loc.bbox.x_top_left - left_bound) + width_space_indentation
        if abs(indentation_width) < width_per_char:
            continue
        pixel2mm = 297 / page_width
        indentation_mm = indentation_width * pixel2mm
        indentation = int(indentation_mm / 10 * 567)
        ln.annotations.append(
            Annotation(0, len(ln.line), "indentation", str(indentation))
        )


def add_size_annotations(lines: List[Line], page_height: float) -> None:
    """Font size in points from the bbox height assuming an A4-height page
    (metadata_extractor.py:130-141). In place."""
    for ln in lines:
        loc = line_location(ln)
        if loc is None:
            continue
        pixel2mm = 297 / page_height
        font_size_pt = round(loc.bbox.height * pixel2mm / 0.353)
        ln.annotations.append(Annotation(0, len(ln.line), "size", str(font_size_pt)))
