"""Ruled-table detection on the PDF txt-layer path.

The reference detects tables on an IMAGE of the page (OpenCV line
morphology inside pdf_image_reader/table_recognizer — the OCR-domain
runtime that SURVEY.md de-scopes) and then EXCLUDES every text line that
falls inside a detected table region before emitting the page
(pdf_txtlayer_reader.py:70-73: ``unreadable_blocks`` = table locations,
``page.bboxes = [b for b in page.bboxes if not
_inside_any_unreadable_block(...)]``).

This module reproduces the same two-stage contract from the data the
txt-layer parser already sees, no rasterization needed: painted line art
(``re``/``m``/``l`` + stroke/fill operators, collected by
core/pdf_extract._extract_page_shows) is clustered into ruling grids, a
grid with at least one inner divider becomes a table whose cell texts
are the text lines captured by the grid, and captured lines are removed
from the page flow exactly like the reference's unreadable-block filter.

Exclusion predicate: the reference delegates to dedocutils
``BBox.have_intersection_with_box`` (pdf_txtlayer_reader.py:111); that
package is external, so the predicate here is documented explicitly —
a line is inside a block when their intersection covers > ``threshold``
(default 0.3) of the LINE's own area. All coordinates are top-down
(image orientation), matching core/pdf_layout.
"""

from __future__ import annotations

import hashlib
from typing import Dict, List, Optional, Sequence, Tuple

from dedoc_spark.core.model import Cell, Line
from dedoc_spark.core.pdf_layout import BBox, Location
from dedoc_spark.core.multipage import LocatedTable

Segment = Tuple[float, float, float, float]  # (x0, y0, x1, y1) top-down


class RuledGrid:
    """One detected ruling grid: outer bbox + sorted cell boundaries."""

    __slots__ = ("bbox", "row_bounds", "col_bounds")

    def __init__(self, bbox: BBox, row_bounds: List[float], col_bounds: List[float]) -> None:
        self.bbox = bbox
        self.row_bounds = row_bounds  # ascending y (top-down)
        self.col_bounds = col_bounds  # ascending x

    @property
    def n_rows(self) -> int:
        return len(self.row_bounds) - 1

    @property
    def n_cols(self) -> int:
        return len(self.col_bounds) - 1


def _snap(values: List[float], eps: float) -> List[float]:
    """Cluster near-equal coordinates to their cluster mean (rules drawn
    as several short strokes or 0.5pt-offset double lines collapse)."""
    out: List[float] = []
    for v in sorted(values):
        if out and v - out[-1][-1] <= eps:  # type: ignore[index]
            out[-1].append(v)  # type: ignore[union-attr]
        else:
            out.append([v])  # type: ignore[arg-type]
    return [sum(c) / len(c) for c in out]  # type: ignore[arg-type]


MAX_SEGMENTS = 4000  # union-find is O(n²) in segments; vector-art pages
# (plots, maps) can paint 10⁵+ strokes — beyond the cap the page cannot
# be a readable ruled table anyway, so detection degrades to "none"


def detect_ruled_tables(
    segments: Sequence[Segment],
    eps: float = 2.0,
    min_cell: float = 3.0,
    one_cell_table: bool = False,
    wo_external_bounds: bool = False,
) -> List[RuledGrid]:
    """Painted segments (top-down coords) → ruling grids.

    1. Keep axis-aligned segments longer than ``min_cell``; snap their
       cross-coordinates with tolerance ``eps``.
    2. Union-find segments that touch (their bboxes intersect within
       ``eps``) — each component is a connected lattice of rules.
    3. A component is a table grid when it has ≥ 2 horizontal and ≥ 2
       vertical rules, at least one inner divider (≥ 3 rules in one
       direction — a plain rectangle is a border, not a table), AND at
       least two COLUMNS (onepage_table_extractor.py:103-105 heuristic 2:
       "таблица должна иметь больше одного столбца" — single-column
       grids are rejected; single-ROW multi-column grids pass).
    ``one_cell_table=True`` is the reference's ``table_type``
    "one_cell_table" option (table_type.py:4, table_recognizer.py:56-59,
    onepage_table_extractor.py:104): heuristic 2 is bypassed, so plain
    rectangles come back as 1×1 tables and single-column grids as N×1.
    Cell boundaries are the snapped distinct rule positions.

    ``wo_external_bounds=True`` is the "wo_external_bounds" option
    (table_type.py:3, img_processing.py:113-118): a table whose outer
    border is not drawn — only inner dividers — gains virtual outer
    bounds at the extent of the crossing rules (the inner horizontals
    span the full width, so their x-extent bounds the columns; the inner
    verticals bound the rows), and the grid criteria are applied to the
    completed bounds. Fully-bordered grids are unchanged (their extremes
    snap onto the existing bounds).
    """
    if len(segments) > MAX_SEGMENTS:
        return []
    horiz: List[Segment] = []
    vert: List[Segment] = []
    for x0, y0, x1, y1 in segments:
        if abs(y1 - y0) <= eps and abs(x1 - x0) > min_cell:
            horiz.append((min(x0, x1), (y0 + y1) / 2, max(x0, x1), (y0 + y1) / 2))
        elif abs(x1 - x0) <= eps and abs(y1 - y0) > min_cell:
            vert.append(((x0 + x1) / 2, min(y0, y1), (x0 + x1) / 2, max(y0, y1)))
    segs = horiz + vert
    n = len(segs)
    if n == 0:
        return []

    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i: int, j: int) -> None:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[ri] = rj

    def touches(a: Segment, b: Segment) -> bool:
        ax0, ay0, ax1, ay1 = a
        bx0, by0, bx1, by1 = b
        return (
            ax0 - eps <= bx1
            and bx0 - eps <= ax1
            and ay0 - eps <= by1
            and by0 - eps <= ay1
        )

    for i in range(n):
        for j in range(i + 1, n):
            if touches(segs[i], segs[j]):
                union(i, j)

    comps: Dict[int, List[int]] = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(i)

    grids: List[RuledGrid] = []
    for members in comps.values():
        hs = [segs[i] for i in members if i < len(horiz)]
        vs = [segs[i] for i in members if i >= len(horiz)]
        if wo_external_bounds:
            if len(hs) < 1 or len(vs) < 1:
                continue
        else:
            if len(hs) < 2 or len(vs) < 2:
                continue
            if not one_cell_table and len(hs) < 3 and len(vs) < 3:
                continue
        row_vals = [s[1] for s in hs]
        col_vals = [s[0] for s in vs]
        if wo_external_bounds:
            # virtual outer bounds from the crossing rules' extents
            row_vals += [min(s[1] for s in vs), max(s[3] for s in vs)]
            col_vals += [min(s[0] for s in hs), max(s[2] for s in hs)]
        row_bounds = _snap(row_vals, eps)
        col_bounds = _snap(col_vals, eps)
        if len(row_bounds) < 2 or len(col_bounds) < 2:
            continue
        # the requirements must hold on the SNAPPED bounds: a
        # double-stroked plain rectangle yields 3 raw segments that snap
        # back to 2 positions — still a border, not a table. Heuristic 2
        # (docstring): fewer than two columns is not a table either,
        # unless one_cell_table waives both checks.
        if not one_cell_table and (
            (len(row_bounds) - 1) * (len(col_bounds) - 1) <= 1
            or len(col_bounds) - 1 < 2
        ):
            continue
        bbox = BBox(
            col_bounds[0],
            row_bounds[0],
            col_bounds[-1] - col_bounds[0],
            row_bounds[-1] - row_bounds[0],
        )
        grids.append(RuledGrid(bbox, row_bounds, col_bounds))
    grids.sort(key=lambda g: (g.bbox.y_top_left, g.bbox.x_top_left))
    return grids


MIN_FRAME_CONTENT_AREA = 0.65  # gost_frame_recognizer.py:12


def detect_gost_frame(
    segments: Sequence[Segment],
    page_width: float,
    page_height: float,
    eps: float = 2.0,
) -> Optional[BBox]:
    """Content-stream analogue of GOSTFrameRecognizer.rec_and_clean_frame
    (gost_frame_recognizer.py:20-44).

    The reference binarizes the page IMAGE, contours the line art into a
    nesting tree (TableTree), and accepts as the frame's readable content
    box the first child-of-the-outermost-contour whose area exceeds
    MIN_FRAME_CONTENT_AREA of the page (``_analyze_cells_on_frame``,
    gost_frame_recognizer.py:36-44). Here the same lattice comes from
    painted rules: closed axis-aligned rectangles are reconstructed from
    long rule segments (frame borders span most of a page dimension), and
    the largest rectangle that (a) covers > 0.65 of the page area and
    (b) is NESTED inside another detected rectangle — the reference's
    child-of-outer-contour requirement — is the content box. Returns
    None when no frame is found (the reference then treats the whole
    page as the box and changes nothing downstream).
    """
    page_area = page_width * page_height
    if page_area <= 0:
        return None
    horiz: List[Tuple[float, float, float]] = []  # (y, x0, x1)
    vert: List[Tuple[float, float, float]] = []  # (x, y0, y1)
    for x0, y0, x1, y1 in segments:
        lo_x, hi_x = min(x0, x1), max(x0, x1)
        lo_y, hi_y = min(y0, y1), max(y0, y1)
        if hi_y - lo_y <= eps and hi_x - lo_x > page_width * 0.5:
            horiz.append(((lo_y + hi_y) / 2, lo_x, hi_x))
        elif hi_x - lo_x <= eps and hi_y - lo_y > page_height * 0.5:
            vert.append(((lo_x + hi_x) / 2, lo_y, hi_y))
    # frame pages paint a handful of long border rules; a page drowning in
    # long strokes (charts, hatching) is not a frame — bail like the
    # recognizer's exception path rather than go O(h²v²)
    if len(horiz) > 20 or len(vert) > 20 or not horiz or not vert:
        return None
    horiz.sort()
    vert.sort()

    def _closed(h_top, h_bot, v_left, v_right) -> bool:
        yt, xt0, xt1 = h_top
        yb, xb0, xb1 = h_bot
        xl, yl0, yl1 = v_left
        xr, yr0, yr1 = v_right
        # all four corners must meet within eps
        return (
            abs(xt0 - xl) <= eps
            and abs(xt1 - xr) <= eps
            and abs(xb0 - xl) <= eps
            and abs(xb1 - xr) <= eps
            and yl0 - eps <= yt <= yl1 + eps
            and yl0 - eps <= yb <= yl1 + eps
            and yr0 - eps <= yt <= yr1 + eps
            and yr0 - eps <= yb <= yr1 + eps
        )

    rects: List[BBox] = []
    for i, h_top in enumerate(horiz):
        for h_bot in horiz[i + 1 :]:
            if h_bot[0] - h_top[0] <= eps:
                continue
            for a, v_left in enumerate(vert):
                for v_right in vert[a + 1 :]:
                    if v_right[0] - v_left[0] <= eps:
                        continue
                    if _closed(h_top, h_bot, v_left, v_right):
                        rects.append(
                            BBox(
                                v_left[0],
                                h_top[0],
                                v_right[0] - v_left[0],
                                h_bot[0] - h_top[0],
                            )
                        )
    best: Optional[BBox] = None
    for r in rects:
        if r.width * r.height / page_area <= MIN_FRAME_CONTENT_AREA:
            continue
        nested = any(
            o is not r
            and o.x_top_left <= r.x_top_left + eps
            and o.y_top_left <= r.y_top_left + eps
            and o.x_bottom_right >= r.x_bottom_right - eps
            and o.y_bottom_right >= r.y_bottom_right - eps
            and o.width * o.height > r.width * r.height
            for o in rects
        )
        if nested and (best is None or r.width * r.height > best.width * best.height):
            best = r
    return best


def segments_inside_box(
    segments: Sequence[Segment], box: BBox, eps: float = 2.0
) -> List[Segment]:
    """Rule segments fully inside ``box`` shrunk by eps — the crop the
    reference applies before table recognition on the gost path
    (``BBox.crop_image_by_box``, pdf_base_reader.py:151-160): the frame's
    own border rules sit ON the box boundary and must not reach the table
    detector, exactly as they vanish at the crop edge."""
    out: List[Segment] = []
    x0 = box.x_top_left + eps
    y0 = box.y_top_left + eps
    x1 = box.x_bottom_right - eps
    y1 = box.y_bottom_right - eps
    for sx0, sy0, sx1, sy1 in segments:
        if (
            x0 <= min(sx0, sx1)
            and max(sx0, sx1) <= x1
            and y0 <= min(sy0, sy1)
            and max(sy0, sy1) <= y1
        ):
            out.append((sx0, sy0, sx1, sy1))
    return out


def _intersection_area(a: BBox, b: BBox) -> float:
    w = min(a.x_bottom_right, b.x_bottom_right) - max(a.x_top_left, b.x_top_left)
    h = min(a.y_bottom_right, b.y_bottom_right) - max(a.y_top_left, b.y_top_left)
    return max(0.0, w) * max(0.0, h)


def inside_any_unreadable_block(
    line_bbox: BBox, blocks: Sequence[BBox], threshold: float = 0.3
) -> bool:
    """Port of pdf_txtlayer_reader.py:104-113 with the intersection
    predicate made explicit (see module docstring): a line belongs to an
    unreadable block when the overlap covers > threshold of the line."""
    area = max(line_bbox.width * line_bbox.height, 1e-9)
    return any(_intersection_area(line_bbox, b) / area > threshold for b in blocks)


def _bucket(bounds: List[float], v: float) -> Optional[int]:
    """Index of the cell interval containing v (None outside the grid)."""
    for i in range(len(bounds) - 1):
        if bounds[i] <= v <= bounds[i + 1]:
            return i
    return None


def build_table_from_grid(
    grid: RuledGrid,
    page_lines: Sequence[Tuple[str, BBox]],
    page_number: int,
    url_hash: str = "",
    index: int = 0,
) -> LocatedTable:
    """Fill the grid's cells with the text lines it captures.

    The reference's recognizer OCRs each cell crop; the txt-layer
    analogue assigns every captured text line to the cell holding its
    bbox CENTER, joined top-down then left-to-right with newlines —
    the same reading order the tabby cell extractor produces."""
    per_cell: Dict[Tuple[int, int], List[Tuple[float, float, str]]] = {}
    for text, bbox in page_lines:
        cx = (bbox.x_top_left + bbox.x_bottom_right) / 2
        cy = (bbox.y_top_left + bbox.y_bottom_right) / 2
        r = _bucket(grid.row_bounds, cy)
        c = _bucket(grid.col_bounds, cx)
        if r is None or c is None:
            continue
        per_cell.setdefault((r, c), []).append((bbox.y_top_left, bbox.x_top_left, text))
    cells: List[List[Cell]] = []
    for r in range(grid.n_rows):
        row: List[Cell] = []
        for c in range(grid.n_cols):
            got = sorted(per_cell.get((r, c), []))
            row.append(
                Cell(lines=[Line(line=t, page_id=page_number) for _, _, t in got])
            )
        cells.append(row)
    uid = hashlib.md5(f"{url_hash}_pdftable_{page_number}_{index}".encode()).hexdigest()
    return LocatedTable(cells, Location(page_number, grid.bbox), uid=uid)


def _boundary_crossed(
    boundary: float,
    span_lo: float,
    span_hi: float,
    rules: Sequence[Tuple[float, float, float]],
    eps: float,
) -> bool:
    """Is a grid boundary actually painted across [span_lo, span_hi]?
    ``rules``: (cross_coord, along_lo, along_hi) of same-orientation rule
    segments; the boundary counts as crossed when a rule within ``eps``
    of it covers at least half of the span."""
    need = (span_hi - span_lo) * 0.5
    for coord, lo, hi in rules:
        if abs(coord - boundary) <= eps:
            covered = min(hi, span_hi) - max(lo, span_lo)
            if covered >= need:
                return True
    return False


def span_components(
    grid: RuledGrid, segments: Sequence[Segment], eps: float = 2.0
) -> List[List[Tuple[int, int]]]:
    """Group the grid's slots into spanned-cell components: two adjacent
    slots belong to one cell when the boundary between them is NOT
    painted across their shared interval (the merged-cell geometry
    CellSplitter consumes, cell_splitter.py:10-64). Returns row-major
    slot lists, singletons included, ordered by top-left slot."""
    n_rows, n_cols = grid.n_rows, grid.n_cols
    h_rules: List[Tuple[float, float, float]] = []
    v_rules: List[Tuple[float, float, float]] = []
    for x0, y0, x1, y1 in segments:
        if abs(y1 - y0) <= eps:
            h_rules.append(((y0 + y1) / 2, min(x0, x1), max(x0, x1)))
        elif abs(x1 - x0) <= eps:
            v_rules.append(((x0 + x1) / 2, min(y0, y1), max(y0, y1)))

    parent = list(range(n_rows * n_cols))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(i: int, j: int) -> None:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[ri] = rj

    rb, cb = grid.row_bounds, grid.col_bounds
    for r in range(n_rows):
        for c in range(n_cols):
            idx = r * n_cols + c
            if r + 1 < n_rows and not _boundary_crossed(
                rb[r + 1], cb[c], cb[c + 1], h_rules, eps
            ):
                union(idx, idx + n_cols)
            if c + 1 < n_cols and not _boundary_crossed(
                cb[c + 1], rb[r], rb[r + 1], v_rules, eps
            ):
                union(idx, idx + 1)

    comps: Dict[int, List[Tuple[int, int]]] = {}
    for r in range(n_rows):
        for c in range(n_cols):
            comps.setdefault(find(r * n_cols + c), []).append((r, c))
    return sorted(comps.values(), key=lambda slots: min(slots))


