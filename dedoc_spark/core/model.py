"""Core data model: annotations, hierarchy levels, lines.

Semantics follow the reference data structures:
  - Annotation:      dedoc/data_structures/annotation.py:5-39
  - HierarchyLevel:  dedoc/data_structures/hierarchy_level.py:6-141
    (None level compares as +inf, lexicographic (level_1, level_2))
  - LineWithMeta:    dedoc/data_structures/line_with_meta.py:9-191
    (annotation-consistent concatenation via __add__ / join)

This is a fresh implementation on plain slotted classes (no pydantic, no
uuid): every uid is content-derived so the pipeline is deterministic and
resumable (SURVEY.md §7.0).
"""

from __future__ import annotations

import json
from json.encoder import encode_basestring
from typing import Dict, List, Optional, Tuple

_INF = float("inf")

# Annotation names whose instances must never be merged even when the
# (name, value) pair repeats — mirrors is_mergeable=False in the reference
# concrete annotations (linked_text_annotation.py:17, table_annotation.py:17,
# attach_annotation.py:18, bbox_annotation.py:27, confidence_annotation.py:22,
# reference_annotation.py:43).
NON_MERGEABLE_NAMES = frozenset(
    {"linked_text", "table", "attachment", "bounding box", "confidence", "reference"}
)


def param_flag(params: Optional[Dict], name: str, default: bool = False) -> bool:
    """Boolean request parameter under the reference's rule
    (dedoc/utils/parameter_utils.py): on only when its string form is
    "true" in any case, so the string "false" is off; an absent or None
    value takes the per-name ``default``."""
    value = (params or {}).get(name)
    return default if value is None else str(value).lower() == "true"


def select_pages(pages: List, pages_range: Optional[str]) -> Tuple[List, List[str]]:
    """The ``pages`` request parameter "l:r" (1-based, inclusive, either
    side optional) applied to a document's pages, like the reference's
    pdf_base_reader.py:108-128; returns (selected pages, warnings), with
    the partial-parse warning when pages were left out."""
    if not pages_range:
        return pages, []
    left, _, right = str(pages_range).partition(":")
    lo = int(left) if left else 1
    hi = int(right) if right else len(pages)
    warnings = ["The document is partially parsed"] if lo > 1 or hi < len(pages) else []
    return pages[lo - 1 : hi], warnings


class Annotation:
    """Span annotation over a line's text: [start, end) with a stringly value."""

    __slots__ = ("start", "end", "name", "value")

    def __init__(self, start: int, end: int, name: str, value: str) -> None:
        self.start = start
        self.end = end
        self.name = name
        self.value = value

    @property
    def is_mergeable(self) -> bool:
        return self.name not in NON_MERGEABLE_NAMES

    def __eq__(self, o: object) -> bool:
        return (
            isinstance(o, Annotation)
            and self.name == o.name
            and self.value == o.value
            and self.start == o.start
            and self.end == o.end
        )

    def __repr__(self) -> str:
        return f"{self.name.capitalize()}({self.start}:{self.end}, {self.value})"


class HierarchyLevel:
    """Line importance: lexicographic (level_1, level_2), None == +inf.

    Line types as in hierarchy_level.py:29-39.
    """

    __slots__ = ("level_1", "level_2", "can_be_multiline", "line_type")

    root = "root"
    toc = "toc"
    header = "header"
    toc_item = "toc_item"
    list = "list"  # noqa: A003
    list_item = "list_item"
    bullet_list_item = "bullet_list_item"
    raw_text = "raw_text"
    footer = "footer"
    page_id = "page_id"
    unknown = "unknown"

    def __init__(
        self,
        level_1: Optional[float],
        level_2: Optional[float],
        can_be_multiline: bool,
        line_type: str,
    ) -> None:
        assert level_1 is None or level_1 >= 0
        assert level_2 is None or level_2 >= 0
        self.level_1 = level_1
        self.level_2 = level_2
        self.can_be_multiline = can_be_multiline
        self.line_type = line_type

    def _key(self) -> Tuple[float, float]:
        return (
            _INF if self.level_1 is None else self.level_1,
            _INF if self.level_2 is None else self.level_2,
        )

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, HierarchyLevel):
            return False
        return self._key() == other._key()

    def __lt__(self, other: "HierarchyLevel") -> bool:
        return self._key() < other._key()

    def __le__(self, other: "HierarchyLevel") -> bool:
        return self._key() <= other._key()

    def __gt__(self, other: "HierarchyLevel") -> bool:
        return self._key() > other._key()

    def __ge__(self, other: "HierarchyLevel") -> bool:
        return self._key() >= other._key()

    def __repr__(self) -> str:
        return f"HL({self.level_1},{self.level_2},{self.can_be_multiline},{self.line_type})"

    def is_raw_text(self) -> bool:
        return self.line_type == HierarchyLevel.raw_text

    def is_unknown(self) -> bool:
        return self.line_type == HierarchyLevel.unknown

    def is_list_item(self) -> bool:
        return self.line_type == HierarchyLevel.list_item

    def copy(self) -> "HierarchyLevel":
        return HierarchyLevel(self.level_1, self.level_2, self.can_be_multiline, self.line_type)

    @staticmethod
    def create_raw_text() -> "HierarchyLevel":
        return HierarchyLevel(None, None, True, HierarchyLevel.raw_text)

    @staticmethod
    def create_unknown() -> "HierarchyLevel":
        return HierarchyLevel(None, None, True, HierarchyLevel.unknown)

    @staticmethod
    def create_root() -> "HierarchyLevel":
        return HierarchyLevel(0, 0, True, HierarchyLevel.root)


class Line:
    """A document line with metadata and span annotations.

    Mirrors LineWithMeta + LineMetadata (line_metadata.py:27-44): the
    reader-assigned ``tag_hl`` defaults to *unknown* (never None), the
    extractor-assigned ``hl`` starts as None. ``extras`` is the open
    metadata bag (e.g. ``html_tag`` set at html_reader.py:75-77).
    """

    __slots__ = ("line", "page_id", "line_id", "tag_hl", "hl", "annotations", "uid", "extras")

    def __init__(
        self,
        line: str,
        page_id: int = 0,
        line_id: Optional[int] = None,
        tag_hl: Optional[HierarchyLevel] = None,
        hl: Optional[HierarchyLevel] = None,
        annotations: Optional[List[Annotation]] = None,
        uid: str = "",
        extras: Optional[Dict] = None,
    ) -> None:
        self.line = line
        self.page_id = page_id
        self.line_id = line_id
        self.tag_hl = HierarchyLevel.create_unknown() if tag_hl is None else tag_hl
        self.hl = hl
        self.annotations = [] if annotations is None else annotations
        self.uid = uid
        self.extras = {} if extras is None else extras

    def __len__(self) -> int:
        return len(self.line)

    def concat(self, other: "Line") -> "Line":
        """Concatenate keeping annotations consistent (line_with_meta.py:162-178).

        Returns a new Line with self's metadata/uid; other's annotations are
        shifted by len(self) and the union is run through the merger.
        """
        from dedoc_spark.core.annotation_merger import merge_annotations

        if len(other.line) == 0:
            return self
        text = self.line + other.line
        shift = len(self.line)
        shifted = [
            Annotation(a.start + shift, a.end + shift, a.name, a.value) for a in other.annotations
        ]
        merged = merge_annotations(self.annotations + shifted, text)
        return Line(
            line=text,
            page_id=self.page_id,
            line_id=self.line_id,
            tag_hl=self.tag_hl,
            hl=self.hl,
            annotations=merged,
            uid=self.uid,
            extras=self.extras,
        )


class Cell:
    """Table cell (cell_with_meta.py:9-57): lines + span info."""

    __slots__ = ("lines", "colspan", "rowspan", "invisible")

    def __init__(
        self,
        lines: Optional[List[Line]] = None,
        colspan: int = 1,
        rowspan: int = 1,
        invisible: bool = False,
    ) -> None:
        self.lines = [] if lines is None else lines
        self.colspan = colspan
        self.rowspan = rowspan
        self.invisible = invisible

    def get_text(self) -> str:
        return "\n".join(line.line for line in self.lines)


class Table:
    """Rectangular row-major table (table.py:9-32): merged cells are
    duplicated into every covered slot with invisible=True on clones."""

    __slots__ = ("cells", "page_id", "uid", "title")

    def __init__(self, cells: List[List[Cell]], page_id: int = 0, uid: str = "", title: str = "") -> None:
        self.cells = cells
        self.page_id = page_id
        self.uid = uid
        self.title = title


# JSON columns: lines_json, tables_json and tree.flatten_tree write their text
# in one pass, byte-equal to json.dumps(shape, ensure_ascii=False) of shapes
# Annotation {start, end, name, value}; HierarchyLevel {level_1, level_2,
# can_be_multiline, line_type}; Line {line, page_id, line_id, tag_hl: HL|null,
# hl: HL|null, annotations, uid, extras: {key: str(value)}}; Cell {lines,
# colspan, rowspan, invisible}; Table {cells: [[Cell]], page_id, uid, title}.

_ENCODE = json.JSONEncoder(ensure_ascii=False).encode
# Encoded fragments memoised per key, each memo cleared when full. A key
# holds each value's type too: 1, 1.0 and True hash alike but write three
# texts.
_HL_JSON: Dict[tuple, str] = {}
_CELL_JSON: Dict[tuple, str] = {}
_HL_JSON_CAP = _CELL_JSON_CAP = 256


def json_value(v) -> str:
    """One JSON scalar as json.dumps(v, ensure_ascii=False) writes it; str
    subclasses (dom.Text) take json's own C string encoder too."""
    if isinstance(v, str):
        return encode_basestring(v)
    if type(v) is int:
        return int.__repr__(v)
    return "null" if v is None else _ENCODE(v)


def _key_json(k) -> str:
    # json's object-key rules: 1 -> "1", True -> "true", a tuple raises
    return encode_basestring(k) if isinstance(k, str) else _ENCODE({k: None})[1:-7]


def _array(items: List[str]) -> str:
    return "[" + ", ".join(items) + "]"


def _remember(memo: Dict[tuple, str], cap: int, key: tuple, out: str, *values) -> None:
    if len(memo) >= cap:
        memo.clear()
    if not any(type(v) is float and v == 0 for v in values):  # -0.0 == 0.0, one key
        memo[key] = out


def _hl_json(hl: Optional[HierarchyLevel]) -> str:
    if hl is None:
        return "null"
    l1, l2, ml, lt = hl.level_1, hl.level_2, hl.can_be_multiline, hl.line_type
    key = (type(l1), l1, type(l2), l2, type(ml), ml, lt)
    out = _HL_JSON.get(key)
    if out is None:
        out = (
            f'{{"level_1": {json_value(l1)}, "level_2": {json_value(l2)}, '
            f'"can_be_multiline": {json_value(ml)}, "line_type": {json_value(lt)}}}'
        )
        _remember(_HL_JSON, _HL_JSON_CAP, key, out, l1, l2)
    return out


def _cell_json(cell: Cell) -> str:
    cs, rs, inv = cell.colspan, cell.rowspan, cell.invisible
    key = (type(cs), cs, type(rs), rs, type(inv), inv)
    tail = _CELL_JSON.get(key)
    if tail is None:
        tail = f'"colspan": {json_value(cs)}, "rowspan": {json_value(rs)}, "invisible": {json_value(inv)}}}'
        _remember(_CELL_JSON, _CELL_JSON_CAP, key, tail, cs, rs, inv)
    lines = cell.lines  # most cells hold one line or none
    if len(lines) == 1:
        return f'{{"lines": [{_line_json(lines[0])}], {tail}'
    return f'{{"lines": {lines_json(lines) if lines else "[]"}, {tail}'


def annotations_json(annotations: List[Annotation]) -> str:
    if all(type(a.start) is int and type(a.end) is int for a in annotations):  # the usual case: format inline
        return _array([
            f'{{"start": {a.start}, "end": {a.end}, "name": {json_value(a.name)}, "value": {json_value(a.value)}}}'
            for a in annotations
        ])
    return _array([
        f'{{"start": {json_value(a.start)}, "end": {json_value(a.end)}, '
        f'"name": {json_value(a.name)}, "value": {json_value(a.value)}}}'
        for a in annotations
    ])


def _line_json(ln: Line) -> str:
    return (
        f'{{"line": {encode_basestring(ln.line)}, "page_id": {json_value(ln.page_id)}, '
        f'"line_id": {json_value(ln.line_id)}, "tag_hl": {_hl_json(ln.tag_hl)}, '
        f'"hl": {_hl_json(ln.hl)}, '
        f'"annotations": {annotations_json(ln.annotations) if ln.annotations else "[]"}, '
        f'"uid": {encode_basestring(ln.uid)}, "extras": {{'
        # most lines carry no annotations or extras: skip those calls
        + (", ".join([f"{_key_json(k)}: {encode_basestring(str(v))}" for k, v in ln.extras.items()])
           if ln.extras else "")
        + "}}"
    )


def lines_json(lines: List[Line]) -> str:
    return _array([_line_json(ln) for ln in lines])


def tables_json(tables: List[Table]) -> str:
    return _array([
        '{"cells": '
        + _array([_array([_cell_json(c) for c in row]) for row in t.cells])
        + f', "page_id": {json_value(t.page_id)}, "uid": {encode_basestring(t.uid)}, '
        f'"title": {encode_basestring(t.title)}}}'
        for t in tables
    ])
