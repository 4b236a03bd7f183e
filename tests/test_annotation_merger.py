"""Ports of the reference annotation-merge semantics tests
(tests/unit_tests/test_misc_annotations.py shape): merge through spaces,
contradiction filtering, non-mergeable passthrough."""

from dedoc_spark.core import annotation_merger
from dedoc_spark.core.annotation_merger import merge_annotations
from dedoc_spark.core.model import Annotation


def ann(start, end, name="bold", value="True"):
    return Annotation(start, end, name, value)


def spans(annotations):
    return sorted((a.start, a.end, a.name, a.value) for a in annotations)


def test_merge_adjacent_same_value():
    text = "abcdef"
    result = merge_annotations([ann(0, 3), ann(3, 6)], text)
    assert spans(result) == [(0, 6, "bold", "True")]


def test_merge_overlapping_same_value():
    text = "abcdef"
    result = merge_annotations([ann(0, 4), ann(2, 6)], text)
    assert spans(result) == [(0, 6, "bold", "True")]


def test_merge_through_spaces():
    # annotations separated by whitespace-only text glue together
    text = "word   word"
    result = merge_annotations([ann(0, 4), ann(7, 11)], text)
    assert spans(result) == [(0, 11, "bold", "True")]


def test_no_merge_through_text():
    text = "word x word"
    result = merge_annotations([ann(0, 4), ann(7, 11)], text)
    assert spans(result) == [(0, 4, "bold", "True"), (7, 11, "bold", "True")]


def test_different_values_not_merged_but_filtered():
    # same name, different value, overlapping: contradiction filter keeps
    # first-by-start (annotation_merger.py:124-145)
    text = "abcdef"
    result = merge_annotations(
        [ann(0, 4, "size", "12"), ann(2, 6, "size", "14")], text
    )
    assert spans(result) == [(0, 4, "size", "12")]


def test_space_only_span_replaceable():
    # kept annotation covering only whitespace is replaced by the next
    text = "   abc"
    result = merge_annotations(
        [ann(0, 3, "size", "12"), ann(1, 6, "size", "14")], text
    )
    assert spans(result) == [(1, 6, "size", "14")]


def test_non_mergeable_passthrough():
    text = "link link"
    result = merge_annotations(
        [ann(0, 4, "linked_text", "http://a"), ann(5, 9, "linked_text", "http://a")], text
    )
    assert spans(result) == [
        (0, 4, "linked_text", "http://a"),
        (5, 9, "linked_text", "http://a"),
    ]


def test_different_names_independent():
    text = "abcdef"
    result = merge_annotations([ann(0, 3, "bold"), ann(3, 6, "italic")], text)
    assert spans(result) == [(0, 3, "bold", "True"), (3, 6, "italic", "True")]


def test_empty():
    assert merge_annotations([], "abc") == []


# --- merge paths: the whitespace scan runs only for a group that merges -----
# Expected lists (in output order) are the outputs of the eager-scan merger.

_REAL_SPACES = annotation_merger._SPACES


class _CountingSpaces:
    """Stands in for annotation_merger._SPACES and counts finditer scans."""

    def __init__(self):
        self.scans = 0

    def finditer(self, text):
        self.scans += 1
        return _REAL_SPACES.finditer(text)

    def match(self, text):
        return _REAL_SPACES.match(text)


def _merge_counting(monkeypatch, annotations, text):
    counter = _CountingSpaces()
    monkeypatch.setattr(annotation_merger, "_SPACES", counter)
    result = merge_annotations(annotations, text)
    return [(a.start, a.end, a.name, a.value) for a in result], counter.scans


def test_lone_annotation_passes_without_scan(monkeypatch):
    out, scans = _merge_counting(monkeypatch, [ann(2, 5)], "ab cde fg")
    assert out == [(2, 5, "bold", "True")]
    assert scans == 0


def test_only_non_mergeable_passes_without_scan(monkeypatch):
    anns = [ann(0, 3, "linked_text", "x"), ann(2, 6, "linked_text", "x"), ann(1, 4, "linked_text", "y")]
    out, scans = _merge_counting(monkeypatch, anns, "ab  cdef")
    assert out == [(0, 3, "linked_text", "x"), (2, 6, "linked_text", "x"), (1, 4, "linked_text", "y")]
    assert scans == 0


def test_lone_negative_start_still_filtered(monkeypatch):
    # the contradiction filter still runs on every annotation: a lone span
    # starting before 0 never clears prev_end == 0 and is dropped
    out, scans = _merge_counting(monkeypatch, [ann(-1, 3)], "abc def")
    assert out == []
    assert scans == 0


def test_two_member_group_glued_through_whitespace(monkeypatch):
    out, scans = _merge_counting(monkeypatch, [ann(0, 2), ann(5, 7)], "ab   cd")
    assert out == [(0, 7, "bold", "True")]
    assert scans == 1


def test_only_second_group_needs_scan(monkeypatch):
    anns = [ann(0, 2, "size", "12"), ann(3, 5), ann(6, 8)]
    out, scans = _merge_counting(monkeypatch, anns, "ab cd ef")
    assert out == [(0, 2, "size", "12"), (3, 8, "bold", "True")]
    assert scans == 1
    anns = [ann(0, 2, "size", "12"), ann(4, 6, "size", "14"), ann(3, 5), ann(6, 8)]
    out, scans = _merge_counting(monkeypatch, anns, "ab cd\tef")
    assert out == [(0, 2, "size", "12"), (4, 6, "size", "14"), (3, 8, "bold", "True")]
    assert scans == 1
