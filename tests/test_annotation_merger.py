"""Ports of the reference annotation-merge semantics tests
(tests/unit_tests/test_misc_annotations.py shape): merge through spaces,
contradiction filtering, non-mergeable passthrough."""

import gc
import re
import time

from hypothesis import given, settings
from hypothesis import strategies as st

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


# --- the one-sweep merger against the reference merger -----------------------

_RUNS = re.compile(r"\s+")


def _merge_reference(annotations, text):
    """The merger as annotation_merger.py:67-145 writes it: per (name, value)
    group, the annotations and then every whitespace run of the text, stable
    sorted by start and swept; then the contradiction filter."""
    if not annotations:
        return []
    groups = {}
    for a in annotations:
        groups.setdefault((a.name, a.value), []).append(a)
    merged = []
    for group in groups.values():
        if len(group) > 1 and group[0].is_mergeable:
            events = [(a.start, a.end, a) for a in group]
            events += [(m.start(), m.end(), None) for m in _RUNS.finditer(text)]
            events.sort(key=lambda ev: ev[0])
            clusters, cur_end, members = [], events[0][1], [events[0][2]]
            for start, end, a in events[1:]:
                if cur_end >= start:
                    cur_end = max(cur_end, end)
                    members.append(a)
                else:
                    clusters.append(members)
                    cur_end, members = end, [a]
            clusters.append(members)
            group = []
            for members in clusters:
                members = [a for a in members if a is not None]
                if members:
                    first = members[0]
                    group.append(Annotation(
                        min(a.start for a in members), max(a.end for a in members), first.name, first.value
                    ))
        merged.extend(group)
    return annotation_merger._filter_contradicting(merged, text)


def _tuples(annotations):
    return [(a.start, a.end, a.name, a.value) for a in annotations]


_texts = st.text(alphabet=st.sampled_from("ab  \t\n\r  "), max_size=40)
_names = st.sampled_from(["bold", "size", "italic", "linked_text", "table"])
_values = st.sampled_from(["True", "12", "14"])


@st.composite
def _cases(draw):
    text = draw(_texts)
    n = len(text)
    spans = st.builds(ann, st.integers(-2, n + 3), st.integers(-2, n + 3), _names, _values)
    return draw(st.lists(spans, max_size=14)), text


@given(_cases())
@settings(max_examples=3000, deadline=None)
def test_sweep_merger_equals_the_reference(case):
    annotations, text = case
    assert _tuples(merge_annotations(annotations, text)) == _tuples(_merge_reference(annotations, text))


def _node(words, groups):
    """One node of ``words`` words, the i-th marked by one annotation of
    group i % ``groups``: every group merges, and the whitespace runs glue
    its spans."""
    text = " ".join(f"w{i}" for i in range(words))
    anns, pos = [], 0
    for i in range(words):
        anns.append(ann(pos, pos + len(f"w{i}"), "size", str(i % groups)))
        pos += len(f"w{i}") + 1
    return anns, text


def test_merge_is_linear_in_the_words_of_a_node():
    """Doubling the words of a node may cost at most 2.5x, with 20 groups
    and with a group per 10 words: the reference merger sorts every
    whitespace run of the text again for each group, so the second shape
    costs it about 4x per doubling. The timings take turns, so a slow
    spell of a shared host hits them all."""
    nodes = [_node(w, g) for w, g in ((4000, 20), (8000, 20), (4000, 400), (8000, 800))]
    best = [float("inf")] * len(nodes)
    gc.disable()
    try:
        for _ in range(5):
            for k, (anns, text) in enumerate(nodes):
                t0 = time.perf_counter()
                merge_annotations(anns, text)
                best[k] = min(best[k], time.perf_counter() - t0)
    finally:
        gc.enable()
    assert best[1] <= 2.5 * best[0] and best[3] <= 2.5 * best[2], best
