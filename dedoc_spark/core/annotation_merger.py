"""Annotation merging with the reference's exact, order-sensitive semantics.

Reference: dedoc/utils/annotation_merger.py:67-145.

Rules reproduced:
  1. Annotations are grouped by (name, value); within a group, spans that
     overlap or touch — including *through whitespace runs of the text* —
     are merged into one [min(start), max(end)) annotation.
  2. Groups whose name is non-mergeable (e.g. linked_text), and lone
     annotations, pass through.
  3. Contradiction filter: per name, sorted by start, keep the first
     annotation; a later overlapping annotation is dropped — unless the
     kept one covers text that *starts with whitespace*, in which case it
     is replaced by the later one.

Both steps are order-sensitive; they must match exactly for byte-identical
span output (SURVEY.md §7.3 risk #2).
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from operator import attrgetter
from typing import Dict, List, Tuple

from dedoc_spark.core.model import Annotation

_SPACES = re.compile(r"\s+")
_START = attrgetter("start")


def merge_annotations(annotations: List[Annotation], text: str) -> List[Annotation]:
    if not annotations:
        return []

    groups: Dict[Tuple[str, str], List[Annotation]] = {}
    for a in annotations:
        groups.setdefault((a.name, a.value), []).append(a)

    merged: List[Annotation] = []
    runs = None  # whitespace runs glue spans; scanned only for a group with a gap
    for group in groups.values():
        if len(group) > 1 and group[0].is_mergeable:
            group = sorted(group, key=_START)
            if _chained(group):
                group = [_collapse(group)]
            else:
                if runs is None:
                    spans = [m.span() for m in _SPACES.finditer(text)]
                    runs = [s for s, _ in spans], [e for _, e in spans]
                group = _merge_one_group(group, *runs)
        merged.extend(group)

    return _filter_contradicting(merged, text)


def _chained(annotations: List[Annotation]) -> bool:
    """Whether each annotation (sorted by start) starts within the ones
    before it: then the group is one cluster whatever whitespace runs lie
    in it, since a run only ever extends a cluster it touches."""
    end = annotations[0].end
    for a in annotations:
        if a.start > end:
            return False
        if a.end > end:
            end = a.end
    return True


def _merge_one_group(annotations: List[Annotation], starts: List[int], ends: List[int]) -> List[Annotation]:
    """Merge one (name, value) group, sorted by start; spans may be glued
    by whitespace runs.

    Gives the clusters of annotation_merger.py:86-108, which stable-sorts
    the annotations and then the whitespace runs by start and sweeps them,
    extending a cluster while its end reaches the next start. Here the
    sweep visits the annotations in that order and finds the runs that
    fall between two of them with ``bisect``: maximal ``\\s+`` runs never
    touch, so of those runs only the last one starting within the
    cluster's end can extend it, and any later run closes it and leaves
    an open cluster of its own (no annotations, the run's end).
    """
    result: List[Annotation] = []
    k = bisect_left(starts, annotations[0].start)
    cur_end = ends[k - 1] if k else None  # a run before the first annotation may still be open
    members: List[Annotation] = []
    for i, a in enumerate(annotations, 1):
        if cur_end is not None and cur_end >= a.start:
            members.append(a)
            if a.end > cur_end:
                cur_end = a.end
        else:
            if members:
                result.append(_collapse(members))
            members, cur_end = [a], a.end
        # runs sorted after this annotation and before the next one
        hi = bisect_left(starts, annotations[i].start, k) if i < len(annotations) else len(starts)
        if hi > k:
            j = bisect_right(starts, cur_end, k, hi) - 1
            if j >= k and ends[j] > cur_end:
                cur_end = ends[j]
            if j < hi - 1:
                result.append(_collapse(members))
                members, cur_end = [], ends[hi - 1]
        k = hi
    if members:
        result.append(_collapse(members))
    return result


def _collapse(members: List[Annotation]) -> Annotation:
    """One cluster → one annotation spanning min..max of member annotations
    only (space glue does not widen the result) — annotation_merger.py:54-61.
    Members come sorted by start."""
    first = members[0]
    return Annotation(first.start, max(a.end for a in members), first.name, first.value)


def _filter_contradicting(annotations: List[Annotation], text: str) -> List[Annotation]:
    """Per-name overlap filter keeping first-by-start; a space-only kept span
    is replaceable by the next overlapping one (annotation_merger.py:124-145)."""
    by_name: Dict[str, List[Annotation]] = {}
    for a in annotations:
        by_name.setdefault(a.name, []).append(a)

    filtered: List[Annotation] = []
    for group in by_name.values():
        if not group[0].is_mergeable:
            filtered.extend(group)
            continue
        group_sorted = sorted(group, key=lambda x: x.start)
        prev_end = 0
        kept_idx: int | None = None
        for a in group_sorted:
            if a.start >= prev_end:
                filtered.append(a)
                kept_idx = len(filtered) - 1
                prev_end = a.end
            elif kept_idx is not None and _SPACES.match(
                text[filtered[kept_idx].start : filtered[kept_idx].end]
            ):
                filtered[kept_idx] = a
                prev_end = a.end
    return filtered
