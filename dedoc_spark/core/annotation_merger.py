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
from typing import Dict, List, Tuple

from dedoc_spark.core.model import Annotation

_SPACES = re.compile(r"\s+")


def merge_annotations(annotations: List[Annotation], text: str) -> List[Annotation]:
    if not annotations:
        return []

    groups: Dict[Tuple[str, str], List[Annotation]] = {}
    for a in annotations:
        groups.setdefault((a.name, a.value), []).append(a)

    merged: List[Annotation] = []
    spaces = None  # whitespace runs glue spans; scanned only for a group that merges
    for group in groups.values():
        if len(group) > 1 and group[0].is_mergeable:
            if spaces is None:
                spaces = [(m.start(), m.end(), None) for m in _SPACES.finditer(text)]
            group = _merge_one_group(group, spaces)
        merged.extend(group)

    return _filter_contradicting(merged, text)


def _merge_one_group(
    annotations: List[Annotation], spaces: List[Tuple[int, int, None]]
) -> List[Annotation]:
    """Merge one (name, value) group; spans may be glued by whitespace runs.

    Mirrors annotation_merger.py:86-108 including the stable sort of
    annotations-then-spaces by start; lone and non-mergeable groups never get here.
    """
    # events: (start, end, annotation or None-for-space); stable sort by start
    events: List[Tuple[int, int, object]] = [(a.start, a.end, a) for a in annotations]
    events += spaces
    events.sort(key=lambda ev: ev[0])

    result: List[Annotation] = []
    # current cluster state: overall [start,end), plus member annotations
    cur_start, cur_end, cur_members = events[0][0], events[0][1], (
        [events[0][2]] if events[0][2] is not None else []
    )
    for start, end, ann in events[1:]:
        if cur_end >= start:
            cur_end = max(cur_end, end)
            cur_start = min(cur_start, start)
            if ann is not None:
                cur_members.append(ann)
        else:
            merged = _collapse(cur_members)
            if merged is not None:
                result.append(merged)
            cur_start, cur_end = start, end
            cur_members = [ann] if ann is not None else []
    merged = _collapse(cur_members)
    if merged is not None:
        result.append(merged)
    return result


def _collapse(members: List[Annotation]) -> Annotation | None:
    """One cluster → one annotation spanning min..max of member annotations
    only (space glue does not widen the result) — annotation_merger.py:54-61."""
    if not members:
        return None
    start = min(a.start for a in members)
    end = max(a.end for a in members)
    first = members[0]
    return Annotation(start, end, first.name, first.value)


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
