"""Structure constructors beyond the default tree, and user patterns.

References:
  - LinearConstructor (structure_constructors/concrete_structure_constructors/
    linear_constructor.py:14-30): root + flat children, one node per line.
  - user patterns parameter (default_structure_extractor.py:60-81,
    patterns/utils.get_pattern): list of dicts {"name": "regexp"|
    "start_word"|"dotted_list"|..., "line_type", "level_1", "level_2",
    "can_be_multiline", "regexp"/"start_word"} compiled into a first-match
    chain that replaces the default one.
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, Optional

from dedoc_spark.core.model import HierarchyLevel, Line, param_flag
from dedoc_spark.core.structure import DOTTED_RE, get_hierarchy_level
from dedoc_spark.core.tree import TreeNode


def construct_linear(lines: List[Line]) -> TreeNode:
    """Root + flat children (linear_constructor.py:14-30): document-name
    lines (hl == (0,0)) merge into the root, every other line becomes a
    direct child."""
    from dedoc_spark.core.tree import _create_root, _merge_tree_annotations

    document_name = [ln for ln in lines if ln.hl.level_1 == 0 and ln.hl.level_2 == 0]
    rest = [ln for ln in lines if not (ln.hl.level_1 == 0 and ln.hl.level_2 == 0)]
    root = _create_root(document_name)
    for line in rest:
        root.add_child(line)
    _merge_tree_annotations(root)
    return root


# --- user patterns (the reference's "patterns" parameter) -------------------

PatternFn = Callable[[Line], Optional[HierarchyLevel]]


def compile_patterns(patterns: List[Dict]) -> Callable[[Line], HierarchyLevel]:
    """Compile a user pattern list into a first-match classifier; falls back
    to raw_text like PatternComposition (pattern_composition.py:41-56)."""
    fns: List[PatternFn] = []
    for p in patterns:
        name = p.get("name")
        # tag patterns default their line_type from the tag HL, not raw_text
        default_lt = None if name in ("tag_header", "tag_list") else HierarchyLevel.raw_text
        line_type = p.get("line_type", default_lt)
        level_1 = p.get("level_1")
        level_2 = p.get("level_2")
        multiline = param_flag(p, "can_be_multiline", True)
        if name == "regexp":
            rx = re.compile(p["regexp"])
            def fn(line, rx=rx, lt=line_type, l1=level_1, l2=level_2, ml=multiline):
                if rx.match(line.line.strip().lower()):
                    return HierarchyLevel(l1, l2, ml, lt)
                return None
        elif name == "start_word":
            word = p["start_word"].lower()
            def fn(line, w=word, lt=line_type, l1=level_1, l2=level_2, ml=multiline):
                if line.line.strip().lower().startswith(w):
                    return HierarchyLevel(l1, l2, ml, lt)
                return None
        elif name == "dotted_list":
            def fn(line, lt=line_type, l1=level_1, ml=multiline):
                m = DOTTED_RE.match(line.line.strip().lower())
                if m:
                    depth = len([x for x in m.group().strip().split(".") if x])
                    return HierarchyLevel(l1, depth, ml, lt)
                return None
        elif name == "tag_header":
            def fn(line, lt=line_type, l1=level_1, l2=level_2, ml=multiline):
                if line.tag_hl.line_type == HierarchyLevel.header:
                    return HierarchyLevel(
                        l1 if l1 is not None else 1,
                        l2 if l2 is not None else line.tag_hl.level_2,
                        ml,
                        lt or HierarchyLevel.header,
                    )
                return None
        elif name == "tag_list":
            def fn(line, lt=line_type, l1=level_1, l2=level_2, ml=multiline):
                if line.tag_hl.line_type == HierarchyLevel.list_item:
                    return HierarchyLevel(
                        l1 if l1 is not None else (line.tag_hl.level_1 or 2),
                        l2 if l2 is not None else line.tag_hl.level_2,
                        ml,
                        lt or HierarchyLevel.list_item,
                    )
                return None
        else:
            raise ValueError(f"unknown pattern name: {name}")
        fns.append(fn)

    def classify(line: Line) -> HierarchyLevel:
        for fn in fns:
            hl = fn(line)
            if hl is not None:
                return hl
        return HierarchyLevel.create_raw_text()

    return classify


def assign_levels_with_patterns(lines: List[Line], patterns: Optional[List[Dict]] = None) -> None:
    """Structure extraction with optional user patterns; None → default chain."""
    if not patterns:
        for line in lines:
            line.hl = get_hierarchy_level(line)
        return
    classify = compile_patterns(patterns)
    for line in lines:
        line.hl = classify(line)
