"""The JSON columns' encoder (model.lines_json / tables_json,
tree.flatten_tree) against its contract: the text equals
json.dumps(spec, ensure_ascii=False), where the *_spec functions below
reproduce the dict shapes the columns have always had."""

import ast
import json
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from dedoc_spark.core import model
from dedoc_spark.core.dom import Text
from dedoc_spark.core.model import Annotation, Cell, HierarchyLevel, Line, Table, lines_json, tables_json
from dedoc_spark.core.tree import construct_tree, flatten_tree

CORE = Path(__file__).resolve().parents[1] / "dedoc_spark" / "core"

# --- the contract: the column shapes as plain dicts -------------------------


def annotation_spec(a):
    return {"start": a.start, "end": a.end, "name": a.name, "value": a.value}


def hl_spec(hl):
    if hl is None:
        return None
    return {
        "level_1": hl.level_1,
        "level_2": hl.level_2,
        "can_be_multiline": hl.can_be_multiline,
        "line_type": hl.line_type,
    }


def line_spec(ln):
    return {
        "line": ln.line,
        "page_id": ln.page_id,
        "line_id": ln.line_id,
        "tag_hl": hl_spec(ln.tag_hl),
        "hl": hl_spec(ln.hl),
        "annotations": [annotation_spec(a) for a in ln.annotations],
        "uid": ln.uid,
        "extras": {k: str(v) for k, v in ln.extras.items()},
    }


def table_spec(t):
    return {
        "cells": [
            [
                {
                    "lines": [line_spec(ln) for ln in c.lines],
                    "colspan": c.colspan,
                    "rowspan": c.rowspan,
                    "invisible": c.invisible,
                }
                for c in row
            ]
            for row in t.cells
        ],
        "page_id": t.page_id,
        "uid": t.uid,
        "title": t.title,
    }


def tree_spec(n):
    return {
        "node_id": n.node_id,
        "text": n.text,
        "annotations": [annotation_spec(a) for a in n.annotations],
        "metadata": {"paragraph_type": n.hl.line_type, "page_id": n.page_id, "line_id": n.line_id},
        "subparagraphs": [tree_spec(c) for c in n.subparagraphs],
    }


def nodes_spec(root):
    out, stack = [], [root]
    while stack:
        n = stack.pop()
        out.append({
            "node_id": n.node_id,
            "parent_id": n.parent.node_id if n.parent is not None else None,
            "depth": n.node_id.count("."),
            "paragraph_type": n.hl.line_type,
            "text": n.text,
            "n_annotations": len(n.annotations),
        })
        stack.extend(reversed(n.subparagraphs))
    return out


def dumps(spec):
    return json.dumps(spec, ensure_ascii=False)


# --- generators --------------------------------------------------------------

HOSTILE = ['"', "\\", "\x00", "\x08", "\x1f", "\x7f", " ", " ", "\ud800", "\udfff",
           "\U0001f600", "\U0010ffff", "é", "/", "\n", " "]
raw_text = st.text(
    alphabet=st.one_of(st.characters(exclude_categories=()), st.sampled_from(HOSTILE)), max_size=12
)
text = st.one_of(raw_text, raw_text.map(Text))
level = st.one_of(
    st.none(), st.just(1), st.just(1.0), st.just(0), st.just(0.0), st.just(0.5), st.just(float("inf")),
    st.integers(0, 3), st.floats(0, 4, allow_nan=False),
)
scalar = st.one_of(
    text, st.integers(-(2**70), 2**70), st.floats(), st.booleans(), st.none(),
)
key = st.one_of(text, st.integers(-5, 5), st.floats(), st.booleans(), st.none())

hls = st.builds(
    HierarchyLevel, level, level, st.booleans(),
    st.one_of(st.sampled_from(["raw_text", "header", "list_item", "unknown"]), text),
)
annotations = st.lists(
    st.builds(Annotation, st.integers(-3, 30), st.integers(-3, 30),
              st.one_of(st.sampled_from(["bold", "size", "linked_text"]), text), scalar),
    max_size=4,
)
lines = st.builds(
    Line, line=text, page_id=st.integers(0, 3), line_id=st.one_of(st.none(), st.integers(0, 2**40)),
    tag_hl=st.one_of(st.none(), hls), hl=st.one_of(st.none(), hls), annotations=annotations,
    uid=text, extras=st.dictionaries(key, scalar, max_size=3),
)
cells = st.builds(Cell, st.lists(lines, max_size=2), st.integers(1, 3), st.integers(1, 3), st.booleans())
tables = st.builds(
    Table, st.lists(st.lists(cells, max_size=3), max_size=3), page_id=st.integers(0, 3), uid=text, title=text,
)
# construct_tree needs every line's hl set, below the root's (0, 0), and a
# list item's level_2 >= 0.5
tree_hls = st.builds(
    HierarchyLevel, st.one_of(st.none(), st.just(1), st.just(1.0), st.integers(1, 3), st.floats(1, 4)),
    level, st.booleans(), st.one_of(st.sampled_from(["raw_text", "header", "list_item"]), text),
).filter(lambda h: not h.is_list_item() or (h.level_2 is not None and h.level_2 >= 0.5))
tree_lines = st.lists(
    st.builds(Line, line=text, page_id=st.integers(0, 3), line_id=st.integers(0, 50), hl=tree_hls,
              annotations=annotations),
    max_size=8,
)


@given(st.lists(lines, max_size=5))
@settings(max_examples=150, deadline=None)
def test_lines_json_equals_json_dumps(lns):
    assert lines_json(lns) == dumps([line_spec(ln) for ln in lns])


@given(st.lists(tables, max_size=3))
@settings(max_examples=80, deadline=None)
def test_tables_json_equals_json_dumps(tbls):
    assert tables_json(tbls) == dumps([table_spec(t) for t in tbls])


@given(tree_lines)
@settings(max_examples=150, deadline=None)
def test_flatten_tree_equals_json_dumps(lns):
    root = construct_tree(lns)
    tree_json, nodes_json = flatten_tree(root)
    assert tree_json == dumps(tree_spec(root))
    assert nodes_json == dumps(nodes_spec(root))


# --- the HierarchyLevel fragment memo ----------------------------------------


def test_hl_memo_keeps_int_float_and_signed_zero_apart():
    model._HL_JSON.clear()
    for a, b in ((1, 1.0), (1.0, 1), (True, 1), (0.0, -0.0), (-0.0, 0.0)):
        for level in (a, b, a):
            for hl in (HierarchyLevel(level, 2, False, "header"), HierarchyLevel(2, level, False, "header")):
                assert model._hl_json(hl) == dumps(hl_spec(hl))
    one = model._hl_json(HierarchyLevel(1, 1, True, "header"))
    assert '"level_1": 1,' in one and "1.0" not in one


def test_hl_memo_clears_at_cap():
    model._HL_JSON.clear()
    for i in range(model._HL_JSON_CAP):
        model._hl_json(HierarchyLevel(i, 0, False, "header"))
    assert len(model._HL_JSON) == model._HL_JSON_CAP
    hl = HierarchyLevel(model._HL_JSON_CAP, 0, False, "header")
    assert model._hl_json(hl) == dumps(hl_spec(hl))
    assert len(model._HL_JSON) == 1


def test_annotation_spans_and_the_cell_memo_keep_types_apart():
    model._CELL_JSON.clear()
    for a, b in ((1, 1.0), (1.0, 1), (True, 1), (1, True), (0.0, -0.0), (-0.0, 0.0), ("1", 1), (False, 0)):
        for v in (a, b, a):
            spans = [Annotation(v, 1, "bold", "True"), Annotation(0, v, "bold", "True")]  # not only ints
            assert model.annotations_json(spans) == dumps([annotation_spec(x) for x in spans])
            for cell in (Cell([], v, 1, False), Cell([], 1, v, v), Cell([Line("x")], 2, 1, v)):
                t = Table([[cell]])
                assert tables_json([t]) == dumps([table_spec(t)])


def test_cell_memo_clears_at_cap():
    def write(i):
        return tables_json([Table([[Cell([], i, 1, False)]])])

    model._CELL_JSON.clear()
    for i in range(model._CELL_JSON_CAP):
        write(i)
    assert len(model._CELL_JSON) == model._CELL_JSON_CAP
    assert write(model._CELL_JSON_CAP) == dumps([table_spec(Table([[Cell([], model._CELL_JSON_CAP, 1, False)]]))])
    assert len(model._CELL_JSON) == 1


# --- static guard: one encoder, no dict-then-dumps path back -----------------


def _dumps_calls(tree):
    return [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "dumps"
    ]


def test_model_and_tree_build_no_dicts_for_json():
    for name in ("model.py", "tree.py"):
        tree = ast.parse((CORE / name).read_text())
        defs = [n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        assert "to_dict" not in defs, name
        assert not _dumps_calls(tree), name


def test_finalize_dumps_only_for_return_format():
    tree = ast.parse((CORE / "document.py").read_text())
    (finalize,) = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == "_finalize"]
    branch = [
        n for n in ast.walk(finalize)
        if isinstance(n, ast.If) and "return_format" in ast.unparse(n.test)
    ]
    allowed = {id(c) for b in branch for c in _dumps_calls(b)}
    calls = _dumps_calls(finalize)
    assert calls and all(id(c) in allowed for c in calls)
