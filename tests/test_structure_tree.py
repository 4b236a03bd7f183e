"""Structure extraction + tree construction semantics
(tests/unit_tests/test_misc_prefix.py / test_misc_hierarchy_level.py /
tree_constructor.py behaviors)."""

import gc
import json
import time

from dedoc_spark.core.model import Annotation, HierarchyLevel, Line
from dedoc_spark.core.structure import (
    assign_hierarchy_levels,
    get_dotted_item_depth,
    get_hierarchy_level,
)
from dedoc_spark.core.tree import construct_tree, flatten_tree, tree_to_text
from dedoc_spark.core.txt_extract import extract_txt_lines


def line(text, tag_hl=None):
    return Line(line=text, tag_hl=tag_hl)


def test_hierarchy_level_none_is_plus_inf():
    raw = HierarchyLevel.create_raw_text()
    header = HierarchyLevel(1, 1, False, "header")
    assert header < raw
    assert raw >= header
    assert raw == HierarchyLevel.create_raw_text()
    assert not (raw < HierarchyLevel(None, None, True, "unknown"))


def test_dotted_depth():
    assert get_dotted_item_depth("1.") == 1
    assert get_dotted_item_depth("1.2.") == 2
    assert get_dotted_item_depth("1.2.3.4") == 4
    assert get_dotted_item_depth("no match") == -1


def test_pattern_priority_dotted_over_bullet():
    # "1." must classify as dotted (2, 1) not bullet, despite "." in bullets
    hl = get_hierarchy_level(line("1. item"))
    assert (hl.level_1, hl.level_2, hl.line_type) == (2, 1, "list_item")
    hl = get_hierarchy_level(line(". leading dot"))
    assert (hl.level_1, hl.line_type) == (6, "list_item")


def test_tag_header_wins_over_text_patterns():
    hl = get_hierarchy_level(line("1. looks like list", tag_hl=HierarchyLevel(1, 3, False, "header")))
    assert (hl.level_1, hl.level_2, hl.line_type) == (1, 3, "header")


def test_raw_text_default():
    hl = get_hierarchy_level(line("plain text"))
    assert hl.line_type == "raw_text"
    assert hl.level_1 is None and hl.level_2 is None and hl.can_be_multiline


def test_multiline_raw_text_merges_into_one_node():
    lines = [line("a\n"), line("b\n"), line("c\n")]
    assign_hierarchy_levels(lines)
    for i, ln in enumerate(lines):
        ln.line_id = i
    root = construct_tree(lines)
    assert len(root.subparagraphs) == 1
    assert root.subparagraphs[0].text == "a\nb\nc\n"


def test_merged_annotations_shift_by_running_text_length():
    lines = [line("ab\n"), line("cde\n"), line("f\n")]
    for ln, value in zip(lines, ("x", "y", "z")):
        ln.annotations = [Annotation(0, 1, "bold", value)]
    assign_hierarchy_levels(lines)
    for i, ln in enumerate(lines):
        ln.line_id = i
    (node,) = construct_tree(lines).subparagraphs
    assert node.text == "ab\ncde\nf\n"
    bold = sorted((a.start, a.end, a.value) for a in node.annotations if a.name == "bold")
    assert bold == [(0, 1, "x"), (3, 4, "y"), (7, 8, "z")]


def _construct_seconds(*sizes):
    """Best of 5 construct_tree times for each number of lines; the
    timings take turns, so a slow spell of a shared host hits them all."""
    texts = ["".join(f"line {i:06d} of a plain text log file, words to fill eighty bytes\n" for i in range(n))
             for n in sizes]
    inputs = []
    for text in texts:
        lines = extract_txt_lines(text)
        assign_hierarchy_levels(lines)
        inputs.append(lines)
    best = [float("inf")] * len(sizes)
    gc.disable()
    try:
        for _ in range(5):
            for k, lines in enumerate(inputs):
                t0 = time.perf_counter()
                root = construct_tree(lines)
                best[k] = min(best[k], time.perf_counter() - t0)
                assert len(root.subparagraphs) == 1 and len(root.subparagraphs[0].text) == len(texts[k])
    finally:
        gc.enable()
    return best


def test_merging_many_text_lines_is_linear():
    # every raw-text line of a .txt file merges into one node; building its
    # text with `+=` on a slot attribute was quadratic (4x per doubling)
    small, big = _construct_seconds(13_000, 26_000)
    assert big <= 2.5 * small, (small, big)


def test_header_starts_new_subtree():
    lines = [
        line("intro\n"),
        line("H1\n", tag_hl=HierarchyLevel(1, 1, False, "header")),
        line("body\n"),
    ]
    assign_hierarchy_levels(lines)
    for i, ln in enumerate(lines):
        ln.line_id = i
    root = construct_tree(lines)
    assert [n.hl.line_type for n in root.subparagraphs] == ["raw_text", "header"]
    header = root.subparagraphs[1]
    assert header.subparagraphs[0].text == "body\n"
    assert header.node_id == "0.1"
    assert header.subparagraphs[0].node_id == "0.1.0"


def test_list_node_synthesis_and_level_float():
    lines = [line("1. a\n"), line("2. b\n"), line("tail\n")]
    assign_hierarchy_levels(lines)
    for i, ln in enumerate(lines):
        ln.line_id = i
    root = construct_tree(lines)
    lst = root.subparagraphs[0]
    assert lst.hl.line_type == "list"
    assert lst.hl.level_2 == 0.5
    assert [c.text for c in lst.subparagraphs[:2]] == ["1. a\n", "2. b\n"]
    # raw text after the items nests under the last item (raw > list levels)
    assert lst.subparagraphs[1].subparagraphs[0].text == "tail\n"


def test_document_name_merged_into_root():
    hl00 = HierarchyLevel(0, 0, True, "root")
    l1 = line("Doc title ")
    l1.hl = hl00
    l1.line_id = 0
    l2 = line("body\n")
    l2.hl = HierarchyLevel.create_raw_text()
    l2.line_id = 1
    root = construct_tree([l1, l2])
    assert root.text == "Doc title "
    assert root.subparagraphs[0].text == "body\n"


def test_tree_to_text_trailing_newlines():
    lines = [line("a\n")]
    assign_hierarchy_levels(lines)
    lines[0].line_id = 0
    root = construct_tree(lines)
    # root text "" + "\n" + child "a\n" + "\n"
    assert tree_to_text(root) == "\na\n\n"


def test_tree_walks_take_any_depth():
    """A chain of 5,000 headers, each one level under the last, renders
    without recursion: five times the interpreter's default limit."""
    lines = []
    for k in range(5000):
        ln = line(f"t{k}")
        ln.hl, ln.line_id = HierarchyLevel(1, k + 1, False, "header"), k
        lines.append(ln)
    root = construct_tree(lines)
    assert tree_to_text(root) == "\n" + "".join(f"t{k}\n" for k in range(5000))
    tree_json, nodes_json = flatten_tree(root)
    nodes = json.loads(nodes_json)
    assert [n["depth"] for n in nodes] == list(range(5001))
    assert [n["parent_id"] for n in nodes[:3]] == [None, "0", "0.0"]
    last = (
        '{"node_id": "0' + ".0" * 5000 + '", "text": "t4999", "annotations": [], '
        '"metadata": {"paragraph_type": "header", "page_id": 0, "line_id": 4999}, "subparagraphs": ['
    )
    assert tree_json.count('"node_id"') == 5001 and tree_json.endswith(last + "]}" * 5001)


def test_prefix_split_postprocess_reference_examples():
    """abstract_structure_extractor.py:41-94 docstring examples: the
    excluding regexp trims trailing garbage from the matched prefix
    ("4.7.\\t" -> "4.7."), the rest becomes a raw_text _split line."""
    from dedoc_spark.core.model import HierarchyLevel as HL
    from dedoc_spark.core.model import Line
    from dedoc_spark.core.structure import (
        REGEXPS_ENDS_OF_NUMBER,
        REGEXPS_PART,
        prefix_split_postprocess,
    )

    ln = Line(line="4.7.\tУсловия договора", uid="u1", hl=HL(2, 1, False, "item"))
    out = prefix_split_postprocess(
        [ln], ["item"], [REGEXPS_PART], [REGEXPS_ENDS_OF_NUMBER]
    )
    assert [(o.line, o.uid, o.hl.line_type) for o in out] == [
        ("4.7.", "u1", "item"),
        ("\tУсловия договора", "u1_split", "raw_text"),
    ]
    # "1.П" -> prefix "1." (excluding regexp stops before the letter)
    ln2 = Line(line="1.Пример", uid="u2", hl=HL(2, 1, False, "item"))
    out2 = prefix_split_postprocess([ln2], ["item"], [REGEXPS_PART], [REGEXPS_ENDS_OF_NUMBER])
    assert [o.line for o in out2] == ["1.", "Пример"]


def test_prefix_split_annotation_slicing():
    """Span annotations clip+shift; table/attachment survive only on the
    prefix piece and re-span it (abstract_structure_extractor.py:97-113)."""
    from dedoc_spark.core.model import Annotation
    from dedoc_spark.core.model import HierarchyLevel as HL
    from dedoc_spark.core.model import Line
    from dedoc_spark.core.structure import (
        REGEXPS_ENDS_OF_NUMBER,
        REGEXPS_PART,
        prefix_split_postprocess,
    )

    ln = Line(
        line="4.7. Bold text",
        uid="u",
        hl=HL(2, 1, False, "item"),
        annotations=[
            Annotation(5, 9, "bold", "True"),
            Annotation(0, 14, "table", "tbl-1"),
        ],
    )
    out = prefix_split_postprocess([ln], ["item"], [REGEXPS_PART], [REGEXPS_ENDS_OF_NUMBER])
    prefix, rest = out
    assert prefix.line == "4.7."
    assert [(a.name, a.start, a.end, a.value) for a in prefix.annotations] == [
        ("table", 0, 4, "tbl-1")
    ]
    assert rest.line == " Bold text"
    assert [(a.name, a.start, a.end) for a in rest.annotations] == [("bold", 1, 5)]


def test_prefix_split_unmatched_and_empty():
    from dedoc_spark.core.model import HierarchyLevel as HL
    from dedoc_spark.core.model import Line
    from dedoc_spark.core.structure import (
        REGEXPS_ENDS_OF_NUMBER,
        REGEXPS_ITEM,
        prefix_split_postprocess,
    )

    keep = Line(line="no prefix here", uid="a", hl=HL(2, 1, False, "item"))
    other = Line(line="header text", uid="b", hl=HL(1, 1, False, "header"))
    empty_raw = Line(line="", uid="c", hl=HL.create_raw_text())
    out = prefix_split_postprocess(
        [keep, other, empty_raw], ["item"], [REGEXPS_ITEM], [REGEXPS_ENDS_OF_NUMBER]
    )
    assert [o.uid for o in out] == ["a", "b"]  # empty raw_text dropped
    assert out[0].line == "no prefix here"
