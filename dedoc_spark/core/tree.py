"""Tree construction and plain-text rendering.

Reference: dedoc/structure_constructors/concrete_structure_constructors/
tree_constructor.py:31-102, dedoc/data_structures/tree_node.py:58-139,
dedoc/api/api_utils.py:271-274 (json2txt).

Reproduced behaviors:
  - lines with hierarchy level exactly (0, 0) are concatenated into the
    root node text (document name);
  - a synthetic empty node of type "list" with level_2 - 0.5 is inserted
    before the first list item of a run (tree_constructor.py:73-102);
  - stack machine: equal-HL multiline same-type lines merge into the node
    (annotations shifted), otherwise pop while tree.hl >= line.hl and add
    a child; node_id is the dotted path f"{parent}.{index}";
  - annotation merge applied to every node post-construction;
  - json2txt: text = f"{node.text}\\n{join(children)}" (recursive in the
    reference), which *is* the per-url extracted-text definition for byte
    identity.

Every walk here uses an explicit stack, so a tree of any depth renders
the same whatever the caller's stack.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from dedoc_spark.core.annotation_merger import merge_annotations
from dedoc_spark.core.model import Annotation, HierarchyLevel, Line, annotations_json, json_value


class TreeNode:
    __slots__ = (
        "node_id", "text", "annotations", "hl", "page_id", "line_id", "subparagraphs", "parent",
        "_parts", "_length",
    )

    def __init__(
        self,
        node_id: str,
        text: str,
        annotations: List[Annotation],
        hl: HierarchyLevel,
        page_id: int,
        line_id: Optional[int],
        parent: Optional["TreeNode"],
    ) -> None:
        self.node_id = node_id
        self.text = text
        self.annotations = annotations
        self.hl = hl
        self.page_id = page_id
        self.line_id = line_id
        self.subparagraphs: List["TreeNode"] = []
        self.parent = parent
        # text merged by add_text, joined once by _merge_tree_annotations
        self._parts: Optional[List[str]] = None
        self._length = 0

    def add_child(self, line: Line) -> "TreeNode":
        node = TreeNode(
            node_id=f"{self.node_id}.{len(self.subparagraphs)}",
            text=line.line,
            annotations=list(line.annotations),
            hl=line.hl,
            page_id=line.page_id,
            line_id=line.line_id,
            parent=self,
        )
        self.subparagraphs.append(node)
        return node

    def add_text(self, line: Line) -> None:
        """Merge a multiline line into this node. The parts are joined once,
        by the tree's finishing pass: ``self.text += ...`` on a slot
        attribute copies the whole text each time, which is quadratic over
        a long run of merged lines (a big plain-text file)."""
        if self._parts is None:
            self._parts, self._length = [self.text], len(self.text)
        shift = self._length
        self.annotations.extend(
            Annotation(a.start + shift, a.end + shift, a.name, a.value) for a in line.annotations
        )
        self._parts.append(line.line)
        self._length += len(line.line)


def construct_tree(lines: List[Line]) -> TreeNode:
    """Build the document tree from structure-extracted lines."""
    document_name = [
        line for line in lines if line.hl.level_1 == 0 and line.hl.level_2 == 0
    ]
    rest = [line for line in lines if not (line.hl.level_1 == 0 and line.hl.level_2 == 0)]
    rest = _add_list_nodes(rest)

    root = _create_root(document_name)
    # HierarchyLevel's ordering key, taken once per line and once per step
    # up, not twice per comparison (levels may change after construction,
    # so the levels keep no key of their own)
    tree, key = root, root.hl._key()
    for line in rest:
        hl = line.hl
        line_key = hl._key()
        if hl.can_be_multiline and line_key == key and hl.line_type == tree.hl.line_type:
            tree.add_text(line)
        else:
            while key >= line_key:
                tree = tree.parent
                key = tree.hl._key()
            tree = tree.add_child(line)
            key = line_key
    _merge_tree_annotations(root)
    return root


def _create_root(lines: List[Line]) -> TreeNode:
    page_id = 0 if not lines else min(line.page_id for line in lines)
    line_id = 0 if not lines else min(line.line_id for line in lines)
    root = TreeNode(
        node_id="0",
        text="",
        annotations=[],
        hl=HierarchyLevel.create_root(),
        page_id=page_id,
        line_id=line_id,
        parent=None,
    )
    for line in lines:
        root.add_text(line)
    return root


def _add_list_nodes(lines: List[Line]) -> List[Line]:
    """Insert synthetic empty "list" lines (level_2 - 0.5) before the first
    list item of each run (tree_constructor.py:73-102)."""
    previous_levels: List[HierarchyLevel] = []
    res: List[Line] = []
    for line in lines:
        if line.hl.is_list_item():
            while previous_levels and previous_levels[-1] > line.hl:
                previous_levels.pop()
            if not previous_levels or previous_levels[-1] < line.hl:
                list_hl = HierarchyLevel(line.hl.level_1, line.hl.level_2 - 0.5, False, "list")
                res.append(
                    Line(
                        line="",
                        page_id=line.page_id,
                        line_id=line.line_id,
                        hl=list_hl,
                        annotations=[],
                    )
                )
                previous_levels.append(line.hl)
        elif not line.hl.is_raw_text():
            previous_levels = []
        res.append(line)
    return res


def _merge_tree_annotations(root: TreeNode) -> None:
    """Finishing pass over a built tree: join the text that add_text
    collected, then merge each node's annotations."""
    stack = [root]
    while stack:
        node = stack.pop()
        if node._parts is not None:
            node.text, node._parts = "".join(node._parts), None
        node.annotations = merge_annotations(node.annotations, node.text)
        stack.extend(node.subparagraphs)


def tree_to_text(node: TreeNode) -> str:
    """json2txt semantics (api_utils.py:271-274): a node's text, "\\n", then
    its children's texts joined by "\\n"; note the unconditional trailing
    newline after each node's text. Written in pre-order: every node but a
    first child starts with the "\\n" that separates it from its sibling."""
    parts: List[str] = []
    stack = [(node, "")]
    while stack:
        n, sep = stack.pop()
        parts.append(f"{sep}{n.text}\n")
        kids = n.subparagraphs
        if kids:
            for kid in reversed(kids):
                stack.append((kid, "\n"))
            stack[-1] = (kids[0], "")
    return "".join(parts)


def flatten_tree(node: TreeNode) -> Tuple[str, str]:
    """One walk: (tree_json, nodes_json), each node's text encoded once. tree_json
    nests {node_id, text, annotations, metadata: {paragraph_type, page_id,
    line_id}, subparagraphs}; nodes_json, the flat view, lists {node_id,
    parent_id, depth, paragraph_type, text, n_annotations} in pre-order.

    Both are written in pre-order. A node's subparagraphs list stays open
    until the walk comes back up past its depth, so the "]}" that close it
    are written then."""
    nodes: List[str] = []
    tree: List[str] = []
    stack = [(node, "null")]  # (node, its parent's node_id JSON)
    last = -1  # depth of the node written last
    while stack:
        n, parent_id = stack.pop()
        node_id, text, ptype = json_value(n.node_id), json_value(n.text), json_value(n.hl.line_type)
        depth = n.node_id.count(".")  # add_child's dotted ids spell the tree path
        if depth <= last:  # not the first child of the node written last
            tree.append("]}" * (last - depth + 1) + ", ")
        last = depth
        nodes.append(
            f'{{"node_id": {node_id}, "parent_id": {parent_id}, "depth": {depth}, '
            f'"paragraph_type": {ptype}, "text": {text}, "n_annotations": {len(n.annotations)}}}'
        )
        tree.append(
            f'{{"node_id": {node_id}, "text": {text}, "annotations": {annotations_json(n.annotations)}, '
            f'"metadata": {{"paragraph_type": {ptype}, "page_id": {json_value(n.page_id)}, '
            f'"line_id": {json_value(n.line_id)}}}, "subparagraphs": ['
        )
        for kid in reversed(n.subparagraphs):
            stack.append((kid, node_id))
    tree.append("]}" * (last + 1))
    return "".join(tree), "[" + ", ".join(nodes) + "]"
