"""HTML → lines + tables extraction with the reference reader's semantics.

Reference: dedoc/readers/html_reader/html_reader.py:25-314,
html_tags.py:1-34, html_tag_annotation_parser.py:21-128,
html_line_postprocessing.py:10-39.

Reproduced behaviors (same dispatch order, same md5 uid chains, same
html_tag assignment cascade):
  - block walk: service tags (script/style), comments, doctypes
    dropped; block tags recurse; list tags synthesize textual markers;
    leaf text tags become single lines with inline span annotations;
  - headers h1..h6 → tag hierarchy level (1, n, False, "header");
  - ordered-list markers "1. ", "a) ", "A) " with alphabetic base-26 carry
    for index ≥ 26; nested list items bump level_1 += 2;
  - visible <table> (border attr or border-{top,bottom}-style:solid in a td
    style) extracted to a Table with rowspan/colspan expansion (merged
    cells cloned into every covered slot, clones invisible); border-less
    tables flattened to tab-joined text lines;
  - inline annotations: b/i/u/s/sub/sup/a(linked_text) + CSS style parse
    (font-style/weight/size pt|px÷0.75, text-align, font-family,
    display:none→hidden);
  - postprocess: trailing "\\n" before paragraph-tag successors,
    "\\xa0"→" ", sequential line_id.

Determinism: the reference prefixes uids with a file-content hash
(html_reader.py:38); here the per-document seed is md5(url) so the same
url+bytes always produce the same uids (SURVEY.md §7.0).
"""

from __future__ import annotations

import hashlib
import string
from typing import Dict, List, Optional, Tuple

from dedoc_spark.core.dom import Element, Text, parse_html
from dedoc_spark.core.model import Annotation, Cell, HierarchyLevel, Line, Table

# --- tag taxonomy (html_tags.py:1-34) -------------------------------------

LIST_ITEMS = ("li", "dd", "dt")
BLOCK_TAGS = frozenset(
    ["aside", "article", "body", "div", "blockquote", "footer", "header", "html",
     "main", "nav", "section", "form", *LIST_ITEMS]
)
UNORDERED_LIST = frozenset({"ul", "dl", "dir"})
ORDERED_LIST = frozenset({"ol"})
LIST_TAGS = UNORDERED_LIST | ORDERED_LIST
HEADER_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

STRIKE_TAGS = frozenset({"del", "strike", "s"})
BOLD_TAGS = frozenset({"strong", "b"})
UNDERLINED_TAGS = frozenset({"ins", "u"})
ITALIC_TAGS = frozenset({"em", "i", "dfn", "var", "address"})
SUBSCRIPT_TAGS = frozenset({"sub"})
SUPERSCRIPT_TAGS = frozenset({"sup"})
LINK_TAGS = frozenset({"a"})

STYLED_TAGS = BOLD_TAGS | ITALIC_TAGS | UNDERLINED_TAGS | STRIKE_TAGS | SUPERSCRIPT_TAGS | SUBSCRIPT_TAGS
SIMPLE_TEXT_TAGS = frozenset(
    ["a", "abbr", "acronym", "applet", "area", "article", "aside", "bdi", "bdo",
     "big", "canvas", "caption", "center", "cite", "code", "data", "font", "kbd",
     "mark", "output", "p", "pre", "q", "samp", "small", "span", "tt", "wbr"]
)
TEXT_TAGS = SIMPLE_TEXT_TAGS | STYLED_TAGS

TABLE_ROWS = ("tr",)
TABLE_CELLS = ("td", "th")

SPECIAL_SYMBOL_TAGS: Dict[str, str] = {"br": "\n"}
PARAGRAPH_TAGS = frozenset({"p"}) | BLOCK_TAGS | set(LIST_ITEMS) | HEADER_TAGS
AVAILABLE_TAGS = (
    BLOCK_TAGS | LIST_TAGS | HEADER_TAGS | TEXT_TAGS | set(SPECIAL_SYMBOL_TAGS) | PARAGRAPH_TAGS
)
# the available tags read as one line each: what the reference's
# _handle_block leaves to _handle_single_tag
LINE_TAGS = AVAILABLE_TAGS - BLOCK_TAGS - LIST_TAGS - set(SPECIAL_SYMBOL_TAGS)

# alignment values accepted by the reference AlignmentAnnotation
ALIGNMENT_VALUES = frozenset({"left", "right", "both", "center"})


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# --- inline annotation parser (html_tag_annotation_parser.py:21-128) ------


def _inline_text(tag: Element) -> Tuple[str, List[Annotation]]:
    """One walk over a text tag's subtree, with an explicit stack, for what
    the reference reads in three (html_reader.py:202-223 and
    html_tag_annotation_parser.py:21-128):

      - every ``br`` is replaced by a ``"\\n"`` Text node in place, as
        ``br.replace_with("\\n")`` does;
      - the text is every Text node's, comments and doctypes excluded
        (bs4 ``get_text``);
      - the annotations: a text tag spans the length of its counted
        children, and its children's annotations come first. Counted are
        the str children (comments too) of a chain of text tags from
        ``tag`` down; any other element counts 0 and adds no annotations,
        though its text stays in the line.
    """
    children = tag.children
    if len(children) == 1 and children[0].__class__ is Text:  # most tags: one text run
        text = str(children[0])
        return text, _element_annotations(tag, 0, len(text)) if tag.name in TEXT_TAGS else []
    parts: List[str] = []
    annotations: List[Annotation] = []
    pos = 0
    el, counted, start, children, i = tag, tag.name in TEXT_TAGS, 0, tag.children, 0
    open_elements = []  # the (el, counted, start, children, i) of el's ancestors
    while True:
        if i < len(children):
            child = children[i]
            i += 1
            if child.__class__ is Element:
                if child.name != "br":
                    open_elements.append((el, counted, start, children, i))
                    el, start, children, i = child, pos, child.children, 0
                    counted = counted and el.name in TEXT_TAGS
                    continue
                child = children[i - 1] = Text("\n")
            if child.__class__ is Text:
                parts.append(child)
            if counted:
                pos += len(child)
            continue
        if counted:  # el is done: its annotations follow its children's
            annotations.extend(_element_annotations(el, start, pos))
        if not open_elements:
            break
        el, counted, start, children, i = open_elements.pop()
    return "".join(parts), annotations


def _element_annotations(tag: Element, start: int, end: int) -> List[Annotation]:
    """A text tag's own annotations over [start, end): its tag's, then its
    style attribute's."""
    annotations = _tag_annotations(tag, start, end)
    style = tag.attrs.get("style")
    if style is not None:
        annotations = annotations + _parse_style_string(style, start, end)
    return annotations


def _tag_annotations(tag: Element, start: int, end: int) -> List[Annotation]:
    name = tag.name
    if name in BOLD_TAGS:
        return [Annotation(start, end, "bold", "True")]
    if name in ITALIC_TAGS:
        return [Annotation(start, end, "italic", "True")]
    if name in UNDERLINED_TAGS:
        return [Annotation(start, end, "underlined", "True")]
    if name in SUPERSCRIPT_TAGS:
        return [Annotation(start, end, "superscript", "True")]
    if name in SUBSCRIPT_TAGS:
        return [Annotation(start, end, "subscript", "True")]
    if name in LINK_TAGS:
        return [Annotation(start, end, "linked_text", tag.attrs.get("href", ""))]
    if name in STRIKE_TAGS:
        return [Annotation(start, end, "strike", "True")]
    return []


def _parse_style_string(styles_string: str, start: int, end: int) -> List[Annotation]:
    annotations: List[Annotation] = []
    for st in styles_string.split(";"):
        st = st.strip()
        if not st:
            continue
        pair = st.split(":")
        if len(pair) != 2:
            continue
        key, value = pair
        value = value.strip()
        ann = _style_annotation(key, value, start, end)
        if ann is not None:
            annotations.append(ann)
    return annotations


def _style_annotation(key: str, value: str, start: int, end: int) -> Optional[Annotation]:
    if key == "font-style":
        return Annotation(start, end, "italic", "True") if value == "italic" else None
    if key == "font-weight":
        return Annotation(start, end, "bold", "True") if value == "bold" else None
    if key == "font-size":
        size = _parse_font_size(value)
        return Annotation(start, end, "size", size) if size is not None else None
    if key == "text-align":
        if value in ALIGNMENT_VALUES:
            return Annotation(start, end, "alignment", value)
        if value in ("start", "end"):
            return Annotation(start, end, "alignment", "left")
        return None
    if key == "font-family":
        return Annotation(start, end, "style", value)
    if key == "display":
        return Annotation(start, end, "style", "hidden") if value in ("none", "hidden") else None
    return None


def _parse_font_size(value: str) -> Optional[str]:
    if value.endswith("pt"):
        return value[:-2]
    if value.endswith("px"):
        try:
            return str(float(value[:-2]) / 0.75)
        except ValueError:
            return None
    try:
        return str(float(value))
    except ValueError:
        return None


# --- the reader -------------------------------------------------------------


# modes of the block walk's stack entries (HtmlExtractor._read_blocks)
_TOP, _NESTED, _ITEM, _ITEM_END = 0, 1, 2, 3


class HtmlExtractor:
    """Stateless per-document HTML extraction (one instance reusable across
    documents; all state is per-call)."""

    def extract(
        self, html: bytes | str, url_hash: str, handle_invisible_table: bool = False
    ) -> Tuple[List[Line], List[Table], List[str]]:
        """Parse one document. ``url_hash`` plays the role of the reference's
        file-content hash in uid chains (html_reader.py:38)."""
        warnings: List[str] = []
        root = parse_html(html)
        visible: Dict[Element, bool] = {}
        lines = self._read_blocks(
            root, url_hash, visible, handle_invisible_table=handle_invisible_table
        )
        tables = []
        for index, table_el in enumerate(root.tables):
            if handle_invisible_table or self._visible_table(table_el, visible):
                try:
                    tables.append(self._read_table(table_el, url_hash, index, visible))
                except Exception as e:  # hostile table structure: degrade, don't fail
                    warnings.append(f"table {index} skipped: {type(e).__name__}")
        self._postprocess(lines)
        return lines, tables, warnings

    # -- block walk (html_reader.py:48-136) --------------------------------

    def _read_blocks(
        self,
        block: Element,
        url_hash: str,
        visible: Dict[Element, bool],
        handle_invisible_table: bool = False,
        table: bool = False,
    ) -> List[Line]:
        """The reference's block walk under ``block`` (the document root or
        a table cell) in one pass over an explicit stack, so the nesting
        depth never reaches the interpreter's stack.

        Each line is added once, its ``html_tag`` set as it is made: the
        name of the nearest enclosing element the reference hands to
        ``_handle_block`` (None for text right under ``block``), or the
        list's name for a list item's marker line. Inside list items it is
        joined as ``_add_line`` says. The uids follow the reference's md5
        chains: ``md5(uid + name)`` for each node handled, then
        ``md5(url_hash + that + name)`` for a block's children.

        ``handle_invisible_table`` and ``table`` apply to ``block``'s own
        children only: the reference does not forward them into nested
        blocks (html_reader.py:70)."""
        lines: List[Line] = []
        items = 0  # list items open around the node being read
        # (node, uid, html_tag, mode) where uid is the parent's uid and
        # html_tag the name a text child's line takes. Mode _ITEM: node is a
        # list item and html_tag its marker line. Mode _ITEM_END closes an
        # item.
        uid = _md5(url_hash + block.name)
        stack = [(child, uid, None, _TOP) for child in reversed(block.children)]
        while stack:
            node, uid, html_tag, mode = stack.pop()
            if mode == _ITEM_END:
                items -= 1
                continue
            if mode == _ITEM:
                self._add_line(lines, html_tag, items)
                items += 1
                stack.append((None, None, None, _ITEM_END))
            if node.__class__ is not Element:
                if node.__class__ is Text and node.strip():  # comments, doctypes: nothing
                    line = self._make_line(node, _md5(_md5(uid + "None") + node), url_hash, html_tag)
                    self._add_line(lines, line, items)
                continue
            # the reference's _handle_block cascade; its branches take
            # disjoint sets of names, so the most frequent goes first
            name = node.name
            if name in LINE_TAGS:
                line = self._read_single_tag(node, url_hash, uid, table and mode == _TOP)
                if line is not None:
                    self._add_line(lines, line, items)
            elif name in BLOCK_TAGS:
                child_uid = _md5(url_hash + _md5(uid + name) + name)
                stack.extend([(child, child_uid, name, _NESTED) for child in reversed(node.children)])
            elif name in LIST_TAGS:
                self._push_list_items(node, url_hash, _md5(uid + name), stack)
            elif name == "table":
                if not (handle_invisible_table and mode == _TOP) and not self._visible_table(node, visible):
                    for line in self._invisible_table_lines(node, url_hash, _md5(uid + name), visible):
                        self._add_line(lines, line, items)
            elif name in SPECIAL_SYMBOL_TAGS:
                symbol = SPECIAL_SYMBOL_TAGS[name]
                line = self._make_line(symbol, _md5(_md5(uid + name) + symbol), url_hash, name)
                self._add_line(lines, line, items)
            # service tags (script, style) and any other name: no lines
        return lines

    @staticmethod
    def _add_line(lines: List[Line], line: Line, items: int) -> None:
        """Add ``line`` read inside ``items`` open list items as the
        reference's item join leaves it (html_reader.py:138-160): a plain
        line joins the line before it, which is the item's marker or the
        last nested marker or header; any other line goes two levels
        deeper per open item."""
        if items:
            if line.tag_hl.is_unknown():
                lines[-1] = lines[-1].concat(line)
                return
            line.tag_hl.level_1 += 2 * items
        lines.append(line)

    def _read_single_tag(self, tag: Element, url_hash: str, uid: str, table: bool) -> Optional[Line]:
        """A text or header tag as one line; ``uid`` is its parent's."""
        text, annotations = _inline_text(tag)
        if tag.name == "p" and not table:
            text += "\n"
        if not text or text.isspace():
            return None
        header_level = int(tag.name[1:]) if tag.name in HEADER_TAGS else 0
        line_uid = _md5(_md5(uid + tag.name) + text)
        return self._make_line(text, line_uid, url_hash, tag.name, header_level, annotations)

    @staticmethod
    def _make_line(
        line: str,
        uid: str,
        url_hash: str,
        html_tag: Optional[str],
        header_level: int = 0,
        annotations: Optional[List[Annotation]] = None,
    ) -> Line:
        tag_hl = None if header_level == 0 else HierarchyLevel(1, header_level, False, HierarchyLevel.header)
        # Line(line, page_id, line_id, tag_hl, hl, annotations, uid, extras)
        return Line(line, 0, None, tag_hl, None, annotations or [], f"{url_hash}_{uid}", {"html_tag": html_tag})

    # -- lists (html_reader.py:138-200) -------------------------------------

    @staticmethod
    def _li_marker(list_type: str, index: int, html_tag: str) -> Line:
        end = ") " if list_type in ("a", "A") else ". "
        if list_type == "":
            header = ""
        elif list_type in ("a", "A"):
            alphabet = string.ascii_lowercase if list_type == "a" else string.ascii_uppercase
            header = alphabet[index % len(alphabet)]
            while index >= len(alphabet):
                index = index // len(alphabet) - 1
                header = alphabet[index % len(alphabet)] + header
            header = header + end
        else:
            header = str(index + 1) + end
        return Line(
            line=header,
            page_id=0,
            line_id=0,
            tag_hl=HierarchyLevel(2, 1, False, HierarchyLevel.list_item),
            extras={"html_tag": html_tag},
        )

    def _push_list_items(self, lst: Element, url_hash: str, uid: str, stack: list) -> None:
        """Queue ``lst``'s li/dd/dt children for the block walk, each with
        its marker line; any other child of a list is skipped."""
        list_uid = _md5(uid + lst.name)
        list_type = lst.attrs.get("type", "1" if lst.name in ORDERED_LIST else "")
        items = [item for item in lst.children if isinstance(item, Element) and item.name in LIST_ITEMS]
        for index in range(len(items) - 1, -1, -1):
            item_uid = _md5(list_uid + items[index].name)
            marker = self._li_marker(list_type, index, lst.name)
            # deterministic replacement for the reference's uuid1 marker uid
            marker.uid = f"{url_hash}_{_md5(item_uid + f'li#{index}')}"
            stack.append((items[index], item_uid, marker, _ITEM))

    # -- tables (html_reader.py:225-314) -------------------------------------

    def _invisible_table_lines(
        self, block: Element, url_hash: str, uid: str, visible: Dict[Element, bool]
    ) -> List[Line]:
        """A border-less table as one tab-joined line per non-blank row."""
        try:
            rows = self._read_table(block, url_hash, 0, visible).cells
        except Exception:
            return []
        lines = []
        for row in rows:
            text = "\t".join(cell.get_text() for cell in row)
            if text.strip() != "":
                lines.append(self._make_line(text, _md5(uid + text), url_hash, "table"))
        return lines

    @staticmethod
    def _clone_cell(el: Element) -> Element:
        copy = el.clone()
        copy.hidden = True
        copy.attrs["colspan"] = 1
        copy.attrs["rowspan"] = 1
        return copy

    @staticmethod
    def _int_attr(el: Element, key: str) -> int:
        try:
            return int(el.attrs.get(key, 1))
        except (TypeError, ValueError):
            return 1

    def _fix_table(self, table: Element) -> List[List[Element]]:
        """The table's cells row by row, a merged cell repeated as an
        invisible clone in every further slot it covers."""
        rows = [row.find_all(TABLE_CELLS) for row in table.find_all(TABLE_ROWS)]
        table_list = [list(cells) for cells in rows]
        for row_index, cells in enumerate(rows):
            for cell_index, cell in enumerate(cells):
                cell_rowspan = self._int_attr(cell, "rowspan")
                cell_colspan = self._int_attr(cell, "colspan")
                if cell_rowspan > 1 or cell_colspan > 1:
                    cell_copy = self._clone_cell(cell)
                    table_list[row_index][cell_index + 1 : cell_index + 1] = [cell_copy] * (
                        cell_colspan - 1
                    )
                    for index in range(row_index + 1, min(row_index + cell_rowspan, len(table_list))):
                        table_list[index][cell_index:cell_index] = [cell_copy] * cell_colspan
        return table_list

    def _read_table(self, table: Element, url_hash: str, index: int, visible: Dict[Element, bool]) -> Table:
        cells_with_meta: List[List[Cell]] = []
        for row in self._fix_table(table):
            row_cells = []
            for cell in row:
                row_cells.append(
                    Cell(
                        lines=self._read_blocks(cell, url_hash, visible, table=True),
                        colspan=self._int_attr(cell, "colspan"),
                        rowspan=self._int_attr(cell, "rowspan"),
                        invisible=bool(cell.hidden),
                    )
                )
            cells_with_meta.append(row_cells)
        # deterministic table uid replacing the reference's uuid4
        uid = _md5(f"{url_hash}_table_{index}")
        return Table(cells=cells_with_meta, page_id=0, uid=uid)

    @staticmethod
    def _visible_table(table: Element, visible: Dict[Element, bool]) -> bool:
        """A table with a ``border`` other than "0", or a td styled with a
        solid top or bottom border, is read as a table; other tables are
        flattened to lines. Worked out once per table element."""
        seen = visible.get(table)
        if seen is None:
            seen = visible[table] = table.attrs.get("border", "0") != "0" or any(
                "border-bottom-style:solid" in style or "border-top-style:solid" in style
                for style in (td.attrs.get("style", "") for td in table.find_all("td"))
            )
        return seen

    # -- postprocess (html_line_postprocessing.py:10-39) --------------------

    @staticmethod
    def _postprocess(lines: List[Line]) -> None:
        for line_id, line in enumerate(lines):
            text = line.line
            # a line followed by a paragraph tag ends in "\n"
            if line_id + 1 < len(lines) and lines[line_id + 1].extras.get("html_tag") in PARAGRAPH_TAGS:
                if not text.endswith("\n"):
                    text = text + "\n"
            line.line = text.replace("\xa0", " ")
            line.line_id = line_id
