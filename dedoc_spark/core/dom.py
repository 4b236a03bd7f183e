"""Minimal HTML DOM on stdlib html.parser.

The reference parses HTML with BeautifulSoup's "html.parser" builder
(html_reader.py:35). This module rebuilds just the tree behaviors the
extraction semantics depend on, without any third-party dependency:

  - node kinds: Element, Text, Comment, Doctype (the latter three are str
    subclasses, like bs4 NavigableString/Comment/Doctype, so the reader's
    ``isinstance(node, str)`` dispatch shape carries over);
  - void ("empty element") tags close immediately even without ``/>``;
  - ``<script>``/``<style>`` raw-text content (html.parser CDATA mode);
  - character references converted to text (convert_charrefs=True);
  - an end tag pops the stack to the nearest matching open tag and is
    ignored when no such tag is open (bs4 _popToTag semantics);
  - no implied <html>/<body> insertion and no implied end tags for
    <li>/<p> (html.parser builder does none of that — unlike lxml).

Also provides deterministic byte→str decoding (BOM, <meta charset>,
utf-8 with cp1251 fallback) replacing bs4's UnicodeDammit.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Dict, Iterator, List, Optional, Union

# bs4.builder.HTMLTreeBuilder.empty_element_tags (public knowledge: the
# HTML5 void element list + historical additions)
VOID_TAGS = frozenset(
    {
        "area", "base", "br", "basefont", "bgsound", "command", "col", "embed",
        "event-source", "frame", "hr", "image", "img", "input", "keygen", "link",
        "menuitem", "meta", "param", "source", "spacer", "track", "wbr",
    }
)


class Text(str):
    """Plain text node (analogue of bs4 NavigableString)."""

    __slots__ = ("parent",)
    name: Optional[str] = None


class Comment(Text):
    __slots__ = ()


class Doctype(Text):
    __slots__ = ()


Node = Union["Element", Text]


class Element:
    """Element node with ordered children and an attrs dict."""

    __slots__ = ("name", "attrs", "children", "parent", "hidden")

    def __init__(self, name: str, attrs: Optional[dict] = None) -> None:
        self.name = name
        self.attrs = {} if attrs is None else attrs
        self.children: List[Node] = []
        self.parent: Optional["Element"] = None
        self.hidden = False  # set on cloned merged-table cells

    def append(self, node: Node) -> None:
        if isinstance(node, Element):
            node.parent = self
        self.children.append(node)

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def __iter__(self) -> Iterator[Node]:
        return iter(self.children)

    def __repr__(self) -> str:
        return f"<{self.name} {self.attrs}>"

    # --- traversal -------------------------------------------------------

    def descendants(self) -> Iterator[Node]:
        """Pre-order document-order traversal of all descendants."""
        stack: List[Node] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            yield node
            if isinstance(node, Element):
                stack.extend(reversed(node.children))

    def find_all(self, names) -> List["Element"]:
        """All descendant elements whose name is in ``names`` (document order)."""
        if isinstance(names, str):
            names = (names,)
        names = set(names)
        return [n for n in self.descendants() if isinstance(n, Element) and n.name in names]

    def get_text(self) -> str:
        """Concatenation of all descendant text (comments/doctypes excluded),
        like bs4 Tag.get_text with default string types."""
        parts: List[str] = []
        for node in self.descendants():
            if isinstance(node, Text) and not isinstance(node, (Comment, Doctype)):
                parts.append(str(node))
        return "".join(parts)

    def replace_brs_with_newlines(self) -> None:
        """In-place ``br.replace_with("\\n")`` over the subtree
        (html_reader.py:203-205). Mutates children lists."""
        stack: List[Element] = [self]
        while stack:
            el = stack.pop()
            for i, child in enumerate(el.children):
                if isinstance(child, Element):
                    if child.name == "br":
                        el.children[i] = Text("\n")
                    else:
                        stack.append(child)

    def clone(self) -> "Element":
        """Deep copy (used for merged-cell expansion, html_reader.py:239-254)."""
        copy = Element(self.name, dict(self.attrs))
        for child in self.children:
            if isinstance(child, Element):
                copy.append(child.clone())
            else:
                copy.append(type(child)(child))
        return copy


class _TreeParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack: List[Element] = [self.root]
        # open elements per tag name, so an end tag that matches none is
        # ignored without scanning the stack (unmatched runs stay linear)
        self.open: Dict[str, int] = {}

    # html.parser reports attrs as (name, value|None) pairs; bs4 maps
    # valueless attrs to "" and keeps the last duplicate.
    @staticmethod
    def _attrs(pairs) -> dict:
        return {k: ("" if v is None else v) for k, v in pairs}

    def handle_starttag(self, tag: str, attrs) -> None:
        el = Element(tag, self._attrs(attrs))
        self.stack[-1].append(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)
            self.open[tag] = self.open.get(tag, 0) + 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.stack[-1].append(Element(tag, self._attrs(attrs)))

    def handle_endtag(self, tag: str) -> None:
        # pop to the nearest open tag with this name; ignore if none is open
        if not self.open.get(tag):
            return
        while True:
            name = self.stack.pop().name
            self.open[name] -= 1
            if name == tag:
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].append(Text(data))

    def handle_comment(self, data: str) -> None:
        self.stack[-1].append(Comment(data))

    def handle_decl(self, decl: str) -> None:
        self.stack[-1].append(Doctype(decl))


_META_CHARSET = re.compile(rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I)


def decode_html(data: bytes) -> str:
    """Deterministic byte→str decoding: BOM, then <meta charset>, then
    utf-8, then cp1251 fallback (replaces bs4 UnicodeDammit)."""
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith((b"\xff\xfe", b"\xfe\xff")):
        return data.decode("utf-16", errors="replace")
    m = _META_CHARSET.search(data[:2048])
    if m:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        try:
            return data.decode(enc, errors="replace")
        except LookupError:
            pass
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return data.decode("cp1251", errors="replace")


def parse_html(data: Union[bytes, str]) -> Element:
    """Parse HTML bytes/str into a DOM rooted at a ``[document]`` element."""
    text = decode_html(data) if isinstance(data, bytes) else data
    parser = _TreeParser()
    parser.feed(text)
    parser.close()
    return parser.root
