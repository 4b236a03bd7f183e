"""Minimal HTML DOM with its own tokenizer.

The reference parses HTML with BeautifulSoup's "html.parser" builder
(html_reader.py:35). This module rebuilds just the tree behaviors the
extraction semantics depend on, without any third-party dependency:

  - node kinds: Element, Text, Comment, Doctype (the latter three are str
    subclasses, like bs4 NavigableString/Comment/Doctype, so the reader's
    ``isinstance(node, str)`` dispatch shape carries over);
  - void ("empty element") tags close immediately even without ``/>``;
  - an end tag pops the stack to the nearest matching open tag and is
    ignored when no such tag is open (bs4 _popToTag semantics);
  - no implied <html>/<body> insertion and no implied end tags for
    <li>/<p> (the html.parser builder does none of that — unlike lxml).

The tokens are the ones CPython 3.11's ``html.parser.HTMLParser`` reports
with ``convert_charrefs=True`` after ``feed(text); close()``. One compiled
master regex (``_TOKEN``) reads text runs, complete start tags, plain end
tags and comments; ``_markup`` reads every other form at a ``<`` the way
html.parser's ``goahead(1)`` does. The comments at each branch name the
rule they reproduce. tests/test_dom_tokenizer.py keeps an HTMLParser-based
builder as the reference and compares trees on generated hostile HTML.

Also provides deterministic byte→str decoding (BOM, <meta charset>,
utf-8 with cp1251 fallback) replacing bs4's UnicodeDammit.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Dict, List, Optional, Tuple, Union

from dedoc_spark.core.limits import MAX_HTML_DEPTH, MAX_TABLE_DEPTH, ResourceLimit

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

    __slots__ = ()
    name: Optional[str] = None


class Comment(Text):
    __slots__ = ()


class Doctype(Text):
    __slots__ = ()


Node = Union["Element", Text]


class Element:
    """Element node with ordered children and an attrs dict."""

    __slots__ = ("name", "attrs", "children", "hidden")

    def __init__(self, name: str, attrs: Optional[dict] = None) -> None:
        self.name = name
        self.attrs = {} if attrs is None else attrs
        self.children: List[Node] = []
        self.hidden = False  # set on cloned merged-table cells

    def __repr__(self) -> str:
        return f"<{self.name} {self.attrs}>"

    def find_all(self, names) -> List["Element"]:
        """All descendant elements whose name is in ``names`` (document order)."""
        if isinstance(names, str):
            names = (names,)
        found = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is not Element:
                continue
            if node.name in names:
                found.append(node)
            stack.extend(node.children[::-1])
        return found

    def clone(self) -> "Element":
        """Deep copy (used for merged-cell expansion, html_reader.py:239-254),
        with an explicit stack so any depth copies."""
        copy = Element(self.name, dict(self.attrs))
        stack = [(self, copy)]
        while stack:
            source, target = stack.pop()
            for child in source.children:
                if isinstance(child, Element):
                    twin = Element(child.name, dict(child.attrs))
                    stack.append((child, twin))
                else:
                    twin = type(child)(child)
                target.children.append(twin)
        return copy


class Document(Element):
    """The ``[document]`` root of a parse. ``tables`` holds its <table>
    elements in document order, recorded while the tree is built."""

    __slots__ = ("tables",)

    def __init__(self) -> None:
        super().__init__("[document]")
        self.tables: List[Element] = []


# --- tokenizer ---------------------------------------------------------------
#
# The patterns are html.parser's (CPython 3.11): tagfind_tolerant,
# attrfind_tolerant, locatestarttagend_tolerant, endtagfind, commentclose
# and _markupbase's declname and marked-section closes.

_TAG_NAME = r"[a-zA-Z][^\t\n\r\f />\x00]*"
_ATTR = (
    r"""(?<=['"\s/])[^\s/>][^\s/=>]*"""
    r"""(?:\s*=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*)\s*)?(?:\s|/(?!>))*"""
)
# locatestarttagend_tolerant as an atomic group: the tag ends exactly where
# that pattern's .match() stops, and only then is the next character read
_START = r"<(?>(" + _TAG_NAME + r")((?:[\s/]*(?:" + _ATTR + r")*)?\s*))"

# group numbers double as token kinds (Match.lastindex of each alternative)
_DATA, _START_TAG, _END_TAG, _COMMENT, _DECL, _NOTHING = 1, 4, 5, 6, 7, 0
_TOKEN = re.compile(
    r"([^<]+)"  # 1: a text run, up to the next '<'
    r"|" + _START + r"(/?>)"  # 2: name, 3: attribute text, 4: '>' or '/>'
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"  # 5: an end tag as endtagfind reads it
    r"|<!--(.*?)--\s*>"  # 6: a comment
    r"|<",  # any other '<': _markup
    re.S,
)
_LOCATE = re.compile(_START)
_TAGFIND = re.compile(r"(" + _TAG_NAME + r")(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"""((?<=['"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*))?(?:\s|/(?!>))*"""
)
# raw-text elements: their content runs to the first matching end tag
_RAW_TEXT_END = {
    name: re.compile(r"</\s*%s\s*>" % name, re.I) for name in ("script", "style")
}
_DECL_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTION_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_SECTION_CLOSE = re.compile(r"]\s*>")
_ASCII_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
# check_for_whole_start_tag: a tag followed by one of these (or by the end
# of the input) is unterminated
_UNTERMINATED_AFTER_TAG = _ASCII_LETTERS + "=/"


def _start_tag(text: str, i: int, endpos: int) -> Tuple[int, int, object]:
    """parse_starttag for the tag text[i:endpos]: ``(endpos, _START_TAG,
    (name, attrs, self_closing))``, or ``(endpos, _DATA, raw tag text)``
    when what follows the attributes is not ``>`` or ``/>``. Attribute
    names are lower-cased, values unquoted and unescaped, a valueless
    attribute is "" and the last duplicate wins."""
    m = _TAGFIND.match(text, i + 1)
    name = m.group(1).lower()
    k = m.end()
    attrs: Dict[str, str] = {}
    while k < endpos:
        m = _ATTRFIND.match(text, k)
        if not m:
            break
        attr, rest, value = m.group(1, 2, 3)
        if not rest:
            value = ""
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = unescape(value)
        attrs[attr.lower()] = value
        k = m.end()
    end = text[k:endpos].strip()
    if end == ">":
        return endpos, _START_TAG, (name, attrs, False)
    if end == "/>":
        return endpos, _START_TAG, (name, attrs, True)
    return endpos, _DATA, text[i:endpos]


def _marked_section(text: str, i: int) -> int:
    """parse_marked_section for ``<![`` at i: the end of the (dropped)
    section, or -1 when it is unterminated. Raises AssertionError where
    html.parser does: no name token, or an unknown status keyword."""
    j = i + 3
    if j == len(text):
        return -1
    m = _DECL_NAME.match(text, j)
    if m is None:
        raise AssertionError("expected name token at %r" % text[i : i + 20])
    if m.end() == len(text):
        return -1
    keyword = m.group().strip().lower()
    if keyword in ("temp", "cdata", "ignore", "include", "rcdata"):
        close = _MARKED_SECTION_CLOSE.search(text, j)
    elif keyword in ("if", "else", "endif"):
        close = _MS_MARKED_SECTION_CLOSE.search(text, j)
    else:
        raise AssertionError("unknown status keyword %r in marked section" % text[j : m.end()])
    return close.end() if close else -1


def _markup(text: str, i: int) -> Tuple[int, int, object]:
    """The token at the '<' text[i] that ``_TOKEN`` leaves to code:
    ``(end, kind, value)`` as html.parser's goahead(1) reads it."""
    c = text[i + 1 : i + 2]
    if c and c in _ASCII_LETTERS:  # a start tag without its '>' or '/>'
        j = _LOCATE.match(text, i).end()
        if text[j : j + 1] not in _UNTERMINATED_AFTER_TAG:  # '' is in any str
            return _start_tag(text, i, j)
    elif c == "/":  # parse_endtag, where endtagfind did not match
        gt = text.find(">", i + 2)
        if gt >= 0:
            m = _TAGFIND.match(text, i + 2)
            if m is not None:  # consume and ignore anything up to the '>'
                return text.find(">", m.end()) + 1, _END_TAG, m.group(1).lower()
            if text.startswith("</>", i):
                return i + 3, _NOTHING, None
            return gt + 1, _COMMENT, text[i + 2 : gt]  # bogus comment
    elif text.startswith("<!--", i):
        pass  # a comment without its close: unterminated
    elif c == "?":  # processing instruction, dropped
        gt = text.find(">", i + 2)
        if gt >= 0:
            return gt + 1, _NOTHING, None
    elif c == "!":  # parse_html_declaration
        if text.startswith("<![", i):
            k = _marked_section(text, i)
            if k >= 0:
                return k, _NOTHING, None
        elif text[i : i + 9].lower() == "<!doctype":
            gt = text.find(">", i + 9)
            if gt >= 0:
                return gt + 1, _DECL, text[i + 2 : gt]
        else:
            gt = text.find(">", i + 2)
            if gt >= 0:
                return gt + 1, _COMMENT, text[i + 2 : gt]  # bogus comment
    else:  # '<' before anything else, or at the end: text of its own
        return i + 1, _DATA, "<"
    # unterminated at the end of the input: text up to the next '>' (kept)
    # or else up to the next '<'
    k = text.find(">", i + 1)
    if k < 0:
        k = text.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    return k, _DATA, unescape(text[i:k])


def parse_html(data: Union[bytes, str]) -> Document:
    """Parse HTML bytes/str into a DOM rooted at a ``[document]`` element.
    Raises ResourceLimit("depth") once more than MAX_HTML_DEPTH elements,
    or more than MAX_TABLE_DEPTH tables, are open at once."""
    text = decode_html(data) if isinstance(data, bytes) else data
    root = Document()
    tables = root.tables
    stack: List[Element] = [root]
    kids = root.children  # children of the innermost open element
    # open elements per tag name, so an end tag that matches none is
    # ignored without scanning the stack (unmatched runs stay linear)
    open_count: Dict[str, int] = {}
    tokens = _TOKEN.finditer
    pos, n = 0, len(text)
    # one scan, restarted at pos when a token ends elsewhere than its match
    # does: after raw text, or a form _markup reads past its '<'
    while pos < n:
        for m in tokens(text, pos):
            kind = m.lastindex
            if kind == _DATA:
                run = m.group(1)
                if "&" in run:
                    run = unescape(run)  # may be "": &#1; and other invalid code points
                if run:
                    kids.append(Text(run))
                continue
            pos = 0
            if kind == _START_TAG:
                if m.group(3):
                    _, kind, value = _start_tag(text, m.start(), m.end())
                else:
                    value = (m.group(2).lower(), {}, False)
            elif kind == _END_TAG:
                value = m.group(5).lower()
            elif kind == _COMMENT:
                value = m.group(6)
            else:
                pos, kind, value = _markup(text, m.start())
                if pos == m.end():
                    pos = 0

            if kind == _START_TAG:
                name, attrs, self_closing = value
                el = Element(name, attrs)
                kids.append(el)
                if name == "table":
                    tables.append(el)
                if not self_closing and name not in VOID_TAGS:
                    if len(stack) > MAX_HTML_DEPTH or (name == "table" and open_count.get(name, 0) >= MAX_TABLE_DEPTH):
                        raise ResourceLimit("depth")
                    stack.append(el)
                    kids = el.children
                    open_count[name] = open_count.get(name, 0) + 1
                    raw_end = _RAW_TEXT_END.get(name)
                    if raw_end is not None:
                        start = pos or m.end()
                        end = raw_end.search(text, start)
                        if end is None:  # unterminated: html.parser drops the rest
                            return root
                        if end.start() > start:
                            kids.append(Text(text[start : end.start()]))
                        pos = end.end()
                        kind, value = _END_TAG, name
            if kind == _END_TAG:
                # pop to the nearest open tag with this name; ignore if none is open
                if open_count.get(value):
                    while True:
                        name = stack.pop().name
                        open_count[name] -= 1
                        if name == value:
                            break
                    kids = stack[-1].children
            elif kind == _DATA:
                if value:
                    kids.append(Text(value))
            elif kind == _COMMENT:
                kids.append(Comment(value))
            elif kind == _DECL:
                kids.append(Doctype(value))
            if pos:
                break
        else:
            break
    return root


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
