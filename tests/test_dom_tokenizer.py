"""``dom.parse_html`` against the tree builder it replaced.

``_ReferenceBuilder`` is that builder: CPython 3.11's
``html.parser.HTMLParser(convert_charrefs=True)`` fed the whole text and
closed, driving the same tree rules (void tags, pop to the nearest open
match, unmatched end tags ignored). The in-tree tokenizer must give the
same tree, node for node: kinds, names, attrs in order, and the same
splits of text into ``Text`` nodes (each one becomes its own line). Where
html.parser raises, the same exception and message must come out. The
reference is the running interpreter's html.parser: on a CPython whose
html.parser reads some form differently, these tests fail and show where
the in-tree tokenizer (which keeps 3.11's stream) parts from it.

Only this module imports ``html.parser``; a static check keeps it out of
``dedoc_spark/core/``."""

from __future__ import annotations

import ast
import os
from html.parser import HTMLParser

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dedoc_spark.core.dom import VOID_TAGS, Comment, Doctype, Element, Text, decode_html, parse_html

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _ReferenceBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack = [self.root]
        self.open = {}

    # html.parser reports attrs as (name, value|None) pairs; bs4 maps
    # valueless attrs to "" and keeps the last duplicate.
    @staticmethod
    def _attrs(pairs) -> dict:
        return {k: ("" if v is None else v) for k, v in pairs}

    def handle_starttag(self, tag, attrs) -> None:
        el = Element(tag, self._attrs(attrs))
        self.stack[-1].children.append(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)
            self.open[tag] = self.open.get(tag, 0) + 1

    def handle_startendtag(self, tag, attrs) -> None:
        self.stack[-1].children.append(Element(tag, self._attrs(attrs)))

    def handle_endtag(self, tag) -> None:
        if not self.open.get(tag):
            return
        while True:
            name = self.stack.pop().name
            self.open[name] -= 1
            if name == tag:
                return

    def handle_data(self, data) -> None:
        if data:
            self.stack[-1].children.append(Text(data))

    def handle_comment(self, data) -> None:
        self.stack[-1].children.append(Comment(data))

    def handle_decl(self, decl) -> None:
        self.stack[-1].children.append(Doctype(decl))


def reference_parse(text: str) -> Element:
    parser = _ReferenceBuilder()
    parser.feed(text)
    parser.close()
    return parser.root


def _flat(root: Element) -> list:
    """The tree in pre-order, each element with its child count: equal
    lists mean equal trees."""
    out = []
    stack = [root]
    while stack:
        node = stack.pop()
        if isinstance(node, Element):
            out.append((node.name, list(node.attrs.items()), len(node.children)))
            stack.extend(reversed(node.children))
        else:
            out.append((type(node).__name__, str(node)))
    return out


def _outcome(parse, text: str):
    try:
        return _flat(parse(text))
    except Exception as e:  # html.parser raises AssertionError on some <![ forms
        return (type(e).__name__, str(e))


def assert_same_tree(text: str) -> None:
    assert _outcome(parse_html, text) == _outcome(reference_parse, text), repr(text)


def test_tables_are_recorded_in_document_order():
    html = "<table id=1><tr><td><table id=2></table></td></tr></table><div><TABLE id='3'/></div>"
    root = parse_html(html)
    assert [t.attrs["id"] for t in root.tables] == ["1", "2", "3"]
    assert root.tables == root.find_all("table")


# --- hand-picked forms -------------------------------------------------------

CASES = [
    "",
    "plain text",
    "a < b > c",
    "<",
    "x<",
    "<<<",
    "a&amp;b &lt &notit; &#1; &#x41 &#; &",
    "&#1;",
    "<div class='a' CLASS=\"b\" id=c data-x x=>t</DIV>",
    "<br/><br /><img src=x/><p/>text<a b=c/>",
    "<a href='x>y'>q</a><a href=\"unclosed>z",
    "<div\x00x>t</div>",
    "<a b='c'd e\"f\"=g>h</a>",
    "<a =b>c</a><a ==b>c</a>",
    "</>a</ div></3></ 3></a b='>'>",
    "</div",
    "<!-- c -->x<!---->y<!--->z<!-- a --!> b -->",
    "<!--unterminated",
    "<!--unterminated > then",
    "<!DOCTYPE html><!doctype x><!DoCtYpE><!x y><!>",
    "<!doctype html",
    "<!",
    "<!-",
    "<![CDATA[x]]>a<![if IE]>b<![endif]>c",
    "<![CDATA[x",
    "<![",
    "<![ x]>",
    "<![foo[ x ]]>",
    "<?xml version='1.0'?>a<?pi",
    "<script>if (a<b && c>d) {}</script>after",
    "<SCRIPT>x</script ><style>y</STYLE>z",
    "<script>never closed <b>",
    "<script/>still text<script>a</scriptx>b</script>",
    "<style>a</style><script></script>",
    "<p>a\r\nb\rc\n</p>",
    "<div a='\ud800'>\ud800\x00</div>",
    "<a\tb\nc\rd\fe>x</a>",
    "<div/x>y</div><div/ x=1>",
    "<div x='1'/ >y",
    "<a b",
    "<a b=",
    "<a b='",
    "<a/",
    "<a",
    "<b>" * 5 + "</i>" * 5,
    "<table><tr><td>1</td><td>2</td></tr></table>",
    "<ul><li>one<li>two</ul>",
]


@pytest.mark.parametrize("text", CASES)
def test_hand_picked_forms_match_html_parser(text):
    assert_same_tree(text)


# --- generated hostile HTML --------------------------------------------------

_NAMES = st.sampled_from(
    ["div", "DiV", "p", "b", "I", "script", "SCRIPT", "style", "table", "td", "tr", "br", "li",
     "ol", "a", "x-y", "svg:rect", "h1", "spän"]
)
_CHARS = st.sampled_from(list("<>&;#x/=\"' \t\r\n\x00\ud800\ud83d-!?[]aZ9éИ"))
_TEXT = st.lists(_CHARS, max_size=8).map("".join)
_VALUE = st.one_of(
    _TEXT.map(lambda s: "'" + s.replace("'", "") + "'"),
    _TEXT.map(lambda s: '"' + s.replace('"', "") + '"'),
    _TEXT,
    st.sampled_from(["'unbalanced", '"unbalanced', "a&amp;b", "&#x41", "&lt", "x>y"]),
)
_ATTR = st.tuples(
    st.sampled_from([" ", "  ", "\n", "/", " / "]),
    st.one_of(st.sampled_from(["id", "CLASS", "href", "style", "data-x", "colspan", "border"]), _TEXT),
    st.one_of(st.just(""), _VALUE.map(lambda v: "=" + v), _VALUE.map(lambda v: " = " + v)),
).map("".join)
_START = st.tuples(
    _NAMES, st.lists(_ATTR, max_size=3).map("".join), st.sampled_from([">", "/>", " >", "", " /", "/"])
).map(lambda t: "<" + "".join(t))
_END = st.one_of(
    _NAMES.map(lambda n: "</" + n + ">"),
    st.tuples(_NAMES, _TEXT).map(lambda t: "</" + t[0] + " " + t[1] + ">"),
    st.sampled_from(["</>", "</ div>", "</3>", "</", "</ ", "</div", "</script >", "</STYLE>"]),
)
_MARKUP = st.sampled_from(
    ["<!--", "-->", "<!---->", "<!-- x --!>", "--!>", "<!DOCTYPE html>", "<!doctype", "<!x>", "<!",
     "<![CDATA[x]]>", "<![if IE]>", "<![endif]>", "<![cdata[", "<![ x", "<![foo[", "]]>", "<?xml ?>",
     "<?", "<", "<<", "< ", "<3", "&amp;", "&amp", "&#", "&#x", "&#1;", "&#x41", "&lt", "&notit;", "&",
     "&#128512;", "&#xD800;", "\r\n", "\r", "\x00"]
)
_DOCUMENT = st.lists(st.one_of(_START, _END, _MARKUP, _TEXT), max_size=12).map("".join)


@given(_DOCUMENT)
@settings(max_examples=400, deadline=None)
def test_generated_hostile_html_matches_html_parser(text):
    assert_same_tree(text)


@given(st.text(max_size=40))
@settings(max_examples=150, deadline=None)
def test_arbitrary_text_matches_html_parser(text):
    assert_same_tree(text)


# --- real inputs -------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_every_web_pages_row_matches_html_parser(seed):
    from dedoc_spark.sources import web_pages

    seen = 0
    for row in web_pages.generate_rows(1600, seed):  # perfbench's web_pages table
        if row["html"] is not None:
            assert_same_tree(decode_html(row["html"]))
            seen += 1
    assert seen > 1000


def test_dispatch_golden_html_inputs_match_html_parser():
    import email

    from test_dispatch_golden import EML, MHTML, _cases

    texts = [decode_html(html) for name, _, html, _ in _cases() if name.startswith("html/") and html]
    for raw in (EML, MHTML):
        for part in email.message_from_bytes(raw).walk():
            if part.get_content_type() == "text/html":
                texts.append(part.get_payload(decode=True).decode("utf-8"))
    assert len(texts) == 6
    for text in texts:
        assert_same_tree(text)


def test_core_does_not_import_html_parser():
    """The tokenizer is in-tree: no engine module reads html.parser."""
    offenders = []
    for dirpath, _, files in os.walk(os.path.join(ROOT, "dedoc_spark", "core")):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                names = []
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.module:
                    names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
                if any(n == "html.parser" or n.startswith("html.parser.") or n == "_markupbase" for n in names):
                    offenders.append(os.path.relpath(path, ROOT))
    assert offenders == []
