"""HTML extraction semantics tests, modeled on the reference suites
tests/api_tests/test_api_format_html.py and the HTML reader unit behavior.
Fixtures are synthesized per FIXTURES.md §2 (same structural shape as the
reference corpus, no copied files)."""

import json

import pytest

from dedoc_spark.core.document import extract_html_document
from dedoc_spark.core.html_extract import HtmlExtractor
from dedoc_spark.core.dom import Text, parse_html
from dedoc_spark.core.limits import MAX_HTML_DEPTH, ResourceLimit


def tree_of(doc):
    return json.loads(doc["tree_json"])


def by_path(tree, path):
    """Address a node by dotted path like the reference _get_by_tree_path."""
    node = tree
    assert tree["node_id"] == "0"
    for idx in path.split(".")[1:]:
        node = node["subparagraphs"][int(idx)]
    return node


STRUCTURED_DOC = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>x</title>
<script>var ignored = 1;</script><style>.c { color: red }</style></head>
<body>
<!-- a comment to drop -->
<h1>Пример документа</h1>
<h2>Глава 1</h2>
<p>Какие то определения</p>
<h3>Статья 1</h3>
<p> <b>Определим определения</b>  <i>Текст статьи</i> <u>тут</u> и <b>здесь</b>.</p>
<h3>Статья 2</h3>
<p>Дадим пояснения</p>
<p>1.2.1.  <b>Поясним</b> за <b>непонятное</b></p>
<p>1.2.2. Поясним за понятное</p>
<p>а) подпункт а</p>
<p>б) подпункт б</p>
</body></html>"""


def test_structured_doc_tree():
    doc = extract_html_document("https://t.example/structured", STRUCTURED_DOC.encode())
    tree = tree_of(doc)

    assert by_path(tree, "0")["metadata"]["paragraph_type"] == "root"
    node = by_path(tree, "0.0")
    assert node["metadata"]["paragraph_type"] == "header"
    assert node["text"].strip() == "Пример документа"
    assert by_path(tree, "0.0.0")["text"].strip() == "Глава 1"
    assert by_path(tree, "0.0.0.0")["metadata"]["paragraph_type"] == "raw_text"
    assert by_path(tree, "0.0.0.0")["text"].strip() == "Какие то определения"
    assert by_path(tree, "0.0.0.1")["text"].strip() == "Статья 1"

    body = by_path(tree, "0.0.0.1.0")
    assert body["metadata"]["paragraph_type"] == "raw_text"
    # bold span covers "Определим определения" (starts at offset 1: leading space)
    assert {"start": 1, "end": 22, "name": "bold", "value": "True"} in body["annotations"]
    ital = [a for a in body["annotations"] if a["name"] == "italic"]
    assert len(ital) == 1
    assert body["text"][ital[0]["start"] : ital[0]["end"]] == "Текст статьи"

    # dotted list items under a synthetic "list" node
    lst = by_path(tree, "0.0.0.2.1")
    assert lst["metadata"]["paragraph_type"] == "list"
    assert lst["text"] == ""
    item = by_path(tree, "0.0.0.2.1.0")
    assert item["metadata"]["paragraph_type"] == "list_item"
    assert item["text"].startswith("1.2.1.")
    bold = sorted(
        (a for a in item["annotations"] if a["name"] == "bold"), key=lambda a: a["start"]
    )
    assert item["text"][bold[0]["start"] : bold[0]["end"]].strip() == "Поясним"
    assert item["text"][bold[1]["start"] : bold[1]["end"]].strip() == "непонятное"

    item2 = by_path(tree, "0.0.0.2.1.1")
    assert item2["text"].startswith("1.2.2.")

    # letter items (а), б)) are (5, 1) → nested under the last dotted item
    letter_list = by_path(tree, "0.0.0.2.1.1.0")
    assert letter_list["metadata"]["paragraph_type"] == "list"
    assert by_path(tree, "0.0.0.2.1.1.0.0")["text"].startswith("а)")
    assert by_path(tree, "0.0.0.2.1.1.0.1")["text"].startswith("б)")


def test_boilerplate_stripped():
    html = """<html><head><script>nav()</script><style>body{}</style></head>
    <body><nav>home | about</nav>
    <article><p>real content here</p></article>
    <footer>(c) 2026</footer>
    <!-- comment --><script>track()</script></body></html>"""
    doc = extract_html_document("https://t.example/boiler", html.encode())
    assert "real content here" in doc["text_extracted"]
    assert "nav()" not in doc["text_extracted"]
    assert "track()" not in doc["text_extracted"]
    assert "body{}" not in doc["text_extracted"]
    assert "comment" not in doc["text_extracted"]
    # nav/footer are block tags — their text is kept (boilerplate scoring is
    # a downstream op), but service tags are gone
    assert "home | about" in doc["text_linear"]


def test_list_markers_ol_types():
    html = (
        "<body><ol>"
        + "".join(f"<li>item {i}</li>" for i in range(3))
        + "</ol><ol type='a'><li>x</li><li>y</li></ol>"
        + "<ol type='A'><li>z</li></ol>"
        + "<ul><li>u1</li><li>u2</li></ul></body>"
    )
    doc = extract_html_document("https://t.example/lists", html.encode())
    lines = json.loads(doc["lines_json"])
    texts = [ln["line"] for ln in lines]
    assert texts[0].startswith("1. item 0")
    assert texts[1].startswith("2. item 1")
    assert texts[2].startswith("3. item 2")
    assert texts[3].startswith("a) x")
    assert texts[4].startswith("b) y")
    assert texts[5].startswith("A) z")
    # ul items have empty marker prefix
    assert texts[6].startswith("u1")
    assert texts[7].startswith("u2")


def test_list_marker_alphabetic_carry():
    # index >= 26 → base-26 carry: 26 → "aa)" (html_reader.py:147-155)
    html = "<body><ol type='a'>" + "".join(f"<li>i{i}</li>" for i in range(28)) + "</ol></body>"
    doc = extract_html_document("https://t.example/carry", html.encode())
    lines = json.loads(doc["lines_json"])
    assert lines[25]["line"].startswith("z) i25")
    assert lines[26]["line"].startswith("aa) i26")
    assert lines[27]["line"].startswith("ab) i27")


def test_nested_list_level_bump():
    html = "<body><ol><li>top<ol><li>nested</li></ol></li></ol></body>"
    doc = extract_html_document("https://t.example/nested", html.encode())
    lines = json.loads(doc["lines_json"])
    top = next(ln for ln in lines if "top" in ln["line"])
    nested = next(ln for ln in lines if "nested" in ln["line"])
    assert top["tag_hl"]["level_1"] == 2
    assert nested["tag_hl"]["level_1"] == 4  # bumped += 2 (html_reader.py:197)


def test_visible_table_rowspan_colspan_expansion():
    html = """<body><table border="1">
    <tr><td rowspan="2">A</td><td>B</td><td>C</td></tr>
    <tr><td colspan="2">D</td></tr>
    </table></body>"""
    doc = extract_html_document("https://t.example/table", html.encode())
    tables = json.loads(doc["tables_json"])
    assert len(tables) == 1
    cells = tables[0]["cells"]
    assert len(cells) == 2 and len(cells[0]) == 3 and len(cells[1]) == 3
    # merged A covers slot (1,0) with an invisible clone
    assert cells[1][0]["invisible"] is True
    assert cells[1][0]["lines"][0]["line"] == "A"
    assert cells[0][0]["rowspan"] == 2 and cells[0][0]["invisible"] is False
    # D spans two columns; the clone is inserted at the DOM cell index + 1,
    # which lands *before* the original because A's rowspan clone already
    # shifted the row (reference quirk, html_reader.py:256-267)
    assert cells[1][1]["lines"][0]["line"] == "D"
    assert cells[1][1]["invisible"] is True
    assert cells[1][2]["lines"][0]["line"] == "D"
    assert cells[1][2]["invisible"] is False and cells[1][2]["colspan"] == 2
    # visible table does not contribute body lines
    assert "A" not in doc["text_linear"]


def test_invisible_table_flattened_to_lines():
    html = """<body><table><tr><td>k1</td><td>v1</td></tr>
    <tr><td>k2</td><td>v2</td></tr></table></body>"""
    doc = extract_html_document("https://t.example/invtable", html.encode())
    assert json.loads(doc["tables_json"]) == []
    assert "k1\tv1" in doc["text_linear"]
    assert "k2\tv2" in doc["text_linear"]


def test_table_visible_via_td_border_style():
    html = """<body><table><tr>
    <td style="border-bottom-style:solid">a</td><td>b</td></tr></table></body>"""
    doc = extract_html_document("https://t.example/styletable", html.encode())
    assert len(json.loads(doc["tables_json"])) == 1


def test_br_and_nbsp_postprocess():
    html = "<body><p>one<br>two</p><p>a&nbsp;b</p></body>"
    doc = extract_html_document("https://t.example/special", html.encode())
    lines = json.loads(doc["lines_json"])
    assert lines[0]["line"] == "one\ntwo\n"
    assert lines[1]["line"] == "a b\n"  # \xa0 → space


def test_trailing_newline_before_paragraph():
    html = "<body><span>lead</span><p>para</p></body>"
    doc = extract_html_document("https://t.example/nl", html.encode())
    lines = json.loads(doc["lines_json"])
    assert lines[0]["line"] == "lead\n"  # next html_tag is "p" ∈ paragraphs


def test_css_style_annotations():
    html = (
        '<body><p style="font-size:12pt;font-weight:bold;text-align:center">t1</p>'
        '<p style="font-size:16px">t2</p>'
        '<p style="font-family:Arial">t3</p>'
        '<p style="display:none">t4</p></body>'
    )
    doc = extract_html_document("https://t.example/styles", html.encode())
    lines = json.loads(doc["lines_json"])
    a0 = {(a["name"], a["value"]) for a in lines[0]["annotations"]}
    assert ("size", "12") in a0
    assert ("bold", "True") in a0
    assert ("alignment", "center") in a0
    a1 = {(a["name"], a["value"]) for a in lines[1]["annotations"]}
    assert ("size", str(16 / 0.75)) in a1
    a2 = {(a["name"], a["value"]) for a in lines[2]["annotations"]}
    assert ("style", "Arial") in a2
    a3 = {(a["name"], a["value"]) for a in lines[3]["annotations"]}
    assert ("style", "hidden") in a3


def test_linked_text_annotation():
    html = '<body><p>see <a href="https://ref.example">the docs</a> now</p></body>'
    doc = extract_html_document("https://t.example/link", html.encode())
    lines = json.loads(doc["lines_json"])
    link = [a for a in lines[0]["annotations"] if a["name"] == "linked_text"]
    assert len(link) == 1
    assert link[0]["value"] == "https://ref.example"
    assert lines[0]["line"][link[0]["start"] : link[0]["end"]] == "the docs"


def test_encoding_variants_identical():
    body = "<html><head><meta charset='{enc}'></head><body><h1>Заголовок</h1><p>Текст абзаца</p></body></html>"
    utf8 = body.format(enc="utf-8").encode("utf-8")
    cp1251 = body.format(enc="cp1251").encode("cp1251")
    koi8 = body.format(enc="koi8-r").encode("koi8-r")
    out = [
        extract_html_document("https://t.example/enc", b)["text_extracted"]
        for b in (utf8, cp1251, koi8)
    ]
    assert out[0] == out[1] == out[2]
    assert "Заголовок" in out[0]


def test_uid_determinism():
    doc1 = extract_html_document("https://t.example/u", STRUCTURED_DOC.encode())
    doc2 = extract_html_document("https://t.example/u", STRUCTURED_DOC.encode())
    assert doc1["lines_json"] == doc2["lines_json"]
    uids = [ln["uid"] for ln in json.loads(doc1["lines_json"])]
    assert len(set(uids)) == len(uids)  # unique
    # different url → different uids
    doc3 = extract_html_document("https://t.example/other", STRUCTURED_DOC.encode())
    uids3 = [ln["uid"] for ln in json.loads(doc3["lines_json"])]
    assert set(uids).isdisjoint(uids3)


def test_plain_fragment_tolerated():
    doc = extract_html_document("https://t.example/frag", b"just some text, no tags")
    assert doc["error"] is None
    assert "just some text" in doc["text_linear"]


def test_hostile_html_no_crash():
    hostile = b"<div><div><p>unclosed <b>bold <table border='1'><tr><td colspan='999' rowspan='999'>x"
    doc = extract_html_document("https://t.example/hostile", hostile)
    assert doc["error"] is None


def test_header_tag_hierarchy():
    html = "<body><h1>a</h1><h2>b</h2><h6>c</h6></body>"
    doc = extract_html_document("https://t.example/h", html.encode())
    lines = json.loads(doc["lines_json"])
    assert [ln["tag_hl"]["level_2"] for ln in lines] == [1, 2, 6]
    assert all(ln["tag_hl"]["line_type"] == "header" for ln in lines)
    # structure extractor: header → hl (1, n)
    assert [ln["hl"]["level_2"] for ln in lines] == [1, 2, 6]


def test_dom_end_tag_mismatch_ignored():
    root = parse_html("<div><p>a</p></b></div><p>tail</p>")
    names = [getattr(n, "name", None) for n in root.children]
    assert names == ["div", "p"]


def test_unmatched_end_tags_parse_in_linear_time():
    """2,000 open ``<b>`` then ``</i>``×n: no end tag matches an open
    element, so each one must be ignored in O(1), not after a scan of the
    open stack (that scan made 54 KB take seconds when the stack could be
    as deep as the input). Doubling n may at most 2.5× the time, and
    building the whole tree may take no longer than stdlib html.parser
    takes just to tokenize the same text. The four
    timings take turns, so a slow spell of a shared host hits them all
    alike; each is the best of 9, with the cyclic GC off (a full
    collection's cost depends on the whole process's heap) and the tree
    freed outside the timed call."""
    import gc
    import time
    from html.parser import HTMLParser

    def tokenize(doc):
        parser = HTMLParser()
        parser.feed(doc)
        parser.close()
        return parser

    docs = ["<b>" * 2000 + "</i>" * n for n in (7000, 14000, 28000)]  # 34, 62, 118 KB
    runs = [(parse_html, doc) for doc in docs] + [(tokenize, docs[-1])]
    best = [float("inf")] * len(runs)
    gc.disable()
    try:
        for _ in range(9):
            for k, (fn, doc) in enumerate(runs):
                t0 = time.perf_counter()
                out = fn(doc)
                best[k] = min(best[k], time.perf_counter() - t0)
                del out
    finally:
        gc.enable()
    times, stdlib = best[:3], best[3]
    for small, big in zip(times, times[1:]):
        assert big <= 2.5 * small, best
    assert times[-1] <= stdlib, best
    # the ignored end tags leave the n nested <b> in place
    node, depth = parse_html(docs[0]), 0
    while node.children:
        (node,) = node.children
        depth += 1
    assert depth == 2000 and node.name == "b"


def test_nesting_past_the_depth_limit_stops_the_parse():
    """MAX_HTML_DEPTH elements may be open at once; the next start tag
    stops the parse. Void, self-closed and closed elements do not count."""
    node, depth = parse_html("<div>" * MAX_HTML_DEPTH + "x"), 0
    while node.children[0].__class__ is not Text:
        (node,) = node.children
        depth += 1
    assert depth == MAX_HTML_DEPTH
    for html in ("<div>" * (MAX_HTML_DEPTH + 1), "<b>" * 16000 + "</i>" * 16000):
        with pytest.raises(ResourceLimit, match="^resource_limit:depth$"):
            parse_html(html)
    parse_html("<div>" * (MAX_HTML_DEPTH - 1) + "<br><img/><b></b><script>s</script>" * 5000)
