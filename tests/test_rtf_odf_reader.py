"""Native RTF and OpenDocument readers (the reference converts both via
soffice; these parse the open formats directly)."""

import gc
import re
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from dedoc_spark.core import rtf_extract
from dedoc_spark.core.document import extract_document
from dedoc_spark.core.odf_extract import extract_odp, extract_ods, extract_odt
from dedoc_spark.core.rtf_extract import extract_rtf_text
from dedoc_spark.sources.office_fixture import build_odp, build_ods, build_odt

RTF = (
    "{\\rtf1\\ansi\\ansicpg1251{\\fonttbl{\\f0 Arial;}}{\\stylesheet{\\s1 Head;}}"
    "First paragraph \\b bold run\\b0  after\\par "
    "\\'cf\\'f0\\'e8\\'e2\\'e5\\'f2 codepage\\par "
    "\\u1070?\\u1085?\\u1080? unicode\\line next line\\par "
    "{\\*\\unknowndest hidden stuff}visible\\par}"
).encode("latin-1")


def test_rtf_control_words_and_encodings():
    lines, warnings = extract_rtf_text(RTF)
    assert lines[0] == "First paragraph bold run after"
    assert lines[1] == "Привет codepage"  # ansicpg1251 hex escapes
    assert lines[2] == "Юни unicode"  # \uN with \uc1 fallback skipping
    assert lines[3] == "next line"  # \line
    assert lines[4] == "visible"  # \* destination group skipped
    assert not any("hidden" in ln for ln in lines)
    assert not any("Arial" in ln or "Head" in ln for ln in lines)


def test_rtf_full_pipeline():
    d = extract_document("https://x/r.rtf", RTF, None)
    assert d["error"] is None
    assert "Привет codepage" in d["text_extracted"]
    assert any("natively" in w for w in d["warnings"])


def test_odt_structure():
    odt = build_odt([("h", 1, "Chapter"), ("p", "Body text"), ("h", 2, "Sub"),
                     ("list", ["item one", "item two"])])
    lines, tables, _ = extract_odt(odt, "h")
    assert [(l.line, l.tag_hl.line_type if l.tag_hl else None) for l in lines] == [
        ("Chapter", "header"), ("Body text", "unknown"), ("Sub", "header"),
        ("item one", "list_item"), ("item two", "list_item"),
    ]
    assert (lines[0].tag_hl.level_1, lines[0].tag_hl.level_2) == (1, 1)
    assert (lines[2].tag_hl.level_1, lines[2].tag_hl.level_2) == (1, 2)
    # full pipeline builds a tree with the header as a node
    d = extract_document("https://x/d.odt", odt, None)
    assert d["error"] is None and "Chapter" in d["text_extracted"]


def test_ods_tables():
    ods = build_ods([[["id", "v"], ["1", "x"]], [["only", "second"]]])
    tables, _ = extract_ods(ods, "h")
    assert len(tables) == 2
    assert [[c.get_text() for c in r] for r in tables[0].cells] == [["id", "v"], ["1", "x"]]
    d = extract_document("https://x/d.ods", ods, None)
    assert d["error"] is None and d["n_tables"] == 2


def test_odp_slides():
    odp = build_odp([["Title slide", "body line"], ["Second title"]])
    lines, _, _ = extract_odp(odp, "h")
    assert [(l.line, l.page_id, l.tag_hl.line_type if l.tag_hl else None) for l in lines] == [
        ("Title slide", 0, "header"),
        ("body line", 0, "unknown"),
        ("Second title", 1, "header"),
    ]
    d = extract_document("https://x/d.odp", odp, None)
    assert d["error"] is None and "Second title" in d["text_extracted"]


def test_odt_span_style_annotations():
    """text:span style refs resolve through automatic-styles into
    bold/italic/underlined annotations at exact span offsets."""
    odt = build_odt([
        ("raw", '<text:p>plain <text:span text:style-name="B1">bold part</text:span>'
                ' then <text:span text:style-name="I1">both</text:span></text:p>'),
    ])
    lines, _, _ = extract_odt(odt, "h")
    assert lines[0].line == "plain bold part then both"
    anns = {(a.name): (a.start, a.end) for a in lines[0].annotations}
    assert anns["bold"] == (6, 15)
    assert lines[0].line[6:15] == "bold part"
    assert anns["italic"] == (21, 25) and anns["underlined"] == (21, 25)
    assert lines[0].line[21:25] == "both"


# --- the run decoder against the token loop it replaced ----------------------

_TOKEN = re.compile(rb"\\([a-z]+)(-?\d+)? ?|\\'([0-9a-fA-F]{2})|\\([^a-z])|([{}])|([^\\{}]+)", re.S)


def _rtf_reference(payload):
    """The reader as it was: one loop turn per control word, escape, brace
    or text chunk, \\uN fallbacks skipped byte by byte."""
    if not payload.startswith(b"{\\rtf"):
        raise ValueError("not an RTF payload")
    cpg = re.search(rb"\\ansicpg(\d+)", payload[:256])
    codepage = f"cp{cpg.group(1).decode()}" if cpg else "cp1252"
    out, stack, skipping, uc, pending = [], [], False, 1, 0
    for m in _TOKEN.finditer(payload):
        word, param, hexbyte, escaped, brace, text = m.groups()
        if brace == b"{":
            stack.append((skipping, uc))
        elif brace == b"}":
            if stack:
                skipping, uc = stack.pop()
        elif word is not None:
            w = word.decode("ascii")
            if w == "uc":
                uc = int(param or 1)
            elif w == "u":
                if not skipping:
                    code = int(param or 0)
                    out.append(chr(code if code >= 0 else code + 65536))
                pending = uc
            elif w in rtf_extract._SKIP_DESTINATIONS:
                skipping = True
            elif not skipping and w in rtf_extract._BREAKS:
                out.append(rtf_extract._BREAKS[w])
        elif hexbyte is not None:
            if pending > 0:
                pending -= 1
            elif not skipping:
                out.append(bytes([int(hexbyte, 16)]).decode(codepage, "replace"))
        elif escaped is not None:
            if not skipping:
                if escaped == b"*":
                    skipping = True
                elif escaped in (b"{", b"}", b"\\"):
                    out.append(escaped.decode("ascii"))
                elif escaped == b"~":
                    out.append("\xa0")
                elif escaped in (b"\n", b"\r"):
                    out.append("\n")
        elif text is not None and not skipping:
            chunk = text.replace(b"\r", b"").replace(b"\n", b"")
            if pending > 0:
                take = min(pending, len(chunk))
                chunk = chunk[take:]
                pending -= take
            if chunk:
                out.append(chunk.decode(codepage, "replace"))
    lines = "".join(out).split("\n")
    while lines and not lines[-1].strip():
        lines.pop()
    while lines and not lines[0].strip():
        lines.pop(0)
    return lines, ["rtf parsed natively (reference converts via soffice)"]


def _outcome(fn, payload):
    try:
        return fn(payload)
    except Exception as e:  # the same error, raised at the same token
        return type(e).__name__, str(e)


_escape = st.builds(
    lambda code, space, fallback: f"\\u{code}{space}{fallback}",
    st.one_of(st.integers(1000, 1200), st.integers(-32768, -1), st.integers(0, 1_114_200),
              st.integers(-70000, -65537)),
    st.sampled_from(["", " "]),
    st.sampled_from(["?", "", " ", "  ", "\\'e9", "\\'4", "\r\n?", "\n?", "\r", "ab", "\\par ", "x\r\ny"]),
)
_pieces = st.one_of(
    _escape, _escape, _escape,
    st.sampled_from([
        "\\uc0 ", "\\uc1 ", "\\uc2 ", "\\uc ", "\\uc0", "\\uc2",
        "{", "}", "{\\*\\shp ", "{\\fonttbl\\f0 ", "\\*", "{\\info ", "\\upr ", "\\u ", "\\u-", "\\u",
        "\\par ", "\\line", "\\tab ", "\\cell ", "\\{", "\\}", "\\\\", "\\~", "\\\r\n", "\\\n", "\\'",
        "\\'cf", "\\'E9", "\\'zz", "\\b ", "\\b0 ", " ", "\r\n", "\n", "?", "\\",
    ]),
    st.text(alphabet="ab ?-1\r\n\t;é", max_size=6),
)
_headers = st.sampled_from(["{\\rtf1\\ansi ", "{\\rtf1\\ansi\\ansicpg1251 ", "{\\rtf1\\ansicpg932 ",
                            "{\\rtf1\\ansicpg99999 ", "{\\rtf1"])


@given(_headers, st.lists(_pieces, max_size=30), st.sampled_from(["}", "", "}}"]))
@settings(max_examples=3000, deadline=None)
def test_rtf_reader_equals_the_token_loop(header, pieces, tail):
    payload = (header + "".join(pieces) + tail).encode("utf-8", "surrogatepass")
    assert _outcome(extract_rtf_text, payload) == _outcome(_rtf_reference, payload)


def test_rtf_unicode_runs_keep_fallbacks_exact():
    cases = [
        b"{\\rtf1 \\u1070?\\u1085?\\u1080? x}",  # \uc1 runs, text after
        b"{\\rtf1 \\uc0\\u1070\\u1085 x}",  # no fallback: the space is a delimiter
        b"{\\rtf1 \\uc2\\u1070??\\u1085\\'e9\\'e9y}",  # two fallbacks each
        b"{\\rtf1 \\u1070\r\n?z\\u1071\\'3fw}",  # CR/LF do not count; \'hh does
        b"{\\rtf1 {\\*\\x \\u1070?}ab\\u-3913?}",  # pending skip leaves the group
        b"{\\rtf1 \\u12345\\par ab\\u1070 \\par cd}",  # no fallback byte before \\par
    ]
    for payload in cases:
        assert extract_rtf_text(payload) == _rtf_reference(payload), payload
    assert extract_rtf_text(cases[0])[0] == ["Юни x"]


def test_rtf_reader_is_linear_in_unicode_escapes():
    """Doubling the \\uN escapes of a document may cost at most 2.5x; the
    timings take turns, so a slow spell of a shared host hits them all."""
    word = "\\u1087?\\u1088?\\u1080?\\u1074?\\u1077?\\u1090? "
    head = "{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}"
    docs = [(head + "\\par ".join([word] * n) + "}").encode() for n in (4000, 8000)]
    best = [float("inf")] * len(docs)
    gc.disable()
    try:
        for _ in range(5):
            for k, doc in enumerate(docs):
                t0 = time.perf_counter()
                extract_rtf_text(doc)
                best[k] = min(best[k], time.perf_counter() - t0)
    finally:
        gc.enable()
    assert best[1] <= 2.5 * best[0], best
