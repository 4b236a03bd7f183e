"""Request parameters reach every reader through the one dispatch table,
and boolean parameters follow the reference's string rule."""

import json

import pytest

from dedoc_spark.core.document import extract_document
from dedoc_spark.core.model import param_flag
from dedoc_spark.sources import docx_fixture as dx
from dedoc_spark.sources.pdf_fixture import build_pdf, table_ops

EML = b"""From: Alice <alice@example.com>
To: bob@example.com
Subject: Report
MIME-Version: 1.0
Content-Type: text/plain; charset="utf-8"

1. Budget
1.1. Costs
body line
"""


def _docx() -> bytes:
    paras = ["1. Budget", "1.1. Costs", "body line"]
    return dx.build_docx("".join(dx.paragraph([(p, "")]) for p in paras))


@pytest.mark.parametrize("url,payload", [("d.docx", _docx()), ("m.eml", EML)], ids=["docx", "eml"])
def test_params_reach_structure_step(url, payload):
    """docx and eml finalize with the request's params: a rendering comes
    back and structure_type="linear" flattens the tree."""
    base = extract_document(url, payload, None)
    assert "rendered" not in base
    d = extract_document(url, payload, None, params={"return_format": "plain_text", "structure_type": "linear"})
    assert d["error"] is None
    assert d["rendered"] == d["text_extracted"] and "body line" in d["rendered"]
    tree = json.loads(d["tree_json"])
    assert tree["subparagraphs"] and all(c["subparagraphs"] == [] for c in tree["subparagraphs"])
    assert any(c["subparagraphs"] for c in json.loads(base["tree_json"])["subparagraphs"])


def test_param_flag_rule():
    assert param_flag(None, "x") is False
    assert param_flag({"x": "false"}, "x") is False
    assert param_flag({"x": "False"}, "x") is False
    assert param_flag({"x": True}, "x") is True
    assert param_flag({"x": "TRUE"}, "x") is True
    assert param_flag({"x": None}, "x", True) is True
    assert param_flag({}, "need_header_footer_analysis", True) is True
    assert param_flag({"x": "false"}, "x", True) is False


def _table_pdf() -> bytes:
    grid = [["name", "value"], ["alpha", "1"]]
    return build_pdf(
        [[("Section 1", True), ("body line", False)]],
        extra_content=[table_ops(72, 400, [120, 120], 20, grid)],
    )


# a boolean parameter -> a document it applies to
_FLAG_INPUTS = {
    "need_pdf_table_analysis": ("t.pdf", _table_pdf()),
    "with_layout": ("t.pdf", _table_pdf()),
    "need_gost_frame_analysis": ("t.pdf", _table_pdf()),
    "handle_invisible_table": ("p.html", b"<body><table><tr><td>k</td><td>v</td></tr></table></body>"),
}


@pytest.mark.parametrize("name", sorted(_FLAG_INPUTS))
def test_false_string_is_absent_and_true_is_true(name):
    url, payload = _FLAG_INPUTS[name]
    absent = extract_document(url, payload, None, params={})
    assert extract_document(url, payload, None, params={name: "false"}) == absent
    on = extract_document(url, payload, None, params={name: True})
    assert extract_document(url, payload, None, params={name: "true"}) == on
    if name in ("need_pdf_table_analysis", "handle_invisible_table"):
        assert on["n_tables"] == 1 and absent["n_tables"] == 0
