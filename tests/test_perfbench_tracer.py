"""perfbench's layer tracer against the engine's names: ``Tracer.install``
wraps each layer at the attribute its caller looks up, so a renamed or
moved layer would otherwise fail only under ``perfbench/run.py --trace 1``."""

import importlib.util
from pathlib import Path

from dedoc_spark.core.document import extract_document

LAYERS_PY = Path(__file__).resolve().parents[1] / "perfbench" / "layers.py"

DOCS = [
    ("https://t.example/page.html", b"<html><body><h1>Title</h1><p>Some <b>bold</b> text.</p>"
     b"<ul><li>one</li><li>two</li></ul><table><tr><td>a</td><td>b</td></tr></table></body></html>", None),
    ("https://t.example/notes.txt", None, "Heading\n\n1. first item\n2. second item\nplain line\n"),
]
SPANS = (
    "document.finalize",
    "tree.construct_tree",
    "tree.tree_to_text",
    "tree.flatten_tree",
    "dom.parse_html",
    "html_extract.extract",
)


def _layers():
    spec = importlib.util.spec_from_file_location("perfbench_layers", LAYERS_PY)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _extract_all():
    return [extract_document(url, html, text) for url, html, text in DOCS]


def test_tracer_records_every_layer_and_keeps_outputs():
    untraced = _extract_all()
    tracer = _layers().Tracer()
    tracer.install()
    try:
        traced = []
        for i, (url, html, text) in enumerate(DOCS):
            tracer.doc = i
            traced.append(extract_document(url, html, text))
    finally:
        tracer.uninstall()
    names = {span[0] for span in tracer.spans}
    for name in SPANS:
        assert name in names, name
    assert traced == untraced
    assert _extract_all() == untraced
