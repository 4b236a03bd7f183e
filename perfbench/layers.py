"""Layer spans recorded from outside the engine, their reducer, and the
Spark event-log parser.

``Tracer.install`` replaces each layer function at the name its caller
looks up (for example ``dedoc_spark.core.html_extract.parse_html``) with a
wrapper that appends ``[name, start, end, parent, doc]`` to an in-memory
list. Nothing under ``dedoc_spark/`` is edited; ``uninstall`` puts the
originals back.
"""

from __future__ import annotations

import importlib
import json
import math
import os
import statistics
from collections import Counter, defaultdict
from time import perf_counter
from typing import Dict, List, Optional, Sequence

_CORE = "dedoc_spark.core."
# (span name, module under dedoc_spark.core, attribute its caller looks up,
#  denominator of the self-time metric)
LAYERS = (
    ("document.extract_document", "document", "extract_document", "doc"),
    ("document.finalize", "document", "_finalize", "doc"),
    ("document.resniff", "document", "_content_resniff", "doc"),
    ("formats.detect_format", "formats", "detect_format", "doc"),
    ("html_extract.extract", "html_extract", "HtmlExtractor.extract", "doc"),
    ("dom.parse_html", "html_extract", "parse_html", "doc"),
    ("structure.assign_hierarchy_levels", "document", "assign_hierarchy_levels", "doc"),
    ("tree.construct_tree", "document", "construct_tree", "doc"),
    ("tree.tree_to_text", "document", "tree_to_text", "doc"),
    ("tree.flatten_tree", "document", "flatten_tree", "doc"),
    ("txt_extract.extract_txt_lines", "document", "extract_txt_lines", "doc"),
    ("pdf_extract.extract_pdf_lines", "pdf_extract", "extract_pdf_lines", "doc"),
    ("pdf_extract.extract_pdf_lines_tables", "pdf_extract", "extract_pdf_lines_tables", "doc"),
    ("pdf_extract.detect_txt_layer", "pdf_extract", "detect_txt_layer", "doc"),
    ("docx_extract.extract_docx", "docx_extract", "extract_docx", "doc"),
    ("office_extract.extract_xlsx_tables", "office_extract", "extract_xlsx_tables", "doc"),
    ("office_extract.extract_pptx", "office_extract", "extract_pptx", "doc"),
    ("xls_extract.extract_xls_tables", "xls_extract", "extract_xls_tables", "doc"),
    ("odf_extract.extract_odt", "odf_extract", "extract_odt", "doc"),
    ("odf_extract.extract_ods", "odf_extract", "extract_ods", "doc"),
    ("odf_extract.extract_odp", "odf_extract", "extract_odp", "doc"),
    ("doc_extract.extract_doc_text", "doc_extract", "extract_doc_text", "doc"),
    ("rtf_extract.extract_rtf_text", "rtf_extract", "extract_rtf_text", "doc"),
    ("formats.extract_email", "formats", "extract_email", "doc"),
    ("formats.extract_csv_table", "formats", "extract_csv_table", "doc"),
    ("formats.extract_json_lines", "formats", "extract_json_lines", "doc"),
    ("ocr.extract_pdf_page_images", "ocr", "extract_pdf_page_images", "page"),
    ("ccitt.decode_g4", "ccitt", "decode_g4", "page"),
    ("ccitt.decode_g3", "ccitt", "decode_g3", "page"),
    ("jbig2.decode_embedded", "jbig2", "decode_embedded", "page"),
    ("pdf_filters.lzw_decode", "pdf_filters", "lzw_decode", "page"),
    ("pdf_filters.runlength_decode", "pdf_filters", "runlength_decode", "page"),
    ("ocr.process_scanned_page", "ocr", "process_scanned_page", "page"),
    ("ocr.ink_mask", "ocr", "ink_mask", "page"),
    ("ocr.detect_orientation", "ocr", "detect_orientation", "page"),
    ("ocr.choose_engine", "ocr", "choose_engine", "page"),
    ("ocr.recognize_tables_from_image", "ocr", "recognize_tables_from_image", "page"),
    ("ocr.recognize_page", "ocr", "recognize_page", "page"),
    ("ocr.build_scan_lines", "ocr", "build_scan_lines", "page"),
    ("multipage.extract_multipage_tables", "multipage", "extract_multipage_tables", "page"),
)
# spans reported as other metrics rather than as self time
_NOT_SELF = ("document.extract_document", "document.resniff")


def _count_page(counts: Counter, out) -> None:
    counts["pages"] += 1
    counts["rotated_pages"] += bool(out[2])


def _count_resniff(counts: Counter, out) -> None:
    counts["resniffs"] += 1
    counts["resniff_rows"] += out is not None


_OBSERVERS = {"ocr.process_scanned_page": _count_page, "document.resniff": _count_resniff}


class Tracer:
    """Spans of one traced pass. Set ``doc`` to the document index before
    each top-level call; spans nest through the call stack of one thread."""

    def __init__(self) -> None:
        self.spans: List[list] = []
        self.counts: Counter = Counter()
        self.doc = -1
        self._stack: List[int] = []
        self._saved: List[tuple] = []

    def _wrap(self, name: str, fn):
        spans, stack, counts = self.spans, self._stack, self.counts
        observe = _OBSERVERS.get(name)

        def traced(*args, **kwargs):
            span = [name, 0.0, 0.0, stack[-1] if stack else -1, self.doc]
            stack.append(len(spans))
            spans.append(span)
            span[1] = perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span[2] = perf_counter()
                stack.pop()
            if observe is not None:
                observe(counts, out)
            return out

        return traced

    def install(self) -> None:
        for name, module, attr, _ in LAYERS:
            owner = importlib.import_module(_CORE + module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = owner.__dict__[leaf]
            self._saved.append((owner, leaf, original))
            setattr(owner, leaf, self._wrap(name, original))

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, original = self._saved.pop()
            setattr(owner, leaf, original)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


def self_times(spans: Sequence[Sequence]) -> List[float]:
    """Each span's duration minus the durations of its direct children.
    Spans of one thread nest, so children never overlap each other."""
    own = [s[2] - s[1] for s in spans]
    for s in spans:
        if s[3] >= 0:
            own[s[3]] -= s[2] - s[1]
    return own


def metric_units() -> Dict[str, str]:
    """Every per-layer metric a traced run prints, in order, with its unit."""
    units = {
        "pipeline.identity_pass_s": "s",
        "pipeline.boundary_frac": "frac",
        "pipeline.tasks": "count",
        "pipeline.task_ms_p50": "ms",
        "pipeline.task_ms_max": "ms",
        "pipeline.jvm_gc_ms": "ms",
        "document.extract_document.ms_p50": "ms",
        "document.extract_document.ms_p99": "ms",
        "document.extract_document.samples": "count",
        "document.resniff_frac": "frac",
        "document.resniff_useful_frac": "frac",
        "ocr.rotated_page_frac": "frac",
        "trace.uncovered_ms_per_doc": "ms/doc",
        "trace.uncovered_frac": "frac",
        "trace.overhead_frac": "frac",
    }
    for name, _, _, per in LAYERS:
        if name not in _NOT_SELF:
            units[f"{name}.self_ms_per_{per}"] = f"ms/{per}"
    return units


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile (0 < q <= 100) of a non-empty sample."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * q / 100) - 1)]


def reduce_spans(spans: Sequence[Sequence], counts: Dict[str, int], n_docs: int) -> Dict[str, float]:
    """Per-layer metrics from traced passes over ``n_docs`` documents in all."""
    own = self_times(spans)
    by_name: Dict[str, float] = defaultdict(float)
    for s, t in zip(spans, own):
        by_name[s[0]] += t
    top = [i for i, s in enumerate(spans) if s[0] == "document.extract_document" and s[3] < 0]
    doc_total = sum(spans[i][2] - spans[i][1] for i in top)
    uncovered = sum(own[i] for i in top)
    pages = counts.get("pages", 0)
    resniffs = counts.get("resniffs", 0)
    out = {
        "document.resniff_frac": resniffs / n_docs,
        "document.resniff_useful_frac": counts.get("resniff_rows", 0) / resniffs if resniffs else 0.0,
        "ocr.rotated_page_frac": counts.get("rotated_pages", 0) / pages if pages else 0.0,
        "trace.uncovered_ms_per_doc": uncovered * 1e3 / n_docs,
        "trace.uncovered_frac": uncovered / doc_total if doc_total else 0.0,
    }
    for name, _, _, per in LAYERS:
        if name in _NOT_SELF:
            continue
        denom = n_docs if per == "doc" else pages
        out[f"{name}.self_ms_per_{per}"] = by_name.get(name, 0.0) * 1e3 / denom if denom else 0.0
    return out


def parse_event_log(log_dir: str, description: str) -> Dict[str, float]:
    """Task count, task time p50/max and JVM GC time of the jobs whose
    ``spark.job.description`` is ``description``, from a Spark event log."""
    stages, tasks = set(), []
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files if f.startswith(("events_", "local-"))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.job.description") == description:
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    mine = [t for t in tasks if t["Stage ID"] in stages]
    if not mine:
        raise ValueError(f"no tasks of job {description!r} in the event log")
    ms = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in mine]
    return {
        "pipeline.tasks": len(mine),
        "pipeline.task_ms_p50": statistics.median(ms),
        "pipeline.task_ms_max": max(ms),
        "pipeline.jvm_gc_ms": sum((t.get("Task Metrics") or {}).get("JVM GC Time", 0) for t in mine),
        "slot_s": sum(ms) / 1e3,
    }


def traced_pass(rows, params, tracer: Optional[Tracer] = None):
    """Run ``extract_document`` over ``rows`` in this process, with the
    tracer installed if one is given; returns (outputs, seconds per row)."""
    from dedoc_spark.core import document

    if tracer is not None:
        tracer.install()
    try:
        outs, secs = [], []
        for i, (url, html, text) in enumerate(rows):
            if tracer is not None:
                tracer.doc = i
            t0 = perf_counter()
            outs.append(document.extract_document(url, html, text, params=params))
            secs.append(perf_counter() - t0)
        return outs, secs
    finally:
        if tracer is not None:
            tracer.uninstall()
