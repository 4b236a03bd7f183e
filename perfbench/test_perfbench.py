"""Self-tests of the benchmark's own logic.

Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import check  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


def _span(name, start, end, parent, doc=0):
    return [name, start, end, parent, doc]


def test_self_time_on_hand_built_span_tree():
    spans = [
        _span("document.extract_document", 0.0, 10.0, -1),  # 0
        _span("html_extract.extract", 1.0, 5.0, 0),  # 1
        _span("dom.parse_html", 2.0, 3.5, 1),  # 2
        _span("document.finalize", 6.0, 9.0, 0),  # 3
        _span("tree.construct_tree", 6.5, 7.0, 3),  # 4
        _span("document.extract_document", 10.0, 12.0, -1, doc=1),  # 5
    ]
    assert layers.self_times(spans) == [3.0, 2.5, 1.5, 2.5, 0.5, 2.0]
    m = layers.reduce_spans(spans, {}, n_docs=2)
    assert m["html_extract.extract.self_ms_per_doc"] == 1250.0
    assert m["dom.parse_html.self_ms_per_doc"] == 750.0
    assert m["document.finalize.self_ms_per_doc"] == 1250.0
    # the part of extract_document no layer span covers: 3 s + 2 s of 12 s
    assert m["trace.uncovered_ms_per_doc"] == 2500.0
    assert abs(m["trace.uncovered_frac"] - 5 / 12) < 1e-12
    # page metrics with no pages read 0, not a division error
    assert m["ocr.recognize_page.self_ms_per_page"] == 0.0


def test_tracer_records_nested_spans_and_restores_originals():
    from dedoc_spark.core import document, html_extract

    original = html_extract.parse_html
    tracer = layers.Tracer()
    rows = [("https://x.example/a", b"<html><body><h1>T</h1><p>one two</p></body></html>", "")]
    outs, _ = layers.traced_pass(rows, None, tracer)
    assert html_extract.parse_html is original
    assert document.extract_document.__name__ == "extract_document"
    names = [s[0] for s in tracer.spans]
    assert names[0] == "document.extract_document"
    by_index = {i: s for i, s in enumerate(tracer.spans)}
    parse = next(s for s in tracer.spans if s[0] == "dom.parse_html")
    assert by_index[parse[3]][0] == "html_extract.extract"
    assert outs == layers.traced_pass(rows, None)[0]  # tracing changes no output


def test_one_corrupted_row_is_counted_as_failed():
    rows = [
        {"url": f"u{i}", "text_extracted": f"t{i}", "text_linear": "", "n_lines": i, "n_tables": 0,
         "lines_json": "[]", "tree_json": "{}", "nodes_json": "[]", "tables_json": "[]",
         "warnings": ["w"], "error": None}
        for i in range(4)
    ]
    want = {r["url"]: check.row_digest(r) for r in rows}
    assert check.count_failures(dict(want), want) == 0
    corrupted = dict(rows[2], text_extracted="t2 ")
    got = dict(want, u2=check.row_digest(corrupted))
    failed = check.count_failures(got, want)
    assert failed == 1 and failed / len(rows) > 0
    assert check.count_failures(dict(want), want, errors=["u0"]) == 1
    del got["u3"]
    assert check.count_failures(got, want) == 2


def test_scanned_closed_form_rejects_a_wrong_cell():
    spec = workloads.scan_specs(4, seed=5)[0]
    want = workloads.scan_expected(spec)
    cells = [[{"lines": [{"line": c}]} for c in want["cells"][:2]], [{"lines": [{"line": c}]} for c in want["cells"][2:]]]
    row = {
        "text_extracted": want["text_extracted"], "n_lines": 3, "n_tables": 1, "error": None,
        "warnings": [want["rot_warning"]], "tables_json": json.dumps([{"cells": cells}]),
    }
    assert check.scan_row_ok(row, want)
    cells[1][1]["lines"][0]["line"] = "xx"
    assert not check.scan_row_ok(dict(row, tables_json=json.dumps([{"cells": cells}])), want)
    assert not check.scan_row_ok(dict(row, warnings=[]), want)


def test_inputs_are_a_function_of_the_seed():
    for workload, n in (("web_pages", 24), ("file_mix", 27)):
        a, b, c = (workloads.generate_rows(workload, n, seed)[0] for seed in (3, 3, 4))
        assert a == b, workload
        assert [r["html"] for r in a] != [r["html"] for r in c], workload


def test_file_mix_holds_one_scan_in_13():
    rows, warm = workloads.generate_rows("file_mix", 27, seed=3)
    scans = [s.url for s in workloads.scan_specs(workloads.n_scans(27), seed=3)]
    assert len(rows) == 27 and [rows[12]["url"], rows[25]["url"]] == scans
    assert len(warm) == workloads.WARM_ROWS + 2 and warm[-2:] == [rows[12], rows[25]]


def test_golden_digests_match_the_table_sizes():
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    assert set(golden) == {"web_pages", "file_mix"}
    for workload, entry in golden.items():
        assert entry["rows"] == workloads.SIZES[workload], "re-record with run.py --write-golden"


def test_golden_lookup():
    golden = {"web_pages": {"seed": 1, "rows": 10, "digest": "d"}}
    assert check.golden_ok(golden, "web_pages", 1, 10, "d") is True
    assert check.golden_ok(golden, "web_pages", 1, 10, "e") is False
    assert check.golden_ok(golden, "web_pages", 2, 10, "e") is None
    assert check.golden_ok(golden, "file_mix", 1, 10, "e") is None


def test_event_log_parser(tmp_path):
    def task(stage, launch, finish, gc):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"JVM GC Time": gc}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": {}},
        task(0, 0, 999, 50),
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.job.description": "x"}},
        task(1, 100, 200, 1), task(2, 100, 400, 2), task(2, 150, 250, 3),
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = layers.parse_event_log(str(tmp_path), "x")
    assert m["pipeline.tasks"] == 3
    assert m["pipeline.task_ms_p50"] == 100
    assert m["pipeline.task_ms_max"] == 300
    assert m["pipeline.jvm_gc_ms"] == 6
    assert m["slot_s"] == 0.5


def test_benchmark_json_matches_the_run_and_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.metric_units()
    assert [m["name"] for m in bench["per_layer"]] == list(layers.metric_units())
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def test_spark_digest_equals_python_digest():
    import run
    from dedoc_spark.operators.pipeline import EXTRACT_SCHEMA

    rows = [
        {"url": "https://x.example/ы", "text_extracted": "a\nб", "text_linear": None, "n_lines": 2,
         "n_tables": None, "lines_json": "[]", "tree_json": "{}", "nodes_json": "[]",
         "tables_json": "[]", "warnings": ["w1", "w2"], "error": None},
        {"url": "u2", "text_extracted": "", "text_linear": "", "n_lines": 0, "n_tables": 0,
         "lines_json": "[]", "tree_json": "{}", "nodes_json": "[]", "tables_json": "[]",
         "warnings": [], "error": "ValueError: x"},
    ]
    tmp = os.path.join(ROOT, ".perfbench_cache", "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = run.start_spark(tmp)
    try:
        df = spark.createDataFrame([tuple(r[f.name] for f in EXTRACT_SCHEMA.fields) for r in rows], EXTRACT_SCHEMA)
        got = {r.url: r.d for r in df.select("url", check.spark_digest().alias("d")).collect()}
    finally:
        spark.stop()
        run.shutdown_jvm()
    assert got == {r["url"]: check.row_digest(r) for r in rows}
