"""``scripts/perfbench_ab.py`` on canned perfbench results: the summary's
medians, quartiles and wins, the claim rule, the bounds, the order of the
runs, the traced runs' layer ratios and the exit status. No Spark is
started."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
END_TO_END = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]


def _ab():
    spec = importlib.util.spec_from_file_location("perfbench_ab", ROOT / "scripts" / "perfbench_ab.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _result(docs, rss=100.0, scaling=0.5, setup=3.0, correct=True, failed=0):
    values = {"docs_per_s": docs, "scaling_eff": scaling, "peak_worker_rss_mb": rss, "setup_s": setup}
    return {
        "correct": correct,
        "attempted": 1600,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": ""} for k, v in values.items()},
    }


def _pairs(parent_docs, change_docs, **change):
    return [{"parent": _result(p), "change": _result(c, **change)} for p, c in zip(parent_docs, change_docs)]


PARENT = [1600, 1620, 1640, 1610, 1630, 1650, 1605, 1615, 1625, 1635]


def test_claim_holds_when_every_pair_wins_beyond_the_parent_iqr():
    ab = _ab()
    lines, gains, bounds = ab.summarize(_pairs(PARENT, [d * 1.2 for d in PARENT]), END_TO_END)
    assert gains == ["docs_per_s"] and bounds
    docs = next(ln for ln in lines if ln.startswith("docs_per_s"))
    assert "change wins 10/10" in docs and "claim rule holds" in docs
    assert "parent 1622 [1611, 1634]" in docs
    assert "+20.0% better" in docs


def test_claim_needs_nine_wins_in_ten():
    ab = _ab()
    change = [d * 1.2 for d in PARENT]
    change[0] = change[1] = 1500  # two losses: 8/10
    assert ab.summarize(_pairs(PARENT, change), END_TO_END)[1] == []
    change[1] = PARENT[1] * 1.2  # one loss: 9/10
    assert ab.summarize(_pairs(PARENT, change), END_TO_END)[1] == ["docs_per_s"]


def test_claim_needs_a_gain_beyond_the_parent_iqr():
    ab = _ab()
    # every pair wins by 1/s, but the parent's quartiles lie 22.5/s apart
    lines, gains, _ = ab.summarize(_pairs(PARENT, [d + 1 for d in PARENT]), END_TO_END)
    assert gains == []
    assert "change wins 10/10; claim rule fails" in lines[0]


def test_lower_is_better_metrics_and_bounds():
    ab = _ab()
    # rss 12% higher: worse than its 10% bound; setup 20% slower: within 25%
    pairs = _pairs(PARENT, PARENT, rss=112.0, setup=3.6)
    lines, _, bounds = ab.summarize(pairs, END_TO_END)
    assert not bounds
    rss = next(ln for ln in lines if ln.startswith("peak_worker_rss_mb"))
    assert "change wins 0/10" in rss and "OUTSIDE its bound 10%" in rss
    setup = next(ln for ln in lines if ln.startswith("setup_s"))
    assert "within its bound 25%" in setup
    # lower rss wins every pair
    lines, gains, bounds = ab.summarize(_pairs(PARENT, PARENT, rss=90.0), END_TO_END)
    assert bounds and gains == ["peak_worker_rss_mb"]
    assert "change wins 10/10" in next(ln for ln in lines if ln.startswith("peak_worker_rss_mb"))


def test_runs_alternate_and_a_bad_run_fails_the_script(tmp_path, monkeypatch, capsys):
    ab = _ab()
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({"end_to_end": END_TO_END}))
    calls = []

    def fake_run(checkout, workload, seed, trace):
        calls.append(checkout)
        if checkout == str(tmp_path) and len(calls) == 3:
            return _result(1700, failed=2)
        return _result(1600 if checkout == "P" else 1700)

    monkeypatch.setattr(ab, "run_once", fake_run)
    args = ["--parent", "P", "--change", str(tmp_path), "--workload", "web_pages", "--pairs", "3"]
    assert ab.main(args) == 1
    assert calls == ["P", str(tmp_path), str(tmp_path), "P", "P", str(tmp_path)]
    out = capsys.readouterr().out
    assert "bad run: pair 1 change: correct=True failed=2" in out
    # every run's whole result is printed on its own line
    assert json.loads(out.splitlines()[2].partition(": ")[2]) == _result(1700, failed=2)

    monkeypatch.setattr(ab, "run_once", lambda checkout, w, s, t: _result(1600 if checkout == "P" else 1700))
    assert ab.main(args) == 0


def _traced(layers, failed=0):
    metrics = {"pipeline.tasks": 4, "trace.overhead_frac": 0.1, **layers}
    return {
        "correct": True,
        "attempted": 416,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": ""} for k, v in metrics.items()},
    }


def test_traced_pairs_report_the_median_layer_ratio(tmp_path, monkeypatch, capsys):
    ab = _ab()
    tree, rtf = "tree.construct_tree.self_ms_per_doc", "rtf_extract.extract_rtf_text.self_ms_per_doc"
    page, unseen = "ocr.ink_mask.self_ms_per_page", "dom.parse_html.self_ms_per_doc"
    parent = [{tree: 1.0, rtf: 0.5, page: 2.0, unseen: 0.0}, {tree: 1.2, rtf: 0.6, page: 2.0, unseen: 0.0},
              {tree: 0.8, rtf: 0.5, page: 2.0, unseen: 0.0}]
    change = [{tree: 0.6, rtf: 0.25, page: 2.2, unseen: 0.0}, {tree: 0.6, rtf: 0.3, page: 1.8, unseen: 0.0},
              {tree: 0.6, rtf: 0.2, page: 2.0, unseen: 0.0}]
    pairs = [{"parent": _traced(p), "change": _traced(c)} for p, c in zip(parent, change)]
    lines = ab.layer_ratios(pairs)
    # a layer no run reached (self time 0) has no ratio; counts and fractions are not layers
    assert [ln.split(":")[0] for ln in lines] == [tree, rtf, page]
    assert lines[0] == f"{tree}: parent 1 -> change 0.6, change/parent 0.600 (median of 3 pairs)"
    assert lines[1].endswith("change/parent 0.500 (median of 3 pairs)")
    assert lines[2].endswith("change/parent 1.000 (median of 3 pairs)")

    (tmp_path / "BENCHMARK.json").write_text(json.dumps({"end_to_end": END_TO_END}))
    seen = []

    def fake_run(checkout, workload, seed, trace):
        seen.append(trace)
        k = len(seen) // 2 % 3
        return _traced(parent[k] if checkout == "P" else change[k])

    monkeypatch.setattr(ab, "run_once", fake_run)
    args = ["--parent", "P", "--change", str(tmp_path), "--workload", "file_mix", "--pairs", "2", "--trace", "1"]
    assert ab.main(args) == 0
    assert seen == [1, 1, 1, 1]
    out = capsys.readouterr().out
    assert "file_mix seed 1, 2 traced pairs:" in out
    assert f"  {tree}: parent" in out and "claim rule" not in out
