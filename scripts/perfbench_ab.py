"""Interleaved A/B runs of perfbench between two checkouts.

Usage, from anywhere:

    python3 scripts/perfbench_ab.py --parent DIR --change DIR --workload web_pages [--seed 1] [--pairs 10] [--trace 0|1]

Each pair runs ``python3 perfbench/run.py --workload W --seed S --trace T``
once in each checkout, one after the other; the parent goes first in even
pairs and the change in odd ones. The last JSON line of each run is its
result, printed as it comes on a ``pair K SIDE: {...}`` line. For every
end-to-end metric of ``BENCHMARK.json`` (read from the change's checkout)
the summary prints each side's median and quartiles and how many pairs
the change won, by the metric's ``better`` direction; then whether a gain
in it would pass the claim rule — the change wins at least 9 of 10 pairs
and the medians lie further apart than the parent's quartiles — and
whether it stays within its ``bound``, a fraction of the parent's median.
With ``--trace 1`` the runs are traced ones, which report layers instead:
the summary prints, for each layer's self time (``*.self_ms_per_doc`` and
``*.self_ms_per_page``), each side's median and the median over the pairs
of change / parent. The exit status is 1 when a run is not ``correct`` or
has failed rows, else 0.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
from typing import Dict, List, Sequence, Tuple

SIDES = ("parent", "change")


def quartiles(values: Sequence[float]) -> Tuple[float, float, float]:
    """(lower quartile, median, upper quartile) of one side's runs."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: Sequence[Dict[str, dict]], end_to_end: Sequence[dict]) -> Tuple[List[str], List[str], bool]:
    """Report lines, the metrics whose gain passes the claim rule, and
    whether every metric is within its bound.

    ``pairs`` holds one ``{"parent": result, "change": result}`` per pair,
    each result being a run's last JSON line."""
    lines, gains = [], []
    bounds_hold = True
    need = math.ceil(0.9 * len(pairs))
    for spec in end_to_end:
        name, higher = spec["name"], spec["better"] == "higher"
        values = {side: [p[side]["metrics"][name]["value"] for p in pairs] for side in SIDES}
        wins = sum((c > p) if higher else (c < p) for p, c in zip(values["parent"], values["change"]))
        (p1, pm, p3), (c1, cm, c3) = quartiles(values["parent"]), quartiles(values["change"])
        gain = (cm - pm) if higher else (pm - cm)
        line = (
            f"{name}: parent {pm:.4g} [{p1:.4g}, {p3:.4g}] -> change {cm:.4g} [{c1:.4g}, {c3:.4g}]"
            + (f" ({gain / pm:+.1%} better)" if pm else "")
            + f", change wins {wins}/{len(pairs)}"
        )
        if wins >= need and gain > p3 - p1:
            gains.append(name)
        within = -gain <= spec["bound"] * abs(pm)
        bounds_hold = bounds_hold and within
        line += (
            f"; claim rule {'holds' if name in gains else 'fails'}"
            f" (needs {need} wins and a gain above the parent IQR {p3 - p1:.4g})"
            f"; {'within' if within else 'OUTSIDE'} its bound {spec['bound']:.0%}"
        )
        lines.append(line)
    return lines, gains, bounds_hold


def layer_ratios(pairs: Sequence[Dict[str, dict]]) -> List[str]:
    """Report lines of the traced runs' layer self times: each side's
    median and the median of change / parent over the pairs in which the
    parent's self time is not 0."""
    lines = []
    for name in pairs[0]["parent"]["metrics"]:
        if not name.endswith((".self_ms_per_doc", ".self_ms_per_page")):
            continue
        values = {side: [p[side]["metrics"][name]["value"] for p in pairs] for side in SIDES}
        ratios = [c / p for p, c in zip(values["parent"], values["change"]) if p]
        if not ratios:
            continue
        lines.append(
            f"{name}: parent {statistics.median(values['parent']):.4g} -> change "
            f"{statistics.median(values['change']):.4g}, change/parent {statistics.median(ratios):.3f}"
            f" (median of {len(ratios)} pairs)"
        )
    return lines


def bad_runs(pairs: Sequence[Dict[str, dict]]) -> List[str]:
    """The runs that are not correct or report failed rows."""
    return [
        f"pair {k} {side}: correct={p[side]['correct']} failed={p[side]['failed']}"
        for k, p in enumerate(pairs)
        for side in SIDES
        if not p[side]["correct"] or p[side]["failed"] > 0
    ]


def run_once(checkout: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--trace", str(trace)]
    done = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True, timeout=1800)
    lines = [ln for ln in done.stdout.splitlines() if ln.strip().startswith("{")]
    if done.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited {done.returncode} without a result")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    dirs = {"parent": args.parent, "change": args.change}
    pairs = []
    for k in range(args.pairs):
        pair = {}
        for side in SIDES if k % 2 == 0 else SIDES[::-1]:
            pair[side] = run_once(dirs[side], args.workload, args.seed, args.trace)
            print(f"pair {k} {side}: " + json.dumps(pair[side]), flush=True)
        pairs.append(pair)

    print(f"{args.workload} seed {args.seed}, {len(pairs)} {'traced ' if args.trace else ''}pairs:")
    if args.trace:
        for line in layer_ratios(pairs):
            print("  " + line)
    else:
        lines, gains, bounds_hold = summarize(pairs, end_to_end)
        for line in lines:
            print("  " + line)
        print(f"claim rule holds for: {', '.join(gains) or 'no metric'}; "
              f"metrics {'all within' if bounds_hold else 'NOT all within'} their bounds")
    bad = bad_runs(pairs)
    for line in bad:
        print("bad run: " + line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
