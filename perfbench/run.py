"""Benchmark of the Spark extraction stage on one seeded workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 14 --trace 0

One run is a closed loop: one Python process runs
``operators.pipeline.extract_stage`` over the workload's parquet table on
``local[4]``, collects every row's digest, checks it, and only then starts
the next pass. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from time import perf_counter

import check
import layers
import workloads

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_PASSES = 3
SINGLE_CHUNKS = 8  # the single-process run of the table, split over the first passes
PROBES = 5  # host-speed probes right before and right after each timed pass
# median CPU seconds of one host_probe() on the reference host (4 vCPUs of
# a shared Xeon server); docs_per_s is scaled to that speed
PROBE_REF_S = 0.0125
IDENTITY_PASSES = 3
DEFAULT_SEED = 1
EXTRACT_JOB = "perfbench-extract"
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = tuple(workloads.SIZES)
_T0 = perf_counter()


def elapsed() -> str:
    return f"at {perf_counter() - _T0:.1f} s"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Spark session and its processes


def start_spark(tmp: str, event_log: str = ""):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{workloads.SLOTS}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(workloads.SLOTS))
        # one scan task per part file, whatever the file sizes
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.files.openCostInBytes", "128m")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        # C1 only: the JVM reaches its steady speed within the set-up. With
        # the default tiered C2, on 4 vCPUs, passes ran about 20% slower for
        # the first minute, while C2 compiled, and no faster afterwards.
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1")
        .config("spark.pyspark.python", sys.executable)
        .config("spark.pyspark.driver.python", sys.executable)
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants() -> list:
    parents = _children()
    found, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait until it and every
    process below it (the Python workers) have ended."""
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while any(map(_running, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_running, pids):
        os.kill(pid, signal.SIGKILL)
    while any(map(_running, pids)) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class WorkerRss:
    """Peak resident set of the Spark Python workers (all Python processes
    below this one), read from /proc while the timed passes run."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _workers() -> list:
        pids = []
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"python" in f.read().split(b"\0", 1)[0]:
                        pids.append(pid)
            except OSError:
                pass
        return pids

    def _sample(self) -> None:
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith(("VmHWM:", "VmRSS:")):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                pass

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self._sample()

    def __enter__(self):
        for pid in self._workers():  # restart the high-water marks
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------------------
# passes


def spark_pass(df, params, scans: bool) -> list:
    """One extraction pass; returns the collected check columns, with the
    ones the scan closed forms need when the table holds scans."""
    from dedoc_spark.operators.pipeline import extract_stage

    out = extract_stage(df, params=params)
    cols = ["url", check.spark_digest().alias("digest"), "error"]
    if scans:
        cols += ["text_extracted", "n_lines", "n_tables", "warnings", "tables_json"]
    return [r.asDict() for r in out.select(*cols).collect()]


def identity_pass(df) -> None:
    """Same table and output schema, with a pass-through mapInPandas."""
    from dedoc_spark.operators.pipeline import EXTRACT_SCHEMA

    def identity(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "text_extracted": [h.decode("latin-1") if h else "" for h in pdf["html"]],
                    "text_linear": pdf["text"],
                    "n_lines": [0] * n,
                    "n_tables": [0] * n,
                    "lines_json": ["[]"] * n,
                    "tree_json": ["{}"] * n,
                    "nodes_json": ["[]"] * n,
                    "tables_json": ["[]"] * n,
                    "warnings": [[] for _ in range(n)],
                    "error": [None] * n,
                }
            )

    df.select("url", "html", "text").mapInPandas(identity, schema=EXTRACT_SCHEMA).select(
        "url", check.spark_digest()
    ).collect()


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's vCPUs since boot,
    summed over the vCPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_probe() -> float:
    """CPU seconds taken by a fixed piece of work that does not touch the
    engine: interpreted string and dict work, a small numpy reduction and
    a zlib round trip, the kinds of work extraction does. The speed of the
    shared host's cores drifts from one minute to the next; this measures
    it next to each timed pass. CPU time leaves out stolen time, which
    ``steal_s`` accounts for."""
    import zlib

    import numpy as np

    t0 = time.thread_time()
    words = [str(i * 7919 % 10007) for i in range(8000)]
    index = {}
    for i, w in enumerate(words):
        index.setdefault(w[:2], []).append(i)
    blob = json.dumps(index).encode()
    zlib.decompress(zlib.compress(blob))
    a = np.frombuffer(blob[: len(blob) // 8 * 8], dtype=np.uint8).reshape(-1, 8)
    int((a.astype(np.int32) * np.arange(8)).sum())
    return time.thread_time() - t0


class Run:
    def __init__(self, workload: str, seed: int, root: str) -> None:
        self.workload, self.seed = workload, seed
        self.params = workloads.PARAMS[workload]
        self.cache = os.path.join(root, ".perfbench_cache")
        self.tmp = os.path.join(self.cache, "tmp")
        self.path, gen_s = workloads.ensure_table(workload, seed, os.path.join(self.cache, "inputs"))
        log(f"{workload} seed {seed}: gen_s={gen_s:.2f} ({'generated' if gen_s else 'cached'} input table)")
        self.rows = workloads.load_rows(self.path)
        self.warm_rows = workloads.load_rows(self.path, "warm")
        self.n = len(self.rows)
        # url -> closed form, for the scanned PDFs of file_mix
        self.expected = {}
        if workload == "file_mix":
            specs = workloads.scan_specs(workloads.n_scans(self.n), seed)
            self.expected = {s.url: workloads.scan_expected(s) for s in specs}
        self.scans = bool(self.expected)
        with open(os.path.join(HERE, "golden.json")) as f:
            self.golden = json.load(f)
        self.ref_digests = None
        self.attempted = 0
        self.failed = 0

    # single process --------------------------------------------------------

    def single_pass(self):
        """Untraced ``extract_document`` loop over the whole table in this
        process: (outputs, seconds per row). The first call, after a short
        warm-up, also records the reference digests."""
        if self.ref_digests is None:
            layers.traced_pass(self.warm_rows, self.params)
        outs, secs = layers.traced_pass(self.rows, self.params)
        if self.ref_digests is None:
            self.set_reference(outs)
        return outs, secs

    def set_reference(self, outs) -> None:
        """Record the single-process digests every Spark pass must match,
        and check the outputs themselves."""
        self.ref_digests = {d["url"]: check.row_digest(d) for d in outs}
        self.attempted += self.n
        self.failed += self._check_reference(outs)

    def _bad_rows(self, rows) -> set:
        """Urls of output rows that carry an ``error`` (no workload expects
        one) or, for a scan, differ from its closed form."""
        return {
            r["url"] for r in rows
            if r["error"] is not None
            or (r["url"] in self.expected and not check.scan_row_ok(r, self.expected[r["url"]]))
        }

    def _check_reference(self, outs) -> int:
        """Failures of the single-process outputs: bad rows, or every row
        when the table digest differs from golden.json at its seed."""
        digest = check.table_digest(self.ref_digests)
        if check.golden_ok(self.golden, self.workload, self.seed, self.n, digest) is False:
            log("single-process outputs differ from golden.json")
            return self.n
        return len(self._bad_rows(outs))

    def check_pass(self, got: list) -> None:
        """Count the failed rows of one collected Spark pass."""
        digests = {r["url"]: r["digest"] for r in got}
        self.attempted += self.n
        self.failed += check.count_failures(digests, self.ref_digests, self._bad_rows(got))

    # Spark -----------------------------------------------------------------

    def setup(self, event_log: str = ""):
        """SparkSession start plus an untimed warm-up pass over the warm
        table (one task per slot), so every slot forks and warms a worker."""
        t0 = perf_counter()
        spark = start_spark(self.tmp, event_log)
        spark_pass(spark.read.parquet(os.path.join(self.path, "warm")), self.params, self.scans)
        df = spark.read.parquet(os.path.join(self.path, "table"))
        return spark, df, perf_counter() - t0

    def timed(self, seconds: float) -> dict:
        """SETUPS set-ups, then ``seconds`` of Spark passes. After each of
        the first SINGLE_CHUNKS passes, the next part of the table runs
        single-process, in a plain loop, so that every row runs there once.
        Host speed drifts, and this puts both measurements in the same
        window. Host-speed probes bracket each pass; ``docs_per_s`` is the
        median over passes of the pass rate scaled by its probes to the
        reference host speed."""
        from dedoc_spark.core import document

        layers.traced_pass(self.warm_rows, self.params)
        setups = []
        for i in range(SETUPS):
            spark, df, dt = self.setup()
            setups.append(dt)
            if i < SETUPS - 1:
                spark.stop()
        log(f"setups {['%.2f' % s for s in setups]} s ({elapsed()})")
        outs, single_s = [], 0.0

        def single(count: int) -> None:
            nonlocal single_s
            for url, html, text in self.rows[len(outs) : len(outs) + count]:
                t0 = time.thread_time()
                outs.append(document.extract_document(url, html, text, params=self.params))
                single_s += time.thread_time() - t0

        def probe() -> float:
            return statistics.median(host_probe() for _ in range(PROBES))

        passes, probes, results, steals = [], [], [], []
        try:
            with WorkerRss() as rss:
                while len(passes) < MIN_PASSES or sum(passes) < seconds:
                    before = probe()
                    s0, t0 = steal_s(), perf_counter()
                    results.append(spark_pass(df, self.params, self.scans))
                    passes.append(perf_counter() - t0)
                    steals.append(steal_s() - s0)
                    probes.append((before + probe()) / 2)
                    single(-(-self.n // SINGLE_CHUNKS))
        finally:
            spark.stop()
        single(self.n - len(outs))
        self.set_reference(outs)
        for got in results:
            self.check_pass(got)
        # each pass as if nothing had been stolen from the vCPUs it kept busy
        rates = [self.n / (dt - st / os.cpu_count()) for dt, st in zip(passes, steals)]
        rate = statistics.median(rates)
        log(
            f"{len(rates)} Spark passes, docs/s {['%.1f' % r for r in rates]}, "
            f"host probe ms {['%.2f' % (p * 1e3) for p in probes]}, steal s {['%.3f' % x for x in steals]}, "
            f"pass s {['%.4f' % x for x in passes]}; single-process {single_s:.2f} s ({elapsed()})"
        )
        return {
            "setup_s": (statistics.median(setups), "s"),
            "docs_per_s": (statistics.median(r * p / PROBE_REF_S for r, p in zip(rates, probes)), "1/s"),
            "scaling_eff": (rate * single_s / (workloads.SLOTS * self.n), "frac"),
            "peak_worker_rss_mb": (rss.peak_kb / 1024, "MB"),
        }

    def traced(self) -> dict:
        """Untraced and traced single-process passes, alternated twice,
        then one Spark session with an event log: identity passes and one
        extraction pass."""
        tracer = layers.Tracer()
        untraced, traced_s = [], 0.0
        for _ in range(2):
            _, secs = self.single_pass()
            untraced.append(secs)
            outs, tsecs = layers.traced_pass(self.rows, self.params, tracer)
            traced_s += sum(tsecs)
            # tracing must not change a single output byte
            self.attempted += self.n
            self.failed += check.count_failures(
                {d["url"]: check.row_digest(d) for d in outs}, self.ref_digests
            )
        os.makedirs(os.path.join(self.cache, "out"), exist_ok=True)
        tracer.write(os.path.join(self.cache, "out", f"spans_{self.workload}_s{self.seed}.json"))
        secs = [t for ts in untraced for t in ts]
        metrics = layers.reduce_spans(tracer.spans, tracer.counts, 2 * self.n)
        metrics["trace.overhead_frac"] = traced_s / sum(secs) - 1
        metrics["document.extract_document.ms_p50"] = statistics.median(secs) * 1e3
        metrics["document.extract_document.ms_p99"] = layers.percentile(secs, 99) * 1e3
        metrics["document.extract_document.samples"] = len(secs)
        untraced_s = sum(secs) / 2

        event_log = tempfile.mkdtemp(prefix="eventlog-", dir=self.tmp)
        spark, df, _ = self.setup(event_log)
        try:
            ident = []
            for _ in range(IDENTITY_PASSES):
                t0 = perf_counter()
                identity_pass(df)
                ident.append(perf_counter() - t0)
            spark.sparkContext.setJobDescription(EXTRACT_JOB)
            self.check_pass(spark_pass(df, self.params, self.scans))
        finally:
            spark.stop()
        tasks = layers.parse_event_log(event_log, EXTRACT_JOB)
        shutil.rmtree(event_log)
        metrics.update({k: v for k, v in tasks.items() if k.startswith("pipeline.")})
        metrics["pipeline.identity_pass_s"] = statistics.median(ident)
        metrics["pipeline.boundary_frac"] = 1 - untraced_s / tasks["slot_s"]
        return {name: (metrics[name], unit) for name, unit in layers.metric_units().items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--write-golden", action="store_true",
        help="record the single-process table digest of --workload at --seed in golden.json and exit",
    )
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dedoc_spark", "__init__.py")):
        log("dedoc_spark/ not found: run from the repository root")
        return 2
    sys.path.insert(0, root)
    tmp = os.path.join(root, ".perfbench_cache", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # one BLAS thread per process: the single-process baseline then runs on
    # one core, like each Spark worker (Spark sets the same for its workers)
    os.environ["OMP_NUM_THREADS"] = os.environ["OPENBLAS_NUM_THREADS"] = "1"

    run = Run(args.workload, args.seed, root)
    if args.write_golden:
        run.single_pass()
        run.golden[args.workload] = {
            "seed": args.seed, "rows": run.n, "digest": check.table_digest(run.ref_digests),
        }
        with open(os.path.join(HERE, "golden.json"), "w") as f:
            json.dump(run.golden, f, indent=2, sort_keys=True)
            f.write("\n")
        return 0
    try:
        metrics = run.traced() if args.trace else run.timed(args.seconds)
    finally:
        shutdown_jvm()
        log(f"done ({elapsed()})")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
