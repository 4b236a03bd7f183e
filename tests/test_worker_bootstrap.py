"""Every Python UDF finds the package in a fresh worker, and a reused
worker keeps its zip-import directories.

The driver below is started from an empty directory with the repository
on its own ``sys.path`` only (not on PYTHONPATH). With
``spark.python.worker.reuse=false`` Spark starts a new Python worker for
every task, so a UDF body that is not wrapped in
``operators.pipeline.bootstrapped`` fails with ``ModuleNotFoundError: No
module named 'dedoc_spark'``, instead of passing because an earlier
bootstrapped UDF already fixed the path of a reused worker. With
``reuse=true`` and one task slot, every task runs in one worker: from the
second task on, ``bootstrapped`` must keep Spark's per-task
``importlib.invalidate_caches()`` from re-reading the zip archives, and
every UDF family must still import through the patched importers.

The static checks keep it that way: under ``dedoc_spark/`` only
``operators/pipeline.py`` knows about ``sys.path``, every Python UDF
argument is a ``bootstrapped(...)`` call, and nothing ships files to the
workers, which the no-op invalidation relies on.

An extraction worker loads the engine and nothing else: after
``extract_stage`` has run over one row of each kind of input, a probe task
in the same reused worker finds neither pandas nor the other operator
modules imported, and statically no ``core/`` module imports them at module
level.
"""

import ast
import json
import os
import subprocess
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "dedoc_spark"

DRIVER = r"""
import io
import json
import sys
import traceback
import zipfile

sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]" if REUSE else "local[2]")
    .config("spark.python.worker.reuse", "true" if REUSE else "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")


def zip_bytes():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", "first member")
        zf.writestr("b.txt", "second member")
    return buf.getvalue()


def classifier():
    from dedoc_spark.core.txtlayer import train_default_model
    from dedoc_spark.operators.classifier import score_text_quality

    df = spark.createDataFrame(
        [("u1", "A plain sentence about documents and their structure."), ("u2", "@@@ ### 123")],
        "url string, text string",
    )
    rows = score_text_quality(df, train_default_model()).collect()
    return sorted(r.url for r in rows) == ["u1", "u2"]


def extract():
    from dedoc_spark.operators.pipeline import extract_stage

    df = spark.createDataFrame(
        [("a.html", bytearray(b"<html><body><h1>Title</h1><p>Body text</p></body></html>"), None)],
        "url string, html binary, text string",
    )
    rows = extract_stage(df, params={"return_format": "plain_text"}).collect()
    # the rendering exists only when the partial's params reached the worker
    return len(rows) == 1 and rows[0].error is None and "Body text" in (rows[0].rendered or "")


def archives():
    from dedoc_spark.operators.archives import explode_archives

    df = spark.createDataFrame([("x.zip", bytearray(zip_bytes()))], "url string, html binary")
    urls = sorted(r.url for r in explode_archives(df).collect())
    return urls == ["x.zip#a.txt", "x.zip#b.txt"]


def attachments():
    from dedoc_spark.operators.archives import explode_attachments

    df = spark.createDataFrame([("x.zip", bytearray(zip_bytes()))], "url string, html binary")
    urls = sorted(r.url for r in explode_attachments(df).collect())
    return urls == ["x.zip#a.txt", "x.zip#b.txt"]


def media():
    import numpy as np

    from dedoc_spark.core.image_decode import encode_png
    from dedoc_spark.operators.multimodal import media_features

    png = encode_png(np.zeros((3, 5, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [("m1", "image", bytearray(png))], "media_id string, media_type string, media binary"
    )
    (row,) = media_features(df).collect()
    return row.error is None and (row.width, row.height) == (5, 3)


def warc():
    import os

    from dedoc_spark.sources.warc import build_warc, read_warc

    path = os.path.abspath("pages.warc.gz")
    with open(path, "wb") as f:
        f.write(build_warc([{"url": "http://a.example/", "date": "2024-01-02T03:04:05Z", "body": "<p>hi</p>"}]))
    rows = read_warc(spark, path).collect()
    return [r.url for r in rows] == ["http://a.example/"]


def zip_directories(pdf_iter):
    import os
    import zipimport

    snapshot = sorted((archive, id(files)) for archive, files in zipimport._zip_directory_cache.items())
    for pdf in pdf_iter:
        yield pdf.assign(pid=os.getpid(), snapshot=json.dumps(snapshot))


results = {}
if REUSE:
    # first, so that task 1 is the worker's first task
    from dedoc_spark.operators.pipeline import bootstrapped

    rows = (
        spark.range(0, 6, numPartitions=6)
        .mapInPandas(bootstrapped(zip_directories), "id long, pid long, snapshot string")
        .collect()
    )
    results["zip_directories"] = [[r.pid, json.loads(r.snapshot)] for r in sorted(rows)]
for check in (classifier, extract, archives, attachments, media, warc):
    try:
        results[check.__name__] = "ok" if check() else "wrong result"
    except Exception as e:
        text = "".join(traceback.format_exception_only(type(e), e))
        results[check.__name__] = "ModuleNotFoundError" if "ModuleNotFoundError" in text else text[-400:]
spark.stop()
print("RESULTS " + json.dumps(results))
"""


FAMILIES = ("classifier", "extract", "archives", "attachments", "media", "warc")


def _run_driver(cwd, reuse, driver=DRIVER):
    env = dict(os.environ)
    kept = [
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != REPO
    ]
    env["PYTHONPATH"] = os.pathsep.join(kept)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", f"REPO = {str(REPO)!r}\nREUSE = {reuse!r}\n" + driver],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULTS ")]
    assert lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULTS "):])


def test_fresh_workers_find_the_package(tmp_path):
    assert _run_driver(tmp_path, reuse=False) == {name: "ok" for name in FAMILIES}


def test_reused_worker_keeps_its_zip_directories(tmp_path):
    results = _run_driver(tmp_path, reuse=True)
    tasks = results.pop("zip_directories")
    assert results == {name: "ok" for name in FAMILIES}
    assert len(tasks) == 6
    assert len({pid for pid, _ in tasks}) == 1, tasks
    # pyspark.zip is always imported from, so it is always cached
    assert any(archive.endswith("pyspark.zip") for archive, _ in tasks[0][1]), tasks[0]
    # the first task paid Spark's re-read; no later one may
    snapshots = {json.dumps(snapshot) for _, snapshot in tasks[1:]}
    assert len(snapshots) == 1, tasks


EXTRACTION_DRIVER = r"""
import json
import sys

sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

from dedoc_spark.core.scanfont import render_scan_page
from dedoc_spark.operators.pipeline import bootstrapped, extract_stage
from dedoc_spark.sources.docx_fixture import example_docx
from dedoc_spark.sources.pdf_fixture import build_scanned_pdf, example_pdf

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.python.worker.reuse", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

rows = [
    ("a.html", bytearray(b"<html><body><h1>Title</h1><p>Body text</p></body></html>"), None),
    ("b.txt", None, "plain text line\nsecond line"),
    ("c.docx", bytearray(example_docx()), None),
    ("d.pdf", bytearray(example_pdf(1)), None),
    ("e.pdf", bytearray(build_scanned_pdf([render_scan_page(["Scanned page"], scale=2)])), None),
]
df = spark.createDataFrame(rows, "url string, html binary, text string").coalesce(1)
out = extract_stage(df, params={"need_pdf_table_analysis": True}).collect()


def probe(batches):
    import os

    import pyarrow as pa

    from dedoc_spark.operators.pipeline import arrow_column

    for _ in batches:
        pass
    mods = sorted(m for m in sys.modules if m.split(".")[0] in ("pandas", "dedoc_spark"))
    report = json.dumps({"pid": os.getpid(), "modules": mods})
    yield pa.RecordBatch.from_arrays([arrow_column([report], pa.string())], names=["report"])


(probe_row,) = spark.range(0, 1, numPartitions=1).mapInArrow(bootstrapped(probe), "report string").collect()
results = {"errors": {r.url: r.error for r in out}, "texts": {r.url: r.text_extracted for r in out}}
results.update(json.loads(probe_row.report))
spark.stop()
print("RESULTS " + json.dumps(results))
"""


def test_extraction_worker_loads_only_the_engine(tmp_path):
    results = _run_driver(tmp_path, reuse=True, driver=EXTRACTION_DRIVER)
    assert results["errors"] == {u: None for u in ("a.html", "b.txt", "c.docx", "d.pdf", "e.pdf")}
    assert "Scanned page" in results["texts"]["e.pdf"]
    mods = set(results["modules"])
    # the probe ran in the worker that extracted every kind of row ...
    for engine in ("document", "html_extract", "txt_extract", "docx_extract", "pdf_extract", "txtlayer", "ocr"):
        assert f"dedoc_spark.core.{engine}" in mods, engine
    # ... and that worker never imported pandas or another operator
    assert not {m for m in mods if m == "pandas" or m.startswith("pandas.")}
    for name in ("archives", "classifier", "dedup", "multimodal", "similarity"):
        assert f"dedoc_spark.operators.{name}" not in mods, name


def _module_level_imports(tree):
    """Modules imported by statements that run at import time (not inside
    a function body)."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            yield node.module or ""
        stack.extend(ast.iter_child_nodes(node))


def test_core_and_the_operators_package_import_no_pandas():
    init = ast.parse((PACKAGE / "operators" / "__init__.py").read_text(encoding="utf-8"))
    assert len(init.body) == 1 and isinstance(init.body[0].value, ast.Constant), (
        "operators/__init__.py keeps only its docstring: every import there "
        "lands in each extraction worker"
    )
    offenders = []
    for path in sorted((PACKAGE / "core").rglob("*.py")):
        for module in _module_level_imports(ast.parse(path.read_text(encoding="utf-8"))):
            if module.split(".")[0] == "pandas" or module.startswith("dedoc_spark.operators"):
                offenders.append(f"{path.relative_to(PACKAGE)}: {module}")
    assert offenders == []


def _package_files():
    return sorted(p for p in PACKAGE.rglob("*.py"))


def test_only_pipeline_knows_the_worker_path():
    offenders = []
    for path in _package_files():
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "operators/pipeline.py":
            continue
        for no, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            if "sys.path" in line or "_REPO_ROOT" in line:
                offenders.append(f"{rel}:{no}")
    assert offenders == []


# the DataFrame methods that take a Python function as their first argument
UDF_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}


def test_every_map_in_pandas_udf_is_bootstrapped():
    calls, offenders = Counter(), []
    for path in _package_files():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            if node.func.attr not in UDF_METHODS:
                continue
            calls[node.func.attr] += 1
            arg = node.args[0] if node.args else None
            ok = (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Name)
                and arg.func.id == "bootstrapped"
            )
            if not ok:
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert calls["mapInPandas"] > 0 and calls["applyInPandasWithState"] > 0
    assert offenders == []


SHIPPING_CALLS = {"addFile", "addPyFile", "addArchive"}
SHIPPING_CONFIGS = {"spark.submit.pyFiles", "spark.files", "spark.archives", "--py-files", "--files", "--archives"}


def test_nothing_ships_files_to_the_workers():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")) + sorted((REPO / "scripts").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            shipping = (
                isinstance(node, ast.Attribute) and node.attr in SHIPPING_CALLS
            ) or (
                isinstance(node, ast.Constant) and node.value in SHIPPING_CONFIGS
            )
            if shipping:
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert offenders == [], (
        "operators/pipeline.bootstrapped keeps reused workers from re-reading their "
        "zip archives, which is sound only while no files are shipped to the workers; "
        "read its docstring before shipping any"
    )
