"""The Spark extraction stage: Iceberg/parquet web_pages → extracted docs.

Design (SURVEY.md §1.4, §7.0 — Spark-first, not a port):

  read (url, html, text only — column pruning reaches the scan)
    → repartition on salted xxhash64(url)     (absorbs oversized-doc skew)
    → mapInPandas(extract_batch)              (Arrow batches; one Python
      call per batch, never per row — the per-document object tree lives
      only inside the UDF)
    → output columns url, text_extracted, …, error
    → lineage/metrics = aggregation over spark_partition_id()

The reference's three process boundaries (soffice/java subprocesses,
joblib per-page pools, API child process — dedoc_manager.py, §3) all
disappear: Spark task parallelism replaces them.

Scale notes (100 TB / 10^12 rows):
  - DEFAULT IS NO SHUFFLE: when the source layout is uniform (Iceberg
    write targets, sized part files) the extraction is scan-aligned and
    perfectly parallel — measured here, shuffling 100k pages' html bytes
    through disk cost more than the whole extraction. Pass
    salt_partitions only when the layout itself is skewed (giant files,
    hot key ranges); then pick ≈ input_bytes / 128 MiB and let AQE's
    skew split handle what the salting missed.
  - oversized documents (length(html) > big_doc_threshold) are routed to
    a separate pass so one 100 MB page cannot stall an Arrow batch of
    10k ordinary pages (split_oversized below; mirrors dedoc's per-page
    fan-out idea, pdf_base_reader.py:110-117, without its joblib).
  - resume = anti-join on committed urls (Iceberg snapshot in prod,
    resume_anti_join below) — dedoc has no streaming; checkpointing is
    batch-incremental (SURVEY.md §2.13).
"""

from __future__ import annotations

import functools
import os
from typing import Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# baked into bootstrapped() closures so python workers can import
# dedoc_spark no matter what cwd/PYTHONPATH the driver was launched with
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bootstrapped(fn: Callable) -> Callable:
    """Wrap a Python UDF body (``mapInPandas`` function) so a worker can
    run it whatever cwd/PYTHONPATH the driver was started with.

    ``fn`` is pickled to bytes HERE, on the driver. The returned closure
    is pickled BY VALUE (cloudpickle does that for nested functions);
    on the worker it puts the repository root on ``sys.path`` first and
    only then unpickles ``fn``. So ``fn`` may reference module-level
    ``dedoc_spark`` names (functions, classes, ``functools.partial`` of a
    module function) — they resolve after the path is fixed. Broadcasts
    and accumulators inside ``fn`` ride along: pickling registers them
    with the SparkContext, and the command that ships this closure
    carries them.

    The package is not shipped with ``SparkContext.addPyFile``:
    ``core/glyph_ocr.py`` and ``operators/line_labeler.py`` open model
    files through paths next to their modules (``models/glyph_bank.json.gz``,
    the labeler JSON), which a zipped package would break. This is the
    only place that knows how a worker finds the package.

    The closure also stops a reused worker from re-reading its zip
    archives on every task. Before each task Spark's
    ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
    and every cached ``zipimporter`` (about a dozen ``pyspark.zip``
    subpackages plus the spark-core jar on the worker PYTHONPATH) then
    re-reads its whole archive directory: about 225 ms per task on a
    4-vCPU host. ``run`` gives each zipimporter in
    ``sys.path_importer_cache`` a no-op ``invalidate_caches`` of its own.
    Zipimporters that lazy imports create later are patched when the next
    task enters, and a fresh worker's first task still pays once, because
    Spark invalidates before the UDF runs. This is safe because Spark
    invalidates only so that files shipped with ``addFile``/
    ``addPyFile``/``addArchive`` become importable. Those arrive as NEW
    ``sys.path`` entries with new importers, which the patch does not
    touch, and this repository ships none of them
    (``tests/test_worker_bootstrap.py`` checks that). ``pyspark.zip`` and
    the Spark jars never change during a worker's life."""
    from pyspark import cloudpickle

    payload = cloudpickle.dumps(fn)
    repo = _REPO_ROOT

    def run(*args):
        import pickle
        import sys
        import zipimport

        # defined here, not at module level: a module function would be
        # pickled by reference and need the package before the path is set
        def keep_directory():
            pass

        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                importer.invalidate_caches = keep_directory
        if repo not in sys.path:
            sys.path.insert(0, repo)
        return pickle.loads(payload)(*args)

    return run


EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text_extracted", T.StringType()),
        T.StructField("text_linear", T.StringType()),
        T.StructField("n_lines", T.IntegerType()),
        T.StructField("n_tables", T.IntegerType()),
        T.StructField("lines_json", T.StringType()),
        T.StructField("tree_json", T.StringType()),
        T.StructField("nodes_json", T.StringType()),
        T.StructField("tables_json", T.StringType()),
        T.StructField("warnings", T.ArrayType(T.StringType())),
        T.StructField("error", T.StringType()),
    ]
)

# typed view of lines_json for relational ops (from_json is JVM-side)
LINE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("line", T.StringType()),
            T.StructField("page_id", T.IntegerType()),
            T.StructField("line_id", T.IntegerType()),
            T.StructField(
                "tag_hl",
                T.StructType(
                    [
                        T.StructField("level_1", T.DoubleType()),
                        T.StructField("level_2", T.DoubleType()),
                        T.StructField("can_be_multiline", T.BooleanType()),
                        T.StructField("line_type", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "hl",
                T.StructType(
                    [
                        T.StructField("level_1", T.DoubleType()),
                        T.StructField("level_2", T.DoubleType()),
                        T.StructField("can_be_multiline", T.BooleanType()),
                        T.StructField("line_type", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "annotations",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("start", T.IntegerType()),
                            T.StructField("end", T.IntegerType()),
                            T.StructField("name", T.StringType()),
                            T.StructField("value", T.StringType()),
                        ]
                    )
                ),
            ),
            T.StructField("uid", T.StringType()),
        ]
    )
)

NODE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("node_id", T.StringType()),
            T.StructField("parent_id", T.StringType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("paragraph_type", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_annotations", T.IntegerType()),
        ]
    )
)


def _wants_rendered(params: Optional[dict]) -> bool:
    """return_format != json asks for an extra response rendering — the
    stage schema grows a nullable ``rendered`` column ONLY then, so the
    default output bytes (and schema) stay stable."""
    return str((params or {}).get("return_format", "json")).lower() != "json"


def _extract_batches(
    it: Iterator[pd.DataFrame], params: Optional[dict] = None
) -> Iterator[pd.DataFrame]:
    # lazy: importing this module (driver side) does not load the engine
    from dedoc_spark.core.document import extract_document

    columns = [f.name for f in EXTRACT_SCHEMA.fields]
    if _wants_rendered(params):
        columns.append("rendered")
    for pdf in it:
        urls = pdf["url"].tolist()
        htmls = pdf["html"].tolist() if "html" in pdf.columns else [None] * len(urls)
        texts = pdf["text"].tolist() if "text" in pdf.columns else [None] * len(urls)
        out = [extract_document(u, h, t, params=params) for u, h, t in zip(urls, htmls, texts)]
        if "rendered" in columns:
            for d in out:  # error rows carry no rendering — explicit null
                d.setdefault("rendered", None)
        # column-wise construction: pandas builds each column in one
        # pass instead of per-cell dict probing over a row list
        yield pd.DataFrame({c: [d.get(c) for d in out] for c in columns}, columns=columns)


def extract_stage(
    df: DataFrame,
    salt_partitions: Optional[int] = None,
    params: Optional[dict] = None,
) -> DataFrame:
    """Run the extraction pipeline over a web_pages-shaped DataFrame.

    Only (url, html, text) are selected — Catalyst pushes the projection
    into the scan, so warc_ts/lang are never deserialized here.
    """
    cols = [c for c in ("url", "html", "text") if c in df.columns]
    src = df.select(*cols)
    if salt_partitions:
        # explicit salting on url hash: uniform placement regardless of the
        # input file layout; keeps oversized-doc clusters apart
        src = src.repartition(salt_partitions, F.pmod(F.xxhash64("url"), F.lit(salt_partitions)))
    schema = EXTRACT_SCHEMA
    if _wants_rendered(params):
        schema = T.StructType(
            EXTRACT_SCHEMA.fields + [T.StructField("rendered", T.StringType())]
        )
    return src.mapInPandas(
        bootstrapped(functools.partial(_extract_batches, params=params)), schema=schema
    )


def split_oversized(df: DataFrame, big_doc_threshold: int = 1 << 20) -> Tuple[DataFrame, DataFrame]:
    """Route oversized documents to their own pass (smaller Arrow batches,
    more partitions) — the skew valve for the heavy tail."""
    size = F.coalesce(F.length("html"), F.lit(0)) + F.coalesce(F.length("text"), F.lit(0))
    return df.filter(size <= big_doc_threshold), df.filter(size > big_doc_threshold)


def extract_with_skew_routing(
    df: DataFrame,
    salt_partitions: Optional[int] = None,
    big_doc_threshold: int = 1 << 20,
    big_doc_partitions: Optional[int] = None,
) -> DataFrame:
    """extract_stage with the oversized-document route: big docs get one
    document per task (repartition by url) so they can't stall a batch."""
    small, big = split_oversized(df, big_doc_threshold)
    out_small = extract_stage(small, salt_partitions)
    out_big = extract_stage(big.repartition(big_doc_partitions or 32, "url"))
    return out_small.unionByName(out_big)


def lines_table(extracted: DataFrame) -> DataFrame:
    """Exploded per-line relational view: one row per (url, line_id)."""
    return (
        extracted.select("url", F.from_json("lines_json", LINE_SCHEMA).alias("lines"))
        .select("url", F.explode("lines").alias("l"))
        .select(
            "url",
            F.col("l.line_id").alias("line_id"),
            F.col("l.page_id").alias("page_id"),
            F.col("l.line").alias("line"),
            F.col("l.hl.line_type").alias("line_type"),
            F.col("l.hl.level_1").alias("level_1"),
            F.col("l.hl.level_2").alias("level_2"),
            F.col("l.annotations").alias("annotations"),
            F.col("l.uid").alias("uid"),
        )
    )


def nodes_table(extracted: DataFrame) -> DataFrame:
    """Exploded flat tree-node view: one row per (url, node_id)."""
    return (
        extracted.select("url", F.from_json("nodes_json", NODE_SCHEMA).alias("nodes"))
        .select("url", F.explode("nodes").alias("n"))
        .select("url", "n.node_id", "n.parent_id", "n.depth", "n.paragraph_type", "n.text", "n.n_annotations")
    )


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule): url counts, line
    totals, error counts, extracted bytes — an aggregation over the output,
    written alongside it in prod."""
    return (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("url_count"),
            F.sum("n_lines").alias("lines_out"),
            F.sum(F.length("text_extracted")).alias("chars_out"),
            F.count(F.col("error")).alias("errors"),
        )
    )


def resume_anti_join(input_df: DataFrame, done_df: DataFrame) -> DataFrame:
    """Checkpoint resume: drop urls already committed by a previous run
    (Iceberg snapshot in prod). Anti-join is broadcast-able when the done
    set is small; at scale both sides hash-partition on url."""
    return input_df.join(done_df.select("url"), on="url", how="left_anti")
