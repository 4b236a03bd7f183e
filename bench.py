"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric: HTML-extraction throughput (docs/s) of the full pipeline
(block walk → annotations → structure → tree → json2txt) over the
deterministic synthetic web_pages table — comparable against the
reference's ~10 docs/s single-core HTML number (BASELINE.md).

Also times the training-data operators (minhash, LSH pairs, ANN top-k,
boilerplate voting, text profile) on the driver-provided tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# web_pages rows scale with the sf dir (sf0.1 ≈ 20k pages ≈ 60 MB html)
_SF_ROWS = {"sf0.001": 500, "sf0.01": 2_000, "sf0.1": 20_000}
N_PAGES = int(
    os.environ.get(
        "SPARK_GRAFT_WEBPAGES", _SF_ROWS.get(os.path.basename(SF_DIR.rstrip("/")), 20_000)
    )
)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dedoc_spark.operators.pipeline import extract_stage
    from dedoc_spark.plans import driver_queries as dq
    from dedoc_spark.sources.web_pages import ensure_web_pages

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("dedoc_spark_bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    # min-of-N discipline (BENCH.md): the container host is noisy (2-3×
    # outlier trials are normal) — a single-pass sample understated the
    # round-4 artifact by 2.3×. min over 3 passes per query bounds the
    # noise without an exclusive window.
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

    def timed(name, fn):
        best, out = None, None
        for _ in range(trials):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        return out

    # headline: full HTML extraction over synthetic web_pages
    pages_path = ensure_web_pages(N_PAGES)
    pages = spark.read.parquet(pages_path)
    # warm up the JVM + python workers on a small slice (excluded from timing)
    extract_stage(pages.limit(200)).agg(F.sum("n_lines")).collect()

    def run_extract():
        # scan-aligned (no shuffle): the source layout is uniform part
        # files; salting is reserved for skewed layouts (see pipeline.py)
        out = extract_stage(pages)
        return out.agg(
            F.count("*").alias("docs"),
            F.sum(F.length("text_extracted")).alias("chars"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        ).collect()[0]

    stats = timed("html_extract", run_extract)
    docs_per_sec = round(stats["docs"] / timings["html_extract"], 2)

    # operator suite on the driver-provided tables
    timed("q17_html_extract_docs", lambda: dq.q17_html_extract(spark, SF_DIR).agg(F.sum("n_lines")).collect())
    timed("q18_txt_extract_docs", lambda: dq.q18_txt_extract(spark, SF_DIR).agg(F.sum("n_lines")).collect())
    timed("q07_minhash", lambda: dq.q07_minhash(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q08_lsh_pairs", lambda: dq.q08_lsh_pairs(spark, SF_DIR).count())
    timed("q12_ann_topk", lambda: dq.q12_ann_topk(spark, SF_DIR).count())
    timed("q04_boilerplate_votes", lambda: dq.q04_boilerplate_votes(spark, SF_DIR).count())
    timed("q10_text_profile", lambda: dq.q10_text_profile(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q15_spacing_indent", lambda: dq.q15_spacing_indent(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q25_lsh_jaccard", lambda: dq.q25_lsh_jaccard(spark, SF_DIR).count())
    timed("q26_lsh_cosine", lambda: dq.q26_lsh_cosine(spark, SF_DIR).count())
    timed("q29_dup_groups", lambda: dq.q29_dup_groups(spark, SF_DIR).count())
    timed("q32_gopher_flags", lambda: dq.q32_gopher_flags(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q35_gopher_repetition", lambda: dq.q35_gopher_repetition(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q36_bpe_tokens", lambda: dq.q36_bpe_tokens(spark, SF_DIR).agg(F.sum("bpe_tokens")).collect())
    timed("q40_pdf_layout", lambda: dq.q40_pdf_layout(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q41_image_decode", lambda: dq.q41_image_decode(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q42_multipage_tables", lambda: dq.q42_multipage_tables(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q43_dup_spans", lambda: dq.q43_dup_spans(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q44_winnow_fingerprints", lambda: dq.q44_winnow_fingerprints(spark, SF_DIR).count())
    timed("q57_pdf_ruled_tables", lambda: dq.q57_pdf_ruled_tables(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q58_law_structure", lambda: dq.q58_law_structure(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q61_span_removal", lambda: dq.q61_span_removal(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q65_gost_frame", lambda: dq.q65_gost_frame(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q66_tei_article", lambda: dq.q66_tei_article(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q67_scanned_ocr", lambda: dq.q67_scanned_ocr(spark, SF_DIR).agg(F.count("*")).collect())
    timed("q68_real_font_ocr", lambda: dq.q68_real_font_ocr(spark, SF_DIR).agg(F.count("*")).collect())

    # broadcast-model batch classifier over the extracted pages
    from dedoc_spark.core.txtlayer import train_default_model
    from dedoc_spark.operators.classifier import score_text_quality

    model = train_default_model()
    timed(
        "classifier_score",
        lambda: score_text_quality(pages, model, text_col="text")
        .agg(F.count("*"), F.sum(F.col("is_good").cast("int")))
        .collect(),
    )

    result = {
        "metric": "html_extract_docs_per_sec",
        "value": docs_per_sec,
        "unit": "docs/sec",
        "queries": timings,
        "sf": os.path.basename(SF_DIR.rstrip("/")),
        "n_pages": int(stats["docs"]),
        "errors": int(stats["errors"]),
        "cpus": CPUS,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
