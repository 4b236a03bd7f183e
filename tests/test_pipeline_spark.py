"""End-to-end Spark pipeline tests: parquet → extract_stage → outputs.

Key invariant: the Spark path produces byte-identical output to the plain
function path, and the same output at any parallelism/partitioning."""

import hashlib
import json
import time
import unicodedata

import pyarrow as pa
import pytest

from dedoc_spark.core.document import extract_document
from dedoc_spark.operators.pipeline import (
    arrow_column,
    extract_stage,
    extract_with_skew_routing,
    lineage_metrics,
    lines_table,
    nodes_table,
    resume_anti_join,
)
from dedoc_spark.sources.web_pages import ensure_web_pages, make_row

N = 300


@pytest.fixture(scope="module")
def web_pages(spark):
    path = ensure_web_pages(N)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def extracted(spark, web_pages):
    return extract_stage(web_pages, salt_partitions=8).cache()


def test_row_count_and_no_errors(extracted):
    rows = extracted.collect()
    assert len(rows) == N
    errors = [r for r in rows if r.error is not None]
    assert errors == []


def test_spark_matches_plain_function(extracted):
    """Byte identity: Spark output per url == plain-Python output per url."""
    got = {r.url: r for r in extracted.collect()}
    for i in range(0, N, 7):
        row = make_row(i)
        expected = extract_document(row["url"], row["html"], row["text"])
        r = got[row["url"]]
        assert r.text_extracted == expected["text_extracted"], row["url"]
        assert r.lines_json == expected["lines_json"], row["url"]
        assert r.tree_json == expected["tree_json"], row["url"]


def test_partitioning_invariance(spark, web_pages, extracted):
    """Same results regardless of salting/partition count."""
    base = {r.url: r.text_extracted for r in extracted.collect()}
    alt = {
        r.url: r.text_extracted
        for r in extract_stage(web_pages.repartition(3), salt_partitions=None).collect()
    }
    assert base == alt


def test_skew_routing_same_results(spark, web_pages, extracted):
    base = {r.url: r.text_extracted for r in extracted.collect()}
    routed = {
        r.url: r.text_extracted
        for r in extract_with_skew_routing(
            web_pages, salt_partitions=8, big_doc_threshold=20_000
        ).collect()
    }
    assert base == routed


def _rows_by_url(df):
    return {r.url: r.asDict() for r in df.collect()}


def test_skew_routing_forwards_params(spark):
    """Both halves of the skew route run with the request params: the
    oversized row's output equals extract_stage's under the same params,
    and differs from its default output."""
    big_url = "https://big.example/page"
    big = (
        "<html><body>"
        + "".join(f"<h2>Part {k}</h2><p>{'word ' * 40}</p>" for k in range(120))
        + "</body></html>"
    ).encode()
    rows = [(r["url"], bytearray(r["html"]), r["text"]) for r in map(make_row, range(1, 7))]
    rows.append((big_url, bytearray(big), ""))
    df = spark.createDataFrame(rows, "url string, html binary, text string")
    params = {"structure_type": "linear", "return_format": "html"}
    routed = _rows_by_url(
        extract_with_skew_routing(df, big_doc_threshold=20_000, big_doc_partitions=2, params=params)
    )
    assert len(big) > 20_000
    assert routed == _rows_by_url(extract_stage(df, params=params))
    assert routed[big_url]["rendered"]
    assert routed[big_url]["tree_json"] != extract_document(big_url, big, "")["tree_json"]


def _zip(members):
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


ODD_TEXT = "nul\x00 sep\u2028 clef\U0001d11e e\u0301 \u0410\u0308 end"
EDGE_ROWS = [
    ("https://e.example/null-html.txt", None, "only text"),
    ("https://e.example/null-text.html", b"<p>only html</p>", None),
    ("https://e.example/both-null", None, None),
    ("https://e.example/empty.html", b"", ""),
    ("https://e.example/odd.txt", None, ODD_TEXT),
    ("https://e.example/odd.html", f"<h1>{ODD_TEXT}</h1><p>{ODD_TEXT}</p>".encode(), None),
    # an error row that carries several warnings (one per member)
    ("https://e.example/pack.zip", _zip([("a.txt", "one"), ("b.txt", "two"), ("c.txt", "three")]), None),
    (None, b"<p>a row without url</p>", None),
]


@pytest.mark.parametrize("params", [None, {"return_format": "html"}], ids=["default", "rendered"])
def test_arrow_output_matches_plain_function_on_edge_rows(spark, params):
    """mapInArrow output, column for column, equals extract_document on
    null and empty inputs, control/separator/astral/combining characters,
    several warnings and error rows — with and without ``rendered``."""
    df = spark.createDataFrame(
        [(u, None if h is None else bytearray(h), t) for u, h, t in EDGE_ROWS],
        "url string, html binary, text string",
    )
    out = extract_stage(df, params=params)
    got = _rows_by_url(out)
    assert len(got) == len(EDGE_ROWS)
    assert ("rendered" in out.columns) == (params is not None)
    for url, html, text in EDGE_ROWS:
        want = extract_document(url, html, text, params=params)
        assert got[url] == {c: want.get(c) for c in out.columns}, url
    assert got["https://e.example/pack.zip"]["error"] and len(got["https://e.example/pack.zip"]["warnings"]) == 3
    assert got[None]["error"]
    # the text reader composes combining sequences (NFC); the rest survives
    assert unicodedata.normalize("NFC", ODD_TEXT) in got["https://e.example/odd.txt"]["text_extracted"]


DEPTH = 2000
DEEP_PAGES = [
    ("https://deep.example/div.html", "<body>" + "<div>" * DEPTH + "deep text" + "</div>" * DEPTH + "</body>"),
    ("https://deep.example/b.html", "<body><p>" + "<b>" * DEPTH + "deep bold" + "</b>" * DEPTH + "</p></body>"),
    (
        "https://deep.example/colspan.html",
        "<body><table border='1'><tr><td colspan='2'>" + "<div>" * DEPTH + "cell text" + "</div>" * DEPTH
        + "</td></tr><tr><td>x</td><td>y</td></tr></table></body>",
    ),
    # each list level is two document-tree levels: the tree walks go as deep
    ("https://deep.example/ul.html", "<ul><li>item" * (DEPTH // 2)),
    # MAX_TABLE_DEPTH tables open at once (about 0.1 s)
    ("https://deep.example/table10.html", "<table><tr><td>" * 10 + "x" + "</td></tr></table>" * 10),
]
# nesting past MAX_HTML_DEPTH: a list 20,000 deep (180 KB) and a block;
# past MAX_TABLE_DEPTH: 11 tables
LIMIT_PAGES = [
    ("https://deep.example/ul20k.html", "<body>" + "<ul><li>a" * 20_000),
    ("https://deep.example/div20k.html", "<div>" * 20_000 + "x" + "</div>" * 20_000),
    ("https://deep.example/table11.html", "<table><tr><td>" * 11 + "x" + "</td></tr></table>" * 11),
]


def test_deep_html_gives_the_same_content_row_on_every_path(spark):
    """Nesting 2,000 deep (blocks, inline tags, a merged cell's subtree,
    a list) is content, not a RecursionError row, and the row does not depend on
    the caller's stack: extract_document and a Python worker of
    extract_stage give the same bytes."""
    df = spark.createDataFrame(
        [(url, bytearray(html.encode()), None) for url, html in DEEP_PAGES],
        "url string, html binary, text string",
    ).coalesce(1)
    out = extract_stage(df)
    got = _rows_by_url(out)
    for url, html in DEEP_PAGES:
        want = extract_document(url, html.encode(), None)
        assert want["error"] is None and want["warnings"] == [], url
        assert got[url] == {c: want.get(c) for c in out.columns}, url
    assert "deep text" in got["https://deep.example/div.html"]["text_extracted"]
    assert "deep bold" in got["https://deep.example/b.html"]["text_extracted"]
    cells = json.loads(got["https://deep.example/colspan.html"]["tables_json"])[0]["cells"]
    assert [[c["lines"][0]["line"] for c in row] for row in cells] == [["cell text", "cell text"], ["x", "y"]]
    assert got["https://deep.example/ul.html"]["text_extracted"].count("item") == DEPTH // 2
    # the bytes from before the table cap
    table10 = json.dumps(got["https://deep.example/table10.html"], sort_keys=True)
    assert hashlib.sha256(table10.encode()).hexdigest()[:16] == "3a2fe481d8d49959"


def test_html_past_the_depth_limit_gives_the_same_limit_row_on_every_path(spark):
    """Nesting past MAX_HTML_DEPTH stops the parse where it passes the
    limit: a quick ``resource_limit:depth`` row, the same from
    extract_document and from extract_stage."""
    for url, html in LIMIT_PAGES:
        t0 = time.perf_counter()
        want = extract_document(url, html.encode(), None)
        assert time.perf_counter() - t0 < 1.0, url
        assert want["error"] == "resource_limit:depth" and want["text_extracted"] == "", url
    df = spark.createDataFrame(
        [(url, bytearray(html.encode()), None) for url, html in LIMIT_PAGES],
        "url string, html binary, text string",
    ).coalesce(1)
    out = extract_stage(df)
    got = _rows_by_url(out)
    for url, html in LIMIT_PAGES:
        want = extract_document(url, html.encode(), None)
        assert got[url] == {c: want.get(c) for c in out.columns}, url


def test_deep_json_gives_the_same_row_on_every_path(spark):
    """JSON nested past MAX_JSON_DEPTH is a ``resource_limit:depth`` row
    (json.loads' C decoder fails near 1,000 levels, earlier on a deeper
    stack), and at the budget a content row; both equal from
    extract_document and from extract_stage on one Python worker."""
    from dedoc_spark.core.limits import MAX_JSON_DEPTH

    docs = [
        ("https://deep.example/2000.json", "[" * 2000 + '"x"' + "]" * 2000),
        ("https://deep.example/at_budget.json", "[" * MAX_JSON_DEPTH + '"x"' + "]" * MAX_JSON_DEPTH),
    ]
    df = spark.createDataFrame(
        [(url, bytearray(doc.encode()), None) for url, doc in docs], "url string, html binary, text string"
    ).coalesce(1)
    out = extract_stage(df)
    got = _rows_by_url(out)
    want = {url: extract_document(url, doc.encode(), None) for url, doc in docs}
    assert want[docs[0][0]]["error"] == "resource_limit:depth"
    assert want[docs[1][0]]["error"] is None
    for url, _ in docs:
        assert got[url] == {c: want[url].get(c) for c in out.columns}, url


def test_deep_json_gives_the_limit_error_in_the_attachment_channel(spark):
    """Listing html_fields attachments of JSON past MAX_JSON_DEPTH gives an
    error row whose error is the document row's, ``resource_limit:depth``."""
    from dedoc_spark.operators.archives import explode_attachments

    doc = '{"a": ' + "[" * 2000 + '"x"' + "]" * 2000 + "}"
    df = spark.createDataFrame([("https://deep.example/a.json", bytearray(doc.encode()))], "url string, html binary")
    rows = explode_attachments(df, params={"html_fields": [["a"]]}).collect()
    assert [(r.url, r.error, r.kind) for r in rows] == [("https://deep.example/a.json", "resource_limit:depth", "error")]
    assert extract_document("https://deep.example/a.json", doc.encode(), None)["error"] == "resource_limit:depth"


def test_a_zip_bomb_gives_the_limit_row_on_every_path(spark, zip_bomb):
    """A zip member past MAX_UNZIP_BYTES is ``resource_limit:zip_member``
    from extract_document and extract_stage for a docx, and as the error
    row of both explosion channels (archive members, attachments). A bare
    zip's own row reads no member: it names the members and asks for
    explosion, on both paths alike."""
    from dedoc_spark.operators.archives import explode_archives, explode_attachments

    docx, archive = "https://bomb.example/a.docx", "https://bomb.example/a.zip"
    rows = [(docx, zip_bomb("docx")), (archive, zip_bomb("zip"))]
    df = spark.createDataFrame(
        [(url, bytearray(payload), None) for url, payload in rows], "url string, html binary, text string"
    ).coalesce(1)
    out = extract_stage(df)
    got = _rows_by_url(out)
    limit = "resource_limit:zip_member"
    explode = "needs_explosion:zip (use operators.archives.extract_with_archives)"
    for url, payload in rows:
        want = extract_document(url, payload, None)
        assert want["error"] == (limit if url == docx else explode), url
        assert got[url] == {c: want.get(c) for c in out.columns}, url
    # a docx is no archive: explode_archives passes it through to extraction
    assert [(r.url, r.error) for r in explode_archives(df).collect() if r.kind != "passthrough"] == [(archive, limit)]
    assert sorted((r.url, r.error, r.kind) for r in explode_attachments(df).collect()) == [
        (docx, limit, "error"), (archive, limit, "error")
    ]


STR, I32 = pa.string(), pa.int32()
LIST = pa.list_(pa.field("element", pa.string()))


@pytest.mark.parametrize(
    "values, typ",
    [
        (["a", None, "", ODD_TEXT, "\u00fc" * 3], STR),
        ([None, None, None], STR),
        ([], STR),
        ([0, None, -5, 2**31 - 1], I32),
        ([None, None], I32),
        ([], I32),
        ([["a", "b"], [], None, ["", None, ODD_TEXT]], LIST),
        ([[], [], []], LIST),
        ([None, None], LIST),
        ([], LIST),
    ],
)
def test_arrow_column_equals_pa_array(values, typ):
    got = arrow_column(values, typ)
    got.validate(full=True)
    assert got.equals(pa.array(values, typ))


def test_record_batches_split_before_offsets_overflow(monkeypatch):
    from pyspark.sql.pandas.types import to_arrow_schema

    from dedoc_spark.operators import pipeline

    schema = to_arrow_schema(pipeline.EXTRACT_SCHEMA)
    rows = [extract_document(f"u{i}.txt", None, f"line {i}") for i in range(7)]
    (whole,) = pipeline._record_batches(rows, schema)
    assert whole.equals(pa.RecordBatch.from_pylist(rows, schema=schema))
    (empty,) = pipeline._record_batches([], schema)
    assert empty.num_rows == 0 and empty.schema == schema

    # no column of one batch may pass the int32 offsets: lower the limit
    monkeypatch.setattr(pipeline, "_MAX_OFFSET", 2 * max(len(r["lines_json"]) for r in rows))
    parts = list(pipeline._record_batches(rows, schema))
    assert len(parts) > 1
    for part in parts:
        part.validate(full=True)
    assert pa.Table.from_batches(parts).equals(pa.Table.from_batches([whole]))
    monkeypatch.setattr(pipeline, "_MAX_OFFSET", 3)
    with pytest.raises(OverflowError):
        list(pipeline._record_batches(rows, schema))


def test_lines_table_explode(spark, extracted):
    lt = lines_table(extracted)
    assert lt.columns[:4] == ["url", "line_id", "page_id", "line"]
    total = lt.count()
    sum_n = extracted.agg({"n_lines": "sum"}).collect()[0][0]
    assert total == sum_n
    # line_id dense per url starting at 0
    from pyspark.sql import functions as F

    bad = (
        lt.groupBy("url")
        .agg(F.min("line_id").alias("mn"), F.max("line_id").alias("mx"), F.count("*").alias("c"))
        .filter((F.col("mn") != 0) | (F.col("mx") != F.col("c") - 1))
        .count()
    )
    assert bad == 0


def test_nodes_table(spark, extracted):
    nt = nodes_table(extracted)
    roots = nt.filter("node_id = '0'").count()
    assert roots == N
    assert nt.filter("parent_id is null and node_id <> '0'").count() == 0


def test_lineage_metrics(spark, extracted):
    m = lineage_metrics(extracted).collect()
    assert sum(r.url_count for r in m) == N
    assert all(r.errors == 0 for r in m)


def test_resume_anti_join(spark, web_pages):
    done = extract_stage(web_pages.limit(100)).select("url")
    remaining = resume_anti_join(web_pages, done)
    assert remaining.count() == N - 100


def test_projection_pushdown(spark, web_pages):
    """The extract stage reads only url/html/text from the scan."""
    plan = extract_stage(web_pages)._jdf.queryExecution().executedPlan().toString()
    assert "warc_ts" not in plan
    assert "lang" not in plan


def test_params_surface(spark, web_pages):
    """The reference's parameters (api_args.py subset): structure_type,
    patterns, handle_invisible_table flow through the Spark stage."""
    import json as jsonlib

    from pyspark.sql import functions as F

    from dedoc_spark.operators.pipeline import extract_stage as ex

    sample = web_pages.filter(F.length("html") > 0).limit(5)
    linear = ex(sample, params={"structure_type": "linear"}).collect()
    for r in linear:
        tree = jsonlib.loads(r.tree_json)
        # linear: no grandchildren
        for child in tree["subparagraphs"]:
            assert child["subparagraphs"] == []

    pat = ex(
        sample,
        params={"patterns": [{"name": "regexp", "regexp": "^.*", "line_type": "custom", "level_1": 1, "can_be_multiline": "false"}]},
    ).collect()
    for r in pat:
        lines = jsonlib.loads(r.lines_json)
        assert all(ln["hl"]["line_type"] == "custom" for ln in lines)


def test_streaming_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState dedup keeps exactly the first row per content
    fingerprint ACROSS micro-batches: the duplicate arrives in a later file
    (= later micro-batch with maxFilesPerTrigger=1) and is dropped."""
    import time

    from dedoc_spark.streaming import streaming_dedup

    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(
        [("u1", "same content here"), ("u2", "other content")], "url string, text string"
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    spark.createDataFrame(
        [("u3", "same   CONTENT here"), ("u4", "third content")], "url string, text string"
    ).coalesce(1).write.parquet(str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_sink").collect()
    urls = sorted(r.url for r in rows)
    # u3 normalizes to u1's fingerprint (case+whitespace fold) → dropped
    assert urls == ["u1", "u2", "u4"]


def test_streaming_rollup_windowed(spark, tmp_path):
    """Watermarked event-time windows: two 1-hour windows, counts per lang;
    append mode emits only watermark-closed windows (all of them under
    availableNow once the source is exhausted)."""
    from datetime import datetime

    from dedoc_spark.streaming import streaming_rollup

    src = tmp_path / "roll_src"
    src.mkdir()
    rows = [
        ("u1", datetime(2026, 1, 1, 10, 5), bytearray(b"<p>a</p>"), "", "en"),
        ("u2", datetime(2026, 1, 1, 10, 35), bytearray(b"<p>bb</p>"), "", "en"),
        ("u3", datetime(2026, 1, 1, 10, 50), bytearray(b"<p>c</p>"), "", "ru"),
        ("u4", datetime(2026, 1, 1, 11, 10), bytearray(b"<p>dd</p>"), "", "en"),
        ("u5", datetime(2026, 1, 1, 14, 0), bytearray(b""), "", "en"),  # advances watermark
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(str(src) + "/*/")
    q = (
        streaming_rollup(stream)
        .writeStream.format("memory")
        .queryName("rollup_sink")
        .option("checkpointLocation", str(tmp_path / "roll_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.hour, r.lang): (r.n_docs, r.html_bytes)
        for r in spark.sql("SELECT * FROM rollup_sink").collect()
    }
    assert got[(10, "en")] == (2, 17)
    assert got[(10, "ru")] == (1, 8)
    assert got[(11, "en")] == (1, 9)


def test_streaming_near_dedup_stateful(spark, tmp_path):
    """Band-key state survives micro-batches: a near-duplicate arriving in
    a LATER batch still collides with the first-seen document's bands."""
    from dedoc_spark.streaming import streaming_near_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = tmp_path / "near_src"
    src.mkdir()
    spark.createDataFrame(
        [("u1", base), ("u2", "totally different words entirely here now")],
        "url string, text string",
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    spark.createDataFrame(
        [("u3", base), ("u4", "yet another unrelated body of text")],
        "url string, text string",
    ).coalesce(1).write.parquet(str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    q = (
        streaming_near_dedup(stream)
        .writeStream.format("memory")
        .queryName("near_dedup_sink")
        .option("checkpointLocation", str(tmp_path / "near_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM near_dedup_sink").collect()
    pairs = {(r.url, r.dup_of) for r in rows}
    assert pairs == {("u3", "u1")}  # exact near-dup across batches


def test_streaming_near_dedup_verify_stage(spark, tmp_path):
    """verify_threshold adds the batch path's verify stage to the stream:
    a document that COLLIDES on band keys but is dissimilar (signature
    match fraction below threshold) is suppressed instead of emitted,
    while a true near-duplicate passes with its est_jaccard; state keys
    are unchanged (per band key), only the canonical signature rides
    along."""
    from dedoc_spark.streaming import streaming_near_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    # shares the first few shingles with base → collides on some single-row
    # bands, but only 3/16 signature rows agree (est 0.1875)
    partial = "alpha beta gamma delta mu nu xi omicron pi rho"
    src = tmp_path / "verify_src"
    src.mkdir()
    spark.createDataFrame(
        [("A", base)], "url string, text string"
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))
    spark.createDataFrame(
        [("B", near), ("C", partial)], "url string, text string"
    ).coalesce(1).write.parquet(str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    q = (
        streaming_near_dedup(stream, bands=16, verify_threshold=0.5)
        .writeStream.format("memory")
        .queryName("near_dedup_verify_sink")
        .option("checkpointLocation", str(tmp_path / "verify_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM near_dedup_verify_sink").collect()
    assert {(r.url, r.dup_of) for r in rows} == {("B", "A")}  # C suppressed
    assert all(abs(r.est_jaccard - 0.8125) < 1e-9 for r in rows)
