"""Archive + attachment handling: explode contained payloads into rows.

The reference turns archive members into attached files re-entering the
parse loop with a depth bound (archive_reader.py:18-55,
attachments_handler.py:46-61, depth ≤ 10). Spark-first shape: members
become rows (url → url#member), which then flow through the ordinary
extraction stage — the recursion is a bounded iteration of DataFrame
passes, not per-file Python recursion.

Every input url yields at least one output row: broken archives and
archives still unexploded after max_depth surface as typed error-channel
extraction rows, never silently vanish.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedoc_spark.operators.pipeline import bootstrapped

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
        # 'member' = extracted from a zip; 'passthrough' = PK bytes that are
        # actually an OOXML/ODF document, not an archive; 'error' = broken
        T.StructField("kind", T.StringType()),
    ]
)


def explode_archives(df: DataFrame, max_members: int = 1000) -> DataFrame:
    """(url, html) rows → one row per zip member (url#member, bytes).

    Rows whose PK bytes are really a single document (docx/xlsx/pptx/odf —
    detect_format inspects the member list) pass through unchanged with
    kind='passthrough'. Broken archives produce one kind='error' row."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedoc_spark.core.formats import detect_format, list_archive_members

        for pdf in it:
            out = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                raw = bytes(payload) if payload is not None else b""
                # strip the member suffix when sniffing: "x.zip#doc.docx"
                # must dispatch on the member's own name
                sniff_url = url.rsplit("#", 1)[-1] if "#" in url else url
                fmt = detect_format(sniff_url, raw, None)
                if fmt != "zip":
                    out.append({"url": url, "html": raw, "text": "", "error": None, "kind": "passthrough"})
                    continue
                try:
                    for name, data in list_archive_members(raw, max_members):
                        out.append({"url": f"{url}#{name}", "html": data, "text": "", "error": None, "kind": "member"})
                except Exception as e:
                    out.append({"url": url, "html": None, "text": "", "error": f"{type(e).__name__}: {e}", "kind": "error"})
            yield pd.DataFrame(out, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return df.select("url", "html").mapInPandas(bootstrapped(fn), MEMBER_SCHEMA)


def _error_extract_rows(df: DataFrame, error_col, params=None) -> DataFrame:
    """Shape (url, error) rows into the EXTRACT_SCHEMA error channel (plus
    the opt-in null ``rendered`` column when return_format is set, so the
    union with extract_stage output stays schema-aligned)."""
    from dedoc_spark.operators.pipeline import _stage_schema

    rendered = "rendered" in _stage_schema(params).names
    extra = [F.lit(None).cast("string").alias("rendered")] if rendered else []
    return df.select(
        F.col("url"),
        F.lit("").alias("text_extracted"),
        F.lit("").alias("text_linear"),
        F.lit(0).cast("int").alias("n_lines"),
        F.lit(0).cast("int").alias("n_tables"),
        F.lit("[]").alias("lines_json"),
        F.lit("{}").alias("tree_json"),
        F.lit("[]").alias("nodes_json"),
        F.lit("[]").alias("tables_json"),
        F.array().cast("array<string>").alias("warnings"),
        error_col.cast("string").alias("error"),
        *extra,
    )


def _archive_magic(col) -> "F.Column":
    """Archive-container magic sniff, matching core.formats.detect_format
    exactly: zip local header, rar4/rar5 signature (native container
    walk, stored members), gzip, tar ustar, 7z signature, bzip2
    ('BZh' PLUS an ASCII digit level byte — plain text that merely starts
    with 'BZh' must NOT be routed into the explosion channel), xz."""
    return (
        (F.substring(col, 1, 4) == F.lit(b"PK\x03\x04"))
        | (F.substring(col, 1, 6) == F.lit(b"Rar!\x1a\x07"))
        | (F.substring(col, 1, 2) == F.lit(b"\x1f\x8b"))
        | (F.substring(col, 258, 5) == F.lit(b"ustar"))
        | (F.substring(col, 1, 6) == F.lit(b"7z\xbc\xaf\x27\x1c"))
        | (
            (F.substring(col, 1, 3) == F.lit(b"BZh"))
            & (F.substring(col, 4, 1) >= F.lit(b"1"))
            & (F.substring(col, 4, 1) <= F.lit(b"9"))
        )
        | (F.substring(col, 1, 6) == F.lit(b"\xfd7zXZ\x00"))
    )


def extract_with_archives(df: DataFrame, max_depth: int = 2, params: dict | None = None) -> DataFrame:
    """Full pipeline with bounded archive recursion.

    Non-archive rows extract directly; PK-magic rows are classified
    (OOXML/ODF documents pass through, real zips explode into member rows)
    and re-fed up to max_depth. Broken archives and zips still nested
    deeper than max_depth come back as typed error-channel rows, so the
    per-row invariant (every input url → ≥1 output row) holds."""
    from pyspark.storagelevel import StorageLevel

    from dedoc_spark.operators import _persist
    from dedoc_spark.operators.pipeline import extract_stage

    # .txt.gz is a SINGLE text document (raw_text_reader.py can_read) —
    # gzip magic alone must not route it into the explosion channel
    # coalesce: a NULL url must not make the predicate NULL (a NULL
    # filter value would drop the row from BOTH branches and break the
    # every-url-yields-a-row invariant)
    is_txt_gz = F.coalesce(F.lower(F.col("url")).endswith(".txt.gz"), F.lit(False))
    maybe_zip = (
        F.col("html").isNotNull()
        & _archive_magic(F.col("html").cast("binary"))
        & ~is_txt_gz
    )
    out = extract_stage(df.filter(~maybe_zip), params=params)
    pending = df.filter(maybe_zip).select("url", "html")
    persisted = []
    for _ in range(max_depth):
        # persist: classified feeds three branches (errors, extractables,
        # next-level zips) — without it each branch re-runs the explode
        classified = explode_archives(pending).persist(StorageLevel.DISK_ONLY)
        persisted.append(classified)
        out = out.unionByName(
            _error_extract_rows(classified.filter(F.col("kind") == "error"), F.col("error"), params)
        )
        ok = classified.filter(F.col("kind") != "error")
        is_zip_m = (
            (F.col("kind") == "member")
            & _archive_magic(F.col("html"))
            & ~F.coalesce(F.lower(F.col("url")).endswith(".txt.gz"), F.lit(False))
        )
        out = out.unionByName(extract_stage(ok.filter(~is_zip_m), params=params))
        pending = ok.filter(is_zip_m).select("url", "html")
    # archives still unexploded after max_depth: typed error rows, not silence
    out = out.unionByName(
        _error_extract_rows(pending, F.lit(f"needs_explosion:zip beyond max_depth={max_depth}"), params)
    )
    _persist.register(persisted)
    out._dedoc_persisted = persisted  # release via unpersist_intermediates
    return out


def unpersist_intermediates(df: DataFrame | None = None) -> int:
    """Release the per-level DISK_ONLY frames a multi-level explode (or
    minhash_lsh_pairs) pinned — they must stay persisted until the
    caller's action has run, since each level feeds several branches of
    the returned lazy union. Call AFTER consuming the result in a
    long-lived session; returns the number of frames released.

    Works on ANY frame: if ``df`` still carries its ``_dedoc_persisted``
    handle, exactly those frames are released; a derived frame (the
    handle does not survive transformations) or ``df=None`` releases
    every registered intermediate in the session."""
    from dedoc_spark.operators import _persist

    return _persist.release(df)


def explode_attachments(
    df: DataFrame, max_members: int = 1000, params: dict | None = None
) -> DataFrame:
    """(url, html) rows → one row per attachment payload (url#name, bytes):
    email parts, office media/embeddings members, mhtml parts, zip members —
    formats.list_attachments. Rows with no attachments produce nothing."""
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from dedoc_spark.core.formats import list_attachments

        for pdf in it:
            out = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                if payload is None:
                    continue
                raw = bytes(payload)
                sniff_url = url.rsplit("#", 1)[-1] if "#" in url else url
                try:
                    for name, data in list_attachments(sniff_url, raw, max_members, params):
                        out.append({"url": f"{url}#{name}", "html": data, "text": "", "error": None, "kind": "member"})
                except Exception as e:
                    out.append({"url": url, "html": None, "text": "", "error": f"{type(e).__name__}: {e}", "kind": "error"})
            yield pd.DataFrame(out, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return df.select("url", "html").mapInPandas(bootstrapped(fn), MEMBER_SCHEMA)


def extract_with_attachments(df: DataFrame, max_depth: int = 2, params: dict | None = None) -> DataFrame:
    """Full pipeline with attachments as first-class recursive documents
    (attachments_handler.py:31-81: re-enter parse per attached file, depth
    bounded — the reference caps at 10). Every original row extracts
    normally; each level's attachment payloads become url#name rows that
    re-enter extraction. Attachment-listing failures surface as typed error
    rows."""
    from pyspark.storagelevel import StorageLevel

    from dedoc_spark.operators import _persist
    from dedoc_spark.operators.pipeline import extract_stage

    # recursion_deep_attachments (api_args.py:19, attachments_handler
    # depth bound — reference default 10): the parameter overrides the
    # operator's max_depth when present
    if params and "recursion_deep_attachments" in params:
        max_depth = int(params["recursion_deep_attachments"])
    out = extract_stage(df, params=params)
    pending = df.filter(F.col("html").isNotNull()).select("url", "html")
    persisted = []
    for _ in range(max_depth):
        atts = explode_attachments(pending, params=params).persist(StorageLevel.DISK_ONLY)
        persisted.append(atts)
        out = out.unionByName(
            _error_extract_rows(atts.filter(F.col("kind") == "error"), F.col("error"), params)
        )
        members = atts.filter(F.col("kind") == "member")
        # the reference's attachments_handler marks re-entered files with
        # is_attached=True (return_base64 and friends key on it), and only
        # PARSES their contents when need_content_analysis is true
        # (attachments_handler.py:52-57; reference default false — this
        # operator's default stays "parse", its reason to exist, and the
        # explicit "false" yields placeholder rows so the attachment still
        # appears once in the output with its url)
        analyze = str((params or {}).get("need_content_analysis", "true")).lower() != "false"
        member_params = {**(params or {}), "is_attached": True}
        if analyze:
            out = out.unionByName(extract_stage(members, params=member_params))
        else:
            out = out.unionByName(
                _error_extract_rows(members, F.lit(None).cast("string"), params)
            )
            # unparsed contents can't reveal nested attachments — the
            # reference only discovers deeper levels by PARSING each member
            # (attachments_handler.py:52-68), so stop here instead of
            # exploding unparsed members another level down
            break
        pending = members.select("url", "html")
    _persist.register(persisted)
    out._dedoc_persisted = persisted  # release via unpersist_intermediates
    return out
