"""WARC source: raw Common-Crawl-style archives → the web_pages table.

The engine's input contract is (url, warc_ts, html, text, lang); Common
Crawl ships WARC/1.0 files (per-record gzip members in .warc.gz). This
module closes that gap without external deps:

  iter_warc_records   WARC record parser (headers + Content-Length block,
                      multi-member gzip or plain bytes)
  warc_response_rows  response records → web_pages-shaped dicts: url from
                      WARC-Target-URI, warc_ts from WARC-Date, html = the
                      HTTP body (status line + headers stripped)
  read_warc           Spark reader: binaryFile scan → mapInPandas explode,
                      one task per WARC file — the standard CC processing
                      shape (files are independent, no shuffle)
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone
from typing import Dict, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

WEB_PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _split_gzip_members(payload: bytes) -> Iterator[bytes]:
    """Decompress a (possibly multi-member) gzip stream member-by-member —
    .warc.gz stores one record per member so readers can seek."""
    buf = io.BytesIO(payload)
    while buf.tell() < len(payload):
        start = buf.tell()
        try:
            with gzip.GzipFile(fileobj=buf) as gz:
                yield gz.read()
        except (OSError, EOFError):
            return
        if buf.tell() == start:  # no forward progress → corrupt tail
            return


def iter_warc_records(payload: bytes) -> Iterator[Tuple[Dict[str, str], bytes]]:
    """(headers, block) per WARC record. Accepts plain or gzipped input."""
    if payload[:2] == b"\x1f\x8b":
        chunks: Iterator[bytes] = _split_gzip_members(payload)
    else:
        chunks = iter([payload])
    for chunk in chunks:
        pos = 0
        while True:
            head = chunk.find(b"WARC/", pos)
            if head == -1:
                break
            hdr_end = chunk.find(b"\r\n\r\n", head)
            if hdr_end == -1:
                break
            headers: Dict[str, str] = {}
            for line in chunk[head:hdr_end].split(b"\r\n")[1:]:
                key, _, value = line.partition(b":")
                if value:
                    headers[key.decode("latin-1").strip().lower()] = value.decode("latin-1").strip()
            try:
                length = int(headers.get("content-length", "0"))
            except ValueError:
                length = 0
            block_start = hdr_end + 4
            block = chunk[block_start : block_start + length]
            yield headers, block
            pos = block_start + length


def _http_body(block: bytes) -> bytes:
    """Strip the HTTP status line + headers from a response block."""
    if block[:5] in (b"HTTP/",):
        sep = block.find(b"\r\n\r\n")
        if sep != -1:
            return block[sep + 4 :]
    return block


def _parse_warc_date(value: Optional[str]) -> Optional[datetime]:
    if not value:
        return None
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    except ValueError:
        return None


def warc_response_rows(payload: bytes) -> List[Dict]:
    """WARC bytes → web_pages-shaped dicts (response records only)."""
    rows: List[Dict] = []
    for headers, block in iter_warc_records(payload):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        rows.append(
            {
                "url": url,
                "warc_ts": _parse_warc_date(headers.get("warc-date")),
                "html": _http_body(block),
                "text": None,
                "lang": None,
            }
        )
    return rows


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of .warc(.gz) files → web_pages DataFrame. One task
    per file (binaryFile source); records explode inside the task — WARC
    files are self-contained, so the plan has no shuffle."""
    import pandas as pd

    from dedoc_spark.operators.pipeline import bootstrapped

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def fn(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ["url", "warc_ts", "html", "text", "lang"]
        for pdf in it:
            out = []
            for content in pdf["content"]:
                out.extend(warc_response_rows(bytes(content)))
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(bootstrapped(fn), WEB_PAGES_DDL)


def build_warc(records: List[Dict], per_record_gzip: bool = True) -> bytes:
    """Test fixture: records = [{url, date, body, type?, http?}] → WARC
    bytes (per-record gzip members like real .warc.gz when requested)."""
    out = []
    for rec in records:
        body = rec["body"] if isinstance(rec["body"], bytes) else rec["body"].encode("utf-8")
        if rec.get("http", True):
            block = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body
            )
        else:
            block = body
        headers = (
            f"WARC/1.0\r\nWARC-Type: {rec.get('type', 'response')}\r\n"
            f"WARC-Target-URI: {rec['url']}\r\n"
            f"WARC-Date: {rec.get('date', '2026-01-01T00:00:00Z')}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n"
        ).encode("latin-1")
        record = headers + block + b"\r\n\r\n"
        out.append(gzip.compress(record) if per_record_gzip else record)
    return b"".join(out)
