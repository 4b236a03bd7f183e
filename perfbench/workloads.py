"""Seeded benchmark inputs: one parquet table per (workload, size, seed).

Every fixture encoder and renderer (``web_pages`` rows, ``scanfont``,
``ftrender``, ``build_scanned_pdf``, the office builders) runs here, in
set-up, and never inside a timed or traced number. The engine only ever
sees the generated bytes, read back from the table.

Tables are written as ``SLOTS`` part files. The benchmark's Spark session
has ``SLOTS`` task slots and opens one task per part file (see ``run.py``),
so the task layout does not depend on the seed.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import random
import shutil
import time
from typing import Dict, List, NamedTuple, Optional, Tuple

SLOTS = 4  # Spark task slots, the same in every run
# warm-up rows: one full turn of the office kinds, so every reader module
# is imported and warm before the first timed pass
WARM_ROWS = 14
# file_mix: every 13th row is a scanned PDF, the rest office files
OFFICE_ROWS, SCAN_ROWS = 192, 16
# scans in the warm-up set: both kinds, and the OCR engine warm
WARM_SCANS = 4
# rows per table; a Spark pass over one takes 1-3 s on 4 slots
SIZES = {"web_pages": 1600, "file_mix": OFFICE_ROWS + SCAN_ROWS}
# file_mix leaves text-layer detection on auto: the scans have none and go
# to OCR, the text-layer PDFs keep theirs
PARAMS: Dict[str, Optional[dict]] = {
    "web_pages": None,
    "file_mix": {"need_pdf_table_analysis": True},
}
# bumped whenever generation changes, so stale cached tables are not reused
_VERSION = 3

_EN = (
    "data model table report section value system method result process "
    "analysis design review budget market client order share index record"
).split()
_RU = (
    "данные модель таблица отчет раздел значение система метод результат "
    "процесс анализ проект обзор бюджет рынок клиент заказ доля индекс запись"
).split()
_SOURCES = [f"src{i}" for i in range(20)]
_LANGS = ["de", "en", "es", "fr", "zh"]
_CODECS = ("flate", "ccitt", "ccitt_g3", "lzw", "runlength", "jbig2", "jbig2_mmr", "jbig2_sym")


# ---------------------------------------------------------------------------
# scanned PDFs: q67 page sets and q68 real-font pages


class ScanSpec(NamedTuple):
    url: str
    kind: str  # "q67" | "q68"
    did: int
    source: str
    lang: str
    codec: str


def scan_specs(n: int, seed: int) -> List[ScanSpec]:
    """Every fourth document is a q68 real-font page, the rest q67 page
    sets with the raster codec rotated per document."""
    rng = random.Random(f"scanned_pdf:{seed}")
    specs = []
    for i in range(n):
        did = rng.randrange(1_000_000)
        kind = "q68" if i % 4 == 3 else "q67"
        specs.append(
            ScanSpec(
                url=f"https://scans.example/{seed}/{i:05d}-{did}.pdf",
                kind=kind,
                did=did,
                source=rng.choice(_SOURCES),
                lang=rng.choice(_LANGS),
                codec=_CODECS[(i - i // 4) % len(_CODECS)] if kind == "q67" else "flate",
            )
        )
    return specs


def q68_lines(did: int) -> List[str]:
    """The q68 digit groups (driver_queries.q68_real_font_ocr)."""

    def group(row: int, i: int) -> str:
        v = (did * 7919 + row * 104729 + i * 15485863) % 10000
        return str(3334 if v == 3333 else v).zfill(4)

    return [" ".join(group(row, i) for i in range(3)) for row in range(3)]


def scan_expected(spec: ScanSpec) -> Dict:
    """Closed forms of Q67_SQL / Q68_SQL, re-derived in Python."""
    if spec.kind == "q67":
        return {
            "text_extracted": f"\nDoc {spec.did} scan\n{spec.source} {spec.lang}\npage three body\n\n",
            "n_lines": 3,
            "n_tables": 1,
            "rot_warning": "rotated page angles: [0, 180, 0]",
            "cells": ["id", str(spec.did), spec.source, spec.lang],
        }
    return {
        "text_extracted": "\n" + "\n".join(q68_lines(spec.did)) + "\n\n",
        "n_lines": 3,
        "n_tables": 0,
        "rot_warning": None,
        "cells": None,
    }


def _scan_bytes(spec: ScanSpec) -> bytes:
    from dedoc_spark.core.ftrender import render_text_page
    from dedoc_spark.core.scanfont import render_scan_page, render_table_page
    from dedoc_spark.sources.pdf_fixture import build_scanned_pdf

    if spec.kind == "q68":
        pages = [render_text_page(q68_lines(spec.did), face="sans", px=40)]
    else:
        pages = [
            render_scan_page([f"Doc {spec.did} scan"], scale=2),
            render_scan_page([f"{spec.source} {spec.lang}"], scale=2, rotate=180),
            render_table_page(
                [["id", str(spec.did)], [spec.source, spec.lang]],
                scale=2,
                body_lines=["page three body"],
            ),
        ]
    return build_scanned_pdf(pages, image_filter=spec.codec)


# ---------------------------------------------------------------------------
# office files: seeded documents from the sources builders

_OFFICE_KINDS = (
    "docx", "xlsx", "xls", "pptx", "doc", "odt", "ods", "odp",
    "rtf", "eml", "csv", "json", "txt.gz", "pdf",
)
# (content kind, shipped extension): content re-sniff must rescue these
_MISNAMED = (("odt", "doc"), ("docx", "doc"), ("xlsx", "xls"), ("rtf", "odt"))


def _sentence(rng: random.Random, words: List[str], n: int) -> str:
    return " ".join(rng.choice(words) for _ in range(n))


def _n_lines(j: int, cap: int) -> int:
    """Log-uniform size from 3 to ``cap``, spread evenly over the index
    ``j`` (golden-ratio sequence) rather than drawn from the seed, so every
    seed's table has the same size profile and about the same cost."""
    u = ((j + 0.5) * 0.6180339887498949) % 1.0
    return int(math.exp(math.log(3) + u * (math.log(cap) - math.log(3))))


def _office_doc(rng: random.Random, kind: str, j: int) -> bytes:
    """Document ``j`` of its kind; the seed only picks the words."""
    from dedoc_spark.sources import docx_fixture as dx
    from dedoc_spark.sources import office_fixture as of
    from dedoc_spark.sources.pdf_fixture import build_pdf, table_ops

    words = _RU if j % 2 else _EN
    say = lambda k: _sentence(rng, words, k)  # noqa: E731
    grid = lambda r, c: [[say(1) for _ in range(c)] for _ in range(r)]  # noqa: E731
    if kind in ("docx", "doc", "odt", "rtf", "txt.gz", "eml"):
        # build_doc writes a one-FAT-sector OLE2 file, which caps its size
        n = _n_lines(j, 300 if kind == "doc" else 1000)
        paras = [f"{i // 8 + 1}. {say(3)}" if i % 8 == 0 else say(rng.randint(4, 14)) for i in range(n)]
        if kind == "docx":
            body = "".join(
                dx.paragraph([(p, "b" if p[0].isdigit() else "")], style="Heading1" if p[0].isdigit() else None)
                for p in paras
            )
            body += dx.table([[(say(1), 1, None), (say(2), 1, None)] for _ in range(3)])
            return dx.build_docx(body)
        if kind == "doc":
            return of.build_doc(paras)
        if kind == "odt":
            items = [("h", 1, p) if p[0].isdigit() else ("p", p) for p in paras]
            return of.build_odt(items + [("list", [say(3) for _ in range(4)])])
        if kind == "rtf":
            esc = "".join(
                f"\\u{ord(c)}?" if ord(c) > 127 else c for c in "\\par\n".join(paras)
            )
            return ("{\\rtf1\\ansi\\ansicpg1252\\deff0{\\fonttbl{\\f0 Times;}}\n" + esc + "\\par\n}").encode("ascii")
        if kind == "txt.gz":
            return gzip.compress("\n".join(paras).encode("utf-8"), mtime=0)
        body = "\n\n".join(paras[: max(3, n // 4)])
        return (
            "From: Alice <alice@example.com>\nTo: Bob <bob@example.com>\n"
            f"Subject: {_sentence(rng, _EN, 4)}\nMIME-Version: 1.0\n"
            'Content-Type: multipart/alternative; boundary="B"\n\n'
            f"--B\nContent-Type: text/plain; charset=utf-8\n\n{body}\n"
            f"--B\nContent-Type: text/html; charset=utf-8\n\n<p>{say(6)}</p><p>{say(8)}</p>\n--B--\n"
        ).encode("utf-8")
    if kind in ("xlsx", "xls", "ods", "csv"):
        rows, cols = _n_lines(j, 300 if kind == "xls" else 400), 2 + j % 5
        g = grid(rows, cols)
        if kind == "xlsx":
            return of.build_xlsx([g])
        if kind == "xls":
            return of.build_xls([[[c if j else float(i) for j, c in enumerate(r)] for i, r in enumerate(g)]])
        if kind == "ods":
            return of.build_ods([g])
        return "\n".join(",".join(r) for r in g).encode("utf-8")
    if kind in ("pptx", "odp"):
        slides = [[say(4)] + [say(rng.randint(3, 9)) for _ in range(rng.randint(1, 6))] for _ in range(_n_lines(j, 100))]
        if kind == "odp":
            return of.build_odp(slides)
        return of.build_pptx([{"shapes": [s], "table": grid(2, 2) if i % 3 == 0 else None} for i, s in enumerate(slides)])
    if kind == "json":
        n = _n_lines(j, 300)
        payload = {"title": say(4), "items": [{"name": say(2), "text": say(8), "n": i} for i in range(n)]}
        return json.dumps(payload, ensure_ascii=False).encode("utf-8")
    # text-layer PDF: body lines per page plus one ruled table
    n_pages = max(1, _n_lines(j, 200) // 30)
    pages, extra = [], []
    for p in range(n_pages):
        pages.append([(f"Section {p + 1}", True)] + [(_sentence(rng, _EN, rng.randint(4, 9)), False) for _ in range(12)])
        cells = [[_sentence(rng, _EN, 1) for _ in range(3)] for _ in range(3)]
        extra.append(table_ops(72, 400, [120, 120, 120], 20, cells))
    return build_pdf(pages, extra_content=extra)


def office_rows(n: int, seed: int) -> List[Tuple[str, bytes]]:
    rng = random.Random(f"office_mix:{seed}")
    out = []
    for i in range(n):
        kind = _OFFICE_KINDS[i % len(_OFFICE_KINDS)]
        ext = kind
        if i % 10 == 7:  # a tenth of the files ship under a wrong extension
            kind, ext = _MISNAMED[(i // 10) % len(_MISNAMED)]
        out.append((f"https://files.example/{seed}/{i:05d}.{ext}", _office_doc(rng, kind, i // len(_OFFICE_KINDS))))
    return out


# ---------------------------------------------------------------------------
# the on-disk cache


def _write_parts(path: str, rows: List[Dict], n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("html", pa.binary()), ("text", pa.string())])
    per_file = math.ceil(len(rows) / n_files)
    os.makedirs(path)
    for part in range(n_files):
        chunk = rows[part * per_file : (part + 1) * per_file]
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), f"{path}/part-{part:05d}.parquet")


def n_scans(n: int) -> int:
    """Scanned PDFs in a file_mix table of ``n`` rows: one in 13."""
    return n // 13


def generate_rows(workload: str, n: int, seed: int) -> Tuple[List[Dict], List[Dict]]:
    """(table rows, warm-up rows) of the (workload, n, seed) input."""
    if workload == "web_pages":
        from dedoc_spark.sources import web_pages

        rows = [{"url": r["url"], "html": r["html"], "text": r["text"]} for r in web_pages.generate_rows(n, seed)]
        return rows, rows[:WARM_ROWS]
    if workload == "file_mix":
        scans = [{"url": s.url, "html": _scan_bytes(s), "text": None} for s in scan_specs(n_scans(n), seed)]
        office = [{"url": u, "html": b, "text": None} for u, b in office_rows(n - len(scans), seed)]
        rows = []
        for k, scan in enumerate(scans):
            rows += office[12 * k : 12 * k + 12] + [scan]
        rows += office[12 * len(scans) :]
        return rows, office[:WARM_ROWS] + scans[:WARM_SCANS]
    raise ValueError(f"unknown workload {workload!r}")


def ensure_table(workload: str, seed: int, cache_dir: str, n: Optional[int] = None) -> Tuple[str, float]:
    """Directory of the (workload, size, seed) input, generated on first
    use; returns (path, seconds spent generating — 0 on a cache hit).

    ``path/table`` holds the table in ``SLOTS`` part files. ``path/warm``
    holds ``SLOTS`` copies of the warm-up rows: one warm-up task per
    slot."""
    n = SIZES[workload] if n is None else n
    path = os.path.join(cache_dir, f"{workload}_n{n}_s{seed}_v{_VERSION}")
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rows, warm = generate_rows(workload, n, seed)
    _write_parts(os.path.join(tmp, "table"), rows, SLOTS)
    _write_parts(os.path.join(tmp, "warm"), warm * SLOTS, SLOTS)
    try:
        os.replace(tmp, path)
    except OSError:  # another run cached the same table first
        if not os.path.isdir(path):
            raise
        shutil.rmtree(tmp)
    return path, time.perf_counter() - t0


def load_rows(path: str, table: str = "table") -> List[Tuple[str, Optional[bytes], Optional[str]]]:
    """(url, html, text) of ``path/table`` in part-file order; for
    ``table="warm"``, one copy of the warm-up rows."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, table), columns=["url", "html", "text"]).to_pydict()
    rows = list(zip(t["url"], t["html"], t["text"]))
    return rows[: len(rows) // SLOTS] if table == "warm" else rows
