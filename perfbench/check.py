"""Output correctness: per-url digests and the scanned-PDF closed forms.

A row digest is the md5 of every ``EXTRACT_SCHEMA`` column joined in one
fixed text form. The Spark side computes it in the JVM (``spark_digest``)
and the single-process side in Python (``row_digest``); both must give the
same hex string for the same output row.
"""

from __future__ import annotations

import hashlib
import json
from typing import Dict, Iterable, List, Optional

_SEP = "\x1f"  # between columns
_ITEM = "\x1e"  # between array items
_NULL = "\x00"


def _columns() -> List:
    from dedoc_spark.operators.pipeline import EXTRACT_SCHEMA

    return list(EXTRACT_SCHEMA.fields)


def row_digest(row: Dict) -> str:
    parts = []
    for f in _columns():
        v = row.get(f.name)
        if f.dataType.typeName() == "array":
            parts.append(_ITEM.join(x for x in (v or []) if x is not None))
        else:
            parts.append(_NULL if v is None else str(v))
    return hashlib.md5(_SEP.join(parts).encode("utf-8", "surrogatepass")).hexdigest()


def spark_digest():
    """The same digest as a Spark column expression."""
    from pyspark.sql import functions as F

    parts = []
    for f in _columns():
        if f.dataType.typeName() == "array":
            parts.append(F.concat_ws(_ITEM, F.col(f.name)))
        else:
            parts.append(F.coalesce(F.col(f.name).cast("string"), F.lit(_NULL)))
    return F.md5(F.concat_ws(_SEP, *parts))


def table_digest(digests: Dict[str, str]) -> str:
    """One digest over the per-url digests, in url order."""
    h = hashlib.md5()
    for url in sorted(digests):
        h.update(f"{url}\t{digests[url]}\n".encode())
    return h.hexdigest()


def count_failures(
    got: Dict[str, str],
    want: Dict[str, str],
    errors: Iterable[str] = (),
) -> int:
    """Rows that are missing, extra, differ from the single-process output,
    or carry an ``error`` (no workload expects one)."""
    bad = {u for u in want if got.get(u) != want[u]}
    bad |= set(got) - set(want)
    bad |= set(errors)
    return len(bad)


def scan_row_ok(row: Dict, expected: Dict) -> bool:
    """One scanned-PDF output row against its Q67/Q68 closed form."""
    if row.get("error") is not None:
        return False
    rot = next((w for w in row.get("warnings") or [] if w.startswith("rotated")), None)
    if (row["text_extracted"], row["n_lines"], row["n_tables"], rot) != (
        expected["text_extracted"], expected["n_lines"], expected["n_tables"], expected["rot_warning"]
    ):
        return False
    if expected["cells"] is None:
        return True
    tables = json.loads(row["tables_json"])
    cells = ["\n".join(ln["line"] for ln in c["lines"]) for r in tables[0]["cells"] for c in r]
    return cells == expected["cells"]


def golden_ok(golden: Optional[Dict], workload: str, seed: int, n: int, digest: str) -> Optional[bool]:
    """None when no golden digest is kept for (workload, seed, n)."""
    entry = (golden or {}).get(workload)
    if not entry or entry["seed"] != seed or entry["rows"] != n:
        return None
    return entry["digest"] == digest
