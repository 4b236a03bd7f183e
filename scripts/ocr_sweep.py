"""Differential OCR sweep: digest q67/q68-style documents end-to-end.

Usage: python scripts/ocr_sweep.py out.json [n_docs]
Run before and after a matcher/codec change and diff the JSON — every
value is an md5 of the full extract_document output, so any behavior
change in decode, orientation, segmentation or matching shows up.
Each document is also checked against its gate's closed form (Q67_SQL /
Q68_SQL), and the misses are printed per half (the q67 half uses
two-character sources, "s0".."s4"). The script exits 1 when either half
has a miss.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dedoc_spark.sources.pdf_fixture import q68_lines  # noqa: E402
from scripts.profile_ocr_doc import q67_doc, q67_inputs, q68_doc  # noqa: E402


def digest(d) -> str:
    return hashlib.md5(
        json.dumps(d, sort_keys=True, ensure_ascii=False).encode()
    ).hexdigest()


def q67_ok(d, did: int, source: str, lang: str) -> bool:
    tables = json.loads(d["tables_json"])
    cells = [
        "\n".join(ln["line"] for ln in c["lines"]) for row in tables[0]["cells"] for c in row
    ] if tables else None
    return (
        d["text_extracted"] == f"\nDoc {did} scan\n{source} {lang}\npage three body\n\n"
        and d["n_lines"] == 3
        and d["n_tables"] == 1
        and next((w for w in d["warnings"] if w.startswith("rotated")), None)
        == "rotated page angles: [0, 180, 0]"
        and cells == ["id", str(did), source, lang]
    )


def q68_ok(d, did: int) -> bool:
    return d["n_lines"] == 3 and d["text_extracted"] == "\n" + "\n".join(q68_lines(did)) + "\n\n"


def main() -> None:
    out_path = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    out = {}
    misses = {"q67": [], "q68": []}
    for did in range(n):
        d = q67_doc(did)
        out[f"q67:{did}"] = digest(d)
        if not q67_ok(d, *q67_inputs(did)):
            misses["q67"].append(did)
    for did in range(n):
        d = q68_doc(did)
        out[f"q68:{did}"] = digest(d)
        if not q68_ok(d, did):
            misses["q68"].append(did)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    print(f"wrote {len(out)} digests to {out_path}")
    for half, ids in misses.items():
        print(f"{half} closed-form misses: {len(ids)}/{n}" + (f" (doc ids {ids})" if ids else ""))
    if any(misses.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
