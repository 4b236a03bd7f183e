"""cProfile the q67/q68 per-document pipelines single-process (no Spark).

Usage: python scripts/profile_ocr_doc.py [q67|q68] [n_docs] [--time-only]
The documents come from sources/pdf_fixture (q67_scan_pdf, q68_scan_pdf),
the builders the q67/q68 gates use; numbers cited in OPTIMIZATION_r07.md.
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dedoc_spark.core.document import extract_document  # noqa: E402
from dedoc_spark.sources.pdf_fixture import (  # noqa: E402
    Q67_PARAMS,
    Q68_PARAMS,
    q67_scan_pdf,
    q68_scan_pdf,
)


def q67_inputs(did: int):
    """(did, source, lang) of profiled/swept q67 document ``did``."""
    return did, f"s{did % 5}", ("en", "ru")[did % 2]


def q67_doc(did: int) -> dict:
    return extract_document(f"{did}.pdf", q67_scan_pdf(*q67_inputs(did)), None, params=Q67_PARAMS)


def q68_doc(did: int) -> dict:
    return extract_document(f"{did}.pdf", q68_scan_pdf(did), None, params=Q68_PARAMS)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "q67"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    time_only = "--time-only" in sys.argv
    fn = q67_doc if which == "q67" else q68_doc
    fn(0)  # warm imports / banks
    t0 = time.perf_counter()
    c0 = time.process_time()
    if time_only:
        for d in range(1, n + 1):
            fn(d)
        dt = time.perf_counter() - t0
        dc = time.process_time() - c0
        print(
            f"{which}: {n} docs in {dt:.3f}s = {1000 * dt / n:.2f} ms/doc "
            f"(cpu {1000 * dc / n:.2f} ms/doc)"
        )
        return
    pr = cProfile.Profile()
    pr.enable()
    for d in range(1, n + 1):
        fn(d)
    pr.disable()
    dt = time.perf_counter() - t0
    print(f"{which}: {n} docs in {dt:.3f}s = {1000 * dt / n:.2f} ms/doc (profiled)")
    st = pstats.Stats(pr)
    st.sort_stats("cumulative").print_stats(35)
    st.sort_stats("tottime").print_stats(35)


if __name__ == "__main__":
    main()
