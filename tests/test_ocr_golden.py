"""Golden digests of the OCR path: the 64 q67 and 64 q68 sweep documents
of ``scripts/ocr_sweep.py``, each the md5 of its full ``extract_document``
output. Any change in scan decoding, orientation, segmentation, matching,
table recognition or line building shows up here.

The q67 half records today's table-page orientation defect (ROADMAP item
3); fixing it changes those digests on purpose. After an intended output
change, re-record with ``python3 scripts/ocr_sweep.py tests/ocr_golden.json``.
"""

from __future__ import annotations

import json
import os

from scripts.ocr_sweep import digest
from scripts.profile_ocr_doc import q67_doc, q68_doc

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ocr_golden.json")


def test_ocr_sweep_digests():
    with open(GOLDEN) as f:
        want = json.load(f)
    assert len(want) == 128
    docs = {"q67": q67_doc, "q68": q68_doc}
    changed = []
    for key, md5 in sorted(want.items()):
        kind, did = key.split(":")
        if digest(docs[kind](int(did))) != md5:
            changed.append(key)
    assert not changed, f"{len(changed)} OCR sweep digests changed: {changed}"
