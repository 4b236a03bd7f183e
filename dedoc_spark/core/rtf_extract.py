"""RTF text extraction — pure Python control-word parser.

The reference converts .rtf via soffice→docx
(converters/concrete_converters/docx_converter.py:15-28); this native
reader covers the text layer: group stack, destination skipping
(fonttbl/stylesheet/info/pict/…), \\uN unicode escapes with \\ucN
fallback-byte skipping, hex escapes \\'hh decoded through the \\ansicpgN
codepage, and paragraph/line/cell control words mapped to breaks.
Styles are intentionally out of scope (best-effort text layer).
"""

from __future__ import annotations

import codecs
import re
from typing import List, Tuple

_SKIP_DESTINATIONS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf", "xe", "tc", "comment",
    "listtable", "listoverridetable", "generator", "themedata",
    "colorschememapping", "datastore", "latentstyles", "rsidtbl",
    "fchars", "lchars", "panose",
}

_BREAKS = {"par": "\n", "line": "\n", "row": "\n", "cell": "\t", "tab": "\t", "page": "\n", "sect": "\n"}

# One control word, hex escape, escaped symbol, brace or text chunk per token
_CW = rb"\\([a-z]+)(-?\d+)? ?|\\'([0-9a-fA-F]{2})|\\([^a-z])|([{}])|([^\\{}]+)"
_CW_RE = re.compile(_CW, re.S)
# or a run of \uN escapes, each with one fallback (a byte or a \'hh escape)
# and the plain text after it: under \uc1 the run decodes without a loop
# turn per escape (_run_text), else it is read token by token
_TOKEN_RE = re.compile(rb"((?:(?>\\u-?\d+ ?)(?:[^\\{}\r\n]|\\'[0-9a-fA-F]{2})[^\\{}]*)+)|" + _CW, re.S)
_RUN_SPLIT = re.compile(rb"\\u(-?\d+) ?(?:\\'[0-9a-fA-F]{2}|[^\\{}\r\n])")


def _unichar(code: bytes) -> str:
    n = int(code)
    return chr(n if n >= 0 else n + 65536)


def _run_text(run: bytes, codepage: str) -> str:
    """A run under \\uc1 outside a skipped group: each escape's character,
    its fallback dropped, then the text after it with CR/LF removed."""
    parts = _RUN_SPLIT.split(run)  # [b"", code, text, code, text, ...]
    texts = parts[2::2]
    decoded = {t: t.replace(b"\r", b"").replace(b"\n", b"").decode(codepage, "replace") for t in set(texts)}
    parts[0] = ""
    parts[1::2] = map(_unichar, parts[1::2]) if b"u-" in run else map(chr, map(int, parts[1::2]))
    parts[2::2] = map(decoded.__getitem__, texts)
    return "".join(parts)


def extract_rtf_text(payload: bytes) -> Tuple[List[str], List[str]]:
    """.rtf bytes → (lines, warnings)."""
    if not payload.startswith(b"{\\rtf"):
        raise ValueError("not an RTF payload")
    cpg = re.search(rb"\\ansicpg(\d+)", payload[:256])
    codepage = f"cp{cpg.group(1).decode()}" if cpg else "cp1252"
    # a codepage Python lacks raises at the first decode, which must come in
    # stream order with a bad \uN's ValueError: read such runs token by token
    try:
        whole_runs = codecs.lookup(codepage) is not None
    except LookupError:
        whole_runs = False

    out: List[str] = []
    # group stack entries: (skipping, uc_count)
    stack: List[Tuple[bool, int]] = []
    skipping = False
    uc = 1
    pending_uc_skip = 0

    for m in _TOKEN_RE.finditer(payload):
        run = m.group(1)
        if run is not None and uc == 1 and not skipping and whole_runs:
            out.append(_run_text(run, codepage))
            pending_uc_skip = 0
            continue
        for word, param, hexbyte, escaped, brace, text in (
            (m.group(2, 3, 4, 5, 6, 7),) if run is None else (t.groups() for t in _CW_RE.finditer(run))
        ):
            if brace == b"{":
                stack.append((skipping, uc))
                continue
            if brace == b"}":
                if stack:
                    skipping, uc = stack.pop()
                continue
            if word is not None:
                w = word.decode("ascii")
                if w == "uc":
                    uc = int(param or 1)
                elif w == "u":
                    if not skipping:
                        out.append(_unichar(param or b"0"))
                    pending_uc_skip = uc
                elif w in _SKIP_DESTINATIONS:
                    skipping = True
                elif not skipping and w in _BREAKS:
                    out.append(_BREAKS[w])
                continue
            if hexbyte is not None:
                if pending_uc_skip > 0:
                    pending_uc_skip -= 1
                elif not skipping:
                    out.append(bytes([int(hexbyte, 16)]).decode(codepage, "replace"))
                continue
            if escaped is not None:
                if not skipping:
                    if escaped == b"*":
                        # \* marks an unknown destination group → skip it
                        skipping = True
                    elif escaped in (b"{", b"}", b"\\"):
                        out.append(escaped.decode("ascii"))
                    elif escaped == b"~":
                        out.append("\xa0")
                    elif escaped in (b"\n", b"\r"):
                        out.append("\n")
                continue
            if text is not None and not skipping:
                chunk = text.replace(b"\r", b"").replace(b"\n", b"")
                if pending_uc_skip > 0:
                    take = min(pending_uc_skip, len(chunk))
                    chunk = chunk[take:]
                    pending_uc_skip -= take
                if chunk:
                    out.append(chunk.decode(codepage, "replace"))

    text_full = "".join(out)
    lines = [ln for ln in text_full.split("\n")]
    while lines and not lines[-1].strip():
        lines.pop()
    while lines and not lines[0].strip():
        lines.pop(0)
    return lines, ["rtf parsed natively (reference converts via soffice)"]
