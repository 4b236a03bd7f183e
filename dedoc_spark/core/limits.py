"""Fixed resource budgets of the engine and the readers that enforce them.

An input past a budget gives one error row, ``resource_limit:<what>``,
found at the same point whatever the caller's stack, process or path
(``extract_document`` or a Spark worker of ``extract_stage``). Every zip
member is read through ``BoundedZip``, which holds the zip budget.
"""

from __future__ import annotations

import io
import zipfile

# Open HTML elements at once (``dom.parse_html``): room for pages nested
# 2,000 deep (browsers' parsers cap lower: Blink at 512). It also bounds
# the row of a deep list: each list level adds two document-tree levels
# and every tree node's id spells its path, so a list nested 1,000 deep
# (2,000 elements) gives a row of about 13 MB in about 0.15 s.
MAX_HTML_DEPTH = 2048
# Open HTML tables at once (``dom.parse_html``): the table reader's time
# and output grow about 2.5x per nested table; 10 deep, a page of 331
# bytes, takes 0.1-0.25 s and gives about 14 KB of text.
MAX_TABLE_DEPTH = 10
# Nesting of JSON arrays and objects (``formats`` checks it before
# ``json.loads``, whose C decoder recurses once per level against the
# caller's Python stack: about 1,000 levels in a plain process, fewer in a
# Spark worker).
MAX_JSON_DEPTH = 512
# Bytes all member reads of one opened zip may inflate together (BoundedZip).
MAX_UNZIP_BYTES = 1 << 27


class ResourceLimit(Exception):
    """An input past a fixed budget; ``str(e)`` is the row's error."""

    def __init__(self, what: str) -> None:
        super().__init__(f"resource_limit:{what}")


class BoundedZip(zipfile.ZipFile):
    """The one zip reader: a zip over payload bytes whose member reads
    inflate at most MAX_UNZIP_BYTES together, past which ResourceLimit
    ("zip_member"). A member is read with a bound of one byte past what
    is left, never by its declared size: ``ZipExtFile.read()`` inflates a
    deflate member up to 2 GiB at a time before it trims to that size."""

    def __init__(self, payload: bytes) -> None:
        super().__init__(io.BytesIO(payload))
        self.left = MAX_UNZIP_BYTES

    def read(self, name_or_info) -> bytes:
        with self.open(name_or_info) as member:
            data = member.read(self.left + 1)
        if len(data) > self.left:
            raise ResourceLimit("zip_member")
        self.left -= len(data)
        return data
