"""Fixed resource budgets of the engine.

An input past a budget gives one error row, ``resource_limit:<what>``,
found at the same point whatever the caller's stack, process or path
(``extract_document`` or a Spark worker of ``extract_stage``).
"""

from __future__ import annotations

# Open HTML elements at once (``dom.parse_html``): room for pages nested
# 2,000 deep (browsers' parsers cap lower: Blink at 512). It also bounds
# the row of a deep list: each list level adds two document-tree levels
# and every tree node's id spells its path, so a list nested 1,000 deep
# (2,000 elements) gives a row of about 13 MB in about 0.15 s.
MAX_HTML_DEPTH = 2048
# Nesting of JSON arrays and objects (``formats`` checks it before
# ``json.loads``, whose C decoder recurses once per level against the
# caller's Python stack: about 1,000 levels in a plain process, fewer in a
# Spark worker).
MAX_JSON_DEPTH = 512


class ResourceLimit(Exception):
    """An input past a fixed budget; ``str(e)`` is the row's error."""

    def __init__(self, what: str) -> None:
        super().__init__(f"resource_limit:{what}")
