"""Default structure extraction: the ordered pattern chain.

Reference: dedoc/structure_extractors/concrete_structure_extractors/
default_structure_extractor.py:19-58 and structure_extractors/patterns/*.

The default composition (order matters, first match wins):
  1. tag_header  — reader said "header"        → (1 , tag level_2, False, header)
  2. tag_list    — reader said "list_item"     → (tag level_1 | 2, tag level_2 | dotted-depth, False, list_item)
  3. dotted_list — text ~ ^\\s*(\\d+\\.)+(\\d+)?\\s*  → (2, number-count, False, list_item)
  4. roman_list  — text ~ ^\\s*[ivxlcdm]\\.         → (3, 1, False, list_item)
  5. bracket_list— text ~ ^\\s*\\d\\)                → (4, 1, False, list_item)
  6. letter_list — text ~ ^\\s*[а-яёa-z]\\)          → (5, 1, False, list_item)
  7. bullet_list — text ~ bullet charset            → (6, 1, False, list_item)
  8. tag (default) — tag HL known → carry through; unknown → raw_text

Regexps from structure_extractors/feature_extractors/list_features/prefix/
{dotted,roman,bracket,letter,bullet}_prefix.py; matching is done on the
stripped, lower-cased line text (regexp_pattern.py:73-80).
"""

from __future__ import annotations

import re
from typing import List

from dedoc_spark.core.model import HierarchyLevel, Line

# prefix regexps (compiled once; bit-exact with the reference)
DOTTED_RE = re.compile(r"^\s*(\d+\.)+(\d+)?\s*")          # dotted_prefix.py:8
ROMAN_RE = re.compile(r"^\s*[ivxlcdm]\.")                  # roman_prefix.py:18
BRACKET_RE = re.compile(r"^\s*\d\)")                       # bracket_prefix.py:14
LETTER_RE = re.compile(r"^\s*[а-яёa-z]\)")                 # letter_prefix.py:19
BULLET_RE = re.compile(                                     # bullet_prefix.py:20
    r"^\s*(-|—|−|–|®|\.|•|\,|‚|©|⎯|°|\*|>|\| -|●|♣|①|▪|\*|\+)"
)


def get_dotted_item_depth(text: str) -> int:
    """Number of dot-separated numbers in a dotted prefix, -1 if no match
    (list_utils.py:10-16): "1.2.3." → 3."""
    match = DOTTED_RE.match(text)
    if not match:
        return -1
    prefix = match.group().strip()
    return len([n for n in prefix.split(".") if n])


def _dotted_depth_or_one(line_text: str) -> int:
    depth = get_dotted_item_depth(line_text.strip())
    return depth if depth > 0 else 1


def assign_hierarchy_levels(lines: List[Line]) -> None:
    """Set ``line.hl`` for every line via the default pattern chain."""
    for line in lines:
        line.hl = get_hierarchy_level(line)


def get_hierarchy_level(line: Line) -> HierarchyLevel:
    tag = line.tag_hl  # never None (defaults to unknown)

    # 1. tag_header (tag_header_pattern.py:59-75): level_1=1 fixed,
    #    level_2 from tag or dotted depth
    if tag.line_type == HierarchyLevel.header:
        level_2 = tag.level_2 if tag.level_2 is not None else _dotted_depth_or_one(line.line)
        return HierarchyLevel(1, level_2, False, HierarchyLevel.header)

    # 2. tag_list (tag_list_pattern.py:59-75): level_1 from tag (default 2)
    if tag.line_type == HierarchyLevel.list_item:
        level_1 = tag.level_1 if tag.level_1 is not None else 2
        level_2 = tag.level_2 if tag.level_2 is not None else _dotted_depth_or_one(line.line)
        return HierarchyLevel(level_1, level_2, False, HierarchyLevel.list_item)

    text = line.line.strip().lower()

    # 3. dotted_list (dotted_list_pattern.py:57-72)
    m = DOTTED_RE.match(text)
    if m:
        prefix = m.group().strip()
        depth = len([n for n in prefix.split(".") if n])
        return HierarchyLevel(2, depth, False, HierarchyLevel.list_item)

    # 4..7 fixed-level regexp list patterns (default_structure_extractor.py:52-55)
    if ROMAN_RE.match(text):
        return HierarchyLevel(3, 1, False, HierarchyLevel.list_item)
    if BRACKET_RE.match(text):
        return HierarchyLevel(4, 1, False, HierarchyLevel.list_item)
    if LETTER_RE.match(text):
        return HierarchyLevel(5, 1, False, HierarchyLevel.list_item)
    if BULLET_RE.match(text):
        return HierarchyLevel(6, 1, False, HierarchyLevel.list_item)

    # 8. tag default (tag_pattern.py:107-143): carry tag values through,
    #    unknown type → raw_text; can_be_multiline from the tag HL
    line_type = HierarchyLevel.raw_text if tag.is_unknown() else tag.line_type
    return HierarchyLevel(tag.level_1, tag.level_2, tag.can_be_multiline, line_type)


# --- prefix-split postprocess (abstract_structure_extractor.py:41-113) -------

# law-family prefix regexps (hierarchy_level_builders/utils_reg.py:4-16 and
# law_structure_excractor.py:32-35) — the regexps the reference feeds into
# _postprocess; exported for callers and tests
REGEXPS_ITEM = re.compile(r"^\s*(\d*\.)*\d+[\)|\}]")
REGEXPS_PART = re.compile(r"(^\s*\d{1,2}(\.\d{1,2})*)(\s|$|\)|\}|\.([A-ZА-Яa-zа-яё]|\s))")
REGEXPS_SUBITEM = re.compile(r"^\s*[а-яё]\)")
REGEXPS_ENDS_OF_NUMBER = re.compile(r"([A-ZА-Яa-zа-яё]|\s|( )*)$")


def select_annotations(annotations: List, start: int, end: int) -> List:
    """Annotation slicing for a [start, end) text cut
    (abstract_structure_extractor.py:97-113): table/attachment annotations
    survive only on the prefix piece (start == 0) and re-span the whole new
    text; span annotations clip and shift."""
    from dedoc_spark.core.model import Annotation

    assert start <= end
    res = []
    for annotation in annotations:
        if annotation.name in ("table", "attachment"):
            if start == 0:
                res.append(Annotation(start=start, end=end, name=annotation.name, value=annotation.value))
        elif annotation.end > start and annotation.start <= end:
            new_start = max(annotation.start, start) - start
            new_end = min(annotation.end, end) - start
            res.append(Annotation(start=new_start, end=new_end, name=annotation.name, value=annotation.value))
    return res


def prefix_split_postprocess(
    lines: List[Line],
    paragraph_types: List[str],
    regexps: List,
    excluding_regexps: List,
) -> List[Line]:
    """Split a matched numbering prefix into its own line
    (abstract_structure_extractor.py:41-94): for lines whose extracted type
    is in ``paragraph_types``, the first matching regexp's span becomes its
    own line (garbage trimmed by the paired excluding regexp, e.g.
    "4.7.\\t" → "4.7."); the rest of the text follows as a raw_text line
    with uid ``{uid}_split``. Empty raw-text lines are dropped. Annotations
    are sliced per ``select_annotations``."""
    result: List[Line] = []
    for line in lines:
        hl = line.hl if line.hl is not None else HierarchyLevel.create_unknown()
        if hl.is_raw_text() and len(line.line) == 0:  # skip empty raw text
            continue
        if hl.line_type in paragraph_types:
            matched = False
            for num, regexp in enumerate(regexps):
                match = regexp.match(line.line)
                if match:
                    matched = True
                    start = match.start()
                    end = match.end()
                    if excluding_regexps[num]:
                        match_excluding = excluding_regexps[num].search(line.line[start:end])
                        end = match_excluding.start() if match_excluding else end
                    result.append(
                        Line(
                            line=line.line[start:end],
                            page_id=line.page_id,
                            line_id=line.line_id,
                            tag_hl=line.tag_hl,
                            hl=hl,
                            annotations=select_annotations(line.annotations, start, end),
                            uid=line.uid,
                            extras=line.extras,
                        )
                    )
                    rest_text = line.line[end:]
                    if len(rest_text) > 0:
                        result.append(
                            Line(
                                line=rest_text,
                                page_id=line.page_id,
                                line_id=line.line_id,
                                tag_hl=line.tag_hl,
                                hl=HierarchyLevel.create_raw_text(),
                                annotations=select_annotations(line.annotations, end, len(line.line)),
                                uid=line.uid + "_split",
                                extras=line.extras,
                            )
                        )
                    break
            if not matched:
                result.append(line)
        else:
            result.append(line)
    return result
