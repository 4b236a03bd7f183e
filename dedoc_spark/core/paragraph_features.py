"""Paragraph (can_be_multiline) classification for layout lines.

Port of the reference's paragraph classifier contract
(pdf_image_reader/paragraph_extractor/scan_paragraph_classifier_extractor.py:65-81):
predict per line whether it STARTS a paragraph; then
``can_be_multiline = label != "paragraph"`` and empty lines are always
"not_paragraph".

The feature set is ParagraphFeatureExtractor's geometric/typographic
family (structure_extractors/feature_extractors/paragraph_feature_extractor.py:66-112):
absolute and relative indents, horizontal intersections, text lengths,
upper-case percentages, bold flips, vertical distances and line heights,
with quantile normalization of the distance/height/indent columns
(abstract_extractor.py:327-337). Omitted relative to the reference
(documented): the color-dispersion feature (our Line model carries no
per-char color annotations) and the ListFeaturesExtractor block (a
separate large feature family tied to the reference's list-label task).

The reference loads a downloaded XGBoost artifact; that is
reference-internal, so the model here is the repo's deterministic
pure-numpy logistic harness (core/txtlayer.py) trained on a
synthetic fixed corpus of indented-paragraph pages —
``train_default_paragraph_model``. Any stronger model with the same
``predict_proba(X)`` surface can be swapped in.

Pure Python/numpy; pandas is imported only where the reference-shaped
frame is built, so a worker loads it only under
need_paragraph_classification (CLAUDE.md core invariant).
"""

from __future__ import annotations

import functools
from typing import List, Optional, Sequence

import numpy as np

from dedoc_spark.core.model import Line
from dedoc_spark.core.txtlayer import train_logistic

# order is the sorted-columns order the transform() contract produces
FEATURE_NAMES = [
    "distance_next",
    "distance_prev",
    "height",
    "height_next",
    "height_prev",
    "indent",
    "indent_next",
    "indent_prev",
    "indent_prev_right",
    "indent_right",
    "intersection_next",
    "intersection_prev",
    "is_bold_changed",
    "is_bold_changed_next",
    "is_capitalized",
    "prev_text_lens",
    "text_lens",
    "upper_letters_percent",
    "upper_letters_percent_prev",
]

_NORMALIZE_COLUMNS = (
    "distance_prev", "distance_next", "height", "height_next", "height_prev",
    "indent", "indent_right", "indent_prev_right", "indent_next", "indent_prev",
)


def _bbox_of(line: Optional[Line]):
    if line is None:
        return None
    loc = line.extras.get("location")
    return loc.bbox if loc is not None else None


def _upper_percent(line: Line) -> float:
    count_upper = 0
    count_chars = 0
    for symbol in line.line.strip():
        if not symbol.isspace():
            if symbol.isupper():
                count_upper += 1
            count_chars += 1
    return min(count_upper / count_chars if count_chars else 0.0, 1.0)


def _bold_percent(line: Optional[Line]) -> float:
    if line is None:
        return 0.0
    stripped = len(line.line.strip())
    if stripped == 0:
        return 0.0
    bold = sum(a.end - a.start for a in line.annotations if a.name == "bold" and a.value == "True")
    return min(bold / stripped, 1.0)


def _relative_indent(this_bbox, prev_bbox, left: bool = True) -> Optional[float]:
    if this_bbox is None or prev_bbox is None:
        return None
    if left:
        return this_bbox.x_top_left - prev_bbox.x_top_left
    return this_bbox.x_bottom_right - prev_bbox.x_bottom_right


def _intersection(this_bbox, that_bbox) -> Optional[float]:
    """paragraph_feature_extractor.py:135-148 — NOTE the union_left <=
    union_right branch returning 0 is the reference's own quirk (an
    always-true condition), reproduced verbatim."""
    if this_bbox is None or that_bbox is None:
        return None
    if this_bbox.x_top_left >= that_bbox.x_bottom_right or that_bbox.x_top_left >= this_bbox.x_bottom_right:
        return 0
    union_left = min(this_bbox.x_top_left, that_bbox.x_top_left)
    union_right = max(this_bbox.x_bottom_right, that_bbox.x_bottom_right)
    if union_left <= union_right:
        return 0
    intersection_left = max(this_bbox.x_top_left, that_bbox.x_top_left)
    intersection_right = min(this_bbox.x_bottom_right, that_bbox.x_bottom_right)
    return (intersection_right - intersection_left) / (union_right - union_left)


def _quantile(col: pd.Series) -> pd.Series:
    """abstract_extractor.py:327-337 verbatim."""
    import pandas as pd

    col = col.fillna(col.min() - 1)
    s = np.sort(col)
    q = np.searchsorted(s, col, "left") + np.searchsorted(s, col, "right")
    return pd.Series(q / 2 / col.shape[0])


def paragraph_features(lines: Sequence[Line]) -> pd.DataFrame:
    """One document's lines (layout path: bbox in extras["location"]) →
    feature frame, columns sorted, float dtype (transform() contract)."""
    import pandas as pd

    rows = []
    for i, line in enumerate(lines):
        prev_line = lines[i - 1] if i > 0 else None
        next_line = lines[i + 1] if i + 1 < len(lines) else None
        bbox = _bbox_of(line)
        prev_bbox = _bbox_of(prev_line)
        next_bbox = _bbox_of(next_line)
        caps = _upper_percent(line)
        bold = _bold_percent(line)
        rows.append(
            {
                "indent": bbox.x_top_left if bbox else None,
                "indent_prev": _relative_indent(bbox, prev_bbox) if bbox else None,
                "indent_next": _relative_indent(next_bbox, bbox) if bbox else None,
                "indent_right": bbox.x_bottom_right if bbox else None,
                "indent_prev_right": _relative_indent(bbox, prev_bbox, left=False) if bbox else None,
                "intersection_next": _intersection(next_bbox, bbox) if bbox else None,
                "intersection_prev": _intersection(prev_bbox, bbox) if bbox else None,
                "prev_text_lens": len(prev_line.line) if prev_line else None,
                "text_lens": len(line.line),
                # reference quirk kept: the "_prev" column also carries the
                # CURRENT line's percentage (paragraph_feature_extractor.py:88-91)
                "upper_letters_percent_prev": caps if prev_line else None,
                "upper_letters_percent": caps,
                "is_capitalized": int(caps == 1.0),
                "is_bold_changed": (
                    int(bold == 1.0) != int(_bold_percent(prev_line) == 1.0) if prev_line else None
                ),
                "is_bold_changed_next": (
                    int(bold == 1.0) != int(_bold_percent(next_line) == 1.0) if next_line else None
                ),
                "distance_prev": (
                    bbox.y_top_left - prev_bbox.y_bottom_right if prev_bbox and bbox else None
                ),
                "distance_next": (
                    next_bbox.y_top_left - bbox.y_bottom_right if next_bbox and bbox else None
                ),
                "height": bbox.height if bbox else None,
                "height_next": bbox.height / (next_bbox.height + 1) if (next_bbox and bbox) else None,
                "height_prev": bbox.height / (prev_bbox.height + 1) if (prev_bbox and bbox) else None,
            }
        )
    df = pd.DataFrame(rows, columns=sorted(FEATURE_NAMES))
    for column in _NORMALIZE_COLUMNS:
        df[column] = _quantile(df[column])
    return df[FEATURE_NAMES].astype(float)


def paragraph_feature_matrix(lines: Sequence[Line]) -> np.ndarray:
    """Model input: NaN→0 (the logistic surrogate can't route NaNs the way
    XGBoost does), lengths scaled O(1)."""
    X = paragraph_features(lines).to_numpy(dtype=np.float64)
    X = np.nan_to_num(X, nan=0.0)
    scale = np.ones(len(FEATURE_NAMES))
    for i, name in enumerate(FEATURE_NAMES):
        if name in ("text_lens", "prev_text_lens"):
            scale[i] = 0.01
    return X * scale


def _synthetic_paragraph_doc(seed: int):
    """One deterministic synthetic page: flush-left continuation lines,
    paragraph starts marked by a first-line indent AND a larger vertical
    gap (the two signals the txt-layer metadata actually carries)."""
    from dedoc_spark.core.pdf_layout import BBox, Location

    lines: List[Line] = []
    labels: List[int] = []
    y = 60.0
    n_paragraphs = 3 + seed % 3
    idx = 0
    for p in range(n_paragraphs):
        n_cont = 2 + (seed + p) % 3
        for j in range(n_cont + 1):
            start = j == 0
            x = 90.0 if start else 72.0
            y += 26.0 if start and idx else 14.0
            text = ("Start of paragraph %d." % p) if start else ("continuation line %d" % j)
            ln = Line(line=text, page_id=0, line_id=idx)
            width = 6.0 * len(text)
            ln.extras["location"] = Location(0, BBox(x, y, width, 12.0))
            lines.append(ln)
            labels.append(1 if start else 0)
            idx += 1
    return lines, labels


def train_default_paragraph_model():
    """Deterministic logistic model over the ported feature set (see
    module docstring for why not the reference's XGBoost artifact)."""
    Xs, ys = [], []
    for seed in range(8):
        lines, labels = _synthetic_paragraph_doc(seed)
        Xs.append(paragraph_feature_matrix(lines))
        ys.extend(labels)
    X = np.vstack(Xs)
    return train_logistic(X, np.asarray(ys, dtype=np.float64), epochs=400, lr=0.5)


@functools.lru_cache(maxsize=None)
def default_paragraph_model():
    """Process-cached default model (trained once per executor worker —
    the same load-once shape as the reference's lazy _unpickle)."""
    return train_default_paragraph_model()


def classify_paragraphs(lines: List[Line], model=None) -> List[Line]:
    """scan_paragraph_classifier_extractor.py:65-81 contract: predict
    paragraph starts, set ``tag_hl.can_be_multiline = not is_paragraph``;
    blank lines are always not_paragraph (→ multiline True)."""
    if not lines:
        return lines
    if model is None:
        model = default_paragraph_model()
    X = paragraph_feature_matrix(lines)
    proba = model.predict_proba(X)
    for p, line in zip(proba, lines):
        is_paragraph = p >= 0.5 and line.line.strip() != ""
        if line.tag_hl is not None:
            line.tag_hl.can_be_multiline = not is_paragraph
    return lines
