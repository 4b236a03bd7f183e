"""Scanned-document path: the reference's PdfImageReader pipeline
(pdf_image_reader/pdf_image_reader.py:60-132) re-expressed pure-Python +
numpy so it runs inside mapInPandas with no native runtimes.

Pipeline parity, step for step (_process_one_page):
  1. orientation + column-count detection  (pdf_image_reader.py:71-73,
     _detect_column_count_and_orientation :101-132)
  2. optional binarization                 (:76-81, need_binarization)
  3. table detection + recognition        (:83-91, table_recognizer.py:34-63;
     captured regions leave the text flow like __clean_image_from_table)
  4. OCR lines + word bboxes/confidences  (ocr/ocr_line_extractor.py:16-49,
     hierarchy per ocr/ocr_page/*), bbox sanity filter 0.01 < h/w < 24
     (ocr_line_extractor.py:44-48)
  5. line metadata annotations            (line_metadata_extractor/
     metadata_extractor.py:26-177: indentation, bold, size, color, spacing)

Documented STAND-INS (real plumbing, replaceable engines — the sandbox
has no Tesseract/EfficientNet/OpenCV; see SURVEY.md §2.1 scope note):
  * Tesseract (`pytesseract.image_to_data`, ocr_utils.py:16-46) -> a
    deterministic template matcher over the procedural bitmap font in
    core/scanfont.py. ``recognize_page`` is the seam: any engine that
    returns the same (lines -> words -> bbox/conf) hierarchy drops in.
  * EfficientNet-b0 ColumnsOrientationClassifier -> 4-way rotation
    scoring by glyph-match confidence + whitespace-gutter column count.
  * dedocutils AdaptiveBinarizer -> integral-image local-mean threshold.
    SkewCorrector's small-angle branch is de-scoped (90° multiples only).

Ports that ARE faithful (pure numpy in the reference too):
  * ValleyEmphasisBinarizer (bold_classifier/valley_emphasis_binarizer.py)
  * the bold stroke-width evaluation + agglomerative 2-cluster decision
    with the homogeneity F-criterion (bold_classifier.py:48-112,
    agglomerative_clusterizer.py:10-68); norm.ppf(0.8) is inlined as a
    constant because scipy is absent.
  * LineMetadataExtractor annotations (indentation twips math, font size
    from A4 pixel pitch, spacing vs median bbox height, mean-non-white
    color) — metadata_extractor.py:70-177.

uid deviation (repo invariant: determinism): the reference mints
``bbox_{uuid1()}`` per line (text_with_bbox.py:27); here the uid is the
content-derived ``bbox_{md5(page_seed:page:line:text)}`` chain.
"""

from __future__ import annotations

import hashlib
import json
from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from dedoc_spark.core.model import Annotation, Line, param_flag
from dedoc_spark.core.pdf_layout import BBox, Location
from dedoc_spark.core.pdf_objects import PdfFile, decode_filters, decode_stream, stream_parts
from dedoc_spark.core.scanfont import BOLD_GLYPHS, GLYPH, GLYPHS, charset_for_language

# ---------------------------------------------------------------------------
# gray / threshold / binarize


def to_gray(image: np.ndarray) -> np.ndarray:
    """uint8 grayscale view of an RGB or grayscale array."""
    arr = np.asarray(image)
    if arr.ndim == 3:
        arr = arr[..., :3].mean(axis=2)
    return np.clip(arr, 0, 255).astype(np.uint8)


def otsu_threshold(gray: np.ndarray) -> int:
    """Classic Otsu between-class-variance maximizer over a 256-bin
    histogram (the default global binarization for the matcher)."""
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 127
    w = np.cumsum(hist)
    m = np.cumsum(hist * np.arange(256))
    mean_total = m[-1] / total
    omega = w / total
    with np.errstate(divide="ignore", invalid="ignore"):
        mu1 = m / w
        mu2 = (m[-1] - m) / (total - w)
    var = omega * (1 - omega) * (mu1 - mu2) ** 2
    var[~np.isfinite(var)] = -1
    # bimodal two-level images make the between-class variance flat over
    # the whole inter-mode gap; take the plateau midpoint (the standard
    # tie-break) so the threshold separates the modes rather than sitting
    # exactly on the dark one
    plateau = np.flatnonzero(var >= var.max() - 1e-9)
    return int(plateau.mean())


def ink_mask(image: np.ndarray) -> np.ndarray:
    """Boolean ink mask (True = ink): dark-on-light via Otsu. Accepts
    uint8 images and already-binarized 0/1 arrays (the valley-emphasis
    output convention where 0 = ink)."""
    gray = to_gray(image)
    if gray.max() <= 1:
        return gray == 0
    return gray <= otsu_threshold(gray)


def valley_emphasis_threshold(gray: np.ndarray, n: int = 5) -> int:
    """Valley-emphasis threshold, numpy re-derivation of the reference's
    histogram loop (valley_emphasis_binarizer.py:18-46) including its
    255-bin data-range histogram and neighbor-sum window."""
    c, _ = np.histogram(gray, bins=255)
    total = gray.size
    t = np.arange(255, dtype=np.float64)
    sum_val = float((t * c / total).sum())
    omega_1 = np.cumsum(c / total)[:254]
    mu_k = np.cumsum(t * (c / total))[:254]
    omega_2 = 1.0 - omega_1
    with np.errstate(divide="ignore", invalid="ignore"):
        mu_1 = np.where(omega_1 != 0.0, mu_k / omega_1, 0.0)
        mu_2 = np.where(omega_2 != 0.0, (sum_val - mu_k) / omega_2, 0.0)
    # sum of c[max(1, t-n) : min(255, t+n)] for each t — sliding window
    cs = np.concatenate([[0], np.cumsum(c)])
    lo = np.maximum(1, np.arange(254) - n)
    hi = np.minimum(255, np.arange(254) + n)
    neighbors = cs[hi] - cs[lo]
    var = (1 - neighbors / total) * (omega_1 * mu_1**2 + omega_2 * mu_2**2)
    return int(np.argmax(var))


def valley_emphasis_binarize01(image: np.ndarray, n: int = 5) -> np.ndarray:
    """0/1 uint8 image per the reference binarizer (0 = ink)."""
    gray = to_gray(image)
    thr = valley_emphasis_threshold(gray, n=n)
    return np.where(gray <= thr, 0, 1).astype(np.uint8)


def adaptive_binarize(image: np.ndarray, block: int = 31, delta: int = 10) -> np.ndarray:
    """need_binarization stand-in for dedocutils AdaptiveBinarizer:
    integral-image local mean over a (2*block+1)² window; a pixel darker
    than its local mean by > delta becomes ink (0), else paper (255)."""
    gray = to_gray(image).astype(np.float64)
    h, w = gray.shape
    pad = np.pad(gray, ((1, 0), (1, 0)))
    ii = pad.cumsum(axis=0).cumsum(axis=1)
    ys = np.arange(h)
    xs = np.arange(w)
    y0 = np.clip(ys - block, 0, h)[:, None]
    y1 = np.clip(ys + block + 1, 0, h)[:, None]
    x0 = np.clip(xs - block, 0, w)[None, :]
    x1 = np.clip(xs + block + 1, 0, w)[None, :]
    area = (y1 - y0) * (x1 - x0)
    s = ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]
    mean = s / area
    return np.where(gray < mean - delta, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# template matcher (the Tesseract stand-in)


class OcrWordOut:
    """One recognized word: pixel bbox + integer percent confidence."""

    __slots__ = ("text", "bbox", "conf")

    def __init__(self, text: str, bbox: Tuple[int, int, int, int], conf: int) -> None:
        self.text = text
        self.bbox = bbox  # (x0, y0, x1, y1) pixel, top-down
        self.conf = conf


class OcrLineOut:
    """One recognized line (reference OcrLine, ocr_page/ocr_line.py:12-24)."""

    __slots__ = ("order", "bbox", "words")

    def __init__(self, order: int, bbox: Tuple[int, int, int, int], words: List[OcrWordOut]) -> None:
        self.order = order
        self.bbox = bbox
        self.words = words

    @property
    def text(self) -> str:
        """Words joined + trailing newline (ocr_line.py:24)."""
        return " ".join(w.text for w in self.words if w.text != "") + "\n"


@lru_cache(maxsize=8)
def _templates(language: str) -> Tuple[np.ndarray, str]:
    """(n_templates, 8) bit-packed uint8 matrix + parallel char string
    (8 bytes = the 64 grid cells). Regular and bold variants both map to
    the character — boldness is decided by the pixel classifier, not the
    matcher (as with Tesseract + BoldClassifier)."""
    chars = charset_for_language(language)
    mats: List[np.ndarray] = []
    labels: List[str] = []
    for ch in chars:
        mats.append(GLYPHS[ch].reshape(-1))
        labels.append(ch)
        mats.append(BOLD_GLYPHS[ch].reshape(-1))
        labels.append(ch)
    return np.packbits(np.stack(mats), axis=1), "".join(labels)


_POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _runs(profile: np.ndarray, min_gap: int = 1) -> List[Tuple[int, int]]:
    """[start, end) runs of True in a boolean profile; gaps shorter than
    ``min_gap`` do not split a run."""
    idx = np.where(profile)[0]
    if idx.size == 0:
        return []
    breaks = np.where(np.diff(idx) > min_gap)[0]
    starts = np.concatenate([[idx[0]], idx[breaks + 1]])
    ends = np.concatenate([idx[breaks] + 1, [idx[-1] + 1]])
    return list(zip(starts.tolist(), ends.tolist()))


# keyed by (cells, extent) and (cells, h, w): glyph crops within a band
# repeat a handful of sizes, and the arange/diff/maximum chain dominated
# small-crop block means. Each is cleared when full, so a long-lived
# worker that sees many distinct crop sizes keeps them bounded.
_block_bounds_cache: Dict[Tuple[int, int], Tuple[np.ndarray, np.ndarray]] = {}
_block_outer_cache: Dict[Tuple[int, int, int], np.ndarray] = {}
_BLOCK_CACHE_MAX = 1024


def _block_bounds(cells: int, n: int) -> Tuple[np.ndarray, np.ndarray]:
    """(reduceat boundaries, per-cell counts) splitting ``n`` rows or
    columns into ``cells`` blocks."""
    hit = _block_bounds_cache.get((cells, n))
    if hit is None:
        if len(_block_bounds_cache) >= _BLOCK_CACHE_MAX:
            _block_bounds_cache.clear()
        b = (np.arange(cells) * n) // cells
        # crops shorter than ``cells`` repeat reduceat boundaries (count 0
        # but value = the single row at that index): clamp to 1 row/col
        counts = np.maximum(np.diff(np.concatenate([b, [n]])), 1)
        hit = _block_bounds_cache[(cells, n)] = (b, counts)
    return hit


def block_means(crop: np.ndarray, cells: int) -> np.ndarray:
    """Area-mean a crop of any size down to a ``cells`` x ``cells`` grid
    (the scanfont matcher uses GLYPH, the glyph engine its 16 grid)."""
    h, w = crop.shape
    rb, rcounts = _block_bounds(cells, h)
    cb, ccounts = _block_bounds(cells, w)
    summed = np.add.reduceat(np.add.reduceat(crop.astype(np.float64), rb, axis=0), cb, axis=1)
    counts = _block_outer_cache.get((cells, h, w))
    if counts is None:
        if len(_block_outer_cache) >= _BLOCK_CACHE_MAX:
            _block_outer_cache.clear()
        counts = _block_outer_cache[(cells, h, w)] = np.outer(rcounts, ccounts)
    return summed / counts


def _cell_means(crop: np.ndarray) -> np.ndarray:
    """Block-mean a crop down to the GLYPH x GLYPH grid (exact inverse of
    the renderer's np.kron upscale for integer scales)."""
    h, w = crop.shape
    if h % GLYPH == 0 and w % GLYPH == 0:
        # exact integer scale (the common case for clean scans): a
        # reshape-mean is ~3x cheaper than block_means' double reduceat
        return (
            crop.reshape(GLYPH, h // GLYPH, GLYPH, w // GLYPH)
            .mean(axis=(1, 3))
        )
    return block_means(crop, GLYPH)


def _match_glyphs(bitmaps: np.ndarray, language: str) -> Tuple[str, np.ndarray]:
    """bitmaps: (G, 64) bool -> (string of G chars, per-char conf in [0,1]).

    Hamming distance via XOR + byte popcount over bit-packed rows — the
    same integer distances as the former (G, T, 64) bool broadcast at
    1/8 the memory traffic."""
    tm, labels = _templates(language)
    packed = np.packbits(bitmaps, axis=1)  # (G, 8)
    dist = _POPCOUNT[packed[:, None, :] ^ tm[None, :, :]].sum(
        axis=2, dtype=np.int64
    )
    best = dist.argmin(axis=1)
    conf = 1.0 - dist[np.arange(len(bitmaps)), best] / 64.0
    return "".join(labels[b] for b in best), conf


def _recognize_block(
    mask: np.ndarray,
    x_off: int,
    y_off: int,
    language: str,
    max_bands: Optional[int] = None,
    max_glyphs: Optional[int] = None,
) -> List[Tuple[Tuple[int, int, int, int], List[OcrWordOut], float]]:
    """Segment one text block into line bands -> glyph runs -> words.

    Returns [(line bbox, words, mean glyph conf)] top-down. Band height
    estimates the font scale (glyph box = 8*scale px, see scanfont
    layout model); the word-break threshold is 5*scale (char gap 2*scale,
    word gap 12*scale)."""
    out: List[Tuple[Tuple[int, int, int, int], List[OcrWordOut], float]] = []
    bands = _runs(mask.any(axis=1))
    if max_bands is not None:
        bands = bands[:max_bands]
    glyph_budget = max_glyphs if max_glyphs is not None else float("inf")
    for y0, y1 in bands:
        if glyph_budget <= 0:
            break
        band = mask[y0:y1]
        scale = max(1, round((y1 - y0) / GLYPH))
        col_runs = _runs(band.any(axis=0))
        if not col_runs:
            continue
        # group glyph runs into words: a gap > 5*scale is a word break
        words_runs: List[List[Tuple[int, int]]] = [[col_runs[0]]]
        for prev, cur in zip(col_runs, col_runs[1:]):
            if cur[0] - prev[1] > 5 * scale:
                words_runs.append([cur])
            else:
                words_runs[-1].append(cur)
        # glyph bitmaps for the whole band at once
        bitmaps: List[np.ndarray] = []
        flat_runs: List[Tuple[int, int]] = []
        for runs in words_runs:
            for c0, c1 in runs:
                if glyph_budget <= 0:
                    break
                bitmaps.append(_cell_means(band[:, c0:c1]) > 0.5)
                flat_runs.append((c0, c1))
                glyph_budget -= 1
        if not bitmaps:
            continue
        chars, confs = _match_glyphs(np.stack([b.reshape(-1) for b in bitmaps]), language)
        words: List[OcrWordOut] = []
        pos = 0
        for runs in words_runs:
            take = min(len(runs), len(chars) - pos)
            if take <= 0:
                break
            text = chars[pos : pos + take]
            wconf = int(round(100 * float(confs[pos : pos + take].mean())))
            x0 = runs[0][0]
            x1 = runs[take - 1][1]
            words.append(
                OcrWordOut(text, (x_off + x0, y_off + y0, x_off + x1, y_off + y1), wconf)
            )
            pos += take
        if not words:
            continue
        bbox = (
            min(w.bbox[0] for w in words),
            y_off + y0,
            max(w.bbox[2] for w in words),
            y_off + y1,
        )
        out.append((bbox, words, float(confs.mean())))
    return out


def _median_band_height(mask: np.ndarray) -> int:
    bands = _runs(mask.any(axis=1))
    if not bands:
        return GLYPH
    return int(np.median([e - s for s, e in bands]))


def detect_columns(mask: np.ndarray) -> int:
    """1 or 2 columns: stand-in for the EfficientNet columns head. A page
    is two-column when a full-height blank gutter at least two glyph
    boxes wide splits the central half of the page with ink on both
    sides."""
    if not mask.any():
        return 1
    scale = max(1, round(_median_band_height(mask) / GLYPH))
    col_ink = mask.any(axis=0)
    w = mask.shape[1]
    blank_runs = _runs(~col_ink)
    for s, e in blank_runs:
        if s <= 0 or e >= w:  # margins
            continue
        if e - s >= 2 * GLYPH * scale and s > w // 4 and e < (3 * w) // 4:
            if mask[:, :s].any() and mask[:, e:].any():
                return 2
    return 1


def _best_band_conf(
    lines: List[Tuple[Tuple[int, int, int, int], List[OcrWordOut], float]],
) -> Optional[float]:
    """Confidence of the best band with at least 4 recognised glyphs, or
    None when no band has that many. Fixture pages always carry at least
    one ≈1.0 band, while a fused table/noise band (a lone glyph over a
    whole table row) would drag a mean below the floor even on a genuine
    scanfont page — so orientation and engine choice both judge a page
    by its best substantial band."""
    confs = [c for _, ws, c in lines if sum(len(w.text) for w in ws) >= 4]
    return max(confs) if confs else None


def detect_orientation(
    image: np.ndarray, language: str = "rus+eng", mask: Optional[np.ndarray] = None
) -> int:
    """Page rotation in degrees CCW needed to make the text upright —
    stand-in for the EfficientNet orientation head
    (columns_orientation_classifier). Each 90° candidate is scored by its
    best substantial band among the first three (``_best_band_conf``; a
    rotated or flipped glyph matches nothing, so the upright candidate
    wins by a wide margin); ties and blank pages keep 0. A near-perfect
    upright match short-circuits the other three candidates (the common
    case — a flipped glyph cannot also match near-perfectly: the glyph
    set is distinctness-checked at import)."""
    if mask is None:
        mask = ink_mask(image)
    best_k, best_score = 0, -1.0
    for k in range(4):
        # rot90 returns a strided view; the band/run reductions below
        # walk it many times, and one contiguous copy is cheaper than
        # repeated cache-hostile strided passes (k=0 is already
        # contiguous and copies nothing)
        m = np.ascontiguousarray(np.rot90(mask, k))
        lines = _recognize_block(m, 0, 0, language, max_bands=3, max_glyphs=40)
        glyphs = sum(len(w.text) for _, ws, _ in lines for w in ws)
        if glyphs == 0:
            score = -0.5
        else:
            score = _best_band_conf(lines)
            if score is None:
                score = float(np.mean([c for _, _, c in lines]))
        if k == 0 and glyphs >= 5 and score > 0.95:
            return 0
        if score > best_score + 1e-9:
            best_k, best_score = k, score
    if best_score < _SCANFONT_CONF_FLOOR:
        # the page is not the fixture font — scanfont scores are noise
        # there (sparse crops match sparse templates at ANY rotation);
        # re-score with the real-font engine when its bank is present
        from dedoc_spark.core import glyph_ocr

        if glyph_ocr.bank_available():
            scores = glyph_ocr.orientation_confidences(
                [np.ascontiguousarray(np.rot90(mask, k)) for k in range(4)],
                language,
            )
            g = int(np.argmax(scores))
            if scores[g] >= _GLYPH_VOTE_FLOOR and (
                g == 0 or scores[g] >= scores[0] + _GLYPH_VOTE_MARGIN
            ):
                best_k = g
    return best_k * 90


def estimate_skew(mask: np.ndarray, limit: float = 5.0) -> float:
    """Small-angle page skew in degrees (positive = text runs downhill
    to the right; rotating by -angle deskews). Projection-profile energy
    maximization — the classic public deskew signal (the reference runs
    dedocutils' SkewCorrector here): at the true skew the row-projection
    histogram of the sheared ink is sharpest, and sum(counts²) peaks.
    Coarse 0.5° grid then 0.1° refinement; blank/ambiguous pages return
    0.0. Small angles only — 90° multiples are detect_orientation's job."""
    ys, xs = np.nonzero(mask)
    if ys.size < 64:
        return 0.0
    # downsample to ~200k ink points for O(angles x N) scoring
    if ys.size > 200_000:
        step = ys.size // 200_000 + 1
        ys, xs = ys[::step], xs[::step]
    ys = ys.astype(np.float64)
    xs = xs.astype(np.float64)

    def score(deg: float) -> float:
        t = np.tan(np.radians(deg))
        bins = (ys - xs * t).astype(np.int64)
        bins -= bins.min()
        counts = np.bincount(bins)
        return float((counts.astype(np.float64) ** 2).sum())

    base = score(0.0)
    best_a, best_s = 0.0, base
    for a in np.arange(-limit, limit + 0.25, 0.5):
        s = score(float(a))
        if s > best_s:
            best_a, best_s = float(a), s
    for a in np.arange(best_a - 0.4, best_a + 0.45, 0.1):
        s = score(float(a))
        if s > best_s:
            best_a, best_s = float(a), s
    # require a decisive win over "no skew": noise pages score ~flat
    if best_s < 1.08 * base or abs(best_a) < 0.25:
        return 0.0
    return round(best_a, 1)


def rotate_small(image: np.ndarray, deg: float, fill: int = 255) -> np.ndarray:
    """Rotate an HxW or HxWxC uint8 image by a small angle
    (nearest-neighbor inverse mapping, white fill) — the deskew
    companion of estimate_skew; no external imaging runtime."""
    if abs(deg) < 1e-6:
        return image
    h, w = image.shape[:2]
    t = np.radians(deg)
    c, s = np.cos(t), np.sin(t)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    out = np.full_like(image, fill)
    xs = np.arange(w, dtype=np.float32) - cx
    # row blocks bound transient memory: a full-page float map of a
    # 300-dpi A4 (~8.7 Mpx) would transiently allocate hundreds of MB
    block = max(1, (1 << 22) // max(w, 1))
    for y0 in range(0, h, block):
        y1 = min(h, y0 + block)
        ys = (np.arange(y0, y1, dtype=np.float32) - cy)[:, None]
        # inverse map: source = R(-deg) . (dst - center) + center
        sxi = np.rint(c * xs[None, :] + s * ys + cx).astype(np.int32)
        syi = np.rint(-s * xs[None, :] + c * ys + cy).astype(np.int32)
        valid = (sxi >= 0) & (sxi < w) & (syi >= 0) & (syi < h)
        vy, vx = np.nonzero(valid)
        out[vy + y0, vx] = image[syi[vy, vx], sxi[vy, vx]]
    return out


# scanfont template matches on the procedural fixture font score ~1.0;
# anything below this means the page is NOT that font (a real scan) and
# the real-font glyph engine should read it instead
_SCANFONT_CONF_FLOOR = 0.92
# the glyph engine's orientation vote replaces the scanfont one only when
# the bank actually READS the winner. The vote runs only on pages whose
# best substantial scanfont band stays under _SCANFONT_CONF_FLOOR at every
# rotation: real type and real scans, never the fixture font (its upright
# bands read ≈1.0, so fixture pages, table pages included, exit at k=0).
# The bank reads FreeType type at 0.79-0.90 and a real 300-dpi fax at
# 0.47; a page it cannot read (a photo, noise fused into bands) scores
# junk at EVERY rotation, and there the scanfont argmax stands. A nonzero
# override also needs a decisive margin over upright.
_GLYPH_VOTE_FLOOR = 0.35
_GLYPH_VOTE_MARGIN = 0.08


def choose_engine(mask: np.ndarray, language: str, engine: str = "auto") -> str:
    """Resolve the OCR engine for a page mask: explicit values pass
    through; "auto" probes a few scanfont bands and routes real pages
    to the glyph engine. Two real-scan signals: the matches are poor,
    OR an ink-heavy page yields almost no glyph cells (noise fuses the
    projection bands — near-empty giant crops match sparse templates
    with spuriously HIGH confidence, so count beats confidence there)."""
    if engine != "auto":
        return engine
    best = _best_band_conf(_recognize_block(mask, 0, 0, language, max_bands=4, max_glyphs=80))
    if best is not None:
        use_glyph = best < _SCANFONT_CONF_FLOOR
    else:
        # measure ink AFTER stripping page-long rules/borders: a ruled
        # table drawn around a handful of fixture glyphs is mostly rule
        # ink and must not read as "ink-heavy real scan"
        from dedoc_spark.core.glyph_ocr import clean_scan_mask

        use_glyph = int(clean_scan_mask(mask).sum()) >= 6400
    if use_glyph:
        from dedoc_spark.core import glyph_ocr

        if glyph_ocr.bank_available():
            return "glyph"
    return "scanfont"


def recognize_page(
    image: np.ndarray,
    language: str = "rus+eng",
    is_one_column: Optional[bool] = None,
    ocr_conf_threshold: float = -1.0,
    mask: Optional[np.ndarray] = None,
    engine: str = "auto",
) -> List[OcrLineOut]:
    """Full-page recognition: the split_image2lines contract
    (ocr_line_extractor.py:16-23). One-column pages read top-down (psm 4);
    two-column pages read left block then right block (psm 3 block
    order). Words below ``ocr_conf_threshold`` are dropped
    (ocr_page/ocr_line.py:56 filter).

    ``engine``: "scanfont" = the procedural-font template matcher (the
    fixture font), "glyph" = the real-font engine (core/glyph_ocr,
    DejaVu-trained template bank), "auto" (default) = scanfont first,
    and when its match confidence collapses below
    ``_SCANFONT_CONF_FLOOR`` — i.e. the page is real type, not the
    fixture font — the glyph engine reads the page instead. Fixture
    pages match ~1.0 so their default output bytes never change."""
    if mask is None:
        mask = ink_mask(image)
    columns = detect_columns(mask) if is_one_column is None else (1 if is_one_column else 2)

    def blocks_with(block_fn, gray=None) -> List[Tuple[Tuple[int, int, int, int], List[OcrWordOut], float]]:
        def call(m, x, g):
            if g is None:
                return block_fn(m, x, 0, language)
            return block_fn(m, x, 0, language, gray=g)

        if columns == 1:
            return call(mask, 0, gray)
        col_ink = mask.any(axis=0)
        w = mask.shape[1]
        split = w // 2
        best = 0
        for s, e in _runs(~col_ink):
            if 0 < s and e < w and e - s > best and s > w // 4 and e < (3 * w) // 4:
                best, split = e - s, (s + e) // 2
        gl, gr = (None, None) if gray is None else (gray[:, :split], gray[:, split:])
        return call(mask[:, :split], 0, gl) + call(mask[:, split:], split, gr)

    use_glyph = choose_engine(mask, language, engine) == "glyph"
    raw: List[Tuple[Tuple[int, int, int, int], List[OcrWordOut], float]] = []
    if use_glyph:
        from dedoc_spark.core import glyph_ocr

        # the glyph bank holds anti-aliased coverage templates: feed the
        # engine fractional ink coverage when the page carries gray
        # detail (bilevel scans reduce to the mask and change nothing)
        g8 = to_gray(image)
        cov = None
        if g8.max() > 1 and g8.shape == mask.shape:
            cov = 1.0 - g8.astype(np.float64) / 255.0
        raw = blocks_with(glyph_ocr.recognize_block, gray=cov)
        use_glyph = bool(raw)
    if not use_glyph:
        raw = blocks_with(_recognize_block)
    lines: List[OcrLineOut] = []
    order = 0
    for bbox, words, _ in raw:
        kept = [w for w in words if float(w.conf) >= ocr_conf_threshold]
        if not kept:
            continue
        lines.append(OcrLineOut(order, bbox, kept))
        order += 1
    return lines


# ---------------------------------------------------------------------------
# bold classifier (faithful port, bold_classifier.py:10-112 +
# agglomerative_clusterizer.py:6-68 — pure numpy in the reference too)

_Z80 = 0.8416212335729143  # scipy.stats.norm.ppf(0.8); scipy is absent here
_PERMISSIBLE_H = 5
_SIGNIFICANCE = 0.2


def _bold_eval_one(img01: np.ndarray) -> float:
    """Stroke-width evaluation p/s of one word crop (bold_classifier.py:48-63)."""
    h, w = img01.shape[:2]
    if not (h > 3 and w > 3):
        return 1.0
    base = _base_line_image(img01)
    base_wo_spaces = _get_rid_spaces(base)
    p_img = base[:, :-1].astype(np.int16) - base[:, 1:].astype(np.int16)
    p = (np.abs(p_img) > 0).mean() if p_img.size else 0.0
    s = 1 - base_wo_spaces.mean() if base_wo_spaces.size else 0.0
    if p > s or s == 0:
        return 1.0
    return float(p / s)


def _get_rid_spaces(image: np.ndarray) -> np.ndarray:
    """Reference quirk reproduced verbatim (bold_classifier.py:71-76):
    ``len(not_space) > 3`` tests the WIDTH, not the space count, so for
    any crop wider than 3 the spaces are never actually removed."""
    x = image.mean(0)
    not_space = x < 0.95
    if len(not_space) > 3:
        return image
    return image[:, not_space]


def _base_line_image(image: np.ndarray) -> np.ndarray:
    """Crop to the two strongest row-mean transitions (x-height band),
    bold_classifier.py:78-103."""
    h = image.shape[0]
    if h < _PERMISSIBLE_H:
        return image
    mean_ = image.mean(1)
    delta = np.abs(mean_[:-1] - mean_[1:])
    if delta.size < 2:
        return image
    order = np.argsort(-delta, kind="stable")
    argmax1, argmax2 = int(order[0]), int(order[1])
    h_min = min(argmax1, argmax2)
    h_max = min(max(argmax1, argmax2) + 1, h)
    if h_max - h_min < _PERMISSIBLE_H:
        return image
    return image[h_min:h_max, :]


def _ward_two_clusters(vectors: np.ndarray) -> np.ndarray:
    """Agglomerative clustering to 2 clusters with Ward's minimum-variance
    linkage (the sklearn AgglomerativeClustering() default the reference
    uses, agglomerative_clusterizer.py:25-29). Labels: cluster of the
    first point = its final component id remapped to {0, 1} by first
    appearance, which is all the caller's relabel-by-mean step needs."""
    n = len(vectors)
    if n <= 2:
        return np.arange(n) % 2 if n == 2 else np.zeros(n, dtype=int)
    centers = vectors.astype(np.float64).copy()
    sizes = [1] * n
    members: List[List[int]] = [[i] for i in range(n)]
    # full pairwise Ward matrix, maintained across merges (the previous
    # python pair loop re-evaluated every pair every round — O(n^3)
    # numpy-scalar calls, ~18 s on a 4-page fax). The active set stays
    # ascending by original index, so the row-major argmin over the
    # upper triangle reproduces the loop's first-strict-minimum
    # tie-breaking exactly, and the per-pair arithmetic is unchanged.
    diff = centers[:, None, :] - centers[None, :, :]
    D = (diff**2).sum(axis=2) * 0.5  # (na*nb)/(na+nb) == 1/2 at size 1
    D[np.tril_indices(n)] = np.inf
    alive = np.ones(n, dtype=bool)
    for _ in range(n - 2):
        flat = int(np.argmin(D))
        a, b = divmod(flat, n)
        na, nb = sizes[a], sizes[b]
        centers[a] = (centers[a] * na + centers[b] * nb) / (na + nb)
        sizes[a] = na + nb
        members[a].extend(members[b])
        alive[b] = False
        D[b, :] = np.inf
        D[:, b] = np.inf
        others = np.where(alive)[0]
        others = others[others != a]
        if others.size:
            d = ((centers[others] - centers[a]) ** 2).sum(axis=1)
            na2 = sizes[a]
            nsz = np.array([sizes[o] for o in others], dtype=np.float64)
            d = d * (na2 * nsz) / (na2 + nsz)
            lo_mask = others < a
            D[others[lo_mask], a] = d[lo_mask]
            D[a, others[~lo_mask]] = d[~lo_mask]
    labels = np.zeros(n, dtype=int)
    second = int(np.where(alive)[0][1])
    labels[members[second]] = 1
    return labels


def classify_bold(image: np.ndarray, word_boxes: Sequence[Tuple[int, int, int, int]]) -> List[float]:
    """Word-level boldness indicators (0.0 / 1.0), bold_classifier.py:20-29:
    single-word pages return [0.0]; otherwise evaluations are clustered
    and the split is accepted only when the homogeneity F-criterion
    rejects the one-cluster hypothesis."""
    if len(word_boxes) == 0:
        return []
    if len(word_boxes) == 1:
        return [0.0]
    img01 = valley_emphasis_binarize01(image)
    evals = np.array(
        [
            _bold_eval_one(img01[y0:y1, x0:x1])
            for x0, y0, x1, y1 in word_boxes
        ]
    )
    # __get_prop_vectors: each point paired with its neighbor-smoothed value
    nearby = evals.copy()
    nearby[:-1] += evals[1:]
    nearby[1:] += evals[:-1]
    nearby[0] += evals[0]
    nearby[-1] += evals[-1]
    nearby = nearby / 3.0
    vectors = np.stack((evals, nearby), axis=1)
    clusters = _ward_two_clusters(vectors)
    # __get_indicator: F-criterion for homogeneity, then bold = lower-eval cluster
    x0c = evals[clusters == 0]
    x1c = evals[clusters == 1]
    if len(x0c) == 0 or len(x1c) == 0:
        f1 = 1.0
    else:
        w1 = np.std(evals) * len(evals)
        w2 = np.std(x0c) * len(x0c) + np.std(x1c) * len(x1c)
        f1 = w2 / w1 if w1 != 0.0 else 0.0
    n, p = len(evals), 2
    f_cr = 1 - 2 / (np.pi * p) - _Z80 * np.sqrt(2 * (1 - 8 / (np.pi**2 * p)) / (n * p))
    if f_cr < f1:
        return [0.0] * n
    if np.mean(x1c) < np.mean(x0c):
        return [1.0 if c == 1 else 0.0 for c in clusters]
    return [1.0 if c == 0 else 0.0 for c in clusters]


# ---------------------------------------------------------------------------
# line construction + metadata annotations (metadata_extractor.py port)

_DEFAULT_SPACING = 50  # LineMetadataExtractor(default_spacing=50)


def _line_uid(page_seed: str, page_num: int, line_num: int, text: str) -> str:
    return "bbox_" + hashlib.md5(f"{page_seed}:{page_num}:{line_num}:{text}".encode()).hexdigest()


def build_scan_lines(
    ocr_lines: Sequence[OcrLineOut],
    image: np.ndarray,
    page_num: int,
    page_seed: str = "",
    call_classifier: bool = True,
) -> List[Line]:
    """OCR lines -> annotated Lines: word confidence + bbox annotations
    (ocr_line.py:26-42), then the LineMetadataExtractor sequence —
    indentation, bold (FontTypeClassifier), size, color, spacing
    (metadata_extractor.py:36-57)."""
    height, width = to_gray(image).shape
    lines: List[Line] = []
    texts: List[str] = []
    for ln in ocr_lines:
        body = " ".join(w.text for w in ln.words if w.text != "")
        text = body + "\n"
        anns: List[Annotation] = []
        start = 0
        for w in ln.words:
            if w.text == "":
                continue
            end = start + len(w.text)
            anns.append(Annotation(start, end, "confidence", str(w.conf / 100)))
            box = BBox(w.bbox[0], w.bbox[1], w.bbox[2] - w.bbox[0], w.bbox[3] - w.bbox[1])
            anns.append(
                Annotation(start, end, "bounding box", json.dumps(box.to_relative_dict(width, height)))
            )
            start += len(w.text) + 1
        line = Line(
            line=text,
            page_id=page_num,
            line_id=ln.order,
            annotations=anns,
            uid=_line_uid(page_seed, page_num, ln.order, text),
        )
        line.extras["location"] = Location(
            page_num,
            BBox(ln.bbox[0], ln.bbox[1], ln.bbox[2] - ln.bbox[0], ln.bbox[3] - ln.bbox[1]),
        )
        lines.append(line)
        texts.append(text)

    _set_indentations(lines, ocr_lines, width)
    if call_classifier:
        _set_bold(lines, ocr_lines, image)
        _set_sizes(lines, ocr_lines, height)
    _set_colors(lines, ocr_lines, image)
    _set_spacing(lines, ocr_lines)
    return lines


def _get_text_left_bound(left_points: List[int]) -> int:
    """Min of the two most frequent left bounds (metadata_extractor.py:84-93)."""
    unique, counts = np.unique(np.asarray(left_points), axis=0, return_counts=True)
    order = np.argsort(-counts, kind="stable")
    two = unique[order][: min(2, len(unique))]
    return int(np.min(two))


def _set_indentations(lines: List[Line], ocr_lines: Sequence[OcrLineOut], image_width: int) -> None:
    """metadata_extractor.py:102-128: indentation vs the page's modal left
    bound, in twips (567/cm over the A4 297mm pitch — the reference maps
    the pitch to image WIDTH here, height in the size annotation; quirk
    kept)."""
    if not lines:
        return
    left_bound = _get_text_left_bound([ln.bbox[0] for ln in ocr_lines])
    for line, ocr in zip(lines, ocr_lines):
        text = line.line
        bbox_w = ocr.bbox[2] - ocr.bbox[0]
        width_per_char = bbox_w / len(text)
        # our matcher never emits leading whitespace, so the "^[ \t]+"
        # width contribution (metadata_extractor.py:112-118) is 0
        indentation_width = ocr.bbox[0] - left_bound
        if abs(indentation_width) < width_per_char:
            continue
        pixel2mm = 297 / image_width
        indentation = int(indentation_width * pixel2mm / 10 * 567)
        line.annotations.append(Annotation(0, len(text), "indentation", str(indentation)))


def _set_bold(lines: List[Line], ocr_lines: Sequence[OcrLineOut], image: np.ndarray) -> None:
    """FontTypeClassifier.predict_annotations (font_type_classifier.py:11-30):
    one bold annotation per bold word at its offsets in the joined text."""
    boxes = [w.bbox for ln in ocr_lines for w in ln.words]
    if not boxes:
        return
    probs = classify_bold(image, boxes)
    idx = 0
    for line, ocr in zip(lines, ocr_lines):
        cur = 0
        for w in ocr.words:
            cur = cur + 1 if cur > 0 else cur
            end = cur + len(w.text)
            if probs[idx] > 0.5:
                line.annotations.append(Annotation(cur, end, "bold", "True"))
            cur = end
            idx += 1


def _set_sizes(lines: List[Line], ocr_lines: Sequence[OcrLineOut], image_height: int) -> None:
    """Font size in pt from the bbox height on an A4-pitch page
    (metadata_extractor.py:130-142): pt = h * (297 / H) / 0.353."""
    for line, ocr in zip(lines, ocr_lines):
        pixel2mm = 297 / image_height
        font_size = round((ocr.bbox[3] - ocr.bbox[1]) * pixel2mm / 0.353)
        line.annotations.append(Annotation(0, len(line.line), "size", str(font_size)))


def _set_colors(lines: List[Line], ocr_lines: Sequence[OcrLineOut], image: np.ndarray) -> None:
    """Mean non-white RGB inside the line bbox (metadata_extractor.py:168-177);
    only emitted for 3-channel images, like the ndim==3 guard."""
    arr = np.asarray(image)
    if arr.ndim != 3 or arr.shape[2] != 3:
        return
    for line, ocr in zip(lines, ocr_lines):
        x0, y0, x1, y1 = ocr.bbox
        sl = arr[y0:y1, x0:x1, :]
        not_white = (sl[:, :, 0] < 245) & (sl[:, :, 1] < 245) & (sl[:, :, 2] < 245)
        if not_white.sum() > 0:
            red, green, blue = (float(sl[not_white, i].mean()) for i in range(3))
        else:
            red, green, blue = 0.0, 0.0, 0.0
        value = json.dumps({"red": red, "blue": blue, "green": green})
        line.annotations.append(Annotation(0, len(line.line), "color_annotation", value))


def _set_spacing(lines: List[Line], ocr_lines: Sequence[OcrLineOut]) -> None:
    """metadata_extractor.py:144-166: spacing = 100 * gap / median bbox
    height, defaulting to 50 on page breaks and overlaps."""
    if not lines:
        return
    median_h = float(np.median([ln.bbox[3] - ln.bbox[1] for ln in ocr_lines]))
    prev: Optional[OcrLineOut] = None
    for line, ocr in zip(lines, ocr_lines):
        if prev is None or prev.bbox[3] >= ocr.bbox[1]:
            space = _DEFAULT_SPACING
        else:
            raw = 100 * (ocr.bbox[1] - prev.bbox[3]) / median_h
            space = int(raw) if raw > 1 else 1
        line.annotations.append(Annotation(0, len(line.line), "spacing", str(int(space))))
        prev = ocr


def filter_lines_by_bbox(lines: Sequence[OcrLineOut]) -> List[OcrLineOut]:
    """bbox sanity filter (ocr_line_extractor.py:44-48): keep a line iff
    0.01 < height/width < 24."""
    kept = []
    for ln in lines:
        x0, y0, x1, y1 = ln.bbox
        hw = (y1 - y0) / ((x1 - x0) + 1e-6)
        if 0.01 < hw < 24:
            kept.append(ln)
    return kept


# ---------------------------------------------------------------------------
# ruled tables from pixels (table_recognizer analogue over the existing
# grid machinery in core/pdf_tables)


def detect_image_rules(mask: np.ndarray, min_len: int = 20, min_aspect: int = 10) -> List[Tuple[float, float, float, float]]:
    """Painted ruling segments from an ink mask (the line-morphology
    analogue of the reference's OpenCV kernel pass, img_processing.py).

    A maximal horizontal/vertical ink run qualifies as a rule when the
    group of consecutive identical runs (= the stroke's thickness) is at
    least ``min_aspect`` times shorter than the run — scale-free: a
    glyph's widest stroke is 8 font cells long by ≥1 cell thick (aspect
    ≤ 8), while a drawn rule is tens of times longer than thick. Thick
    rules collapse to their center line. Output is the (x0, y0, x1, y1)
    top-down Segment convention of core/pdf_tables.

    All rows segment in ONE vectorized 2-D diff (a per-row Python loop
    was ~30% of the whole scanned-page pipeline); only the few
    qualifying long runs reach Python-level grouping."""
    segs: List[Tuple[float, float, float, float]] = []
    for transpose in (False, True):
        m = mask.T if transpose else mask
        # run boundaries for every row at once: +1 at starts, -1 at ends
        h, w = m.shape
        padded = np.zeros((h, w + 2), dtype=np.int8)
        padded[:, 1:-1] = m
        d = np.diff(padded, axis=1)
        rows_s, starts = np.nonzero(d == 1)
        _, ends = np.nonzero(d == -1)  # row-major: aligned with starts
        long = (ends - starts) >= min_len
        groups: Dict[Tuple[int, int], List[int]] = {}
        for y, x0, x1 in zip(rows_s[long].tolist(), starts[long].tolist(), ends[long].tolist()):
            groups.setdefault((x0, x1), []).append(y)
        for (x0, x1), ys in groups.items():
            ys.sort()
            start = ys[0]
            prev = ys[0]
            for y in ys[1:] + [None]:
                if y is None or y != prev + 1:
                    thickness = prev - start + 1
                    if (x1 - x0) >= min_aspect * thickness:
                        center = (start + prev) / 2
                        if transpose:
                            segs.append((center, float(x0), center, float(x1 - 1)))
                        else:
                            segs.append((float(x0), center, float(x1 - 1), center))
                    if y is not None:
                        start = y
                prev = y if y is not None else prev
    return segs


def _ocr_region(
    mask: np.ndarray,
    x0: int,
    y0: int,
    x1: int,
    y1: int,
    language: str,
    engine: str = "scanfont",
    gray: Optional[np.ndarray] = None,
) -> List[str]:
    """Recognize one rectangular region (a table cell crop) — the
    OCRCellExtractor analogue (psm 6 over the crop): returns the text of
    each recognized band top-down, no trailing newlines. ``engine`` is
    resolved by the PAGE-level probe (a single cell is too small to
    probe) so real-scan tables read through the glyph engine."""
    x0, y0 = max(0, x0), max(0, y0)
    crop = mask[y0:y1, x0:x1]
    if crop.size == 0 or not crop.any():
        return []
    if engine == "glyph":
        from dedoc_spark.core import glyph_ocr

        g = gray[y0:y1, x0:x1] if gray is not None else None
        blocks = glyph_ocr.recognize_block(crop, 0, 0, language, gray=g)
    else:
        blocks = _recognize_block(crop, 0, 0, language)
    return [" ".join(w.text for w in words) for _, words, _ in blocks]


def recognize_tables_from_image(
    image: np.ndarray,
    page_num: int,
    page_seed: str,
    language: str = "rus+eng",
    table_type: str = "",
    mask: Optional[np.ndarray] = None,
    engine: str = "scanfont",
):
    """Table recognition on the scanned page (table_recognizer.py:34-63):
    ruled grids are detected from the pixel rules, every spanned-cell
    component is OCR'd from its own crop (the OCRCellExtractor pass), and
    the table regions are whited out of the returned image so the flow
    OCR never sees them (__clean_image_from_table, table_recognizer.py:
    66-74). Spanned cells follow the CellSplitter contract via
    pdf_tables.span_components: master keeps rowspan/colspan, covered
    slots are invisible content-copies. table_type substrings honored:
    one_cell_table, wo_external_bounds, split_last_column.

    Returns (tables, cleaned_image)."""
    from dedoc_spark.core.model import Cell
    from dedoc_spark.core.multipage import LocatedTable
    from dedoc_spark.core.pdf_tables import detect_ruled_tables, span_components

    if mask is None:
        mask = ink_mask(image)
    cov = None
    if engine == "glyph":
        g8 = to_gray(image)
        if g8.max() > 1 and g8.shape == mask.shape:
            cov = 1.0 - g8.astype(np.float64) / 255.0
    segs = detect_image_rules(mask)
    grids = detect_ruled_tables(
        segs,
        eps=3.0,
        min_cell=6.0,
        one_cell_table="one_cell_table" in table_type,
        wo_external_bounds="wo_external_bounds" in table_type,
    )
    if not grids:
        return [], image
    split_last = "split_last_column" in table_type
    inset = 4  # rule center -> past the stroke into the cell interior
    tables: List[LocatedTable] = []
    cleaned = np.array(image, copy=True)
    for idx, grid in enumerate(grids):
        n_rows, n_cols = grid.n_rows, grid.n_cols
        rb = [int(round(v)) for v in grid.row_bounds]
        cb = [int(round(v)) for v in grid.col_bounds]
        cells: List[List[Cell]] = [
            [Cell(lines=[]) for _ in range(n_cols)] for _ in range(n_rows)
        ]

        def cell_lines(r0: int, r1: int, c0: int, c1: int) -> List[Line]:
            texts = _ocr_region(
                mask, cb[c0] + inset, rb[r0] + inset, cb[c1 + 1] - inset, rb[r1 + 1] - inset, language,
                engine=engine, gray=cov,
            )
            return [Line(line=t, page_id=page_num) for t in texts]

        for slots in span_components(grid, segs, eps=3.0):
            rows = sorted({r for r, _ in slots})
            cols = sorted({c for _, c in slots})
            r0, r1, c0, c1 = rows[0], rows[-1], cols[0], cols[-1]
            if len(slots) == 1 or (split_last and cols == [n_cols - 1]):
                # the split_last_column re-OCR of each row crop
                # (split_last_hor_union_cells.py:14-60)
                for r, c in slots:
                    cells[r][c].lines = cell_lines(r, r, c, c)
                continue
            content = cell_lines(r0, r1, c0, c1)
            for r in range(r0, r1 + 1):
                for c in range(c0, c1 + 1):
                    cell = cells[r][c]
                    cell.lines = [Line(line=ln.line, page_id=page_num) for ln in content]
                    cell.invisible = True
            master = cells[r0][c0]
            master.invisible = False
            master.rowspan = r1 - r0 + 1
            master.colspan = c1 - c0 + 1
        uid = hashlib.md5(f"{page_seed}_pdftable_{page_num}_{idx}".encode()).hexdigest()
        tables.append(
            LocatedTable(cells, Location(page_num, grid.bbox), uid=uid)
        )
        y0, y1 = int(grid.bbox.y_top_left), int(grid.bbox.y_top_left + grid.bbox.height) + 1
        x0, x1 = int(grid.bbox.x_top_left), int(grid.bbox.x_top_left + grid.bbox.width) + 1
        cleaned[y0:y1, x0:x1] = 255
        if mask is not None:
            # keep a caller-shared ink mask in sync with the cleaned image
            # (tables are disjoint, and this grid's cells were OCR'd above)
            mask[y0:y1, x0:x1] = False
    return tables, cleaned


# ---------------------------------------------------------------------------
# the per-page pipeline (reference _process_one_page, pdf_image_reader.py:60-97)


def process_scanned_page(
    image: np.ndarray,
    page_num: int,
    page_seed: str,
    params: Optional[Dict] = None,
) -> Tuple[List[Line], List, float]:
    """One scanned page -> (annotated lines, tables, rotation angle).

    Honored parameters (api_args.py:31-39 OCR family): language,
    document_orientation (auto | no_change), need_binarization,
    is_one_column_document (auto/None | true | false),
    need_pdf_table_analysis + table_type."""
    params = params or {}
    language = str(params.get("language", "rus+eng"))
    raw_one_col = str(params.get("is_one_column_document", "auto")).lower()
    one_col: Optional[bool] = None if raw_one_col in ("auto", "none") else raw_one_col != "false"
    orientation_param = str(params.get("document_orientation", "auto")).lower()

    # one ink mask shared across orientation / tables / flow OCR (each
    # step would otherwise re-run the grayscale + Otsu pass per page)
    mask = ink_mask(image)

    # Step 1: orientation + column count (classifier runs unless both
    # overrides are present — _detect_column_count_and_orientation:113-118)
    angle = 0.0
    if orientation_param != "no_change":
        angle = float(detect_orientation(image, language, mask=mask))
    if angle:
        image = np.ascontiguousarray(np.rot90(image, int(angle) // 90))
        mask = np.ascontiguousarray(np.rot90(mask, int(angle) // 90))
    if orientation_param != "no_change":
        # small-angle deskew after the 90° correction (the reference
        # chains dedocutils' SkewCorrector the same way); fixture pages
        # measure 0.0 so their bytes never change
        skew = estimate_skew(mask)
        if skew:
            image = rotate_small(image, -skew)
            mask = ink_mask(image)
            angle += skew

    # Step 2: binarization (need_binarization, pdf_image_reader.py:76-81)
    if param_flag(params, "need_binarization"):
        image = adaptive_binarize(image)
        mask = ink_mask(image)

    # engine resolved ONCE per page (cell crops are too small to probe)
    # and shared by the table and flow passes
    engine = choose_engine(mask, language, str(params.get("ocr_engine", "auto")))

    # Step 3: tables first, flow OCR on the cleaned image
    # (pdf_image_reader.py:83-91 ordering)
    tables: List = []
    if param_flag(params, "need_pdf_table_analysis"):
        tables, image = recognize_tables_from_image(
            image, page_num, page_seed, language=language,
            table_type=str(params.get("table_type", "")),
            mask=mask,
            engine=engine,
        )
    # Step 4: plain text recognition + metadata annotations
    ocr_lines = recognize_page(
        image,
        language=language,
        is_one_column=one_col,
        ocr_conf_threshold=float(params.get("ocr_conf_threshold", -1.0)),
        mask=mask,
        engine=engine,
    )
    ocr_lines = filter_lines_by_bbox(ocr_lines)
    lines = build_scan_lines(ocr_lines, image, page_num, page_seed=page_seed)
    return lines, tables, float(angle)


# ---------------------------------------------------------------------------
# embedded raster extraction for scanned PDFs


def extract_pdf_page_images(pdf: PdfFile) -> List[List[np.ndarray]]:
    """Decoded image XObjects per page of a parsed PDF (core/pdf_objects.
    PdfFile, pages in ``pdf.pages`` order): the pdf2image analogue for
    scanned PDFs whose pages ARE images (pdf_base_reader.py:227-256
    rasterizes; here the embedded rasters are pulled directly — no
    re-rendering runtime needed for the scanned-page case).

    Supported encodings: the core/pdf_objects filter cascade (Flate, LZW,
    RunLength, predictors) ahead of DCTDecode (JPEG, via
    core/image_decode), CCITTFaxDecode for every K (K<0 Group 4 — the
    canonical scan codec — plus K=0 / K>0 Group 3 incl.
    /EncodedByteAlign, all via core/ccitt) or JBIG2Decode (core/jbig2);
    or uncompressed rasters with /DeviceGray or /DeviceRGB at 8 bits per
    component, and 1-bit /DeviceGray bilevel scans. Unsupported filters
    are skipped (the caller sees fewer images, never an exception)."""
    from dedoc_spark.core.pdf_extract import _page_xobjects

    objects = pdf.objects
    out: List[List[np.ndarray]] = []
    for pid in pdf.pages:
        imgs: List[np.ndarray] = []
        for name, obj_id in sorted(_page_xobjects(objects, pid).items()):
            arr = _decode_image_object(objects.get(obj_id, b""), objects)
            if arr is not None:
                imgs.append(arr)
        out.append(imgs)
    return out


def _decode_image_object(
    obj: bytes, objects: Optional[Dict[int, bytes]] = None
) -> Optional[np.ndarray]:
    """``objects`` (the document's object map) lets stream filters
    resolve indirect /DecodeParms members — today only /JBIG2Globals."""
    import re as _re

    if b"/Subtype" not in obj or b"/Image" not in obj:
        return None
    parts = stream_parts(obj)
    if parts is None:
        return None
    head = parts[0]

    def num(key: bytes) -> Optional[int]:
        m = _re.search(_re.escape(key) + rb"\s+(\d+)", head)
        return int(m.group(1)) if m else None

    width, height = num(b"/Width"), num(b"/Height")
    if not width or not height:
        return None
    # the shared filter cascade runs first (/Filter [/A /B] — e.g. the
    # corpus's gost_multipage_table.pdf wraps DCT inside Flate); the image
    # codec it stops at (DCT, CCITT, JBIG2) decodes what it produced
    decoded = decode_filters(*parts)
    if decoded is None:
        return None
    raw, codec = decoded
    # /Decode [1 0] inverts the component range (white-on-black scans)
    inverted = _re.search(rb"/Decode\s*\[\s*1(?:\.0*)?\s+0", head) is not None
    if codec == "DCTDecode":
        from dedoc_spark.core.image_decode import decode_image

        try:
            _, _, rgb = decode_image(raw)
            return rgb
        except Exception:
            return None
    if codec == "CCITTFaxDecode":
        # the canonical scanned-page codecs: K < 0 = pure G4/T.6 (what
        # real scanned PDFs use), K = 0 = G3 1-D MH, K > 0 = G3 mixed
        from dedoc_spark.core.ccitt import CcittError, decode_g3, decode_g4

        km = _re.search(rb"/K\s+(-?\d+)", head)
        k = int(km.group(1)) if km else 0
        cm = _re.search(rb"/Columns\s+(\d+)", head)
        columns = int(cm.group(1)) if cm else 1728
        byte_align = bool(_re.search(rb"/EncodedByteAlign\s+true", head))
        try:
            if k < 0:
                img = decode_g4(raw, columns, rows=height)
            else:
                img = decode_g3(raw, columns, rows=height, k=k, byte_align=byte_align)
        except CcittError:
            return None
        if not img.size:
            return None
        # /BlackIs1 true: black pixels are 1-samples, which the default
        # /Decode [0 1] displays WHITE — a net inversion vs our decoder's
        # ink=0 output. /Decode [1 0] inverts again, so they cancel.
        black_is_1 = _re.search(rb"/BlackIs1\s+true", head) is not None
        if black_is_1 != inverted:
            img = 255 - img
        return img
    if codec == "JBIG2Decode":
        # generic-region AND symbol/text-region streams decode natively
        # (core/jbig2); shared symbol dictionaries arrive via /DecodeParms
        # << /JBIG2Globals N 0 R >>. Modes the decoder lacks (huffman,
        # refinement, halftones) raise and the image is skipped like any
        # other missing codec.
        from dedoc_spark.core.jbig2 import Jbig2Error, decode_embedded

        globals_data = b""
        gm = _re.search(rb"/JBIG2Globals\s+(\d+)\s+\d+\s+R", head)
        if gm and objects is not None:
            globals_data = decode_stream(objects.get(int(gm.group(1)), b"")) or b""
        try:
            bits = decode_embedded(raw, globals_data=globals_data)
        except Jbig2Error:
            return None
        img = np.where(bits != 0, np.uint8(0), np.uint8(255))
        if inverted:
            img = 255 - img
        return img
    if codec is not None:
        return None  # no decoder for this filter
    bpc = num(b"/BitsPerComponent") or 8
    if b"/DeviceRGB" in head and bpc == 8 and len(raw) >= width * height * 3:
        return np.frombuffer(raw[: width * height * 3], dtype=np.uint8).reshape(height, width, 3)
    if bpc == 8 and len(raw) >= width * height:
        gray = np.frombuffer(raw[: width * height], dtype=np.uint8).reshape(height, width)
        return (255 - gray) if inverted else gray
    if bpc == 1:
        stride = (width + 7) // 8
        if len(raw) >= stride * height:
            bits = np.unpackbits(
                np.frombuffer(raw[: stride * height], dtype=np.uint8).reshape(height, stride),
                axis=1,
            )[:, :width]
            if inverted:
                bits = 1 - bits
            return (bits * 255).astype(np.uint8)
    return None
