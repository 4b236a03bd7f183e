"""Real-font OCR engine: nearest-template matching against a committed
glyph bank rendered from the container's DejaVu family (Serif / Sans /
Mono, regular + bold — full Latin AND Cyrillic coverage).

This is the second engine behind the ``recognize_page`` seam
(core/ocr.py). The first (scanfont template matcher) reads only the
procedural 8x8 fixture font; REAL scans — fax pages, renders of
proportional anti-aliased type — decoded pixels fine but matched
garbage. This engine reads them:

* templates are 16x16 area-mean coverage grids + aspect + font-metric
  features (height / ascent / descent relative to the em), rendered at
  BUILD time by scripts/build_glyph_bank.py through core/ftrender
  (FreeType is NOT needed at run time — workers only load the bank,
  exactly like the trained line labelers in dedoc_spark/models/);
* matching is a two-pass joint fit: pass 1 matches shape+aspect alone
  (one numpy GEMM per band against every template), then the band's em
  scale S and baseline are estimated from the agreeing matches, and
  pass 2 re-scores every (glyph, template) pair with size and
  baseline-position penalties — this is what separates c/C, o/O, x/X,
  '.'/'\\'' and friends, which pure shape matching cannot;
* segmentation is projection-profile bands -> column ink runs with a
  scale-relative word gap (0.17 em), the layout real proportional
  fonts produce.

The reference runs Tesseract here (pdf_image_reader.py:60-97); this
engine is the container-local stand-in documented in COVERAGE.md — a
real recognizer for the fonts it was built from and their lookalikes,
not a general LSTM OCR.
"""

from __future__ import annotations

import gzip
import json
import os
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from dedoc_spark.core.ocr import _runs, block_means

GRID = 16
BANK_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "models",
    "glyph_bank.json.gz",
)

_W_ASPECT = 0.6
_W_SIZE = 0.55
_W_BASE = 0.45
# distance -> confidence, calibrated so clean matches (d ≈ 0.01-0.06)
# land in the 85-97 range Tesseract reports for clean scans and junk
# (d ≥ 0.3) falls toward 0 — the ocr_conf_threshold channel expects
# that spread
_CONF_SLOPE = 2.2


def grid_features(crop: np.ndarray) -> np.ndarray:
    """Float HxW coverage crop (0..1, tight bbox) -> flattened GRIDxGRID
    area-mean vector."""
    return block_means(crop, GRID).reshape(-1)


class GlyphBank:
    """Loaded template bank: (n, GRID*GRID) float grids + per-template
    char / aspect / font-metric columns."""

    def __init__(self, payload: Dict) -> None:
        if payload.get("grid") != GRID:
            raise ValueError("glyph bank grid mismatch")
        t = payload["templates"]
        self.chars: str = "".join(e["c"] for e in t)
        self.grids = (
            np.array([e["g"] for e in t], dtype=np.float64) / 255.0
        )  # (n, GRID*GRID)
        self.aspect = np.log(np.array([e["a"] for e in t], dtype=np.float64))
        self.h_rel = np.array([e["h"] for e in t], dtype=np.float64)
        self.desc_rel = np.array([e["d"] for e in t], dtype=np.float64)
        self._sq = (self.grids**2).sum(axis=1)
        self._pairs: Optional[Tuple[np.ndarray, np.ndarray, np.ndarray]] = None

    def pair_index(self) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(unique h_rel values, unique desc_rel values, template -> pair
        row) for the joint (h_rel, desc_rel) pairs. The full bank has
        3840 templates but only ~158 distinct metric pairs (cap-height
        letters share heights, baseline letters share descents), so the
        pass-2 penalties — functions of the template ONLY through these
        two metrics — can be evaluated once per pair and gathered."""
        if self._pairs is None:
            pairs, inv = np.unique(
                np.stack([self.h_rel, self.desc_rel], axis=1),
                axis=0, return_inverse=True,
            )
            self._pairs = (
                np.ascontiguousarray(pairs[:, 0]),
                np.ascontiguousarray(pairs[:, 1]),
                inv.astype(np.intp),
            )
        return self._pairs

    def subset(self, charset: str) -> "GlyphBank":
        keep = np.array([c in charset for c in self.chars])
        sub = GlyphBank.__new__(GlyphBank)
        sub.chars = "".join(c for c, k in zip(self.chars, keep) if k)
        sub.grids = self.grids[keep]
        sub.aspect = self.aspect[keep]
        sub.h_rel = self.h_rel[keep]
        sub.desc_rel = self.desc_rel[keep]
        sub._sq = self._sq[keep]
        sub._pairs = None
        return sub


_bank: Optional[GlyphBank] = None
_bank_tried = False
_subsets: Dict[str, GlyphBank] = {}


def load_bank(path: str = BANK_PATH) -> Optional[GlyphBank]:
    global _bank, _bank_tried
    if _bank_tried:
        return _bank
    _bank_tried = True
    try:
        with gzip.open(path, "rt", encoding="utf-8") as f:
            _bank = GlyphBank(json.load(f))
    except (OSError, ValueError, KeyError):
        _bank = None
    return _bank


def bank_available() -> bool:
    return load_bank() is not None


def _bank_for_language(language: str) -> Optional[GlyphBank]:
    bank = load_bank()
    if bank is None:
        return None
    key = str(language or "")
    hit = _subsets.get(key)
    if hit is None:
        from dedoc_spark.core.scanfont import charset_for_language

        hit = _subsets[key] = bank.subset(charset_for_language(language))
    return hit


def _shape_dist(bank: GlyphBank, feats: np.ndarray, aspect: np.ndarray) -> np.ndarray:
    """(m, n_templates) pass-1 distance: grid MSE + aspect penalty.

    Fused in place (one GEMM output buffer + one penalty buffer instead of
    six (m, n) temporaries — the expression was memory-traffic-bound, not
    FLOP-bound); every element still runs the exact original formula
    ((a − 2g) + s)/G² + w·(x−y)², so values are bit-identical."""
    d2 = feats @ bank.grids.T
    d2 *= -2.0
    d2 += (feats**2).sum(axis=1)[:, None]
    d2 += bank._sq[None, :]
    d2 /= GRID * GRID
    pen = aspect[:, None] - bank.aspect[None, :]
    np.square(pen, out=pen)
    pen *= _W_ASPECT
    d2 += pen
    return d2


def _crop_feats(crops: Sequence[np.ndarray], boxes: Sequence[Tuple[int, int, int, int]]):
    feats = np.stack([grid_features(c) for c in crops])
    heights = np.array([y1 - y0 for _, y0, _, y1 in boxes], dtype=np.float64)
    widths = np.array([x1 - x0 for x0, _, x1, _ in boxes], dtype=np.float64)
    aspect = np.log(np.maximum(widths, 1) / np.maximum(heights, 1))
    return feats, heights, widths, aspect


def _initial_scale(
    bank: GlyphBank, dist1: np.ndarray, heights: np.ndarray, bottoms: np.ndarray
) -> Tuple[float, float]:
    """(band em scale S, baseline estimate) from the pass-1 best matches:
    S such that h = h_rel * S; bottom = baseline + desc_rel * S."""
    best1 = dist1.argmin(axis=1)
    scales = heights / np.maximum(bank.h_rel[best1], 1e-6)
    S = float(np.median(scales))
    if not np.isfinite(S) or S <= 0:
        S = float(np.median(heights))
    base_est = float(np.median(bottoms - bank.desc_rel[best1] * S))
    return S, base_est


def _pass2_rows(
    bank: GlyphBank,
    dist1_rows: np.ndarray,
    hs_rows: np.ndarray,
    bottoms_rows: np.ndarray,
    S: float,
    base_est: float,
) -> np.ndarray:
    """Full-bank pass-2 distances for a subset of glyph rows.

    The penalties depend on the template only through (h_rel, desc_rel),
    and the bank holds ~24x fewer distinct metric pairs than templates —
    so evaluate each penalty once per unique pair and gather per
    template. Same scalar formula per element and the same left-to-right
    addition order as the direct form, so every value is bit-identical;
    the log/divide/square work drops from (m, n) to (m, n_pairs)."""
    uh, ud, inv = bank.pair_index()
    size_pen = np.log(hs_rows / np.maximum(uh[None, :] * S, 1e-6)) ** 2
    base_pen = ((bottoms_rows[:, None] - base_est - ud[None, :] * S) / S) ** 2
    su = _W_SIZE * size_pen
    bu = _W_BASE * base_pen
    return dist1_rows + su[:, inv] + bu[:, inv]


def _topk_stable_row(row: np.ndarray, k: int) -> Tuple[np.ndarray, np.ndarray]:
    """Exact lexicographic (distance, template index) top-k of one full
    row — ties at the k-th value resolve to the lower template index."""
    n = row.shape[0]
    if k == 1:
        j = int(row.argmin())  # first occurrence = lowest index
        return np.array([j], dtype=np.int64), row[j : j + 1]
    if k >= n:
        order = np.argsort(row, kind="stable")
        return order, row[order]
    kthv = np.partition(row, k - 1)[k - 1]
    cand = np.nonzero(row <= kthv)[0]  # ascending index
    vals = row[cand]
    o = np.argsort(vals, kind="stable")[:k]
    return cand[o], vals[o]


def _match_from_dist1(
    bank: GlyphBank,
    dist1: np.ndarray,
    heights: np.ndarray,
    bottoms: np.ndarray,
    topk: int,
) -> Tuple[np.ndarray, np.ndarray, float]:
    """Two-pass joint match of one band's glyphs from their pass-1
    shape distances ``dist1`` (_shape_dist over _crop_feats).

    Returns (cand_idx (m, topk) template indices best-first,
    cand_dist (m, topk), band em scale S). Ties (pixel-twin templates at
    the exact same distance) order by ascending template index — a
    defined deterministic rule on every path below.

    Pass 2 adds size + baseline-position penalties — this separates c/C,
    o/O, x/X, '.'/'\\'' that pure shape cannot. Two iterations:
    shape-only ties skew the first S/baseline estimate when a band is
    homoglyph-heavy, and the second pass's own matches correct it.

    The penalties are non-negative, so dist2 >= dist1 elementwise; pass 2
    therefore evaluates only each glyph's top-P pass-1 candidates, and
    PROVES each glyph's result exact against that glyph's (P+1)-th
    smallest pass-1 distance (every template outside the candidate set
    has dist2 >= dist1 >= that bound). Only the glyphs that fail the
    proof (junk crops whose distances cluster) re-evaluate over the full
    bank — identical maths, just evaluated over all templates. The
    second iteration is skipped when the first left (S, base) exactly
    unchanged: the same inputs would reproduce the same distances."""
    m, n = dist1.shape
    rows = np.arange(m)
    k = min(topk, n)
    S, base_est = _initial_scale(bank, dist1, heights, bottoms)
    hs = np.maximum(heights, 1)[:, None]

    P = min(n - 1, max(4 * k, 64))
    # both branches produce identical (indices, distances, S) — the
    # candidate branch proves itself exact against the full branch — so
    # the choice is pure dispatch. k == 1 is the orientation scorer:
    # its junk crops fail the candidate bound en masse and pay
    # argpartition + candidate penalties + the full fallback anyway;
    # the straight full pass-2 (cheap since the unique-pair gather)
    # measured 2-3x faster there. Recognition (k >= 5, mostly clean
    # crops that pass the bound) keeps the candidate branch.
    prune = n > 2 * P and k > 1
    if prune:
        part = np.argpartition(dist1, P, axis=1)
        cand = np.sort(part[:, :P], axis=1)  # ascending template index
        d_bound = dist1[rows, part[:, P]]  # min pass-1 dist OUTSIDE cand
        d1c = np.take_along_axis(dist1, cand, axis=1)
        hr = bank.h_rel[cand]
        dr = bank.desc_rel[cand]

    for _ in range(2):
        S_in, base_in = S, base_est
        if prune:
            size_pen = np.log(hs / np.maximum(hr * S, 1e-6)) ** 2
            base_pen = ((bottoms[:, None] - base_est - dr * S) / S) ** 2
            dist2c = d1c + _W_SIZE * size_pen + _W_BASE * base_pen
            loc = dist2c.argmin(axis=1)
            best = cand[rows, loc]
            bad = ~(dist2c[rows, loc] < d_bound)
            full_rows = np.nonzero(bad)[0]
            if full_rows.size:
                full_d2 = _pass2_rows(
                    bank, dist1[full_rows], hs[full_rows], bottoms[full_rows], S, base_est
                )
                best[full_rows] = full_d2.argmin(axis=1)
            else:
                full_d2 = None
        else:
            dist2c = _pass2_rows(bank, dist1, hs, bottoms, S, base_est)
            best = dist2c.argmin(axis=1)
        S_new = float(np.median(heights / np.maximum(bank.h_rel[best], 1e-6)))
        if np.isfinite(S_new) and S_new > 0:
            S = S_new
        base_est = float(np.median(bottoms - bank.desc_rel[best] * S))
        if S == S_in and base_est == base_in:
            break  # iteration 2 would recompute identical distances

    if not prune:
        out_i = np.empty((m, k), dtype=np.int64)
        out_d = np.empty((m, k), dtype=np.float64)
        for i in range(m):
            out_i[i], out_d[i] = _topk_stable_row(dist2c[i], k)
        return out_i, out_d, S

    order = np.argsort(dist2c, axis=1, kind="stable")[:, :k]
    out_d = np.take_along_axis(dist2c, order, axis=1)
    out_i = np.take_along_axis(cand, order, axis=1)
    need_full = ~(out_d[:, -1] < d_bound)
    need_full[full_rows] = True
    for i in np.nonzero(need_full)[0]:
        if full_d2 is not None and i in full_rows:
            row = full_d2[np.nonzero(full_rows == i)[0][0]]
        else:
            row = _pass2_rows(bank, dist1[i : i + 1], hs[i : i + 1], bottoms[i : i + 1], S_in, base_in)[0]
        out_i[i], out_d[i] = _topk_stable_row(row, k)
    return out_i, out_d, S


# --- touching-glyph split refinement -----------------------------------------

_SPLIT_TRY_W = 0.60  # try splitting ink runs wider than this many em
_SPLIT_OK = 0.030  # a whole-glyph match at least this good never splits
_SPLIT_VALLEY = 0.5  # a cut column's ink vs the run's median stroke ink
_SPLIT_BAD = 0.12  # a whole-match this poor is no glyph: try any valley


def _seg_dists(
    band: np.ndarray, segs: Sequence[Tuple[int, int]], bank: GlyphBank
) -> Tuple[List[float], List[str]]:
    """Best shape distance (and its char) for each [a, b) column
    segment — ONE batched GEMM for the whole set (per-segment GEMMs
    were overhead-bound: the split refinement of a fax page spent
    1.8 s in ~600 tiny matmuls)."""
    crops: List[np.ndarray] = []
    boxes: List[Tuple[int, int, int, int]] = []
    order: List[int] = []
    dists = [0.0] * len(segs)
    chars = [""] * len(segs)
    for i, (a, b) in enumerate(segs):
        cell = band[:, a:b]
        rows = np.where(cell.any(axis=1))[0]
        if rows.size == 0:
            continue
        crops.append(cell[rows[0] : rows[-1] + 1].astype(np.float64))
        boxes.append((a, int(rows[0]), b, int(rows[-1]) + 1))
        order.append(i)
    if crops:
        feats, _, _, aspect = _crop_feats(crops, boxes)
        d = _shape_dist(bank, feats, aspect)
        arg = d.argmin(axis=1)
        best = d[np.arange(len(arg)), arg]
        for i, dv, j in zip(order, best, arg):
            dists[i] = float(dv)
            chars[i] = bank.chars[int(j)]
    return dists, chars


_SEG_PRIOR = 0.010  # per-segment cost: each extra cut must pay for itself
_STEM_COST = 0.010  # surcharge on bare-stem segments (l/I/1/| match ~0
#                     unconditionally — м/ш/щ would shatter into '111')
_SPLIT_MAX_NODES = 10  # interior cut candidates per run (deepest first)


def _seam_split(
    cell: np.ndarray,
) -> Optional[Tuple[np.ndarray, np.ndarray, float]]:
    """Min-ink CONNECTED seam (moves: down / down-left / down-right)
    through an HxW coverage cell — the cut for glyph pairs that overlap
    horizontally, where no straight column separates them (the serif
    f-hood reaches over the following 'o', so every vertical line
    crosses one of the two). Returns (left, right, mean seam ink) with
    the other side zeroed in each copy, or None when the cell is too
    small. Vectorized per row; O(h*w)."""
    h, w = cell.shape
    if w < 6 or h < 3:
        return None
    inf = 1e18
    cost = cell[0].astype(np.float64).copy()
    cost[0] = inf  # outermost columns would leave one side empty
    cost[-1] = inf
    back = np.zeros((h, w), dtype=np.int8)
    for r in range(1, h):
        from_left = np.concatenate([[inf], cost[:-1]])
        from_right = np.concatenate([cost[1:], [inf]])
        stack = np.stack([from_left, cost, from_right])
        choice = np.argmin(stack, axis=0)
        cost = stack[choice, np.arange(w)] + cell[r]
        cost[0] = inf
        cost[-1] = inf
        back[r] = choice
    # tie-break toward the cell center: a cell with several zero-ink
    # seams (wide gap) should cut at the gap, not hug an edge and
    # leave one side degenerate
    w_idx = np.arange(w, dtype=np.float64)
    c = int(np.argmin(cost + 1e-6 * np.abs(w_idx - (w - 1) / 2.0)))
    total = float(cost[c])
    if not np.isfinite(total):
        return None
    seam = np.empty(h, dtype=np.int64)
    for r in range(h - 1, -1, -1):
        seam[r] = c
        if r:
            c += int(back[r, c]) - 1
    cols = np.arange(w)[None, :]
    left = np.where(cols < seam[:, None], cell, 0.0)
    right = np.where(cols >= seam[:, None], cell, 0.0)
    return left, right, total / h


def _refine_runs(
    band: np.ndarray,
    col_runs: Sequence[Tuple[int, int]],
    S: float,
    bank: GlyphBank,
) -> List[Tuple[int, int, Optional[np.ndarray]]]:
    """Split touching-glyph ink runs by OPTIMAL segmentation over the
    run's valley columns (bold/serif type frequently touches: 'fo',
    'PA', and bold Cyrillic chains 'ещё' fuse 3+ glyphs into one run —
    the previous greedy binary splitter mis-cut chains it could only
    halve). Shortest-path DP over cut nodes: each candidate segment
    costs its best template distance plus a per-segment prior (an
    extra cut must pay for itself — the whole run is always one of the
    paths) plus a bare-stem surcharge. Cut candidates are thin-valley
    columns (one per contiguous valley, the thin-junction evidence);
    a run the bank cannot match at all (>= _SPLIT_BAD) may cut at any
    local ink minimum. Every candidate segment of every run is scored
    in ONE batched GEMM.

    Returns (x0, x1, piece_or_None) triples: None = a plain column
    range of ``band``; otherwise the piece's own coverage cell for
    columns [x0, x1) — produced by the SEAM fallback for pairs that
    overlap horizontally (the serif f-hood reaches over 'o', so no
    straight column separates them; a min-ink connected seam does)."""
    whole_d, _ = _seg_dists(band, col_runs, bank)
    # page-quality noise floor: on a degraded scan EVERY distance is
    # inflated by a shared offset, which double-counts in a sum-cost
    # comparison (two pieces pay it twice, the whole once) and made the
    # DP refuse splits the fax needs. Subtract a robust low quantile of
    # the band's whole-run distances; clean renders have floor ≈ 0.
    floor = 0.0
    if len(col_runs) >= 4:
        floor = min(0.08, float(np.percentile(np.array(whole_d), 25)))
    out: List[Tuple[int, int, Optional[np.ndarray]]] = []
    batch: List[Tuple[int, int]] = []
    seg_index: Dict[Tuple[int, int], int] = {}
    todo: List[Tuple[List[int], List[Tuple[int, int, Tuple[int, int]]], float]] = []
    seam_try: List[Tuple[int, int, float]] = []
    wmin = max(3, int(0.14 * S))
    wmax = int(1.5 * S) + 2
    for i, (a, b) in enumerate(col_runs):
        w = b - a
        if w < max(6, _SPLIT_TRY_W * S) or whole_d[i] < _SPLIT_OK:
            out.append((a, b, None))
            continue
        ink = band[:, a:b].sum(axis=0)
        lo = max(2, int(0.18 * S))
        hi = w - lo
        if hi <= lo:
            out.append((a, b, None))
            continue
        # a real junction is thin: cut columns must be well below the
        # run's typical stroke coverage (serif 'f'+'o' touch through
        # the f-hood only; an intact 'a' has no such valley)
        thr = max(1.0, _SPLIT_VALLEY * float(np.median(ink[ink > 0])))
        seg = ink[lo:hi]
        if whole_d[i] >= _SPLIT_BAD:
            # nothing in the bank matches the whole: certainly touching
            # glyphs, so the thin-valley veto would only hide the true
            # junction (serif 'fo' touches through the f-hood ABOVE a
            # stroke-thick crossbar column). Admit every near-minimum
            # valley, not just the single deepest column — the true
            # junction under an overlapping hood is a SECONDARY plateau
            thr = max(thr, 1.6 * float(np.min(seg)) + 0.5)
        ok = np.where(seg <= thr)[0]
        if ok.size == 0:
            if whole_d[i] >= _SPLIT_BAD:
                seam_try.append((a, b, whole_d[i]))
            else:
                out.append((a, b, None))
            continue
        groups = np.split(ok, np.where(np.diff(ok) > 1)[0] + 1)
        # one candidate per contiguous valley, PLUS the ends of wide
        # valley plateaus: glyphs that overlap horizontally (the serif
        # f-hood reaching over 'o') leave an extended low plateau whose
        # correct cut is at an EDGE, not the argmin
        by_depth: List[Tuple[float, int]] = []
        for g in groups:
            c = int(g[int(np.argmin(seg[g]))])
            by_depth.append((float(seg[c]), c + lo + a))
            if len(g) >= max(2, int(0.12 * S)):
                for e in (int(g[0]), int(g[-1])):
                    if e != c:
                        by_depth.append((float(seg[e]), e + lo + a))
        by_depth.sort()
        cuts = sorted({c for _, c in by_depth[:_SPLIT_MAX_NODES]})
        nodes = [a] + cuts + [b]
        n = len(nodes)
        cand: List[Tuple[int, int, Tuple[int, int]]] = []
        for x in range(n - 1):
            for y in range(x + 1, n):
                s0, s1 = nodes[x], nodes[y]
                whole = x == 0 and y == n - 1
                if not whole and not (wmin <= s1 - s0 <= wmax):
                    continue
                key = (s0, s1)
                if key not in seg_index:
                    seg_index[key] = len(batch)
                    batch.append(key)
                cand.append((x, y, key))
        todo.append((nodes, cand, whole_d[i]))
    d_all, ch_all = _seg_dists(band, batch, bank)
    for nodes, cand, run_whole_d in todo:
        n = len(nodes)
        best = [np.inf] * n
        best[0] = 0.0
        back = [0] * n
        cost: Dict[Tuple[int, int], float] = {}
        for x, y, key in cand:
            idx = seg_index[key]
            c = max(d_all[idx] - floor, 0.0) + _SEG_PRIOR
            if ch_all[idx] in _STEMS:
                c += _STEM_COST
            prev = cost.get((x, y))
            if prev is None or c < prev:
                cost[(x, y)] = c
        for y in range(1, n):
            for x in range(y):
                c = cost.get((x, y))
                if c is not None and best[x] + c < best[y]:
                    best[y] = best[x] + c
                    back[y] = x
        if not np.isfinite(best[n - 1]):
            out.append((nodes[0], nodes[-1], None))
            continue
        path: List[Tuple[int, int]] = []
        y = n - 1
        while y > 0:
            x = back[y]
            path.append((nodes[x], nodes[y]))
            y = x
        if len(path) == 1 and run_whole_d >= _SPLIT_BAD:
            # the DP kept a whole the bank cannot read: no straight
            # column separates the pair — try the connected seam
            seam_try.append((nodes[0], nodes[-1], run_whole_d))
        else:
            out.extend((s0, s1, None) for s0, s1 in reversed(path))

    # seam fallback: score every candidate pair of seam pieces in one
    # batched GEMM and accept when the pieces beat the unreadable whole
    if seam_try:
        pieces: List[Tuple[int, np.ndarray, int, int]] = []
        crops: List[np.ndarray] = []
        boxes: List[Tuple[int, int, int, int]] = []
        for k, (a, b, _) in enumerate(seam_try):
            res = _seam_split(band[:, a:b])
            if res is None:
                continue
            for side in res[:2]:
                cols = np.where(side.any(axis=0))[0]
                rows = np.where(side.any(axis=1))[0]
                if (
                    cols.size < wmin
                    or rows.size == 0
                    or np.count_nonzero(side) < 3
                ):
                    continue
                c0, c1 = int(cols[0]), int(cols[-1]) + 1
                r0, r1 = int(rows[0]), int(rows[-1]) + 1
                pieces.append((k, side[:, c0:c1], a + c0, a + c1))
                crops.append(side[r0:r1, c0:c1].astype(np.float64))
                boxes.append((a + c0, r0, a + c1, r1))
        per_run: Dict[int, List[int]] = {}
        if crops:
            feats, _, _, aspect = _crop_feats(crops, boxes)
            dmat = _shape_dist(bank, feats, aspect)
            arg = dmat.argmin(axis=1)
            dbest = dmat[np.arange(len(arg)), arg]
            for j, (k, _, _, _) in enumerate(pieces):
                per_run.setdefault(k, []).append(j)
        for k, (a, b, wd) in enumerate(seam_try):
            idxs = per_run.get(k, [])
            if len(idxs) == 2:
                cost = 0.0
                for j in idxs:
                    cost += max(float(dbest[j]) - floor, 0.0) + _SEG_PRIOR
                    if bank.chars[int(arg[j])] in _STEMS:
                        cost += _STEM_COST
                if cost < max(wd - floor, 0.0) + _SEG_PRIOR:
                    for j in idxs:
                        _, sub, x0, x1 = pieces[j]
                        out.append((x0, x1, sub))
                    continue
            out.append((a, b, None))
    out.sort(key=lambda t: (t[0], t[1]))
    return out


# --- script / case candidate repair -------------------------------------------

_LAT = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")
_CYR = set("АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯабвгдежзийклмнопрстуфхцчшщъыьэюяЁё")
_DIG = set("0123456789")
_REPAIR_MARGIN = 0.03
_DIGIT_MARGIN = 0.065  # О/0 and З/3 differ slightly in DejaVu — wider net
_STEMS = frozenset("lI1|")
_STEM_MARGIN = 0.25


def _char_class(ch: str) -> str:
    if ch in _LAT:
        return "lat"
    if ch in _CYR:
        return "cyr"
    if ch in _DIG:
        return "dig"
    return "other"


def _unique_candidates(
    bank: GlyphBank, idxs: np.ndarray, dists: np.ndarray
) -> List[List[Tuple[str, float]]]:
    """Per glyph: best-first (char, dist) with duplicate chars collapsed
    (the bank holds every char once per FACE — six near-identical
    entries would crowd the true alternatives out of any fixed top-k)."""
    out: List[List[Tuple[str, float]]] = []
    for g in range(idxs.shape[0]):
        seen: Dict[str, float] = {}
        row: List[Tuple[str, float]] = []
        for j in range(idxs.shape[1]):
            ch = bank.chars[idxs[g, j]]
            if ch not in seen:
                seen[ch] = float(dists[g, j])
                row.append((ch, float(dists[g, j])))
        out.append(row)
    return out


def _repair_word(
    bank: GlyphBank,
    idxs: np.ndarray,
    dists: np.ndarray,
    fallback_cls: Optional[str] = None,
) -> Tuple[List[str], List[float], Dict[str, float]]:
    """Resolve homoglyph ties inside one word by script and case voting.

    DejaVu renders е/e, о/o, а/a, С/C, ... pixel-identically, so shape
    distance TIES across scripts and argmin picks arbitrarily (the way
    any single-glyph OCR would without a language model). Words are
    rarely mixed-script: vote the word's script with its distinctive
    glyphs, then re-pick each glyph's candidate within a small distance
    margin to agree; digits stranded in letter words (g/9, O/0) and
    letter case (I/l in sans are identical — an uppercase word wants I)
    get the same treatment."""
    cands = _unique_candidates(bank, idxs, dists)
    m = len(cands)
    chars = [c[0][0] for c in cands]
    dist_out = [c[0][1] for c in cands]

    # script vote with distinctive glyphs only: a glyph votes at full
    # weight when its nearest candidate of ANY other class is a real
    # distance away (З with 3 right behind it is a tie, not a vote).
    # full_* counts the decisive votes — they gate the band fallback.
    votes: Dict[str, float] = {
        "lat": 0.0, "cyr": 0.0, "dig": 0.0,
        "full_lat": 0.0, "full_cyr": 0.0, "full_dig": 0.0,
    }
    for g in range(m):
        best_cls = _char_class(chars[g])
        if best_cls not in ("lat", "cyr", "dig"):
            continue
        margin = _REPAIR_MARGIN
        base = cands[g][0][1]
        for ch, d in cands[g]:
            cls = _char_class(ch)
            if cls in ("lat", "cyr", "dig") and cls != best_cls:
                margin = d - base
                break
        if margin >= _REPAIR_MARGIN:
            votes[best_cls] += 1.0
            votes["full_" + best_cls] += 1.0
        else:
            votes[best_cls] += 0.25
    letter_cls = max(("lat", "cyr"), key=lambda c: votes[c])
    decisive_letters = votes["full_lat"] + votes["full_cyr"]
    # a word whose letters are ALL cross-script ties ('BOX'/'ВОХ', a
    # bare 'c'/'с') carries no script evidence of its own: inherit the
    # band's dominant script instead of whatever argmin fell on
    if (
        fallback_cls in ("lat", "cyr")
        and decisive_letters == 0
        and votes["lat"] + votes["cyr"] > 0
    ):
        letter_cls = fallback_cls
    word_cls = "dig" if votes["dig"] > votes["lat"] + votes["cyr"] else letter_cls
    # digit-dominant band + a word of nothing but class ties where every
    # glyph has a digit candidate in reach ('ОООО', 'бOOб' on a digit
    # grid) -> it is a digit run; a decisive letter anywhere vetoes
    if (
        fallback_cls == "dig"
        and word_cls != "dig"
        and decisive_letters == 0
        and m >= 2
        and all(
            any(
                _char_class(ch) == "dig" and d - c[0][1] <= _DIGIT_MARGIN
                for ch, d in c
            )
            for c in cands
        )
    ):
        word_cls = "dig"

    def pick(g: int, want, margin: float = _REPAIR_MARGIN) -> None:
        base = cands[g][0][1]
        for ch, d in cands[g]:
            if d - base > margin:
                break
            if want(ch):
                chars[g] = ch
                dist_out[g] = d
                return
        # bare stems (l / I / 1 / |) are inherently shape-ambiguous —
        # the word vote may reach across a much wider distance gap, but
        # ONLY to another member of the stem set (never to an arbitrary
        # lookalike letter)
        if chars[g] in _STEMS:
            for ch, d in cands[g]:
                if d - base > _STEM_MARGIN:
                    break
                if ch in _STEMS and want(ch):
                    chars[g] = ch
                    dist_out[g] = d
                    return

    for g in range(m):
        cls = _char_class(chars[g])
        if word_cls == "dig":
            if cls != "dig":
                pick(g, lambda ch: _char_class(ch) == "dig", _DIGIT_MARGIN)
        elif cls in ("lat", "cyr") and cls != letter_cls:
            pick(g, lambda ch: _char_class(ch) == letter_cls)
        elif cls == "dig" and m >= 2:
            # a digit stranded inside a letter word (dog -> do9)
            pick(g, lambda ch: _char_class(ch) == letter_cls, _DIGIT_MARGIN)

    # case vote among the letters now present
    letters = [ch for ch in chars if _char_class(ch) in ("lat", "cyr")]
    if len(letters) >= 2:
        upper = sum(ch.isupper() for ch in letters)
        frac = upper / len(letters)
        want_upper = frac >= 0.7
        want_lower = frac <= 0.3
        if want_upper or want_lower:
            for g in range(m):
                ch = chars[g]
                cls = _char_class(ch)
                if cls not in ("lat", "cyr"):
                    continue
                if want_upper and ch.islower():
                    pick(g, lambda c, k=cls: c.isupper() and _char_class(c) == k)
                elif want_lower and ch.isupper():
                    pick(g, lambda c, k=cls: c.islower() and _char_class(c) == k)

    # ы is TWO ink components (ь + right stem): column-run segmentation
    # always yields two glyphs, so fold the pair back inside Cyrillic
    # words (the single-glyph template can never win on its own)
    if letter_cls == "cyr":
        i = 0
        folded_chars: List[str] = []
        folded_dists: List[float] = []
        # '!' and ']' are what a noisy right stem with a base serif
        # matches when the true stems tie below it
        stems = {"I", "l", "1", "|", "І", "!", "]"}
        while i < len(chars):
            if i + 1 < len(chars) and chars[i] in ("ь", "Ь") and chars[i + 1] in stems:
                folded_chars.append("ы" if chars[i] == "ь" else "Ы")
                folded_dists.append(max(dist_out[i], dist_out[i + 1]))
                i += 2
            else:
                folded_chars.append(chars[i])
                folded_dists.append(dist_out[i])
                i += 1
        chars, dist_out = folded_chars, folded_dists
    return chars, dist_out, votes


def _word_gap_threshold(
    boxes: Sequence[Tuple[int, int, int, int]], S: float
) -> float:
    """Word-break gap for one band. Inter-glyph gaps are bimodal
    (char gaps ≪ word gaps); when the band carries enough gaps, place
    the threshold at the widest relative jump between the two clusters —
    this adapts across proportional serif (tight) and mono (loose)
    metrics. Sparse bands fall back to 0.24 em."""
    gaps = [
        boxes[i][0] - boxes[i - 1][2]
        for i in range(1, len(boxes))
        if boxes[i][0] - boxes[i - 1][2] > 0
    ]
    fallback = max(2.0, 0.24 * S)
    if len(gaps) < 6:
        return fallback
    # most gaps are char gaps; their 75th percentile anchors the lower
    # cluster, and word gaps sit far above it. The em-relative floor
    # covers tight proportional faces, the percentile term loose mono
    # metrics, and the cap keeps a words-only band from merging.
    p75 = float(np.percentile(np.array(gaps, dtype=np.float64), 75))
    return float(min(max(0.24 * S, 1.35 * p75), 0.55 * S))


def clean_scan_mask(mask: np.ndarray) -> np.ndarray:
    """Strip what real scans add on top of the text: page-spanning rules
    and borders (a column/row whose ink covers most of the page is a
    frame line, never a glyph) and salt noise (ink pixels with fewer
    than two 8-neighbors). Rendered fixture pages pass through intact —
    strokes keep their neighbors and have no page-long runs."""
    m = mask.astype(bool).copy()
    h, w = m.shape
    if h < 8 or w < 8:
        return m
    col_frac = m.sum(axis=0) / h
    row_frac = m.sum(axis=1) / w
    m[:, col_frac > 0.6] = False
    m[row_frac > 0.6, :] = False
    # black scan edges: strips hugging the page margins whose ink is one
    # CONTIGUOUS page-scale run (fax feeders leave them on every page).
    # The contiguity test is what separates an edge from a glyph stem
    # that happens to sit in the margin zone of a short page — stems
    # break at every interline gap.
    def _longest_run(v: np.ndarray) -> int:
        idx = np.where(v)[0]
        if idx.size == 0:
            return 0
        breaks = np.where(np.diff(idx) > 1)[0]
        starts = np.concatenate([[0], breaks + 1])
        ends = np.concatenate([breaks, [idx.size - 1]])
        return int((idx[ends] - idx[starts]).max()) + 1

    mx, my = max(1, round(0.04 * w)), max(1, round(0.04 * h))
    for lo_, hi_ in ((0, mx), (w - mx, w)):
        for c in np.where(col_frac[lo_:hi_] > 0.25)[0] + lo_:
            if _longest_run(m[:, c]) > 0.5 * h:
                m[:, c] = False
    for lo_, hi_ in ((0, my), (h - my, h)):
        for r in np.where(row_frac[lo_:hi_] > 0.25)[0] + lo_:
            if _longest_run(m[r, :]) > 0.5 * w:
                m[r, :] = False
    # despeckle: drop ISOLATED ink pixels only (8-neighbor count via
    # shifted sums). A >=2 threshold also shaved anti-aliased stroke
    # fringes and measurably hurt bold serif shapes; 2-pixel specks that
    # survive here are caught by the per-crop minimum-ink filter.
    p = np.pad(m, 1).astype(np.uint8)
    neigh = (
        p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
        + p[1:-1, :-2] + p[1:-1, 2:]
        + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
    )
    return m & (neigh >= 1)


def _text_bands(mask: np.ndarray) -> List[Tuple[int, int]]:
    """Line bands from the row-ink profile. Real scans leave residual
    noise in every row, so `any()` banding collapses; rows count as text
    when their ink clears a noise floor scaled to the page's inked
    rows."""
    rows = mask.sum(axis=1)
    if not rows.any():
        return []
    positive = rows[rows > 0]
    floor = max(2.0, 0.06 * float(np.percentile(positive, 90)))
    h = len(rows)
    core = _runs(rows > floor)
    # extension stop: scaled to the measured inter-band noise — clean
    # renders have inkless gaps (lo = 2 keeps sparse ascender rows
    # attached), noisy scans keep residual ink between lines and need
    # the extension to stop above it
    in_core = np.zeros(h, dtype=bool)
    for y0, y1 in core:
        in_core[y0:y1] = True
    off = rows[~in_core]
    noise = float(np.median(off)) if off.size else 0.0
    lo = max(2.0, 1.5 * noise + 1.0)
    bands: List[Tuple[int, int]] = []
    # hysteresis: a band needs a core above the noise floor, but extends
    # to the near-zero gap so sparse ascender/descender rows (a lone
    # 'h' top on a lowercase line) stay attached instead of fragmenting
    # the line
    for y0, y1 in core:
        while y0 > 0 and rows[y0 - 1] > lo:
            y0 -= 1
        while y1 < h and rows[y1] > lo:
            y1 += 1
        if bands:
            py0, py1 = bands[-1]
            gap = y0 - py1
            # a 1-2 row pinch at the descender waist is not an
            # interline gap (those are >= ~1/4 of the line height);
            # the absolute cap keeps noisy scans from snowball-merging
            if gap <= min(3, max(1, round(0.2 * max(py1 - py0, y1 - y0)))):
                bands[-1] = (py0, max(py1, y1))
                continue
        bands.append((y0, y1))
    return bands


def _orient_crops(
    mask: np.ndarray, max_bands: int, max_glyphs: int
) -> Tuple[List[np.ndarray], List[Tuple[int, int, int, int]]]:
    """The segmentation half of the orientation score: glyph crops of
    the first few bands of the cleaned mask. Per-run row extents and
    ink counts come from reduceat over the band's per-column profiles
    (the former per-cell any/where/sum chain was ~5 numpy calls per
    glyph); values are identical."""
    m = clean_scan_mask(mask)
    crops: List[np.ndarray] = []
    boxes: List[Tuple[int, int, int, int]] = []
    for y0, y1 in _text_bands(m)[:max_bands]:
        band = m[y0:y1]
        runs = _runs(band.any(axis=0))
        if not runs:
            continue
        h = band.shape[0]
        ink = band != 0
        col_any = ink.any(axis=0)
        first = ink.argmax(axis=0)  # first ink row per column (0 if none)
        last = h - 1 - ink[::-1].argmax(axis=0)
        col_sum = ink.sum(axis=0)
        # one neutral pad column so a run ending at the band edge keeps
        # its end boundary a valid reduceat index
        top_prof = np.concatenate([np.where(col_any, first, h), [h]])
        bot_prof = np.concatenate([np.where(col_any, last, -1), [-1]])
        col_sum = np.concatenate([col_sum, [0]])
        bounds = np.array([b for r in runs for b in r], dtype=np.int64)
        r0s = np.minimum.reduceat(top_prof, bounds)[::2]
        r1s = np.maximum.reduceat(bot_prof, bounds)[::2]
        sums = np.add.reduceat(col_sum, bounds)[::2]
        for (c0, c1), r0, r1, tot in zip(
            runs, r0s.tolist(), r1s.tolist(), sums.tolist()
        ):
            if r1 < r0 or tot < 3:
                continue
            # boolean VIEW, no copy: the only consumer is _crop_feats,
            # whose grid_features astypes to float64 itself (0/1 values
            # identical either way)
            crops.append(band[r0 : r1 + 1, c0:c1])
            boxes.append((c0, int(r0), c1, int(r1) + 1))
            if len(crops) >= max_glyphs:
                break
        if len(crops) >= max_glyphs:
            break
    return crops, boxes


def _match_confidence(
    bank: GlyphBank,
    dist1: np.ndarray,
    heights: np.ndarray,
    boxes: List[Tuple[int, int, int, int]],
) -> float:
    """Exact mean match confidence of one rotation's crop set given its
    pass-1 distance rows. Exact matching here: orientation compares
    JUNK scores against each other on non-text pages (ruled tables),
    and the top-P approximation measurably flipped a table page
    0 -> 270."""
    bottoms = np.array([y1 for _, _, _, y1 in boxes], dtype=np.float64)
    _, cand_dist, _ = _match_from_dist1(bank, dist1, heights, bottoms, 1)
    return float(np.mean(np.maximum(0.0, 1.0 - _CONF_SLOPE * cand_dist[:, 0])))


def orientation_confidences(
    masks: Sequence[np.ndarray], language: str = "rus+eng",
    max_bands: int = 3, max_glyphs: int = 60,
) -> List[float]:
    """Mean match confidence of the first few bands of each page
    rotation — the glyph-engine analogue of the scanfont orientation
    score (rotated/flipped real type matches the bank far worse than
    upright type). A rotation with nothing segmentable scores -0.5.

    Every scored rotation is exact. Their crops share ONE bank GEMM:
    the template matrix is the expensive operand, and per-rotation
    skinny GEMMs each pay a BLAS dispatch/thread-sync cost (measured 2x
    slower on table pages). Matching then runs per rotation."""
    out = [-0.5] * len(masks)
    bank = _bank_for_language(language)
    if bank is None:
        return out
    entries = []
    for i, mask in enumerate(masks):
        crops, boxes = _orient_crops(mask, max_bands, max_glyphs)
        if len(crops) >= 3:
            feats, heights, _, aspect = _crop_feats(crops, boxes)
            entries.append((i, feats, heights, aspect, boxes))
    if not entries:
        return out
    dist1 = _shape_dist(
        bank,
        np.concatenate([e[1] for e in entries], axis=0),
        np.concatenate([e[3] for e in entries], axis=0),
    )
    off = 0
    for i, feats, heights, _aspect, boxes in entries:
        m = feats.shape[0]
        out[i] = _match_confidence(bank, dist1[off : off + m], heights, boxes)
        off += m
    return out


def recognize_block(
    mask: np.ndarray,
    x_off: int,
    y_off: int,
    language: str = "rus+eng",
    gray: Optional[np.ndarray] = None,
) -> List[Tuple[Tuple[int, int, int, int], List, float]]:
    """Same contract as core/ocr._recognize_block: one text block ->
    [(line bbox, [OcrWordOut], mean glyph conf)] top-down.

    ``gray``: optional float ink-coverage image (0..1, same shape as
    ``mask``). The bank's templates are anti-aliased coverage grids, so
    matching fractional coverage instead of the binarized mask keeps
    the thin-stroke detail Otsu destroys at small sizes (measured:
    broad accuracy gain at 14-24 px, no effect on bilevel fax scans
    where coverage IS the mask)."""
    from dedoc_spark.core.ocr import OcrWordOut

    bank = _bank_for_language(language)
    if bank is None:
        return []
    mask = clean_scan_mask(mask)
    if gray is not None and gray.shape == mask.shape:
        # gate the coverage to the mask DILATED by one pixel: the
        # anti-aliased fringe lives exactly in that ring, and clipping
        # it thins every stroke relative to the bank's AA templates
        # (measured: r->г style flips at 32 px with a hard mask gate)
        p = np.pad(mask, 1)
        ring = (
            p[:-2, 1:-1] | p[2:, 1:-1] | p[1:-1, :-2] | p[1:-1, 2:]
            | p[1:-1, 1:-1]
            | p[:-2, :-2] | p[:-2, 2:] | p[2:, :-2] | p[2:, 2:]
        )
        cov_page = np.where(ring, np.clip(gray, 0.0, 1.0), 0.0)
    else:
        cov_page = mask.astype(np.float64)
    out: List[Tuple[Tuple[int, int, int, int], List, float]] = []
    bands = _text_bands(mask)
    h_page = mask.shape[0]
    # phase 1 segments every band; phase 2 matches ALL bands' crops
    # against the bank in one GEMM (the template matrix is the expensive
    # operand), then runs each band's pass-2 on its slice
    pending: List[Tuple[List[np.ndarray], List[Tuple[int, int, int, int]], List[Tuple[int, int, int, int]], int, int]] = []
    for bi, (y0, y1) in enumerate(bands):
        # extend the band slice toward the neighbors: the band-level
        # hysteresis stops at sparse rows, which truncates descenders
        # at small sizes ('p' at 16 px read as 'n'). Column runs still
        # come from the CORE rows; each glyph then grows its own row
        # extent contiguously into the extension zone.
        prev_end = bands[bi - 1][1] if bi else 0
        next_start = bands[bi + 1][0] if bi + 1 < len(bands) else h_page
        pad_up = max(prev_end, y0 - max(1, round(0.25 * (y1 - y0))))
        pad_dn = min(next_start, y1 + max(2, round(0.4 * (y1 - y0))))
        band = cov_page[pad_up:pad_dn]
        core0, core1 = y0 - pad_up, y1 - pad_up
        # glyph segmentation stays on the BINARY mask of the CORE rows:
        # the fringe ring would bridge 1-px inter-glyph gaps, and the
        # extension rows may carry stray inter-line ink
        bcols = mask[y0:y1].any(axis=0)
        col_runs = _runs(bcols)
        if not col_runs:
            continue
        # rough em from the band extent (ascender..descender ≈ 1.12 em)
        # drives only the split-attempt gate; the matched S refines it
        S_rough = max(4.0, (y1 - y0) / 1.12)
        crops: List[np.ndarray] = []
        boxes: List[Tuple[int, int, int, int]] = []
        word_boxes: List[Tuple[int, int, int, int]] = []
        for s0, s1, sub in _refine_runs(band, col_runs, S_rough, bank):
            if sub is not None:
                # a seam piece carries its own side-masked coverage
                # (columns [s0, s1) of the band, other side zeroed)
                rows = np.where(sub.any(axis=1))[0]
                if rows.size == 0 or np.count_nonzero(sub) < 3:
                    continue
                gy0, gy1 = int(rows[0]), int(rows[-1]) + 1
                crops.append(sub[gy0:gy1].astype(np.float64))
                boxes.append((s0, gy0, s1, gy1))
                word_boxes.append((s0, gy0, s1, gy1))
                continue
            # reach one column past the run bounds for the AA fringe,
            # then trim to the tight nonzero bbox (binary coverage
            # trims straight back; FreeType template bboxes span their
            # full AA extent, so matching crops must too). Expand only
            # into binary-EMPTY columns — an adjacent run or split
            # piece starts right at the bound and must not bleed in.
            e0 = s0 - 1 if s0 > 0 and not bcols[s0 - 1] else s0
            e1 = s1 + 1 if s1 < len(bcols) and not bcols[s1] else s1
            inner = band[:, s0:s1]
            # row extent from the run's OWN columns: a 1-px gap column
            # is shared with the neighbor's fringe ring, and letting it
            # set the rows gave 'm' the descender fringe of the 'p'
            # next door (matched 'щ'). Start from the CORE rows and
            # grow contiguously into the extension zone, so descenders
            # rejoin their glyph but stray inter-line ink cannot.
            rows_any = inner.any(axis=1)
            idx = np.where(rows_any[core0:core1])[0]
            if idx.size == 0:
                continue
            gy0, gy1 = core0 + int(idx[0]), core0 + int(idx[-1]) + 1
            while gy1 < len(rows_any) and rows_any[gy1]:
                gy1 += 1
            while gy0 > 0 and rows_any[gy0 - 1]:
                gy0 -= 1
            cell = band[gy0:gy1, e0:e1]
            # speck filter counts the fringe-expanded cell: a real
            # period at 16 px is 1-2 mask pixels but carries its AA
            # fringe; an isolated binarized speck does not
            if np.count_nonzero(cell) < 3:
                continue
            cols = np.where(cell.any(axis=0))[0]
            gx0, gx1 = int(cols[0]), int(cols[-1]) + 1
            crops.append(cell[:, gx0:gx1].astype(np.float64))
            boxes.append((e0 + gx0, gy0, e0 + gx1, gy1))
            # word grouping and emitted coordinates use the BINARY run
            # bounds: fringe-padded bboxes shrink inter-glyph gaps by
            # up to 2 px, which pushed tight serif word gaps under the
            # threshold and fused whole lines
            word_boxes.append((s0, gy0, s1, gy1))
        if not crops:
            continue
        pending.append((crops, boxes, word_boxes, y0, y1))
    if not pending:
        return out
    all_crops = [c for p in pending for c in p[0]]
    all_boxes = [b for p in pending for b in p[1]]
    feats, heights_all, _, aspect = _crop_feats(all_crops, all_boxes)
    bottoms_all = np.array([b[3] for b in all_boxes], dtype=np.float64)
    dist1_all = _shape_dist(bank, feats, aspect)
    off = 0
    for crops, boxes, word_boxes, y0, y1 in pending:
        m_band = len(crops)
        cand_idx, cand_dist, S = _match_from_dist1(
            bank,
            dist1_all[off : off + m_band],
            heights_all[off : off + m_band],
            bottoms_all[off : off + m_band],
            24,
        )
        off += m_band
        word_gap = _word_gap_threshold(word_boxes, S)

        # group glyphs into words by gap, repair each word, emit
        groups: List[List[int]] = [[0]]
        for g in range(1, len(word_boxes)):
            if word_boxes[g][0] - word_boxes[g - 1][2] > word_gap:
                groups.append([g])
            else:
                groups[-1].append(g)
        # two passes: the first collects per-word script votes, the
        # second re-repairs all-tie words ('BOX'/'ВОХ', bare 'c') with
        # the BAND's dominant script as the fallback — a word made only
        # of cross-script homoglyphs has no evidence of its own
        repaired = [
            _repair_word(bank, cand_idx[grp], cand_dist[grp]) for grp in groups
        ]
        lat_total = sum(v["lat"] for _, _, v in repaired)
        cyr_total = sum(v["cyr"] for _, _, v in repaired)
        dig_total = sum(v["dig"] for _, _, v in repaired)
        band_cls: Optional[str] = None
        if dig_total > lat_total + cyr_total:
            band_cls = "dig"
        elif lat_total != cyr_total:
            band_cls = "lat" if lat_total > cyr_total else "cyr"
        words: List = []
        all_confs: List[float] = []
        for grp, (chars, dists, votes) in zip(groups, repaired):
            if (
                band_cls is not None
                and votes["full_lat"] + votes["full_cyr"] == 0
            ):
                chars, dists, _ = _repair_word(
                    bank, cand_idx[grp], cand_dist[grp], fallback_cls=band_cls
                )
            confs = [max(0.0, 1.0 - _CONF_SLOPE * max(d, 0.0)) for d in dists]
            all_confs.extend(confs)
            words.append(
                OcrWordOut(
                    "".join(chars),
                    (
                        x_off + word_boxes[grp[0]][0],
                        y_off + y0,
                        x_off + word_boxes[grp[-1]][2],
                        y_off + y1,
                    ),
                    int(round(100 * float(np.mean(confs)))),
                )
            )
        if not words:
            continue
        bbox = (
            min(w.bbox[0] for w in words),
            y_off + y0,
            max(w.bbox[2] for w in words),
            y_off + y1,
        )
        out.append((bbox, words, float(np.mean(all_confs))))
    return out
