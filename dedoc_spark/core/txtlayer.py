"""The text-layer quality model: the reference's txt-layer features
(pdf_auto_reader/txtlayer_feature_extractor.py:10-62) and the numpy
logistic regression that stands in for its XGBoost model
(pdf_auto_reader/txtlayer_classifier.py:26-57).

numpy only: ``pdf_extract.detect_txt_layer`` runs this inside extraction
workers, which load neither pandas nor ``operators``. The pandas frame of
the same features (``txtlayer_features``) and the Spark scoring stage
(``score_text_quality``) live in ``operators/classifier.py``.

Everything is deterministic: fixed synthetic corpus, fixed zero-init
gradient descent, no RNG.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

import numpy as np

# --- char classes (structure_extractors/feature_extractors/char_features.py) --

ENG = "".join(map(chr, range(ord("a"), ord("z") + 1)))
RUS = "".join([chr(i) for i in range(ord("а"), ord("а") + 32)] + ["ё"])
LOWER_LETTERS = ENG + RUS
UPPER_LETTERS = LOWER_LETTERS.upper()
LETTERS = UPPER_LETTERS + LOWER_LETTERS
DIGITS = "".join(str(i) for i in range(10))
SPECIAL_SYMBOLS = "<>~!@#$%^&*_+-/\"|?.,:;'`= "
BRACKETS = "{}[]()"
SYMBOLS = LETTERS + DIGITS + BRACKETS + SPECIAL_SYMBOLS
PROHIBITED_SYMBOLS = {s: i for i, s in enumerate("[]<")}

# codepoint class table: one uint16 bitmask per codepoint up to the
# highest class member (ё/Ё etc.) — membership tests over whole texts
# become table lookups on the utf-32 view instead of five per-char
# python passes (this function runs twice per PDF on the auto route and
# per batch in the headline classifier)
_F_LET, _F_DIG, _F_SPC, _F_BRK, _F_RUS, _F_ENG, _F_LOW, _F_UPP, _F_SYM = (
    1, 2, 4, 8, 16, 32, 64, 128, 256
)
_TBL_MAX = max(ord(c) for c in SYMBOLS + RUS.upper())
_CLASS_TBL = np.zeros(_TBL_MAX + 1, dtype=np.uint16)
for _flag, _chars in (
    (_F_LET, LETTERS), (_F_DIG, DIGITS), (_F_SPC, SPECIAL_SYMBOLS),
    (_F_BRK, BRACKETS), (_F_RUS, RUS + RUS.upper()), (_F_ENG, ENG + ENG.upper()),
    (_F_LOW, LOWER_LETTERS), (_F_UPP, UPPER_LETTERS), (_F_SYM, SYMBOLS),
):
    for _c in _chars:
        _CLASS_TBL[ord(_c)] |= _flag


def _feature_dicts(texts: Iterable[Optional[str]]) -> List[dict]:
    """FULL feature parity with the reference's txt-layer detector, one
    dict per text (None counts as ""): per-char-class proportions, one
    proportion per letter/digit, one count per special symbol/bracket
    (prohibited names remapped), case/symbol/letter transition rates,
    word-length and char-ordinal statistics, NaN exactly where the
    reference has it (word stats of wordless text). Computed from a utf-32
    codepoint view + the class table, not ~160 str.count scans, and without
    the ~8 ms 177-column pandas frame the model path does not need.

    Divergence (robustness, documented): empty text yields all-zero
    proportions instead of the reference's ZeroDivisionError."""
    rows = []
    for text in texts:
        if text is None:
            text = ""
        feat = {}
        n_len = len(text)
        denom = n_len if n_len else 1
        o = np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
        small = o <= _TBL_MAX
        flags = np.zeros(o.shape[0], dtype=np.uint16)
        flags[small] = _CLASS_TBL[o[small]]
        bc = np.bincount(o[small], minlength=_TBL_MAX + 1) if n_len else np.zeros(
            _TBL_MAX + 1, dtype=np.int64
        )

        num_letters = int(((flags & _F_LET) != 0).sum())
        num_digits = int(((flags & _F_DIG) != 0).sum())
        num_special = int(((flags & _F_SPC) != 0).sum())
        num_brackets = int(((flags & _F_BRK) != 0).sum())
        num_rus = int(((flags & _F_RUS) != 0).sum())
        num_eng = int(((flags & _F_ENG) != 0).sum())

        feat["letters_proportion"] = num_letters / denom
        feat["digits_proportion"] = num_digits / denom
        feat["special_symbols_proportion"] = num_special / denom
        feat["brackets_proportion"] = num_brackets / denom
        feat["rus_proportion"] = num_rus / denom
        feat["eng_proportion"] = num_eng / denom

        n_ld = num_letters + num_digits
        for symbol in LETTERS + DIGITS:
            feat[f"{symbol}_proportion"] = int(bc[ord(symbol)]) / n_ld if n_ld != 0 else 0.0
        for symbol in SPECIAL_SYMBOLS + BRACKETS:
            name = (
                symbol
                if symbol not in PROHIBITED_SYMBOLS
                else f"symbol{PROHIBITED_SYMBOLS[symbol]}"
            )
            feat[f"{name}_number"] = int(bc[ord(symbol)])
        feat["all_proportion"] = (
            (num_letters + num_digits + num_brackets + num_special) / n_len if n_len else 0
        )

        low = (flags & _F_LOW) != 0
        upp = (flags & _F_UPP) != 0
        sym = (flags & _F_SYM) != 0
        let = (flags & _F_LET) != 0
        feat["case_changes"] = int((low[:-1] & upp[1:]).sum()) / denom
        feat["symbol_changes"] = int((sym[:-1] != sym[1:]).sum()) / denom
        feat["letter_changes"] = int((let[:-1] & ~sym[1:]).sum()) / denom

        word_lens = [len(w) for w in text.split()]
        feat["mean_word_length"] = float(np.mean(word_lens)) if word_lens else float("nan")
        feat["median_word_length"] = float(np.median(word_lens)) if word_lens else float("nan")

        trash = int(((o <= 32) | ((o >= 160) & (o <= 879))).sum())
        feat["trash_chars_proportion"] = trash / denom
        feat["trash_chars_number"] = trash
        feat["std_char_ord"] = float(np.std(o)) if n_len else 0.0
        feat["mean_char_ord"] = float(np.mean(o)) if n_len else 0.0
        feat["median_char_ord"] = float(np.median(o)) if n_len else 0.0
        rows.append(feat)
    return rows


# the reference's feature frame has its columns sorted
FEATURE_NAMES: List[str] = sorted(_feature_dicts(["probe"])[0])

# column scaling for the numpy logistic model (the reference's XGBoost is
# scale-free; gradient descent is not): raw counts and ordinals are squashed
# into O(1) ranges. Parity lives in the feature values; this is model prep.
_SCALE = np.array(
    [
        0.01 if name.endswith("_number")
        else 0.1 if name in ("mean_word_length", "median_word_length")
        else 0.001 if name.endswith("_char_ord")
        else 1.0
        for name in FEATURE_NAMES
    ],
    dtype=np.float64,
)


def features_frame(texts: Iterable[Optional[str]]) -> np.ndarray:
    """Model-input matrix: the full reference feature frame, NaN→0 (our
    logistic can't route NaNs the way XGBoost does) and count/ordinal
    columns scaled into O(1). Built straight from the feature dicts in
    FEATURE_NAMES order, without a pandas frame (see _feature_dicts)."""
    rows = _feature_dicts(texts)
    X = np.array([[float(r[name]) for name in FEATURE_NAMES] for r in rows], dtype=np.float64)
    if X.size == 0:
        X = X.reshape(0, len(FEATURE_NAMES))
    return np.nan_to_num(X, nan=0.0) * _SCALE


class LogisticModel:
    """Pure-numpy logistic regression: weights + bias, batch predict."""

    def __init__(self, weights: np.ndarray, bias: float) -> None:
        self.weights = weights
        self.bias = bias
        self.batch_calls = 0  # diagnostics: how many BATCH predicts ran

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        self.batch_calls += 1
        return 1.0 / (1.0 + np.exp(-(X @ self.weights + self.bias)))


def train_logistic(
    X: np.ndarray, y: np.ndarray, epochs: int = 300, lr: float = 1.0
) -> LogisticModel:
    """Deterministic full-batch gradient descent from zero init."""
    w = np.zeros(X.shape[1], dtype=np.float64)
    b = 0.0
    n = len(y)
    for _ in range(epochs):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        g = p - y
        w -= lr * (X.T @ g) / n
        b -= lr * float(g.mean())
    return LogisticModel(w, b)


def synthetic_training_set(n: int = 200) -> Tuple[List[str], List[int]]:
    """Deterministic good-text vs extraction-garbage corpus (the two classes
    the reference's txt-layer model separates: real text layer vs mojibake)."""
    words = "the quick brown fox jumps over lazy dog spark extract document text layer".split()
    goods, bads = [], []
    for i in range(n // 2):
        goods.append(" ".join(words[(i + j) % len(words)] for j in range(8 + i % 5)))
        # garbage: control chars, symbol soup, digit runs — deterministic
        bads.append(
            "".join(chr(33 + ((i * 7 + j * 13) % 14)) for j in range(30))
            + chr(1) * (i % 4)
            + str(i) * 3
        )
    texts = goods + bads
    labels = [1] * len(goods) + [0] * len(bads)
    return texts, labels


def train_default_model() -> LogisticModel:
    texts, labels = synthetic_training_set()
    X = features_frame(texts)
    return train_logistic(X, np.array(labels, dtype=np.float64))
