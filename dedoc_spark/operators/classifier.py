"""Broadcast-model batch classifier — the worked example of the pattern the
reference uses for its XGBoost txt-layer-correctness model
(pdf_auto_reader/txtlayer_classifier.py:26-57 loads one model and predicts
over a whole feature DataFrame; features per
txtlayer_feature_extractor.py:10-60).

Spark shape: the trained model (a plain numpy weight vector) is broadcast
once; a mapInPandas stage computes the feature matrix VECTORIZED per Arrow
batch and scores it with one matrix product per batch — never a per-row
model call. The same pattern drops in for any sklearn/xgboost artifact:
broadcast the pickled model, call model.predict(features) per batch.

Everything is deterministic: fixed synthetic corpus, fixed zero-init
gradient descent, no RNG.
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

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

_LETTERS_SET = frozenset(LETTERS)
_DIGITS_SET = frozenset(DIGITS)
_SPECIAL_SET = frozenset(SPECIAL_SYMBOLS)
_BRACKETS_SET = frozenset(BRACKETS)
_SYMBOLS_SET = frozenset(SYMBOLS)
_LOWER_SET = frozenset(LOWER_LETTERS)
_UPPER_SET = frozenset(UPPER_LETTERS)
_RUS_SET = frozenset(RUS + RUS.upper())
_ENG_SET = frozenset(ENG + ENG.upper())


def txtlayer_features(texts: pd.Series) -> pd.DataFrame:
    """FULL feature parity with the reference's txt-layer detector
    (pdf_auto_reader/txtlayer_feature_extractor.py:10-62): per-char-class
    proportions, one proportion column per letter/digit, one count column
    per special symbol/bracket (prohibited names remapped), case/symbol/
    letter transition rates, word-length and char-ordinal statistics.
    Columns sorted, float dtype; NaNs appear exactly where the reference
    produces them (word stats of wordless text). One Counter pass per text
    instead of the reference's ~160 str.count scans — same values.

    Divergence (robustness, documented): empty text yields all-zero
    proportions instead of the reference's ZeroDivisionError."""
    frame = pd.DataFrame(_feature_dicts(texts))
    return frame[sorted(frame.columns)].astype(float)


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


def _feature_dicts(texts) -> List[dict]:
    """Per-text feature dicts (the txtlayer_features values before the
    DataFrame wrap) — the model path consumes these directly because the
    181-column pandas construction costs ~8 ms per CALL, which dominated
    per-document extraction when detect_txt_layer ran it twice per doc.
    Every statistic is computed from a utf-32 codepoint view + the class
    table; values are identical to the former Counter/zip scans."""
    if isinstance(texts, pd.Series):
        texts = texts.fillna("").astype(str).tolist()
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


FEATURE_NAMES: List[str] = list(txtlayer_features(pd.Series(["probe"])).columns)

# column scaling for the numpy logistic model (the reference's XGBoost is
# scale-free; gradient descent is not): raw counts and ordinals are squashed
# into O(1) ranges. Parity lives in txtlayer_features; this is model prep.
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


def features_frame(texts: pd.Series) -> np.ndarray:
    """Model-input matrix: the full reference feature frame, NaN→0 (our
    logistic can't route NaNs the way XGBoost does) and count/ordinal
    columns scaled into O(1). Built straight from the feature dicts in
    FEATURE_NAMES order — same values as txtlayer_features, without the
    per-call 181-column pandas construction (see _feature_dicts)."""
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


def save_model(model: LogisticModel, path: str) -> None:
    """Persist as JSON (the same artifact shape the reference downloads for
    its XGBoost txtlayer model — a json file loaded once per process,
    txtlayer_classifier.py:30-38)."""
    import json

    with open(path, "w") as f:
        json.dump({"weights": model.weights.tolist(), "bias": model.bias,
                   "features": FEATURE_NAMES}, f)


def load_model(path: str) -> LogisticModel:
    import json

    with open(path) as f:
        d = json.load(f)
    if d.get("features") != FEATURE_NAMES:
        raise ValueError("model trained on a different feature set")
    return LogisticModel(np.asarray(d["weights"], dtype=np.float64), float(d["bias"]))


def train_default_model() -> LogisticModel:
    texts, labels = synthetic_training_set()
    X = features_frame(pd.Series(texts))
    return train_logistic(X, np.array(labels, dtype=np.float64))


def score_text_quality(df, model: LogisticModel, text_col: str = "text", id_col: str = "url", batch_counter=None):
    """Broadcast-model scoring stage: one Arrow batch → one feature matrix →
    one matrix product. Returns (id_col, quality_proba, is_good).

    batch_counter: optional Spark accumulator incremented once per BATCH
    predict — lets tests assert the model is never called per row."""
    from dedoc_spark.operators.pipeline import bootstrapped

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((model.weights, model.bias))
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w, b = bc.value
        local = LogisticModel(w, b)
        for pdf in it:
            X = features_frame(pdf[text_col])
            proba = local.predict_proba(X)
            if batch_counter is not None:
                batch_counter.add(1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "quality_proba": np.round(proba, 6),
                    "is_good": proba >= 0.5,
                }
            )

    schema = f"{id_col} {id_type}, quality_proba double, is_good boolean"
    return df.select(id_col, text_col).mapInPandas(bootstrapped(fn), schema)
