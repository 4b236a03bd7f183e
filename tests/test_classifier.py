"""Broadcast-model batch classifier (the reference's XGBoost txt-layer
pattern, txtlayer_classifier.py:26-57, without the pickled artifact)."""

import numpy as np
import pandas as pd

from dedoc_spark.core.txtlayer import (
    LogisticModel,
    features_frame,
    synthetic_training_set,
    train_default_model,
)
from dedoc_spark.operators.classifier import score_text_quality


def test_model_separates_text_from_garbage():
    model = train_default_model()
    texts, labels = synthetic_training_set()
    proba = model.predict_proba(features_frame(pd.Series(texts)))
    acc = float(np.mean((proba >= 0.5) == np.array(labels, dtype=bool)))
    assert acc >= 0.95  # trivially separable classes


def test_train_is_deterministic():
    m1, m2 = train_default_model(), train_default_model()
    assert np.array_equal(m1.weights, m2.weights) and m1.bias == m2.bias


def test_spark_batch_predict_not_per_row(spark):
    """The accumulator counts BATCH predicts: with hundreds of rows across a
    few partitions, the model must run orders of magnitude fewer times than
    the row count (never per row), and scores must equal the driver-side
    numpy computation exactly."""
    model = train_default_model()
    texts, _ = synthetic_training_set(300)
    rows = [(f"u{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "url string, text string").repartition(4)
    counter = spark.sparkContext.accumulator(0)
    got = {r.url: r.quality_proba for r in
           score_text_quality(df, model, batch_counter=counter).collect()}
    assert len(got) == len(rows)
    assert 0 < counter.value <= 8  # ≤ partitions × arrow-batches, ≪ 300 rows
    want = model.predict_proba(features_frame(pd.Series(texts)))
    for (url, _), w in zip(rows, want):
        assert got[url] == round(float(w), 6)


def test_broadcast_ships_weights_not_closure_heavy_state(spark):
    """Scoring works on a model reconstructed from broadcast weights — the
    executor-side object is a fresh LogisticModel per task."""
    model = train_default_model()
    df = spark.createDataFrame([("a", "the quick brown fox jumps")], "url string, text string")
    out = score_text_quality(df, model).collect()
    assert len(out) == 1 and out[0].is_good
    # driver model untouched by executor-side predicts
    assert isinstance(model, LogisticModel)


def test_model_save_load_roundtrip(tmp_path):
    from dedoc_spark.operators.classifier import load_model, save_model

    m = train_default_model()
    path = str(tmp_path / "model.json")
    save_model(m, path)
    m2 = load_model(path)
    texts, _ = synthetic_training_set(40)
    X = features_frame(pd.Series(texts))
    assert np.array_equal(m.predict_proba(X), m2.predict_proba(X))


def test_txtlayer_feature_parity_hand_computed():
    """Feature-vector parity with txtlayer_feature_extractor.py:10-62,
    asserted against hand-computed values for a known string."""
    import math

    import pandas as pd

    from dedoc_spark.operators.classifier import txtlayer_features

    text = "Ab c1 (x)"  # len 9
    f = txtlayer_features(pd.Series([text])).iloc[0]
    # letters: A b c x = 4; digits: 1; brackets: ( ) = 2; special: 2 spaces
    assert f["letters_proportion"] == 4 / 9
    assert f["digits_proportion"] == 1 / 9
    assert f["brackets_proportion"] == 2 / 9
    assert f["special_symbols_proportion"] == 2 / 9  # space is special
    assert f["eng_proportion"] == 4 / 9 and f["rus_proportion"] == 0.0
    # per-symbol proportions over letters+digits (n=5)
    assert f["A_proportion"] == 1 / 5
    assert f["b_proportion"] == 1 / 5
    assert f["1_proportion"] == 1 / 5
    assert f["z_proportion"] == 0.0
    # per-symbol counts; prohibited names remapped ([ ] < → symbol0/1/2)
    assert f["(_number"] == 1 and f[")_number"] == 1
    assert f["symbol0_number"] == 0 and f["symbol2_number"] == 0
    assert f["all_proportion"] == 1.0  # every char is letter/digit/bracket/special
    # transitions: case_changes 0; 'b→space' etc; letter_changes counts
    # s1 in letters and s2 NOT in symbols → none here (all in symbols)
    assert f["case_changes"] == 0.0
    assert f["letter_changes"] == 0.0
    # words: Ab(2) c1(2) (x)(3) → mean 7/3, median 2
    assert abs(f["mean_word_length"] - 7 / 3) < 1e-12
    assert f["median_word_length"] == 2.0
    # trash: 2 spaces (ord 32)
    assert f["trash_chars_number"] == 2 and f["trash_chars_proportion"] == 2 / 9
    ords = [ord(c) for c in text]
    assert abs(f["mean_char_ord"] - sum(ords) / 9) < 1e-12
    assert not math.isnan(f["std_char_ord"])


def test_txtlayer_feature_nan_and_sorted_columns():
    import math

    import pandas as pd

    from dedoc_spark.operators.classifier import FEATURE_NAMES, txtlayer_features

    frame = txtlayer_features(pd.Series(["   ", "word"]))
    assert list(frame.columns) == sorted(frame.columns) == FEATURE_NAMES
    # wordless text → NaN word stats, like the reference (np.mean([]))
    assert math.isnan(frame.iloc[0]["mean_word_length"])
    assert frame.iloc[1]["mean_word_length"] == 4.0
    # 177 features: 15 aggregates + 128 per-letter/digit + 27 special+bracket
    # counts + 7 transition/word/ord stats
    assert len(FEATURE_NAMES) == 177
