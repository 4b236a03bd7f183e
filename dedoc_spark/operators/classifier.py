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

The features and the model are ``core/txtlayer.py``, which the PDF
text-layer route also runs; this module adds the pandas frame of the
features and the Spark stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from dedoc_spark.core.txtlayer import FEATURE_NAMES, LogisticModel, _feature_dicts, features_frame


def txtlayer_features(texts: pd.Series) -> pd.DataFrame:
    """The reference's txt-layer feature frame
    (pdf_auto_reader/txtlayer_feature_extractor.py:10-62): one float column
    per feature, columns sorted, NaN word stats for wordless text (the
    values and their documented divergence: ``core.txtlayer._feature_dicts``)."""
    return pd.DataFrame(_feature_dicts(texts), columns=FEATURE_NAMES).astype(float)


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
