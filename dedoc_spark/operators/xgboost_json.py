"""Pure-numpy inference over XGBoost's public JSON model formats.

The reference's line-type classifiers are XGBClassifier artifacts
published at huggingface.co/dedoc/line_type_classifiers and loaded from
a zip of ``classifier.json`` (``XGBClassifier.save_model`` output) plus
``parameters.json`` (feature-extractor kwargs) —
abstract_pickled_classifier.py:25-52.  This sandbox has no network and no
xgboost package, so label parity with those artifacts was previously
unverifiable *and* unconsumable.  This module closes the consumable half:
drop the public artifact (the zip, or its inner ``classifier.json``) into
the extractors' ``labels`` hook and it runs, with inference reimplemented
from the DOCUMENTED model format — no xgboost import anywhere.

Two public formats are handled (https://xgboost.readthedocs.io/en/stable/
tutorials/saving_model.html):

* ``save_model("*.json")`` — ``{"learner": {"gradient_booster": {"model":
  {"trees": [...], "tree_info": [...]}}, ...}}`` with per-tree flat arrays
  ``left_children / right_children / split_indices / split_conditions /
  default_left``; a node is a leaf iff ``left_children[i] == -1``, and for
  leaves ``split_conditions[i]`` holds the leaf value (RegTree::SaveModel
  writes ``n.IsLeaf() ? n.LeafValue() : n.SplitCond()``).
* ``get_dump(dump_format="json")`` — a list of nested per-tree dicts
  ``{"nodeid", "split", "split_condition", "yes", "no", "missing",
  "children"} | {"nodeid", "leaf"}``.

Split semantics (both formats): go LEFT iff ``x < split_condition``;
missing values (NaN) follow ``default_left`` / the ``missing`` child id.

Everything here is numpy-only and Spark-free (CLAUDE.md invariant: model
paths build numpy matrices directly; usable from unit tests and inside
mapInPandas alike).
"""

from __future__ import annotations

import json
import math
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from dedoc_spark.core.limits import BoundedZip


class _Tree:
    """One regression tree as flat arrays (save_model layout)."""

    __slots__ = ("left", "right", "default_left", "split_index", "split_cond")

    def __init__(
        self,
        left: Sequence[int],
        right: Sequence[int],
        default_left: Sequence[int],
        split_index: Sequence[int],
        split_cond: Sequence[float],
    ) -> None:
        self.left = np.asarray(left, dtype=np.int64)
        self.right = np.asarray(right, dtype=np.int64)
        self.default_left = np.asarray(default_left, dtype=bool)
        self.split_index = np.asarray(split_index, dtype=np.int64)
        self.split_cond = np.asarray(split_cond, dtype=np.float64)

    def predict(self, X: np.ndarray) -> np.ndarray:
        """Vectorized traversal: one np.where round per tree level."""
        n = X.shape[0]
        idx = np.zeros(n, dtype=np.int64)
        active = self.left[idx] != -1
        while active.any():
            node = idx[active]
            feat = self.split_index[node]
            val = X[np.flatnonzero(active), feat]
            missing = np.isnan(val)
            go_left = np.where(missing, self.default_left[node], val < self.split_cond[node])
            idx[active] = np.where(go_left, self.left[node], self.right[node])
            active = self.left[idx] != -1
        return self.split_cond[idx]


def _tree_from_arrays(d: dict) -> _Tree:
    return _Tree(
        d["left_children"],
        d["right_children"],
        d.get("default_left", [0] * len(d["left_children"])),
        d["split_indices"],
        d["split_conditions"],
    )


def _tree_from_dump(node: dict) -> _Tree:
    """Nested get_dump(dump_format="json") tree → flat arrays.  Node ids
    in the dump are already the flat positions xgboost assigned."""
    flat: Dict[int, dict] = {}

    def walk(nd: dict) -> None:
        flat[int(nd["nodeid"])] = nd
        for child in nd.get("children", []):
            walk(child)

    walk(node)
    size = max(flat) + 1
    left = [-1] * size
    right = [-1] * size
    default_left = [0] * size
    split_index = [0] * size
    split_cond = [0.0] * size
    for i, nd in flat.items():
        if "leaf" in nd:
            split_cond[i] = float(nd["leaf"])
            continue
        left[i] = int(nd["yes"])
        right[i] = int(nd["no"])
        default_left[i] = int(int(nd.get("missing", nd["yes"])) == int(nd["yes"]))
        # dump "split" is the feature NAME — xgboost defaults to f<idx>
        feat = nd["split"]
        split_index[i] = int(feat[1:]) if isinstance(feat, str) else int(feat)
        split_cond[i] = float(nd["split_condition"])
    return _Tree(left, right, default_left, split_index, split_cond)


class XGBoostJsonModel:
    """Gradient-boosted tree ensemble with numpy inference.

    ``classes`` mirrors sklearn's ``classifier.classes_`` (the reference
    indexes it by name, law_classifier.py:30-41); defaults to
    ``["0", "1", ...]`` when the artifact carries no class names.
    """

    def __init__(
        self,
        trees: List[_Tree],
        tree_info: List[int],
        num_class: int,
        base_margin: float,
        objective: str,
        classes: Optional[List[str]] = None,
        num_feature: Optional[int] = None,
        feature_names: Optional[List[str]] = None,
    ) -> None:
        self.trees = trees
        self.tree_info = list(tree_info)
        self.num_class = max(int(num_class), 1)
        self.base_margin = float(base_margin)
        self.objective = objective
        self.classes = list(classes) if classes else [str(i) for i in range(self._out_dim())]
        self.num_feature = num_feature
        self.feature_names = feature_names

    def _out_dim(self) -> int:
        return self.num_class if self.num_class > 1 else (2 if self.objective.startswith("binary:") else 1)

    def predict_margin(self, X: np.ndarray) -> np.ndarray:
        """(n, num_class) raw margins (num_class=1 for binary/regression)."""
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 1:
            X = X[None, :]
        if self.num_feature is not None and X.shape[1] != self.num_feature:
            raise ValueError(
                f"model expects {self.num_feature} features, got {X.shape[1]}"
            )
        out = np.full((X.shape[0], self.num_class), self.base_margin, dtype=np.float64)
        for tree, group in zip(self.trees, self.tree_info):
            out[:, group] += tree.predict(X)
        return out

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        """(n, n_classes) probabilities, objective-aware (softprob softmax /
        binary sigmoid → [1-p, p] like sklearn)."""
        m = self.predict_margin(X)
        if self.num_class > 1:
            z = m - m.max(axis=1, keepdims=True)
            e = np.exp(z)
            return e / e.sum(axis=1, keepdims=True)
        if self.objective.startswith("binary:"):
            p = 1.0 / (1.0 + np.exp(-m[:, 0]))
            return np.column_stack([1.0 - p, p])
        return m  # regression: raw prediction

    def predict(self, X: np.ndarray) -> List[str]:
        """Class names (``classes_[argmax]``) for classification."""
        p = self.predict_proba(X)
        return [self.classes[int(k)] for k in p.argmax(axis=1)]


def _base_margin(base_score: float, objective: str) -> float:
    """The JSON stores base_score in the OUTPUT space; logistic objectives
    invert it to margin space (LogisticRegression::ProbToMargin), the
    softmax/regression default is identity (a constant shift is a no-op
    under softmax anyway)."""
    if objective in ("binary:logistic", "reg:logistic"):
        p = min(max(base_score, 1e-16), 1 - 1e-16)
        return math.log(p / (1.0 - p))
    return base_score


def _from_save_model(doc: dict, classes: Optional[List[str]]) -> XGBoostJsonModel:
    learner = doc["learner"]
    model = learner["gradient_booster"]["model"]
    lmp = learner.get("learner_model_param", {})
    objective = (learner.get("objective", {}) or {}).get("name", "multi:softprob")
    num_class = int(lmp.get("num_class", 0) or 0) or 1
    base_score = float(lmp.get("base_score", 0.5))
    num_feature = int(lmp["num_feature"]) if "num_feature" in lmp else None
    trees = [_tree_from_arrays(t) for t in model["trees"]]
    tree_info = [int(g) for g in model.get("tree_info", [0] * len(trees))]
    if classes is None:
        # XGBClassifier stashes its sklearn metadata as a JSON attribute;
        # versions that persist classes_ expose it here
        attr = (learner.get("attributes", {}) or {}).get("scikit_learn")
        if attr:
            try:
                classes = json.loads(attr).get("classes_")
            except (ValueError, AttributeError):
                classes = None
    return XGBoostJsonModel(
        trees,
        tree_info,
        num_class,
        _base_margin(base_score, objective),
        objective,
        classes=classes,
        num_feature=num_feature,
        feature_names=learner.get("feature_names") or None,
    )


def _from_dump(dump: list, classes: Optional[List[str]], num_class: int = 1,
               objective: str = "multi:softprob", base_score: float = 0.5) -> XGBoostJsonModel:
    trees = [_tree_from_dump(t) for t in dump]
    k = max(int(num_class), 1)
    tree_info = [i % k for i in range(len(trees))]  # round-robin, xgboost's layout
    return XGBoostJsonModel(
        trees, tree_info, k, _base_margin(base_score, objective), objective, classes=classes
    )


def load_xgboost_json(
    source, classes: Optional[List[str]] = None, **dump_kwargs
) -> Tuple[XGBoostJsonModel, dict]:
    """Load an XGBoost model from any of the public shapes.

    ``source`` may be: the reference's zip artifact path/bytes
    (classifier.json + parameters.json — the huggingface
    dedoc/line_type_classifiers layout), a path to a save_model JSON, an
    already-parsed dict, or a get_dump() list.  Returns
    ``(model, parameters)`` where parameters is the artifact's
    parameters.json content ({} when absent).  ``classes`` overrides the
    class-name list; otherwise parameters.json's "classes" key, then the
    sklearn attribute inside the model JSON, then string indices.
    """
    params: dict = {}
    doc = source
    if isinstance(source, (str, bytes)) and not (
        isinstance(source, str) and source.lstrip().startswith(("{", "["))
    ):
        payload: Optional[bytes] = None
        if isinstance(source, bytes):
            payload = source
        else:
            with open(source, "rb") as f:
                payload = f.read()
        if payload[:4] == b"PK\x03\x04":
            with BoundedZip(payload) as zf:
                names = zf.namelist()
                clf = next(n for n in names if n.endswith("classifier.json"))
                doc = json.loads(zf.read(clf).decode("utf-8"))
                pname = next((n for n in names if n.endswith("parameters.json")), None)
                if pname:
                    params = json.loads(zf.read(pname).decode("utf-8"))
        else:
            doc = json.loads(payload.decode("utf-8"))
    elif isinstance(source, str):
        doc = json.loads(source)
    if classes is None and isinstance(params.get("classes"), list):
        classes = params["classes"]
    if isinstance(doc, list):
        return _from_dump(doc, classes, **dump_kwargs), params
    if isinstance(doc, dict) and "learner" in doc:
        return _from_save_model(doc, classes), params
    raise ValueError("unrecognized XGBoost JSON shape (want save_model dict, dump list, or artifact zip)")
