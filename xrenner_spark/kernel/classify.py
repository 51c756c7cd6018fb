"""Dependency-free coreference-classifier inference.

The reference scores anaphor-antecedent candidate pairs with pickled
sklearn estimators behind a thin adapter (reference
xrenner_classify.py:14-72): per-rule ``clf_name`` files are unpickled at
model-load time (xrenner_lex.py:526-563) and ``best_candidate`` replaces
the heuristic scores with ``classify_many`` probabilities
(xrenner_compatible.py:635-638).  This container ships no sklearn, and
unpickling arbitrary blobs is a poor fit for a Spark broadcast anyway,
so we define a **portable JSON model format** and evaluate it in pure
numpy:

``<clf_name>.json`` (e.g. ``pron.pkl.json`` next to the rule's
``pron.pkl`` name) ::

    {"format": "xrenner-portable-classifier-v1",
     "headers": [feature names in column order],
     "encoders": {header: {"kind": "binarizer"|"ordinal"|"scale", ...}},
     "estimator": {"type": "linear"|"random_forest"|
                           "gradient_boosting"|"mlp", ...}}

Estimator semantics mirror the reference adapter's three dispatch
branches (xrenner_classify.py:19-26, 63-72):

* ``linear``  — Ridge/Elastic/Logistic: the "decision" branch,
  ``p = sigmoid(X @ coef + intercept)``.
* ``random_forest`` / ``gradient_boosting`` — the "tuple" branch,
  ``predict_proba(...)[:, 1]``.
* ``mlp`` — the reference's fallback branch returns the full
  ``predict_proba`` matrix, which crashes ``best_candidate`` for binary
  MLPs (an (n,2) row compared with ``>``); we return column 1, the only
  usable reading.  Documented divergence.

Encoder semantics mirror classify_many (xrenner_classify.py:41-58):
categorical values absent from the training vocabulary encode as
``_unknown_``; a LabelBinarizer with exactly two classes emits ONE
column (sklearn's binary-case quirk), otherwise one column per class;
``scale`` is a StandardScaler ``(x - mean) / scale``; ``ordinal`` is the
class index.  ``scripts/export_sklearn_model.py`` converts real pickled
models to this format in environments that do have sklearn.

Parity caveat (honest): the reference cannot run its classifier path in
this sandbox either (sklearn absent => unpickling fails at model load),
so there is no reference-generated golden for classifier-mode chains.
Correctness here is carried by hand-computed numpy fixtures
(tests/test_classify.py) plus the Spark-compiled twin in
operators/ml_score.py, which must agree with this runtime bit-for-bit
on the raw decision score.
"""

from __future__ import annotations

import io
import json
import os
from typing import Dict, List, Sequence

import numpy as np

FORMAT_TAG = "xrenner-portable-classifier-v1"

UNKNOWN = "_unknown_"


def _sigmoid(z: np.ndarray) -> np.ndarray:
    # exp-form chosen to match the reference's decision branch verbatim
    # (xrenner_classify.py:68: np.exp(d) / (1 + np.exp(d)))
    return np.exp(z) / (1.0 + np.exp(z))


def _tree_leaf_indices(tree: dict, matrix: np.ndarray) -> np.ndarray:
    """Leaf node index per row for one sklearn-style tree (go left when
    x[feature] <= threshold), traversed level-synchronously over the
    whole matrix: the loop runs tree-depth times regardless of row
    count, so table-scale scoring through score_with_runtime stays
    numpy-bound rather than per-row Python."""
    feature = np.asarray(tree["feature"], dtype=np.int64)
    threshold = np.asarray(tree["threshold"], dtype=np.float64)
    left = np.asarray(tree["left"], dtype=np.int64)
    right = np.asarray(tree["right"], dtype=np.int64)
    idx = np.zeros(matrix.shape[0], dtype=np.int64)
    active = left[idx] != -1
    while active.any():
        node = idx[active]
        go_left = (matrix[active, feature[node]] <= threshold[node])
        idx[active] = np.where(go_left, left[node], right[node])
        active = left[idx] != -1
    return idx


class PortableClassifier:
    """Evaluate one portable-JSON coref classifier (see module docstring)."""

    def __init__(self, spec: dict, name: str = "<inline>"):
        if spec.get("format") != FORMAT_TAG:
            raise ValueError(
                "classifier %s: unsupported format %r (want %r)"
                % (name, spec.get("format"), FORMAT_TAG))
        self.name = name
        self.headers: List[str] = list(spec["headers"])
        self.encoders: Dict[str, dict] = dict(spec.get("encoders", {}))
        self.estimator: dict = spec["estimator"]
        est_type = self.estimator.get("type")
        if est_type not in ("linear", "random_forest", "gradient_boosting",
                           "mlp"):
            raise ValueError("classifier %s: unknown estimator type %r"
                             % (name, est_type))
        for header, enc in self.encoders.items():
            if enc.get("kind") not in ("binarizer", "ordinal", "scale"):
                raise ValueError(
                    "classifier %s: header %r has unknown encoder kind %r"
                    % (name, header, enc.get("kind")))
            if header not in self.headers:
                raise ValueError(
                    "classifier %s: encoder for %r but no such header"
                    % (name, header))

    # ------------------------------------------------------------------
    # loading
    # ------------------------------------------------------------------

    @classmethod
    def load(cls, path: str) -> "PortableClassifier":
        with io.open(path, encoding="utf8") as fh:
            return cls(json.load(fh), name=os.path.basename(path))

    # ------------------------------------------------------------------
    # encoding  (reference xrenner_classify.py:37-61)
    # ------------------------------------------------------------------

    def n_columns(self) -> int:
        n = 0
        for header in self.headers:
            enc = self.encoders.get(header)
            if enc is not None and enc["kind"] == "binarizer" \
                    and len(enc["classes"]) > 2:
                n += len(enc["classes"])
            else:
                n += 1
        return n

    def encode_rows(self, feature_dicts: Sequence[dict]) -> np.ndarray:
        """Feature dicts (from Markable.extract_features) -> float matrix,
        one row per candidate pair, columns in ``headers`` order with
        binarizer headers fanned out one column per class."""
        self._prepared
        rows = np.empty((len(feature_dicts), self.n_columns()), dtype=np.float64)
        for i, feats in enumerate(feature_dicts):
            col = 0
            for header in self.headers:
                enc = self.encoders.get(header)
                value = feats[header]
                if enc is None:  # untransformed numerical feature
                    rows[i, col] = float(value)
                    col += 1
                elif enc["kind"] == "scale":
                    rows[i, col] = (float(value) - enc["mean"]) / enc["scale"]
                    col += 1
                elif enc["kind"] == "ordinal":
                    value = str(value)
                    if value not in enc["_index"]:
                        value = UNKNOWN
                    if value not in enc["_index"]:
                        # sklearn ordinal encoders raise on labels outside
                        # the vocabulary; mirror that failure posture
                        raise ValueError(
                            "classifier %s: ordinal header %r saw OOV value "
                            "with no _unknown_ class" % (self.name, header))
                    rows[i, col] = enc["_index"][value]
                    col += 1
                else:  # binarizer
                    classes = enc["classes"]
                    value = str(value)
                    if value not in enc["_index"]:
                        value = UNKNOWN
                    if len(classes) == 2:
                        # sklearn LabelBinarizer binary quirk: single
                        # 0/1 column flagging classes[1]
                        rows[i, col] = 1.0 if value == classes[1] else 0.0
                        col += 1
                    else:
                        j = enc["_index"].get(value)
                        rows[i, col:col + len(classes)] = 0.0
                        if j is not None:
                            rows[i, col + j] = 1.0
                        col += len(classes)
        return rows

    @property
    def _prepared(self):
        # lazily build class->index maps once (also validates classes)
        for enc in self.encoders.values():
            if "classes" in enc and "_index" not in enc:
                enc["_index"] = {c: i for i, c in enumerate(enc["classes"])}
        return True

    # ------------------------------------------------------------------
    # inference  (reference xrenner_classify.py:63-72)
    # ------------------------------------------------------------------

    def decision_raw(self, matrix: np.ndarray) -> np.ndarray:
        """Pre-sigmoid raw score per row (linear / gbt) or the class-1
        probability itself (forest / mlp, which have no single raw
        margin).  The Spark-compiled twin reproduces exactly this."""
        est = self.estimator
        t = est["type"]
        if t == "linear":
            coef = np.asarray(est["coef"], dtype=np.float64)
            return matrix @ coef + est["intercept"]
        if t == "gradient_boosting":
            raw = np.full(matrix.shape[0], float(est["init_raw"]))
            lr = float(est["learning_rate"])
            for tree in est["trees"]:
                values = np.asarray([v[0] for v in tree["value"]],
                                    dtype=np.float64)
                raw += lr * values[_tree_leaf_indices(tree, matrix)]
            return raw
        if t == "random_forest":
            total = np.zeros(matrix.shape[0])
            for tree in est["trees"]:
                counts = np.asarray(tree["value"], dtype=np.float64)
                denom = counts[:, 0] + counts[:, 1]
                # internal nodes carry [0, 0] — only leaves are gathered,
                # so guard the division rather than warn on them
                probs = counts[:, 1] / np.where(denom > 0, denom, 1.0)
                total += probs[_tree_leaf_indices(tree, matrix)]
            return total / len(est["trees"])
        # mlp
        act = matrix
        for layer in est["layers"]:
            act = act @ np.asarray(layer["w"]) + np.asarray(layer["b"])
            kind = layer.get("act", "relu")
            if kind == "relu":
                act = np.maximum(act, 0.0)
            elif kind == "tanh":
                act = np.tanh(act)
            elif kind == "logistic":
                act = _sigmoid(act)
            elif kind != "identity":
                raise ValueError("mlp activation %r unsupported" % kind)
        if act.ndim == 2 and act.shape[1] == 2:  # softmax head
            act = act - act.max(axis=1, keepdims=True)
            e = np.exp(act)
            return e[:, 1] / e.sum(axis=1)
        return _sigmoid(act.reshape(-1))

    def predict_proba(self, matrix: np.ndarray) -> np.ndarray:
        t = self.estimator["type"]
        raw = self.decision_raw(matrix)
        if t in ("linear", "gradient_boosting"):
            return _sigmoid(raw)
        return raw  # forest / mlp already emit probabilities

    def classify_many(self, markable, candidates, candidate_set, lex, doc
                      ) -> np.ndarray:
        """Probability per candidate, vectorised over the whole set (the
        reference builds one matrix the same way, classify_many
        xrenner_classify.py:29-61; one batch per anaphor)."""
        self._prepared
        feats = [markable.extract_features(lex, doc, cand, candidate_set)
                 for cand in candidates]
        return self.predict_proba(self.encode_rows(feats))


def load_model_classifiers(model_file, rules, filters) -> Dict[str, "PortableClassifier"]:
    """Resolve every rule's clf_name to a portable JSON file
    (reference xrenner_lex.py:526-563 resolves to pickles; we look for
    ``<clf_name>.json`` through ``model_file``, the model's name -> path
    lookup over its overlay layers, and fail loudly when a
    classifier-mode rule has no portable model — same failure posture as
    depedit_lite's unsupported-construct gate)."""
    classifiers: Dict[str, PortableClassifier] = {}
    if not filters["use_classifiers"]:
        return classifiers
    suffix = filters["classifier_suffix"]
    for rule in rules:
        if rule.clf_name == "_default_":
            continue
        if suffix:
            # reference applies the suffix inside .pkl names
            rule.clf_name = rule.clf_name.replace(".pkl", suffix + ".pkl")
        if rule.clf_name in classifiers:
            continue
        path = model_file(rule.clf_name + ".json")
        if not os.path.isfile(path):
            raise IOError(
                "coref rule %d names classifier %r with use_classifiers=True "
                "but %s is missing (portable-JSON models only; pickles are "
                "not loadable here — convert with scripts/export_sklearn_model.py)"
                % (rule.rule_num, rule.clf_name, path))
        classifiers[rule.clf_name] = PortableClassifier.load(path)
    return classifiers
