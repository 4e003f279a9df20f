"""Random-forest model persistence + ANSI-SQL export (M2 evidence path).

The fitted forest is plain numpy arrays in the sklearn tree layout
(children_left / children_right / feature / threshold / value — see
``random_forest.py``), so it serializes losslessly to JSON and, more
importantly, **exports to ANSI SQL**: each tree becomes a nested CASE
expression over the feature columns (NULL features imputed to 0.0 as the
native predict Column imputes them, reference
``simjoin_entitymatching/matcher/random_forest.py:660``), leaf class
probabilities are constant literals computed at export time, and the forest
probability is the running left-to-right mean. The SQL text and the Spark
Column come from the same walk, ``Tree.fold``. That lets an independent SQL
engine (the DuckDB correctness oracle) reproduce ``apply_matcher`` output
bit-for-bit — the cross-engine evidence that batch predict (M2,
reference ``random_forest.py:618-780``) is faithful.

Float determinism: thresholds and leaf probabilities are emitted with
``repr()`` (shortest round-trip decimal), which both Python and DuckDB parse
back to the identical IEEE-754 double.
"""

from __future__ import annotations

import json
import os

import numpy as np

from .random_forest import RandomForestMatcher, Tree


def packaged_model_path(name: str = "frozen_rf.json") -> str:
    """Path of a model artifact shipped inside the package's data/ dir."""
    return os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", name)


def model_to_dict(model: RandomForestMatcher) -> dict:
    return {
        "n_trees": model.n_trees,
        "max_depth": model.max_depth,
        "min_samples_leaf": model.min_samples_leaf,
        "random_state": model.random_state,
        "feature_names": list(model.feature_names),
        "trees": [
            {
                "feature": t.feature.tolist(),
                "threshold": t.threshold.tolist(),
                "children_left": t.children_left.tolist(),
                "children_right": t.children_right.tolist(),
                "value": t.value.tolist(),
            }
            for t in model.trees
        ],
    }


def model_from_dict(d: dict) -> RandomForestMatcher:
    m = RandomForestMatcher(
        n_trees=d["n_trees"],
        max_depth=d["max_depth"],
        min_samples_leaf=d["min_samples_leaf"],
        random_state=d["random_state"],
        feature_names=list(d["feature_names"]),
    )
    m.trees = [
        Tree(
            np.array(t["feature"], dtype=np.int64),
            np.array(t["threshold"], dtype=np.float64),
            np.array(t["children_left"], dtype=np.int64),
            np.array(t["children_right"], dtype=np.int64),
            np.array(t["value"], dtype=np.float64),
        )
        for t in d["trees"]
    ]
    return m


def save_model(model: RandomForestMatcher, path: str) -> None:
    with open(path, "w") as f:
        json.dump(model_to_dict(model), f)


def load_model(path: str) -> RandomForestMatcher:
    with open(path) as f:
        return model_from_dict(json.load(f))


def tree_to_sql(tree: Tree, feature_exprs: list[str]) -> str:
    """One tree as a nested CASE expression returning the P(match) leaf value.

    Descent rule matches ``Tree.predict_proba``: go left iff
    ``coalesce(feature, 0.0) <= threshold`` (the NaN->0.0 imputation of the
    numpy path becomes a COALESCE)."""
    return tree.fold(
        repr,
        lambda f, thr, left, right: (
            f"(CASE WHEN coalesce({feature_exprs[f]}, 0.0) <= {thr!r} "
            f"THEN {left} ELSE {right} END)"))


def forest_proba_sql(model: RandomForestMatcher,
                     feature_exprs: list[str] | None = None) -> str:
    """The forest's P(match) as one SQL scalar expression.

    Left-to-right sum over trees, divided by n_trees — same association order
    as a sequential mean over ``predict_proba`` outputs."""
    exprs = feature_exprs or model.feature_names
    parts = " + ".join(tree_to_sql(t, exprs) for t in model.trees)
    return f"(({parts}) / {len(model.trees)})"
