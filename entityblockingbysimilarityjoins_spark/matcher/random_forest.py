"""Pure-numpy random-forest matcher (SURVEY §2.9, M1/M2).

The reference trains a sklearn RandomForest on the labeled sample and predicts
chunk-parallel with one OS process per chunk
(``simjoin_entitymatching/matcher/random_forest.py:371-475,618-780``). The
sandbox has no sklearn, so this is a small deterministic CART forest in numpy
with the sklearn tree array layout (children_left / children_right / feature /
threshold / value) — which is exactly what the blocking-rule extraction walks
(reference graph.py:115-139 reads the same arrays).

Spark mapping: training is driver-side (the labeled sample is small by
construction); prediction compiles the fitted arrays into one native Column
(each tree a nested CASE over double literals, the trees summed in
``np.mean``'s order), so scoring runs inside whole-stage codegen with no
Python worker — replacing the reference's multiprocessing fan-out with
executor parallelism.

Conventions preserved: missing features imputed to 0.0 at train AND predict
(random_forest.py:430,660); class_weight='balanced' emulated via sample
weights; random_state seeded for reproducibility.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TypeVar

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LEAF = -1

Expr = TypeVar("Expr")


def _leaf_proba(value: np.ndarray) -> float:
    """P(match) of a leaf, as ``Tree.predict_proba`` computes it."""
    tot = float(value[0]) + float(value[1])
    return float(value[1]) / tot if tot > 0 else 0.5


@dataclass
class Tree:
    feature: np.ndarray        # int, _LEAF at leaves
    threshold: np.ndarray      # double
    children_left: np.ndarray  # int
    children_right: np.ndarray # int
    value: np.ndarray          # (n_nodes, 2) weighted class counts

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        node = np.zeros(len(X), dtype=np.int64)
        active = self.feature[node] != _LEAF
        while active.any():
            idx = np.flatnonzero(active)
            f = self.feature[node[idx]]
            thr = self.threshold[node[idx]]
            go_left = X[idx, f] <= thr
            node[idx] = np.where(go_left, self.children_left[node[idx]],
                                 self.children_right[node[idx]])
            active = self.feature[node] != _LEAF
        v = self.value[node]
        tot = v.sum(axis=1, keepdims=True)
        with np.errstate(invalid="ignore", divide="ignore"):
            p = np.where(tot > 0, v / np.maximum(tot, 1e-300), 0.5)
        return p[:, 1]

    def fold(self, leaf: Callable[[float], Expr],
             split: Callable[[int, float, Expr, Expr], Expr]) -> Expr:
        """The tree as one expression: ``leaf(p)`` at each leaf,
        ``split(feature, threshold, left, right)`` at each inner node, where
        a row goes left iff ``x[feature] <= threshold``. The Spark Column
        and the DuckDB SQL text are both built by this one walk."""

        def rec(node: int) -> Expr:
            if self.feature[node] == _LEAF:
                return leaf(_leaf_proba(self.value[node]))
            return split(int(self.feature[node]), float(self.threshold[node]),
                         rec(int(self.children_left[node])),
                         rec(int(self.children_right[node])))

        return rec(0)


def _gini_best_split(X: np.ndarray, y: np.ndarray, w: np.ndarray,
                     feat_ids: np.ndarray, min_leaf: int):
    """Best (feature, threshold) by weighted gini; deterministic tie-break."""
    best = (None, None, np.inf)
    for f in feat_ids:
        order = np.argsort(X[:, f], kind="stable")
        xs, ys, ws = X[order, f], y[order], w[order]
        cw1 = np.cumsum(ws * ys)
        cw = np.cumsum(ws)
        tot_w, tot_w1 = cw[-1], cw1[-1]
        # candidate split positions: between distinct consecutive values
        diff = np.flatnonzero(xs[1:] > xs[:-1]) + 1
        if len(diff) == 0:
            continue
        # enforce min_samples_leaf on both sides
        diff = diff[(diff >= min_leaf) & (diff <= len(xs) - min_leaf)]
        if len(diff) == 0:
            continue
        lw, lw1 = cw[diff - 1], cw1[diff - 1]
        rw, rw1 = tot_w - lw, tot_w1 - lw1
        with np.errstate(invalid="ignore", divide="ignore"):
            gl = 1.0 - ((lw1 / lw) ** 2 + ((lw - lw1) / lw) ** 2)
            gr = 1.0 - ((rw1 / rw) ** 2 + ((rw - rw1) / rw) ** 2)
        score = (lw * gl + rw * gr) / tot_w
        i = int(np.argmin(score))
        if score[i] < best[2] - 1e-15:
            thr = (xs[diff[i] - 1] + xs[diff[i]]) / 2.0
            best = (int(f), float(thr), float(score[i]))
    return best


def _build_tree(X, y, w, rng: np.random.Generator, max_depth: int,
                min_leaf: int, max_features: int) -> Tree:
    feature, threshold, left, right, value = [], [], [], [], []

    def add_node():
        feature.append(_LEAF)
        threshold.append(0.0)
        left.append(_LEAF)
        right.append(_LEAF)
        value.append([0.0, 0.0])
        return len(feature) - 1

    def build(idx: np.ndarray, depth: int) -> int:
        node = add_node()
        yw1 = float(w[idx][y[idx] == 1].sum())
        yw0 = float(w[idx][y[idx] == 0].sum())
        value[node] = [yw0, yw1]
        if depth >= max_depth or len(idx) < 2 * min_leaf or yw0 == 0.0 or yw1 == 0.0:
            return node
        feat_ids = np.sort(rng.choice(X.shape[1], size=min(max_features, X.shape[1]),
                                      replace=False))
        f, thr, _ = _gini_best_split(X[idx], y[idx], w[idx], feat_ids, min_leaf)
        if f is None:
            return node
        go_left = X[idx, f] <= thr
        if go_left.all() or (~go_left).all():
            return node
        feature[node] = f
        threshold[node] = thr
        left[node] = build(idx[go_left], depth + 1)
        right[node] = build(idx[~go_left], depth + 1)
        return node

    build(np.arange(len(X)), 0)
    return Tree(np.array(feature), np.array(threshold), np.array(left),
                np.array(right), np.array(value))


@dataclass
class RandomForestMatcher:
    n_trees: int = 10
    max_depth: int = 8
    min_samples_leaf: int = 2
    max_features: str | int = "sqrt"
    random_state: int = 0
    feature_names: list[str] = field(default_factory=list)
    trees: list[Tree] = field(default_factory=list)

    def fit(self, X: np.ndarray, y: np.ndarray,
            feature_names: list[str] | None = None) -> "RandomForestMatcher":
        X = np.nan_to_num(np.asarray(X, dtype=np.float64), nan=0.0)  # impute 0.0
        y = np.asarray(y, dtype=np.int64)
        # canonical row order (by y, then the features): the bootstrap draws
        # row indices, so the forest would otherwise depend on the order in
        # which the training frame's plan happened to emit its rows
        order = np.lexsort(np.column_stack([X, y]).T)
        X, y = X[order], y[order]
        if feature_names is not None:
            self.feature_names = list(feature_names)
        # class_weight='balanced'
        n, n1 = len(y), max(int(y.sum()), 1)
        n0 = max(n - n1, 1)
        w = np.where(y == 1, n / (2.0 * n1), n / (2.0 * n0))
        k = (max(1, int(np.sqrt(X.shape[1]))) if self.max_features == "sqrt"
             else int(self.max_features))
        rng = np.random.default_rng(self.random_state)
        self.trees = []
        for _ in range(self.n_trees):
            boot = rng.integers(0, len(X), size=len(X))
            self.trees.append(
                _build_tree(X[boot], y[boot], w[boot], rng, self.max_depth,
                            self.min_samples_leaf, k)
            )
        return self

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        X = np.nan_to_num(np.asarray(X, dtype=np.float64), nan=0.0)
        return np.mean([t.predict_proba(X) for t in self.trees], axis=0)

    def predict(self, X: np.ndarray, threshold: float = 0.5) -> np.ndarray:
        return (self.predict_proba(X) >= threshold).astype(np.int64)


#: reference GridSearchCV grid (random_forest.py:441-447); min_samples_split
#: maps onto this forest's 2*min_samples_leaf split gate
DEFAULT_PARAM_GRID = {
    "max_depth": [None, 10, 20, 30],
    "min_samples_split": [2, 5, 10],
    "min_samples_leaf": [1, 2, 4],
}


def tune_matcher(
    X: np.ndarray,
    y: np.ndarray,
    feature_names: list[str] | None = None,
    param_grid: dict | None = None,
    cv: int = 5,
    n_trees: int = 10,
    random_state: int = 0,
) -> RandomForestMatcher:
    """M1 tuning: k-fold cross-validated grid search (reference
    ``random_forest.py:441-459``, GridSearchCV cv=5, accuracy scoring),
    driver-side — the labeled sample is small by construction. Deterministic:
    seeded fold assignment, ties broken by grid order. Returns the
    best-params matcher refit on the full sample."""
    import itertools

    grid = param_grid or DEFAULT_PARAM_GRID
    X = np.nan_to_num(np.asarray(X, dtype=np.float64), nan=0.0)
    y = np.asarray(y, dtype=np.int64)
    rng = np.random.default_rng(random_state)
    fold = rng.permutation(len(y)) % cv

    keys = list(grid)
    best_params, best_acc = None, -1.0
    for combo in itertools.product(*[grid[k] for k in keys]):
        params = dict(zip(keys, combo))
        depth = params.get("max_depth") or 64
        leaf = max(int(params.get("min_samples_leaf", 1)),
                   int(params.get("min_samples_split", 2)) // 2)
        accs = []
        for f in range(cv):
            tr, te = fold != f, fold == f
            if y[tr].sum() in (0, tr.sum()) or te.sum() == 0:
                continue
            m = RandomForestMatcher(
                n_trees=n_trees, max_depth=depth, min_samples_leaf=leaf,
                random_state=random_state,
            ).fit(X[tr], y[tr])
            accs.append(float((m.predict(X[te]) == y[te]).mean()))
        acc = float(np.mean(accs)) if accs else -1.0
        if acc > best_acc + 1e-12:
            best_acc, best_params = acc, (depth, leaf)
    depth, leaf = best_params if best_params else (64, 1)
    return RandomForestMatcher(
        n_trees=n_trees, max_depth=depth, min_samples_leaf=leaf,
        random_state=random_state,
    ).fit(X, y, feature_names)


def _binary_entropy(p: np.ndarray) -> np.ndarray:
    """-(p0 log2 p0 + p1 log2 p1) with 0·log 0 = 0 (ref random_forest.py:46-49)."""
    p = np.clip(np.asarray(p, dtype=np.float64), 0.0, 1.0)
    q = 1.0 - p
    with np.errstate(divide="ignore", invalid="ignore"):
        lp = np.where(p > 0, np.log2(np.maximum(p, 1e-300)), 0.0)
        lq = np.where(q > 0, np.log2(np.maximum(q, 1e-300)), 0.0)
    return -(q * lq + p * lp)


def train_model_active(
    X: np.ndarray,
    y: np.ndarray,
    feature_names: list[str] | None = None,
    n_trees: int = 10,
    sample_size: int = 50,
    seed: int = 0,
    max_iteration: int = 30,
    window_size: int = 5,
    epsilon: float = 0.01,
    n_converged: int = 20,
    n_high: int = 3,
    n_degrade: int = 15,
) -> RandomForestMatcher:
    """M1 active-learning trainer — the ``train_model_active`` loop of the
    reference (``simjoin_entitymatching/matcher/random_forest.py:478-616``),
    deterministic (all draws seeded):

    - hold out a 3% monitor set; seed the labeled pool with a balanced
      half/half draw of ``sample_size``;
    - each epoch: fit the forest on H, rank the pool by prediction entropy,
      entropy-weighted-sample 20 of the top-100 into H;
    - stop on smoothed monitor confidence (1 - entropy): converged window /
      three near-absolute epochs / degrading max between two windows —
      the reference's three exit rules with identical constants.

    Driver-side like the other trainers (the labeled sample is small by
    construction); the fitted model compiles into ``predict_column``."""
    X = np.nan_to_num(np.asarray(X, dtype=np.float64), nan=0.0)
    y = np.asarray(y, dtype=np.int64)
    rng = np.random.default_rng(seed)
    n = len(y)
    monitor = rng.choice(n, size=max(1, int(n * 0.03)), replace=False)
    rest = np.setdiff1d(np.arange(n), monitor)
    pos = rest[y[rest] == 1]
    neg = rest[y[rest] == 0]
    half = int(sample_size / 2.0)
    seed_idx = np.concatenate([
        rng.choice(pos, size=min(half, len(pos)), replace=False),
        rng.choice(neg, size=min(half, len(neg)), replace=False),
    ])
    H = list(seed_idx)
    L = list(np.setdiff1d(rest, seed_idx))
    model = RandomForestMatcher(n_trees=n_trees, max_depth=64,
                                random_state=seed,
                                feature_names=list(feature_names or []))
    confidence_set = np.zeros(max_iteration, dtype=np.float64)
    lw = (window_size - 1) // 2
    rw = window_size - 1 - lw
    for turn in range(max_iteration):
        model.fit(X[H], y[H], feature_names)
        ent = _binary_entropy(model.predict_proba(X[L])) if L else np.array([])
        if len(L) < 100:
            break
        top = np.argsort(-ent, kind="stable")[:100]
        w = ent[top]
        if w.sum() > 0:
            pick = rng.choice(top, size=min(20, len(top)), replace=False,
                              p=w / w.sum())
        else:
            pick = top[:20]
        picked = sorted(pick, reverse=True)
        for i in picked:
            H.append(L[i])
        for i in picked:
            del L[i]
        conf = 1.0 - _binary_entropy(model.predict_proba(X[monitor]))
        confidence_set[turn] = conf.sum() / max(len(monitor), 1)
        if turn < window_size - 1:
            continue
        for si in range(lw, turn - rw + 1):
            confidence_set[turn] = (
                confidence_set[si - lw: si + rw + 1].sum() / window_size)
        if turn >= n_converged - 1:
            ok = all(
                abs(confidence_set[i] - confidence_set[i - 1]) <= epsilon
                or abs(confidence_set[i] - confidence_set[i + 1]) <= epsilon
                for i in range(turn + 2 - n_converged, turn))
            if ok:
                break
        if turn >= n_high - 1 and all(
                confidence_set[turn - k] >= 1 - epsilon for k in range(n_high)):
            break
        if turn >= n_degrade * 2 - 1:
            w1 = confidence_set[turn + 1 - n_degrade: turn + 1]
            w2 = confidence_set[turn + 1 - 2 * n_degrade: turn + 1 - n_degrade]
            if w2.max() - w1.max() >= epsilon:
                break
    return model


def predict_column(model: RandomForestMatcher, feature_cols: list[str]) -> Column:
    """Native Column: the forest's match probability per candidate row.

    Each tree is a nested ``CASE WHEN x <= thr`` over double literals; the
    trees are summed left to right and divided by ``n_trees``, the order of
    ``np.mean`` over axis 0, so the value is bit-identical to
    ``predict_proba``. The columns are compared as they are: NULL or NaN
    must already be imputed to 0.0 (``apply_matcher`` does it once, in a
    projection of its own, so the generated code compares plain doubles)."""
    cols = [F.col(c) for c in feature_cols]
    total = None
    for tree in model.trees:
        t = tree.fold(
            F.lit,
            lambda f, thr, left, right: F.when(cols[f] <= F.lit(thr), left)
            .otherwise(right))
        total = t if total is None else total + t
    return total / F.lit(float(len(model.trees)))


def apply_matcher(
    feature_df: DataFrame,
    model: RandomForestMatcher,
    threshold: float = 0.5,
    proba_col: str = "match_proba",
    label_col: str = "match",
) -> DataFrame:
    """M2: score every candidate pair; `match` boolean splits pos/neg.

    The features are imputed (NULL and NaN -> 0.0, as ``np.nan_to_num`` in
    ``predict_proba``) once per row into ``__f<i>`` columns; the optimizer
    keeps that projection apart from the forest's because each imputed
    column is referenced by many tree nodes. The probability and the label
    share one forest Column in one projection: subexpression elimination
    evaluates it once, in a generated method of its own, which keeps the
    stage's methods under HotSpot's 8,000-byte JIT limit.

    Pitfall: do not filter the returned frame on ``label_col`` directly.
    Catalyst pushes the predicate below the projections, substituting the
    forest (and through the imputation, every feature expression) into it
    once per tree node, and into the candidate join's condition, where the
    generated join method exceeds what Janino compiles and the stage falls
    back. Persist the scored pairs first and filter the cached frame, as
    ``interchangeable.rematch_negatives`` does."""
    imputed = [f"__f{i}" for i in range(len(model.feature_names))]
    scored = feature_df.withColumns({
        c: F.nanvl(F.coalesce(F.col(n).cast("double"), F.lit(0.0)), F.lit(0.0))
        for c, n in zip(imputed, model.feature_names)
    })
    proba = predict_column(model, imputed)
    return scored.withColumns({proba_col: proba,
                               label_col: proba >= threshold}).drop(*imputed)


def matcher_metrics(predicted: DataFrame, gold: DataFrame) -> dict:
    """M5: recall / precision / F1 of positive predictions vs gold pairs."""
    pos = predicted.filter(F.col("match")).select("id1", "id2")
    tp = pos.join(gold.select("id1", "id2"), ["id1", "id2"]).count()
    n_pos = pos.count()
    n_gold = gold.count()
    precision = tp / n_pos if n_pos else 0.0
    recall = tp / n_gold if n_gold else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "predicted": n_pos, "gold": n_gold,
            "precision": precision, "recall": recall, "f1": f1}
