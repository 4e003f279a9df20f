"""numpy RandomForest: determinism, separability, rule extraction coverage."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.matcher.features import Feature
from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
    RandomForestMatcher,
)
from entityblockingbysimilarityjoins_spark.matcher.rules_extract import (
    extract_blocking_rules,
)


def _toy(n=400, seed=1):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 2, n)
    # feature 0: separable sim; feature 1: noise; feature 2: lev_dist-like
    f0 = np.where(y == 1, rng.uniform(0.7, 1.0, n), rng.uniform(0.0, 0.5, n))
    f1 = rng.uniform(0, 1, n)
    f2 = np.where(y == 1, rng.uniform(0, 2, n), rng.uniform(4, 9, n))
    X = np.column_stack([f0, f1, f2])
    return X, y


def test_rf_learns_separable():
    X, y = _toy()
    m = RandomForestMatcher(n_trees=8, max_depth=6, random_state=0).fit(X, y)
    assert (m.predict(X) == y).mean() >= 0.99


def test_rf_deterministic():
    X, y = _toy()
    p1 = RandomForestMatcher(random_state=3).fit(X, y).predict_proba(X)
    p2 = RandomForestMatcher(random_state=3).fit(X, y).predict_proba(X)
    assert np.array_equal(p1, p2)


def test_rf_independent_of_row_order():
    """A permuted copy of the training rows fits the same trees: the
    training frame's row order depends on its plan, not on its content."""
    X, y = _toy()
    X[::9, 1] = np.nan  # imputed to 0.0 before the rows are ordered
    perm = np.random.default_rng(5).permutation(len(y))
    a = RandomForestMatcher(random_state=3).fit(X, y)
    b = RandomForestMatcher(random_state=3).fit(X[perm], y[perm])
    for ta, tb in zip(a.trees, b.trees, strict=True):
        for f in ("feature", "threshold", "children_left", "children_right", "value"):
            assert np.array_equal(getattr(ta, f), getattr(tb, f)), f


def test_rf_nan_imputed():
    X, y = _toy()
    Xn = X.copy()
    Xn[::7, 0] = np.nan
    m = RandomForestMatcher(random_state=0).fit(Xn, y)
    assert np.isfinite(m.predict_proba(Xn)).all()


def test_rule_extraction_covers_paths():
    X, y = _toy()
    feats = [
        Feature("title", "jac", "dlm"),
        Feature("title", "cos", "qgm", 3),
        Feature("title", "lev_dist"),
    ]
    m = RandomForestMatcher(n_trees=6, max_depth=4, random_state=0).fit(
        X, y, feature_names=[f.name for f in feats])
    rules, uncovered = extract_blocking_rules(m, feats)
    assert rules, "expected at least one rule"
    assert uncovered == 0
    # every rule must be joinable & sensibly typed
    for r in rules:
        assert r.sim in ("jac", "cos", "dice", "overlap", "lev", "exm", "anm")
        if r.sim == "lev":
            assert r.sign == "-"


def test_rule_extraction_loosest_threshold_wins():
    # forest of 2 identical stumps with different thresholds on one feature
    from entityblockingbysimilarityjoins_spark.matcher.random_forest import Tree

    def stump(thr):
        return Tree(
            feature=np.array([0, -1, -1]),
            threshold=np.array([thr, 0.0, 0.0]),
            children_left=np.array([1, -1, -1]),
            children_right=np.array([2, -1, -1]),
            value=np.array([[5.0, 5.0], [5.0, 0.0], [0.0, 5.0]]),
        )

    feats = [Feature("title", "jac", "dlm")]
    m = RandomForestMatcher(feature_names=[feats[0].name])
    m.trees = [stump(0.8), stump(0.6)]
    rules, unc = extract_blocking_rules(m, feats)
    assert unc == 0
    assert len(rules) == 1 and rules[0].threshold == pytest.approx(0.6)


def test_active_learning_trainer():
    """M1 active loop: seeded, deterministic, learns the separable concept."""
    import numpy as np

    from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
        train_model_active,
    )

    rng = np.random.default_rng(0)
    X = rng.random((1500, 6))
    y = ((X[:, 0] + 2 * X[:, 3]) > 1.5).astype(np.int64)
    m1 = train_model_active(X, y, feature_names=[f"f{i}" for i in range(6)],
                            n_trees=8, sample_size=60, seed=1)
    m2 = train_model_active(X, y, feature_names=[f"f{i}" for i in range(6)],
                            n_trees=8, sample_size=60, seed=1)
    acc = (m1.predict(X) == y).mean()
    assert acc >= 0.9
    # determinism: identical tree arrays
    assert all(
        np.array_equal(a.threshold, b.threshold)
        and np.array_equal(a.feature, b.feature)
        for a, b in zip(m1.trees, m2.trees)
    )


def _scoring_frame(spark, X: np.ndarray, null_rows: list[int]):
    """Spark frame of X with NULL (not NaN) at ``null_rows`` of column 0."""
    rows = [tuple(None if (j == 0 and i in null_rows) else float(v)
                  for j, v in enumerate(r)) for i, r in enumerate(X)]
    return spark.createDataFrame(
        rows, ", ".join(f"f{j} double" for j in range(X.shape[1])))


@pytest.mark.parametrize("n_trees,max_depth", [(1, 8), (9, 8), (13, 8), (50, 8),
                                               (5, 30)])
def test_native_forest_matches_numpy_bit_for_bit(spark, n_trees, max_depth):
    """apply_matcher's native Column == numpy predict_proba, bit for bit:
    NaN, NULL and ±0.0 features, features exactly at a split threshold, and
    a deep noisy forest (the tune_matcher grid's max_depth=30 end). The
    plan runs no Python: no ArrowEvalPython node."""
    from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
        apply_matcher,
    )

    rng = np.random.default_rng(n_trees)
    X, y = _toy(seed=n_trees)
    if max_depth > 8:  # noise labels: the trees grow deep
        X, y = rng.random((1200, 3)), rng.integers(0, 2, 1200)
    X[rng.random(X.shape) < 0.05] = np.nan
    names = ["f0", "f1", "f2"]
    m = RandomForestMatcher(n_trees=n_trees, max_depth=max_depth,
                            min_samples_leaf=1, random_state=n_trees
                            ).fit(X, y, feature_names=names)
    if max_depth > 8:
        assert max(len(t.feature) for t in m.trees) > 200
    thr = [(int(f), float(t)) for tree in m.trees
           for f, t in zip(tree.feature, tree.threshold) if f >= 0]
    Xs = rng.random((200, 3)) * np.array([1.0, 1.0, 9.0])
    for i, (f, t) in enumerate(thr[:100]):
        Xs[i, f] = t                     # exactly at a split
    Xs[100:110] = np.nan
    Xs[110:120, 1] = -0.0
    Xs[120:130, 2] = 0.0
    Xs[130:140, 0] = np.nan
    null_rows = list(range(140, 150))
    df = _scoring_frame(spark, Xs, null_rows).withColumn(
        "rid", F.monotonically_increasing_id())
    scored = apply_matcher(df, m)
    got = scored.orderBy("rid").select("match_proba", "match").toPandas()
    Xn = Xs.copy()
    Xn[null_rows, 0] = np.nan
    want = m.predict_proba(Xn)
    assert np.array_equal(got["match_proba"].to_numpy(), want)
    assert np.array_equal(got["match"].to_numpy(), want >= 0.5)
    assert scored.columns == df.columns + ["match_proba", "match"]
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
