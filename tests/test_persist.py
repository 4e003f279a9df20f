"""Model persistence + SQL export: JSON round-trip preserves predictions,
and the exported CASE-tree SQL reproduces predict_proba in DuckDB exactly."""

from __future__ import annotations

import numpy as np

from entityblockingbysimilarityjoins_spark.matcher.persist import (
    forest_proba_sql,
    model_from_dict,
    model_to_dict,
)
from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
    RandomForestMatcher,
)


def _toy_model():
    rng = np.random.default_rng(3)
    X = rng.random((200, 4))
    y = ((X[:, 0] + X[:, 2] > 1.0)).astype(np.int64)
    X[rng.random(X.shape) < 0.05] = np.nan  # exercise the 0.0 imputation
    return RandomForestMatcher(n_trees=5, max_depth=4, random_state=1).fit(
        X, y, feature_names=["f0", "f1", "f2", "f3"]), X


def test_json_round_trip_preserves_predictions():
    model, X = _toy_model()
    clone = model_from_dict(model_to_dict(model))
    assert clone.feature_names == model.feature_names
    assert np.array_equal(model.predict_proba(X), clone.predict_proba(X))


def test_forest_sql_matches_numpy_in_duckdb():
    import duckdb
    import pandas as pd

    model, X = _toy_model()
    expected = model.predict_proba(X)
    tbl = pd.DataFrame(X, columns=model.feature_names)
    con = duckdb.connect()
    con.register("feats", tbl)
    got = con.execute(
        f"SELECT {forest_proba_sql(model)} AS p FROM feats"
    ).df()["p"].to_numpy()
    # identical leaf constants + identical descent; only the tree-sum
    # association order can differ by an ulp
    assert np.allclose(got, expected, atol=1e-12)


def test_forest_oracle_sql_is_frozen():
    """The forest's DuckDB oracles are byte-identical to the text the
    Spark Column's shared tree walk replaced; the oracle SQL is frozen."""
    import hashlib

    import __spark_entry__ as E

    want = {
        "rf_predict": "47b000901224e4f0db6e6ed9b1518f9efb610d5020039307f2b21b033fe299f1",
        "pipeline_match_res": "532be38b82454853ecd2abf1d2f211973424224975717d296aa979f8219d2383",
        "rematch_res": "ec7f0445ef27d8aa467f8bb29ccda669e6fd9eacf0d6fc654e88cb56bd3af538",
    }
    sql = E.oracle_sql()
    got = {n: hashlib.sha256(sql[n].encode()).hexdigest() for n in want}
    assert got == want
