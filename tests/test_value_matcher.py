"""Value matcher: deterministic embeddings, cosine grouping vs numpy oracle,
value normalization, IC-expanded clustering (FIXTURES F9)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.value_matcher.embed import (
    _embed_numpy,
    cosine_sim,
    hashed_embedding,
)
from entityblockingbysimilarityjoins_spark.value_matcher.interchangeable import (
    cluster_pairs_ic,
    group_values,
    normalize_values,
    value_pairs_from_matches,
)


def test_embedding_deterministic_and_integer_counts(spark):
    df = spark.createDataFrame([("alpha beta",), ("alpha beta",), ("zzz",)], ["v"])
    rows = df.select(hashed_embedding("v").alias("e")).collect()
    assert rows[0]["e"] == rows[1]["e"]
    e = np.asarray(rows[0]["e"])
    # raw ±1 counts: integer-valued components, one count per 3-gram of ^v$
    assert np.all(e == np.round(e))
    assert np.abs(e).sum() <= len("^alpha beta$") - 2
    assert np.abs(e).sum() > 0
    # matches the driver-side numpy reference implementation exactly
    import pandas as pd
    ref = _embed_numpy(pd.Series(["alpha beta"]), 64, 0)[0]
    assert np.array_equal(e, ref)


def test_cosine_sim_column(spark):
    df = spark.createDataFrame([([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
                               ["a", "b"])
    vals = [r[0] for r in df.select(cosine_sim(F.col("a"), F.col("b"))).collect()]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0)


def test_value_pairs_and_grouping(spark):
    records = spark.createDataFrame(
        [(0, "ultrabook pro 15"), (1, "ultrabook pro 15 inch"), (2, "ultrabook pro 15in"),
         (3, "mixer deluxe"), (4, "qqq zzz www")],
        ["rid", "name"],
    )
    matches = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], ["id1", "id2"])
    vp = value_pairs_from_matches(matches, records, "rid", "name")
    got = {(r["v1"], r["v2"]) for r in vp.collect()}
    assert len(got) == 3 and all(a < b for a, b in got)
    groups = group_values(vp, tau=0.7)
    g = {r["value"]: r["representative"] for r in groups.collect()}
    # the three near-identical names group together; the unrelated pair does not
    assert g.get("ultrabook pro 15 inch") == "ultrabook pro 15"
    assert g.get("ultrabook pro 15in") == "ultrabook pro 15"
    assert "mixer deluxe" not in g and "qqq zzz www" not in g


def test_normalize_values(spark):
    records = spark.createDataFrame([(0, "a v1"), (1, "a v2"), (2, "other")], ["rid", "name"])
    groups = spark.createDataFrame([("a v1", "a v1"), ("a v2", "a v1")],
                                   ["value", "representative"])
    out = {r["rid"]: r["name"] for r in
           normalize_values(records, "name", groups).collect()}
    assert out == {0: "a v1", 1: "a v1", 2: "other"}


def test_cluster_pairs_ic_expansion(spark):
    # records 0-1 matched; records 2,3 unmatched but share an IC value group
    records = spark.createDataFrame(
        [(0, "x"), (1, "y"), (2, "p v1"), (3, "p v2"), (4, "lonely")],
        ["rid", "name"],
    )
    matches = spark.createDataFrame([(0, 1)], ["id1", "id2"])
    groups = spark.createDataFrame([("p v1", "p v1"), ("p v2", "p v1")],
                                   ["value", "representative"])
    comp = cluster_pairs_ic(matches, records, "rid", {"name": groups})
    cl = {r["node"]: r["component"] for r in comp.collect()}
    assert cl["0"] == cl["1"]
    assert cl["2"] == cl["3"]
    assert cl["0"] != cl["2"]
    assert "4" not in cl  # no edges -> not clustered


def test_group_values_2hop_bounded_closure(spark):
    """V4: 2-hop mode stops after one shared neighbor (graph.h:69-71) —
    on a chain a-b-c-d, d's 2-hop reach is {b, c}, so its representative is
    b, while full CC labels everything a."""
    from entityblockingbysimilarityjoins_spark.value_matcher.interchangeable import (
        group_values,
    )

    # values engineered so consecutive pairs are similar (shared 3-grams)
    chain = ["grp alpha 1", "grp alpha 2", "grp alpha 3", "grp alpha 4"]
    vp = spark.createDataFrame(
        [(chain[0], chain[1]), (chain[1], chain[2]), (chain[2], chain[3])],
        ["v1", "v2"],
    )
    # tau=0 keeps exactly the given edges (all cosines > 0 for similar strings)
    cc = {r["value"]: r["representative"]
          for r in group_values(vp, tau=0.5, closure="cc").collect()}
    hop = {r["value"]: r["representative"]
           for r in group_values(vp, tau=0.5, closure="2hop").collect()}
    assert all(rep == chain[0] for rep in cc.values())
    assert hop[chain[0]] == chain[0]          # reaches b, c; min is itself
    assert hop[chain[1]] == chain[0]
    assert hop[chain[2]] == chain[0]          # 2-hop reaches a via b
    assert hop[chain[3]] == chain[1]          # reaches c, b only — NOT a


def test_resample_labeled_balances_classes(spark):
    from entityblockingbysimilarityjoins_spark.operators.sampler import (
        resample_labeled,
    )

    rows = [(i, i + 100, 1 if i < 4 else 0) for i in range(20)]
    df = spark.createDataFrame(rows, ["id1", "id2", "label"])

    over = resample_labeled(df, "label", mode="over", seed=3)
    oc = {r["label"]: r["n"] for r in
          over.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert oc == {0: 16, 1: 16}
    # oversampling only duplicates existing minority rows
    assert over.select("id1", "id2").distinct().count() == 20
    # deterministic across invocations
    assert sorted(map(tuple, over.collect())) == sorted(map(tuple, resample_labeled(
        df, "label", mode="over", seed=3).collect()))

    under = resample_labeled(df, "label", mode="under", seed=3)
    uc = {r["label"]: r["n"] for r in
          under.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert uc == {0: 4, 1: 4}
    # balanced input is a no-op
    bal = spark.createDataFrame([(1, 2, 0), (3, 4, 1)], ["id1", "id2", "label"])
    assert resample_labeled(bal, "label", mode="over").count() == 2


def test_seeded_pvdbow_groups_value_families(spark):
    """V1 PV-DBOW: token-family values embed near each other; the doc2vec
    grouping variant groups the paired near-identical values and keeps
    unrelated families apart."""
    import random

    from entityblockingbysimilarityjoins_spark.value_matcher.doc2vec import (
        group_values_doc2vec,
    )

    rng = random.Random(5)
    fams = [["ultrabook", "pro", "laptop", "15", "inch", "slim"],
            ["kitchen", "mixer", "deluxe", "500", "watt", "steel"]]
    vals = [[" ".join(rng.sample(f, rng.randint(3, 5))) for _ in range(25)]
            for f in fams]
    pairs = [(a, b) for fam in vals
             for a, b in zip(fam, fam[1:])] + [(vals[0][0], vals[1][0])]
    vp = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs if a != b], ["v1", "v2"])
    groups = group_values_doc2vec(vp, tau=0.6, seed=1)
    g = {r["value"]: r["representative"] for r in groups.collect()}
    reps0 = {g[v] for v in vals[0] if v in g}
    reps1 = {g[v] for v in vals[1] if v in g}
    # each family collapses to few representatives, and they do not merge
    assert reps0 and reps1 and reps0.isdisjoint(reps1)


def test_value_vocab_valve_refuses_oversized(spark, monkeypatch):
    """The driver-side doc2vec trainer probes-then-refuses vocabularies
    beyond MAX_VALUE_VOCAB instead of collecting them (guide §5)."""
    import pytest

    from entityblockingbysimilarityjoins_spark.value_matcher import doc2vec as d2v
    from entityblockingbysimilarityjoins_spark.value_matcher.doc2vec import (
        doc2vec_value_vectors,
    )

    values = spark.createDataFrame([(f"v{i}",) for i in range(12)], "value string")
    monkeypatch.setattr(d2v, "MAX_VALUE_VOCAB", 10)
    with pytest.raises(ValueError, match="MAX_VALUE_VOCAB"):
        doc2vec_value_vectors(values, "value", epochs=1)
    # under the cap it still trains
    small = spark.createDataFrame([(f"v{i}",) for i in range(5)], "value string")
    assert doc2vec_value_vectors(small, "value", epochs=1).count() == 5
