"""Set-similarity join vs brute-force all-pairs oracle (FIXTURES.md F6).

Direct analogue of the reference's C++ oracle (test/test_setjoin.cc:20-60):
compute every pairwise similarity naively in pandas, compare the full pair set.
"""

from __future__ import annotations

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_dlm
from entityblockingbysimilarityjoins_spark.operators.set_join import (
    set_similarity_rs_join,
    set_similarity_self_join,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
         "iota", "kappa", "mu", "nu", "xi", "pi", "rho", "sigma"]


def _corpus(seed: int, n: int):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.randint(0, 8)
        toks = rng.sample(VOCAB, k) if k else []
        rows.append((i, " ".join(toks)))
    # inject exact duplicates, empties, unicode, punctuation
    rows += [(n, rows[0][1]), (n + 1, ""), (n + 2, "héllo wörld"), (n + 3, "héllo wörld x!")]
    return rows


def _sets(rows):
    return {i: frozenset(s.split()) - {""} for i, s in rows}


def _sim(a: frozenset, b: frozenset, kind: str) -> float:
    if not a or not b:
        return 0.0
    o = len(a & b)
    if kind == "jac":
        return o / (len(a) + len(b) - o)
    if kind == "cos":
        return o / math.sqrt(len(a) * len(b))
    if kind == "dice":
        return 2 * o / (len(a) + len(b))
    raise ValueError(kind)


def _oracle_self(rows, kind, t):
    s = _sets(rows)
    return {
        (i, j)
        for i, j in itertools.combinations(sorted(s), 2)
        if _sim(s[i], s[j], kind) >= t
    }


@pytest.mark.parametrize("kind,t", [
    ("jac", 0.5), ("jac", 0.8), ("jac", 0.9),
    ("cos", 0.5), ("cos", 0.8),
    ("dice", 0.5), ("dice", 0.8),
])
def test_self_join_matches_bruteforce(spark, kind, t):
    rows = _corpus(seed=7, n=60)
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
    got = {
        (r["id1"], r["id2"])
        for r in set_similarity_self_join(df, "rid", "tokens", sim=kind, threshold=t).collect()
    }
    assert got == _oracle_self(rows, kind, t)


def test_self_join_sim_values_exact(spark):
    rows = _corpus(seed=3, n=40)
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
    s = _sets(rows)
    for r in set_similarity_self_join(df, "rid", "tokens", "jac", 0.5).collect():
        assert r["sim"] == pytest.approx(_sim(s[r["id1"]], s[r["id2"]], "jac"), abs=1e-12)


def test_rs_join_matches_bruteforce(spark):
    rows_r = _corpus(seed=11, n=40)
    rows_s = _corpus(seed=13, n=50)
    sr, ss = _sets(rows_r), _sets(rows_s)
    want = {
        (i, j) for i in sorted(sr) for j in sorted(ss)
        if _sim(sr[i], ss[j], "jac") >= 0.6
    }
    df_r = spark.createDataFrame(rows_r, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
    df_s = spark.createDataFrame(rows_s, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
    got = {
        (r["id1"], r["id2"])
        for r in set_similarity_rs_join(df_r, df_s, "rid", "tokens", "jac", 0.6).collect()
    }
    assert got == want


def test_weighted_jaccard_matches_bruteforce(spark):
    rows = _corpus(seed=5, n=50)
    s = _sets(rows)
    n = len(rows)
    freq: dict[str, int] = {}
    for toks in s.values():
        for tk in toks:
            freq[tk] = freq.get(tk, 0) + 1
    idf = {tk: math.log10(n / f) for tk, f in freq.items()}

    def wjac(a, b):
        if not a or not b:
            return 0.0
        wo = sum(idf[t] for t in a & b)
        return wo / (sum(idf[t] for t in a) + sum(idf[t] for t in b) - wo)

    t = 0.7
    want = {(i, j) for i, j in itertools.combinations(sorted(s), 2) if wjac(s[i], s[j]) >= t}
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
    res = set_similarity_self_join(df, "rid", "tokens", "jac", t, weighted=True).collect()
    got = {(r["id1"], r["id2"]) for r in res}
    assert got == want
    for r in res:
        assert r["sim"] == pytest.approx(wjac(s[r["id1"]], s[r["id2"]]), abs=1e-9)


def test_weighted_map_path_equals_literal_path(spark, monkeypatch):
    # vocab-size gate: with the vocabulary forced onto the dictionary path, a
    # tiny literal cap must force the per-record idf_map verification (no
    # driver collect of the vocabulary) and still produce the results of the
    # inline literal path
    import entityblockingbysimilarityjoins_spark.operators.set_join as SJ

    rows = _corpus(seed=9, n=40)
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
    fast = {(r["id1"], r["id2"]): round(r["sim"], 9) for r in
            set_similarity_self_join(df, "rid", "tokens", "jac", 0.6, weighted=True).collect()}
    monkeypatch.setattr(SJ, "MAX_BITSET_WORDS", 0)
    monkeypatch.setattr(SJ, "MAX_IDF_LITERAL_ENTRIES", 4)
    gated_df = set_similarity_self_join(df, "rid", "tokens", "jac", 0.6, weighted=True)
    assert "idf_map" in gated_df._jdf.queryExecution().optimizedPlan().toString()
    gated = {(r["id1"], r["id2"]): round(r["sim"], 9) for r in gated_df.collect()}
    monkeypatch.undo()
    assert fast == gated and len(fast) > 0


def test_empty_sets_never_join(spark):
    df = spark.createDataFrame([(0, ""), (1, ""), (2, "a b")], ["rid", "s"]).withColumn(
        "tokens", tokens_dlm("s")
    )
    assert set_similarity_self_join(df, "rid", "tokens", "jac", 0.1).count() == 0


def test_exact_duplicates_join_at_threshold_1(spark):
    df = spark.createDataFrame(
        [(0, "x y z"), (1, "z y x"), (2, "x y")], ["rid", "s"]
    ).withColumn("tokens", tokens_dlm("s"))
    got = {(r["id1"], r["id2"]) for r in
           set_similarity_self_join(df, "rid", "tokens", "jac", 1.0).collect()}
    assert got == {(0, 1)}


def test_weighted_jaccard_skewed_idf(spark):
    # one ultra-rare (high-IDF) shared token between otherwise-different sets:
    # count-based prefix/length filters would wrongly prune this pair
    rows = [(0, "rareXYZ alpha beta gamma delta eps"),
            (1, "rareXYZ zeta eta theta iota kappa"),
            *[(i, "alpha beta gamma delta eps zeta eta theta iota kappa mu nu")
              for i in range(2, 40)]]
    s = _sets(rows)
    n = len(rows)
    freq: dict[str, int] = {}
    for toks in s.values():
        for tk in toks:
            freq[tk] = freq.get(tk, 0) + 1
    idf = {tk: math.log10(n / f) for tk, f in freq.items()}

    def wjac(a, b):
        if not a or not b:
            return 0.0
        wo = sum(idf[t] for t in a & b)
        return wo / (sum(idf[t] for t in a) + sum(idf[t] for t in b) - wo)

    for t in (0.3, 0.5, 0.7):
        want = {(i, j) for i, j in itertools.combinations(sorted(s), 2)
                if wjac(s[i], s[j]) >= t}
        df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_dlm("s"))
        got = {(r["id1"], r["id2"]) for r in
               set_similarity_self_join(df, "rid", "tokens", "jac", t, weighted=True).collect()}
        assert got == want, f"threshold {t}"


def test_allpairs_valve_matches_prefix_path(spark, monkeypatch):
    """The tiny-vocab all-pairs bitmask sweep produces exactly the prefix
    path's rows, and oversized set counts keep the prefix path."""
    import entityblockingbysimilarityjoins_spark.operators.set_join as SJ

    random.seed(11)
    vocab = [f"w{i}" for i in range(20)]
    rows = [(i, " ".join(random.sample(vocab, random.randint(3, 10))))
            for i in range(300)]
    # a few exact duplicates so group expansion is exercised
    rows += [(1000 + i, rows[i][1]) for i in range(10)]
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn(
        "tokens", tokens_dlm("s"))
    for sim, t in (("jac", 0.6), ("cos", 0.7), ("dice", 0.7)):
        fast = sorted(map(tuple, set_similarity_self_join(
            df, "rid", "tokens", sim, t).collect()))
        monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", 0)  # force prefix path
        slow = sorted(map(tuple, set_similarity_self_join(
            df, "rid", "tokens", sim, t).collect()))
        monkeypatch.undo()
        assert fast == slow and fast, (sim, t)
    # weighted joins ride the sweep too (same byte-LUT verify expression on
    # both paths -> bit-identical sims, compared exactly)
    for sim, t in (("jac", 0.5), ("cos", 0.6)):
        fast = sorted(map(tuple, set_similarity_self_join(
            df, "rid", "tokens", sim, t, weighted=True).collect()))
        monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", 0)  # force prefix path
        slow = sorted(map(tuple, set_similarity_self_join(
            df, "rid", "tokens", sim, t, weighted=True).collect()))
        monkeypatch.undo()
        assert fast == slow and fast, ("weighted", sim, t)


def test_rs_allpairs_valve_matches_prefix_path(spark, monkeypatch):
    """The RS all-pairs sweep (grouped sides, broadcast square) emits exactly
    the two-directional prefix path's rows, weighted included."""
    import entityblockingbysimilarityjoins_spark.operators.set_join as SJ
    from entityblockingbysimilarityjoins_spark.operators.set_join import (
        set_similarity_rs_join,
    )

    random.seed(13)
    vocab = [f"w{i}" for i in range(20)]
    rows_r = [(i, " ".join(random.sample(vocab, random.randint(3, 10))))
              for i in range(150)]
    rows_s = [(i, " ".join(random.sample(vocab, random.randint(3, 10))))
              for i in range(180)]
    rows_r += [(500 + i, rows_r[i][1]) for i in range(6)]  # duplicate sets
    rows_s += [(700 + i, rows_s[i][1]) for i in range(6)]
    dfr = spark.createDataFrame(rows_r, ["rid", "s"]).withColumn(
        "tokens", tokens_dlm("s"))
    dfs = spark.createDataFrame(rows_s, ["rid", "s"]).withColumn(
        "tokens", tokens_dlm("s"))
    for sim, t, w in (("jac", 0.6, False), ("cos", 0.7, False),
                      ("jac", 0.5, True)):
        fast = sorted(map(tuple, set_similarity_rs_join(
            dfr, dfs, "rid", "tokens", sim, t, weighted=w).collect()))
        monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", 0)  # force prefix path
        slow = sorted(map(tuple, set_similarity_rs_join(
            dfr, dfs, "rid", "tokens", sim, t, weighted=w).collect()))
        monkeypatch.undo()
        assert fast == slow and fast, (sim, t, w)
