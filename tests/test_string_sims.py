"""Jaro-Winkler / Monge-Elkan / weightedOverlapCoeff + F4 top-K normalization.

Reference parity: simfunc.cc:265 (weightedOverlapCoeff), :318-384
(jaroWinkler), :387-412 (mongeElkan), cal_feature.cc:326-328 (isTopK
overlap -> overlapCoeff).
"""

import math

import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.sim import (
    jaro_winkler,
    jaro_winkler_py,
    monge_elkan,
    monge_elkan_py,
    weighted_overlap_coeff,
)
from entityblockingbysimilarityjoins_spark.matcher.features import (
    Feature,
    extract_features,
)


def test_jaro_winkler_known_values():
    # classic published examples under the reference algorithm
    assert jaro_winkler_py("MARTHA", "MARHTA") == pytest.approx(0.9611111111)
    assert jaro_winkler_py("DWAYNE", "DUANE") == pytest.approx(0.84)
    assert jaro_winkler_py("DIXON", "DICKSONX") == pytest.approx(0.8133333333)
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("", "abc") == 0.0
    assert jaro_winkler_py("abc", "") == 0.0
    assert jaro_winkler_py("abc", "xyz") == 0.0


def test_jaro_winkler_matches_duckdb_on_random_pairs():
    import random

    import duckdb

    rng = random.Random(5)
    al = "abcdefg "
    con = duckdb.connect()
    for _ in range(300):
        a = "".join(rng.choice(al) for _ in range(rng.randint(0, 12))).strip()
        b = "".join(rng.choice(al) for _ in range(rng.randint(0, 12))).strip()
        d = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert jaro_winkler_py(a, b) == pytest.approx(d, abs=1e-12), (a, b)


def test_monge_elkan_semantics():
    # mean over s1 tokens of max JW vs s2 tokens; duplicates kept
    v = monge_elkan_py("aa bb", "aa")
    assert v == pytest.approx((1.0 + jaro_winkler_py("bb", "aa")) / 2)
    assert monge_elkan_py("", "aa") == 0.0
    assert monge_elkan_py("aa", "") == 0.0
    # asymmetric by construction
    assert monge_elkan_py("aa zz", "aa") != monge_elkan_py("aa", "aa zz")
    dup = monge_elkan_py("aa aa zz", "aa")
    assert dup == pytest.approx((2.0 + jaro_winkler_py("zz", "aa")) / 3)


def test_string_sim_columns(spark):
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("", "x"), (None, "x"), ("same", "same")],
        "a string, b string",
    )
    rows = df.select(
        jaro_winkler(F.col("a"), F.col("b")).alias("jw"),
        monge_elkan(F.col("a"), F.col("b")).alias("me"),
    ).collect()
    assert rows[0]["jw"] == pytest.approx(0.9611111111)
    assert rows[1]["jw"] == 0.0 and rows[2]["jw"] == 0.0
    assert rows[3]["jw"] == 1.0 and rows[3]["me"] == 1.0


def test_weighted_overlap_coeff(spark):
    # idf_arr indexed by tid: tid 0 -> 2.0, tid 1 -> 1.0, tid 2 -> 0.5
    df = spark.createDataFrame([([0, 1], [1, 2], 3.0, 1.5)], "a array<int>, b array<int>, wa double, wb double")
    idf = F.lit([2.0, 1.0, 0.5])
    v = df.select(
        weighted_overlap_coeff(F.col("a"), F.col("b"), idf, F.col("wa"), F.col("wb")).alias("v")
    ).first()["v"]
    assert v == pytest.approx(1.0 / 1.5)  # shared tid 1 (idf 1.0) / min(3, 1.5)
    z = spark.createDataFrame([([0], [0], 0.0, 0.0)], "a array<int>, b array<int>, wa double, wb double")
    assert z.select(weighted_overlap_coeff(F.col("a"), F.col("b"), idf, F.col("wa"), F.col("wb")).alias("v")).first()["v"] == 1.0


def test_f4_topk_normalization(spark):
    recs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta epsilon")], ["rid", "t"]
    )
    pairs = spark.createDataFrame([(1, 2)], ["id1", "id2"])
    feats = [Feature("t", "overlap", "dlm", None)]
    raw = extract_features(pairs, recs, "rid", feats).first()[feats[0].name]
    norm = extract_features(pairs, recs, "rid", feats, topk_normalize=True).first()[feats[0].name]
    assert raw == pytest.approx(2.0)          # |{alpha, beta}|
    assert norm == pytest.approx(2.0 / 3.0)   # overlap / min(|a|, |b|)


def test_jw_me_feature_recipes(spark):
    recs = spark.createDataFrame([(1, "martha jones"), (2, "marhta jones")], ["rid", "name"])
    pairs = spark.createDataFrame([(1, 2)], ["id1", "id2"])
    feats = [Feature("name", "jaro_winkler"), Feature("name", "monge_elkan")]
    row = extract_features(pairs, recs, "rid", feats).first()
    assert row[feats[0].name] == pytest.approx(jaro_winkler_py("martha jones", "marhta jones"))
    assert row[feats[1].name] == pytest.approx(monge_elkan_py("martha jones", "marhta jones"))
    assert not math.isnan(row[feats[0].name])


def test_vectorized_batch_matches_scalar_oracle():
    """jw_numpy batch path is bit-identical to the scalar reference across an
    adversarial battery (equal/empty/unicode/reversed/mutated/long strings)."""
    import random

    import numpy as np

    from entityblockingbysimilarityjoins_spark.functions.jw_numpy import (
        jw_batch,
        monge_elkan_batch,
    )
    from entityblockingbysimilarityjoins_spark.functions.sim import (
        jaro_winkler_py,
        monge_elkan_py,
    )

    rng = random.Random(11)

    def rand_str(maxlen=30, alpha="abcdef ghij"):
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(0, maxlen)))

    pairs = []
    for _ in range(1500):
        s = rand_str()
        mode = rng.randrange(6)
        if mode == 0:
            t = rand_str()
        elif mode == 1:
            t = s
        elif mode == 2:
            t = list(s)
            for _ in range(rng.randrange(0, 4)):
                if t:
                    t[rng.randrange(len(t))] = rng.choice("abcxyz")
            t = "".join(t)
        elif mode == 3:
            t = s[::-1]
        elif mode == 4:
            t = s[: rng.randrange(0, len(s) + 1)] + rand_str(5)
        else:
            t = rand_str(8, "日本語abc ü")
        pairs.append((s, t))
    pairs += [("", ""), ("a", ""), ("", "b"), ("a", "a"), ("ab", "ba"),
              ("martha", "marhta"), ("dwayne", "duane"), (None, "x"),
              ("x" * 300, "x" * 299 + "y"), ("ü" * 20, "ü" * 19 + "o")]
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    jw_exp = np.array([jaro_winkler_py(x or "", y or "") for x, y in pairs])
    me_exp = np.array([monge_elkan_py(x or "", y or "") for x, y in pairs])
    assert np.array_equal(jw_batch(a, b), jw_exp)
    assert np.array_equal(monge_elkan_batch(a, b), me_exp)


# ---- the one similarity algebra ------------------------------------------

def _ref_from_counts(sim, o, la, lb):
    """Python reference of every set similarity from (o, |a|, |b|): each
    ratio is 0.0 where its denominator is not positive."""
    if sim == "overlap":
        return o
    num, den = {
        "jac": (o, la + lb - o),
        "cos": (o, math.sqrt(float(la) * float(lb))),
        "dice": (2.0 * o, float(la + lb)),
        "overlap_coeff": (o, float(min(la, lb))),
    }[sim]
    return num / den if den > 0 else 0.0


def _bits(x):
    import struct

    return None if x is None else struct.pack("<d", x)


_SET_SIM_NAMES = ("jac", "cos", "dice", "overlap_coeff", "overlap")


def test_sim_from_counts_bit_identical(spark):
    """Integer counts (o as double, as every caller passes it) and double
    weights, over o = 0, identical sets, one side empty, both empty and
    zero weights."""
    from entityblockingbysimilarityjoins_spark.functions.sim import sim_from_counts

    counts = [(0.0, 3, 4), (3.0, 3, 3), (0.0, 0, 4), (0.0, 4, 0), (0.0, 0, 0),
              (2.0, 5, 7), (1.0, 1, 10), (7.0, 9, 8)]
    weights = [(0.0, 0.0, 0.0), (0.0, 0.0, 1.5), (0.0, 2.5, 0.0),
               (0.7, 1.3, 2.9), (0.1 + 0.2, 0.3, 0.30000000000000004),
               (1.2345678901234567, 3.3, 1.2345678901234567)]
    for rows, schema in ((counts, "o double, la int, lb int"),
                         (weights, "o double, la double, lb double")):
        df = spark.createDataFrame(rows, schema)
        got = df.select(*[
            sim_from_counts(s, F.col("o"), F.col("la"), F.col("lb")).alias(s)
            for s in _SET_SIM_NAMES]).collect()
        for (o, la, lb), row in zip(rows, got):
            for s in _SET_SIM_NAMES:
                assert _bits(row[s]) == _bits(_ref_from_counts(s, o, la, lb)), (s, o, la, lb)


def test_set_sims_over_arrays_match_reference(spark):
    """jaccard/cosine/dice/overlap_coeff over token arrays are
    sim_from_counts over (|a ∩ b|, |a|, |b|), empty arrays included."""
    from entityblockingbysimilarityjoins_spark.functions.sim import SET_SIMS

    rows = [(["a", "b", "c"], ["b", "c", "d", "e"]), (["a"], ["a"]),
            ([], ["a", "b"]), ([], []), (["x", "日本"], ["日本", "y", "z"])]
    df = spark.createDataFrame(rows, "a array<string>, b array<string>")
    got = df.select(*[fn(F.col("a"), F.col("b")).alias(s)
                      for s, fn in SET_SIMS.items()]).collect()
    for (a, b), row in zip(rows, got):
        o = float(len(set(a) & set(b)))
        for s in SET_SIMS:
            assert _bits(row[s]) == _bits(_ref_from_counts(s, o, len(a), len(b))), (s, a, b)


def test_pair_sims_equal_their_direct_calls(spark):
    """Every PAIR_SIMS entry is the sim it names, on NULL, empty, unicode and
    numeric strings (all but abs_norm compare the values as strings)."""
    from entityblockingbysimilarityjoins_spark.functions import sim as S

    def on_strings(fn):
        return lambda a, b: fn(a.cast("string"), b.cast("string"))

    direct = {
        "lev_dist": on_strings(S.lev_dist),
        "lev_sim": on_strings(S.lev_sim),
        "exact_match": on_strings(S.exact_match),
        "abs_norm": S.absolute_norm,
        "jaro_winkler": on_strings(S.jaro_winkler),
        "monge_elkan": on_strings(S.monge_elkan),
    }
    assert set(S.PAIR_SIMS) == set(direct)
    rows = [(None, "x"), ("x", None), (None, None), ("", ""), ("", "abc"),
            ("日本語 テキスト", "日本 テキスト"), ("ü ß", "u ss"), ("12.5", "12"),
            ("0", "0"), ("-3", "3"), ("same words", "same words")]
    df = spark.createDataFrame(rows, "a string, b string")
    cols = []
    for name in S.PAIR_SIMS:
        cols += [S.PAIR_SIMS[name](F.col("a"), F.col("b")).alias(f"new_{name}"),
                 direct[name](F.col("a"), F.col("b")).alias(f"old_{name}")]
    for r, row in zip(rows, df.select(*cols).collect()):
        for name in S.PAIR_SIMS:
            assert _bits(row[f"new_{name}"]) == _bits(row[f"old_{name}"]), (name, r)
