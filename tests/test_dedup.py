"""Dedup operators vs brute-force oracles."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace
from entityblockingbysimilarityjoins_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

VOCAB = [f"tok{i}" for i in range(40)]


def _near_dup_corpus(seed, n_base, empty_and_dupes=True):
    rng = random.Random(seed)
    rows = []
    i = 0
    for _ in range(n_base):
        base = rng.sample(VOCAB, rng.randint(6, 14))
        rows.append((i, " ".join(base))); i += 1
        if rng.random() < 0.6:  # near dup: drop/replace one token
            v = list(base)
            if rng.random() < 0.5 and len(v) > 6:
                v.pop(rng.randrange(len(v)))
            else:
                v[rng.randrange(len(v))] = rng.choice(VOCAB)
            rows.append((i, " ".join(v))); i += 1
    if empty_and_dupes:
        rows.append((i, rows[0][1])); i += 1
        rows.append((i, "")); i += 1
    return rows


def test_exact_duplicate_groups(spark):
    df = spark.createDataFrame(
        [(0, "a", "x"), (1, "a", "x"), (2, "b", "x"), (3, None, "x"), (4, None, "x")],
        ["rid", "t", "u"],
    )
    g = {r["id"]: r["group_id"] for r in
         exact_duplicate_groups(df, "rid", ["t", "u"]).collect()}
    assert g == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3}
    kept = sorted(r["rid"] for r in dedup_exact(df, "rid", ["t", "u"]).collect())
    assert kept == [0, 2, 3]


def _jac(a, b):
    if not a or not b:
        return 0.0
    o = len(a & b)
    return o / (len(a) + len(b) - o)


def test_minhash_lsh_matches_bruteforce(spark):
    rows = _near_dup_corpus(13, 60)
    sets = {i: frozenset(s.split()) for i, s in rows}
    t = 0.8
    want = {(i, j) for i, j in itertools.combinations(sorted(sets), 2)
            if _jac(sets[i], sets[j]) >= t}
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_wspace("s"))
    got = {(r["id1"], r["id2"]) for r in
           minhash_lsh_pairs(df, "rid", "tokens", threshold=t).collect()}
    # LSH candidates are verified exactly; recall at jac>=0.8 with 32x4 bands
    # is >0.9999 — assert exact equality on this corpus
    assert got == want


def test_simhash_identical_docs_distance_zero(spark):
    rows = [(0, "a b c d e f"), (1, "a b c d e f"), (2, "x y z w q r")]
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_wspace("s"))
    got = {(r["id1"], r["id2"]): r["hamming"] for r in
           simhash_pairs(df, "rid", "tokens", hamming_k=3).collect()}
    assert got.get((0, 1)) == 0
    assert (0, 2) not in got and (1, 2) not in got


def test_simhash_exact_contract(spark):
    # exhaustively verify against per-pair signature hamming (pigeonhole exactness)
    rows = _near_dup_corpus(17, 40, empty_and_dupes=False)
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn("tokens", tokens_wspace("s"))
    from entityblockingbysimilarityjoins_spark.operators.dedup import (
        md5_token_hash, simhash_signature)
    base = df.withColumn("__h", F.transform("tokens", md5_token_hash)) \
             .withColumn("sig", simhash_signature(F.col("__h")))
    sigs = {r["rid"]: r["sig"] for r in base.collect()}
    k = 3
    want = {(i, j) for i, j in itertools.combinations(sorted(sigs), 2)
            if bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1") <= k}
    got = {(r["id1"], r["id2"]) for r in
           simhash_pairs(df, "rid", "tokens", hamming_k=k).collect()}
    assert got == want


def test_ngram_jaccard_pairs(spark):
    rows = [(0, "abcdefgh"), (1, "abcdefgx"), (2, "zzzzyyyy")]
    df = spark.createDataFrame(rows, ["rid", "s"])
    got = {(r["id1"], r["id2"]) for r in
           ngram_jaccard_pairs(df, "rid", "s", threshold=0.5, q=3).collect()}
    assert got == {(0, 1)}


def _emb_corpus(seed, n, dim=16):
    rng = np.random.default_rng(seed)
    rows = []
    i = 0
    for _ in range(n):
        v = rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v])); i += 1
        if rng.random() < 0.5:  # near-dup vector
            w = v + rng.standard_normal(dim) * 0.05
            rows.append((i, [float(x) for x in w])); i += 1
    return rows


def test_embedding_neardup_brute_vs_oracle(spark):
    rows = _emb_corpus(5, 40)
    t = 0.95
    vs = {i: np.array(v) for i, v in rows}
    want = {(i, j) for i, j in itertools.combinations(sorted(vs), 2)
            if float(vs[i] @ vs[j] / (np.linalg.norm(vs[i]) * np.linalg.norm(vs[j]))) >= t}
    df = spark.createDataFrame(rows, ["rid", "e"])
    got = {(r["id1"], r["id2"]) for r in
           embedding_neardup_pairs(df, "rid", "e", threshold=t, method="brute").collect()}
    assert got == want


def test_embedding_neardup_lsh_high_recall_subset(spark):
    rows = _emb_corpus(9, 40)
    t = 0.95
    df = spark.createDataFrame(rows, ["rid", "e"])
    brute = {(r["id1"], r["id2"]) for r in
             embedding_neardup_pairs(df, "rid", "e", threshold=t, method="brute").collect()}
    lsh = {(r["id1"], r["id2"]) for r in
           embedding_neardup_pairs(df, "rid", "e", threshold=t, method="lsh",
                                   n_planes=8, n_bands=8).collect()}
    assert lsh.issubset(brute)          # verification makes it precise
    assert len(lsh) >= 0.9 * len(brute)  # banding gives high recall at cos>=0.95


def test_embedding_neardup_blas_equals_brute(spark):
    rows = _emb_corpus(11, 30)
    df = spark.createDataFrame(rows, ["rid", "e"])
    t = 0.9
    brute = {(r["id1"], r["id2"]) for r in
             embedding_neardup_pairs(df, "rid", "e", threshold=t, method="brute").collect()}
    blas = {(r["id1"], r["id2"]) for r in
            embedding_neardup_pairs(df, "rid", "e", threshold=t, method="blas").collect()}
    assert blas == brute


def test_minhash_identical_sets_match_bruteforce(spark):
    """Identical sets pair up through the intra-group expansion at exactly
    1.0, and their cross pairs inherit the verified set-level Jaccard: the
    output is the brute-force exact-Jaccard pair set."""
    from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace
    from entityblockingbysimilarityjoins_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "alpha beta gamma delta") for i in range(4)] + [
        (10, "alpha beta gamma delta epsilon"),
        (11, "zz yy xx ww vv uu"),
    ]
    df = spark.createDataFrame(rows, ["rid", "s"]).withColumn(
        "tokens", tokens_wspace("s"))
    sets = {i: set(s.split()) for i, s in rows}
    want = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
        if jac >= 0.7:
            want[(i, j)] = jac
    got = {(r["id1"], r["id2"]): r["jac"] for r in
           minhash_lsh_pairs(df, "rid", "tokens", threshold=0.7).collect()}
    assert len(want) == 6 + 4  # 4-clique at 1.0 + cross pairs at 0.8
    assert got.keys() == want.keys()
    for k, v in got.items():
        assert v == pytest.approx(want[k], abs=1e-12), k
    assert all(got[(i, j)] == 1.0 for i, j in itertools.combinations(range(4), 2))


def _adversarial_near_identical(n=120, vocab=40):
    """n docs sharing a large template, each with one private token: every
    band bucket of the template-dominated signature holds ~all n rows."""
    base = " ".join(f"tmpl{i}" for i in range(vocab))
    return [(i, f"{base} uniq{i}") for i in range(n)]


def test_band_bucket_valve_minhash(spark):
    from pyspark.sql import functions as F

    from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace
    from entityblockingbysimilarityjoins_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(_adversarial_near_identical(), ["rid", "s"]) \
        .withColumn("tokens", tokens_wspace("s"))
    full = minhash_lsh_pairs(df, "rid", "tokens", threshold=0.9).count()
    capped = minhash_lsh_pairs(df, "rid", "tokens", threshold=0.9,
                               max_band_bucket=16).count()
    # every distinct set collides in (almost) every band; the valve drops the
    # oversized buckets, so the adversarial clique never reaches the join
    assert full > 5000          # n*(n-1)/2-ish without the valve
    assert capped < full * 0.05

    # valve off -> byte-identical results (the correctness contract)
    a = {tuple(r) for r in
         minhash_lsh_pairs(df, "rid", "tokens", threshold=0.9).collect()}
    b = {tuple(r) for r in
         minhash_lsh_pairs(df, "rid", "tokens", threshold=0.9,
                           max_band_bucket=None).collect()}
    assert a == b


def test_band_bucket_valve_simhash_and_embedding(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace
    from entityblockingbysimilarityjoins_spark.operators.dedup import (
        embedding_neardup_pairs, simhash_pairs)

    df = spark.createDataFrame(_adversarial_near_identical(80), ["rid", "s"]) \
        .withColumn("tokens", tokens_wspace("s"))
    full = simhash_pairs(df, "rid", "tokens", hamming_k=3).count()
    capped = simhash_pairs(df, "rid", "tokens", hamming_k=3,
                           max_band_bucket=8).count()
    assert full > 1000 and capped < full * 0.05

    rng = np.random.default_rng(3)
    head = rng.normal(size=24)
    rows = [(i, (np.concatenate([head, rng.normal(size=2) * 1e-3])).tolist())
            for i in range(60)]
    emb = spark.createDataFrame(rows, ["rid", "e"])
    efull = embedding_neardup_pairs(emb, "rid", "e", threshold=0.99,
                                    method="lsh", n_planes=6, n_bands=4).count()
    ecapped = embedding_neardup_pairs(emb, "rid", "e", threshold=0.99,
                                      method="lsh", n_planes=6, n_bands=4,
                                      max_band_bucket=8).count()
    assert efull > 1000 and ecapped < efull * 0.05
