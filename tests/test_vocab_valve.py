"""The inline-vocabulary valve as a contract (ROADMAP aim 3).

``resolve_vocab`` inlines vocabularies of at most MAX_BITSET_WORDS*64 = 256
tokens and builds the distributed dictionary beyond that. Every join must
return the brute-force oracle's rows on both sides of the cap, so each
check runs on corpora with exactly cap-1, cap and cap+1 distinct tokens,
duplicate token sets included.
"""

from __future__ import annotations

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.operators import set_join as SJ
from entityblockingbysimilarityjoins_spark.operators.cache import release_cached
from entityblockingbysimilarityjoins_spark.operators.overlap_join import (
    overlap_rs_join,
    overlap_self_join,
)
from entityblockingbysimilarityjoins_spark.operators.set_join import (
    resolve_vocab,
    set_similarity_rs_join,
    set_similarity_self_join,
)
from entityblockingbysimilarityjoins_spark.operators.topk import (
    topk_over_self_join,
    topk_via_ta,
)

CAP = SJ.MAX_BITSET_WORDS * 64
SIZES = (CAP - 1, CAP, CAP + 1)

#: Spark jobs of one jac self join on the cap+1 corpus: 17 with one
#: vocabulary pass and no set grouping on the prefix path (the probe,
#: recount, re-probe and grouping of the earlier shape took 34)
MAX_PREFIX_PATH_JOBS = 17


def _rows(n_tokens: int, seed: int = 17) -> list[tuple[int, list[str]]]:
    """~80 records over exactly ``n_tokens`` distinct tokens: base sets of 8
    that together cover the vocabulary, a one-token variant of each (jac
    7/9), some exact duplicates, an empty and a NULL token set."""
    rng = random.Random(seed)
    vocab = [f"t{i:03d}" for i in range(n_tokens)]
    order = vocab[:]
    rng.shuffle(order)
    rows: list[tuple[int, list[str]]] = []
    for i in range(0, n_tokens, 8):
        base = order[i:i + 8]
        rows.append((len(rows), base))
        variant = list(base)
        variant[rng.randrange(len(variant))] = rng.choice(vocab)
        rows.append((len(rows), list(dict.fromkeys(variant))))
        if rng.random() < 0.3:
            rows.append((len(rows), list(base)))
    rows.append((len(rows), []))
    rows.append((len(rows), None))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "rid long, tokens array<string>")


def _sets(rows) -> dict[int, frozenset]:
    return {i: frozenset(t or ()) for i, t in rows}


def _idf(rows) -> dict[str, float]:
    freq: dict[str, int] = {}
    for _, toks in rows:
        for t in toks or ():
            freq[t] = freq.get(t, 0) + 1
    return {t: math.log10(len(rows) / f) for t, f in freq.items()}


def _sim(a, b, kind, idf=None):
    if not a or not b:
        return 0.0
    w = (lambda s: sum(idf[t] for t in s)) if idf else len
    o, la, lb = w(a & b), w(a), w(b)
    if kind == "jac":
        return o / (la + lb - o)
    if kind == "cos":
        return o / math.sqrt(la * lb)
    return 2 * o / (la + lb)


def _pairs(res):
    return {(r["id1"], r["id2"]): r["sim"] for r in res}


def _check(got: dict, want: dict):
    assert set(got) == set(want)
    for k, v in got.items():
        assert v == pytest.approx(want[k], abs=1e-9), k


@pytest.mark.parametrize("n_tokens", SIZES)
def test_resolve_vocab_sides_of_cap(spark, n_tokens):
    """Inline up to the cap, dictionary beyond it, with the exact size."""
    rows = _rows(n_tokens)
    vocab = resolve_vocab(_df(spark, rows))
    assert (vocab.inline is not None) == (n_tokens <= CAP)
    assert (vocab.dictionary is not None) == (n_tokens > CAP)
    assert vocab.n_tokens == n_tokens
    if vocab.dictionary is not None:
        tids = sorted(r["tid"] for r in vocab.dictionary.collect())
        assert tids == list(range(n_tokens))


@pytest.mark.parametrize("n_tokens", SIZES)
def test_probe_keeps_counts(spark, n_tokens):
    """The record count and the HLL set count survive the LIMIT, whether
    the probe inlines or refuses (the count row is read first)."""
    rows = _rows(n_tokens)
    df = _df(spark, rows)
    want_sets = df.agg(F.approx_count_distinct("tokens")).first()[0]
    for build in (True, False):
        vocab = resolve_vocab(df, build=build)
        assert vocab.n_records == len(rows)
        assert vocab.n_sets_approx == want_sets
    assert resolve_vocab(df, build=False).dictionary is None


@pytest.mark.parametrize("n_tokens", SIZES)
@pytest.mark.parametrize("weighted", [False, True])
def test_self_join_across_cap(spark, n_tokens, weighted):
    rows = _rows(n_tokens)
    df = _df(spark, rows)
    s = _sets(rows)
    idf = _idf(rows) if weighted else None
    for kind, t in (("jac", 0.72), ("cos", 0.81), ("dice", 0.81)):
        want = {}
        for i, j in itertools.combinations(sorted(s), 2):
            v = _sim(s[i], s[j], kind, idf)
            if v >= t:
                want[(i, j)] = v
        got = _pairs(set_similarity_self_join(
            df, "rid", "tokens", kind, t, weighted=weighted).collect())
        assert want, (kind, t)
        _check(got, want)


@pytest.mark.parametrize("n_tokens", SIZES)
def test_rs_join_across_cap(spark, n_tokens):
    rows = _rows(n_tokens)
    r_rows = [x for x in rows if x[0] % 2 == 0]
    s_rows = [x for x in rows if x[0] % 2 == 1]
    sr, ss = _sets(r_rows), _sets(s_rows)
    want = {(i, j): _sim(sr[i], ss[j], "jac") for i in sr for j in ss
            if _sim(sr[i], ss[j], "jac") >= 0.72}
    got = _pairs(set_similarity_rs_join(
        _df(spark, r_rows), _df(spark, s_rows), "rid", "tokens", "jac", 0.72).collect())
    assert want
    _check(got, want)


@pytest.mark.parametrize("n_tokens", SIZES)
def test_overlap_join_across_cap(spark, n_tokens):
    rows = _rows(n_tokens)
    s = _sets(rows)
    c = 6
    want = {(i, j) for i, j in itertools.combinations(sorted(s), 2)
            if len(s[i] & s[j]) >= c}
    got = {(r["id1"], r["id2"]) for r in
           overlap_self_join(_df(spark, rows), "rid", "tokens", c=c).collect()}
    assert want and got == want
    r_rows = [x for x in rows if x[0] % 2 == 0]
    s_rows = [x for x in rows if x[0] % 2 == 1]
    sr, ss = _sets(r_rows), _sets(s_rows)
    want_rs = {(i, j) for i in sr for j in ss if len(sr[i] & ss[j]) >= c}
    got_rs = {(r["id1"], r["id2"]) for r in overlap_rs_join(
        _df(spark, r_rows), _df(spark, s_rows), "rid", "tokens", c=c).collect()}
    assert want_rs and got_rs == want_rs


@pytest.mark.parametrize("n_tokens", SIZES)
def test_topk_over_self_join_across_cap(spark, n_tokens):
    """The fused top-K equals the unfused composition: grouped sets on the
    sweep (inline side), singleton groups on the prefix path (cap+1)."""
    df = _df(spark, _rows(n_tokens))
    for k in (7, 500):
        fused = [tuple(r) for r in topk_over_self_join(df, k, "jac", 0.72).collect()]
        pairs = set_similarity_self_join(df, "rid", "tokens", "jac", 0.72)
        unfused = [tuple(r) for r in topk_via_ta(pairs, df, k).select(
            "id1", "id2", "score").collect()]
        assert fused and fused == unfused, k


def test_prefix_path_job_count(spark):
    """Spark jobs of one self join on the cap+1 corpus: the vocabulary is
    probed once and ranked from the same aggregate, with no recount, no
    re-probe and no set grouping on the prefix path."""
    release_cached()  # no cache hits from earlier tests on the same rows
    spark.catalog.clearCache()
    df = _df(spark, _rows(CAP + 1))
    sc = spark.sparkContext
    group = "test_prefix_path_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = set_similarity_self_join(df, "rid", "tokens", "jac", 0.72).collect()
    finally:
        sc._jsc.clearJobGroup()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rows
    assert n_jobs <= MAX_PREFIX_PATH_JOBS, n_jobs


def test_weighted_identical_sets_verify_to_one(spark):
    """Identical token sets are weighted-similar at exactly 1.0 on the
    bitmask path too (its byte-wise overlap sum runs in another order than
    the record weight's), so a threshold of 1.0 keeps them — on the
    ungrouped self join and on the RS join."""
    rows = _rows(CAP - 1)
    s = _sets(rows)
    dup = {(i, j) for i, j in itertools.combinations(sorted(s), 2)
           if s[i] and s[i] == s[j]}
    assert dup
    df = _df(spark, rows)
    got = {(r["id1"], r["id2"]) for r in set_similarity_self_join(
        df, "rid", "tokens", "jac", 1.0, weighted=True,
        group_identical=False).collect()}
    assert got == dup
    got_rs = {(r["id1"], r["id2"]) for r in set_similarity_rs_join(
        df, df, "rid", "tokens", "cos", 1.0, weighted=True).collect()}
    assert {(i, i) for i in s if s[i]} <= got_rs
