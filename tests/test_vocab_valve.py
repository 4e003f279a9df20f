"""The set joins' size valves as contracts (ROADMAP aim 3).

``resolve_vocab`` inlines vocabularies of at most MAX_BITSET_WORDS*64 = 256
tokens and encodes through the broadcast dictionary beyond that. Every join must
return the brute-force oracle's rows on both sides of the cap, so each
check runs on corpora with exactly cap-1, cap and cap+1 distinct tokens,
duplicate token sets included.

The all-pairs sweep fires when the HLL distinct-set estimate is at most
MAX_ALLPAIRS_SETS. Its checks move that cap to cap-1, cap and cap+1 around
a small corpus's estimate and demand the same rows on both sides, from
every caller of the grouped sets. The job-count guards pin the grouped
paths' Spark jobs on the 255-token corpus.
"""

from __future__ import annotations

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.operators import set_join as SJ
from entityblockingbysimilarityjoins_spark.operators.cache import release_cached
from entityblockingbysimilarityjoins_spark.operators.connected_components import (
    connected_components,
    connected_components_over_groups,
)
from entityblockingbysimilarityjoins_spark.operators.dedup import minhash_lsh_pairs
from entityblockingbysimilarityjoins_spark.operators.overlap_join import (
    overlap_rs_join,
    overlap_self_join,
)
from entityblockingbysimilarityjoins_spark.operators.set_join import (
    _self_join_parts,
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

#: Spark jobs of one jac self join on the cap+1 corpus: 11 with one
#: vocabulary pass ranked on the driver (the distributed rank of that same
#: aggregate took 17; the probe, recount, re-probe and set grouping of an
#: earlier shape took 34)
MAX_PREFIX_PATH_JOBS = 11

#: Spark jobs of the grouped (all-pairs sweep) paths on the cap-1 corpus,
#: vocabulary probe included: the self join 15, fused top-K 14 (16 when it
#: persisted the intra-group pairs with the set pairs) and MinHash 13
MAX_SWEEP_JOIN_JOBS = 15
MAX_SWEEP_TOPK_JOBS = 14
MAX_MINHASH_JOBS = 13


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


def _count_jobs(spark, group, action):
    """(action's result, Spark jobs it ran), from a cold operator cache."""
    release_cached()  # no cache hits from earlier tests on the same rows
    spark.catalog.clearCache()
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_prefix_path_job_count(spark):
    """Spark jobs of one self join on the cap+1 corpus: the vocabulary is
    probed once and ranked on the driver from the collected aggregate, with
    no recount, no re-probe, no distributed rank and no set grouping on the
    prefix path."""
    df = _df(spark, _rows(CAP + 1))
    rows, n_jobs = _count_jobs(spark, "test_prefix_path_job_count", lambda:
                               set_similarity_self_join(
                                   df, "rid", "tokens", "jac", 0.72).collect())
    assert rows
    assert n_jobs <= MAX_PREFIX_PATH_JOBS, n_jobs


@pytest.mark.parametrize("op, max_jobs", [
    ("self_join", MAX_SWEEP_JOIN_JOBS),
    ("topk", MAX_SWEEP_TOPK_JOBS),
    ("minhash", MAX_MINHASH_JOBS),
])
def test_grouped_path_job_count(spark, op, max_jobs):
    """Spark jobs of the paths that group identical sets, on the cap-1
    corpus (inline vocabulary, swept): the shared set-level helpers must not
    add a job. The fewer of two cold runs counts: whether AQE materializes
    a cached relation read in several places of a plan once or twice
    depends on stage timing (MinHash once read 14 under load), while
    an added job shows in every run."""
    df = _df(spark, _rows(CAP - 1))
    run = {
        "self_join": lambda: set_similarity_self_join(
            df, "rid", "tokens", "jac", 0.72),
        "topk": lambda: topk_over_self_join(df, 7, "jac", 0.72),
        "minhash": lambda: minhash_lsh_pairs(df, "rid", "tokens", threshold=0.72),
    }[op]
    counts = []
    for i in range(2):
        rows, n_jobs = _count_jobs(spark, f"test_grouped_path_job_count_{op}_{i}",
                                   lambda: run().collect())
        assert rows
        counts.append(n_jobs)
    assert min(counts) <= max_jobs, counts


def test_weighted_identical_sets_verify_to_one(spark, monkeypatch):
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
    monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", 0)  # records, not sets
    got = {(r["id1"], r["id2"]) for r in set_similarity_self_join(
        df, "rid", "tokens", "jac", 1.0, weighted=True).collect()}
    monkeypatch.undo()
    assert got == dup
    got_rs = {(r["id1"], r["id2"]) for r in set_similarity_rs_join(
        df, df, "rid", "tokens", "cos", 1.0, weighted=True).collect()}
    assert {(i, i) for i in s if s[i]} <= got_rs


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def _sweep_caps(tokens_df) -> tuple[int, int, int]:
    """MAX_ALLPAIRS_SETS at cap-1, cap and cap+1 around the corpus's HLL
    distinct-set estimate: the prefix path, then the sweep twice."""
    n = resolve_vocab(tokens_df, build=False).n_sets_approx
    return n - 1, n, n + 1


def _swept(df) -> bool:
    """True when the set join's plan is the broadcast all-pairs square."""
    return "BroadcastNestedLoopJoin" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("weighted", [False, True])
def test_self_join_across_sweep_cap(spark, monkeypatch, weighted):
    rows = _rows(CAP - 1)
    df = _df(spark, rows)
    for kind, t in (("jac", 0.72), ("cos", 0.81), ("dice", 0.81)):
        got = []
        for cap in _sweep_caps(df):
            monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", cap)
            res = set_similarity_self_join(df, "rid", "tokens", kind, t,
                                           weighted=weighted)
            got.append((_swept(res), _sorted(res)))
        assert [g[0] for g in got] == [False, True, True], kind
        assert got[0][1] and got[0][1] == got[1][1] == got[2][1], kind


def test_rs_join_across_sweep_cap(spark, monkeypatch):
    rows = _rows(CAP - 1)
    r_df = _df(spark, [x for x in rows if x[0] % 2 == 0])
    s_df = _df(spark, [x for x in rows if x[0] % 2 == 1])
    got = []
    for cap in _sweep_caps(r_df.unionAll(s_df)):
        monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", cap)
        res = set_similarity_rs_join(r_df, s_df, "rid", "tokens", "jac", 0.72)
        got.append((_swept(res), _sorted(res)))
    assert [g[0] for g in got] == [False, True, True]
    assert got[0][1] and got[0][1] == got[1][1] == got[2][1]


def test_topk_over_self_join_across_sweep_cap(spark, monkeypatch):
    """Fused top-K == the unfused composition on both sides of the sweep
    cap, and the same ranking on each side. k=500 ranks every pair (no
    group-level threshold); k=7 must be its first 7 rows (thresholded)."""
    df = _df(spark, _rows(CAP - 1))
    got = []
    for cap in _sweep_caps(df):
        monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", cap)
        pairs = set_similarity_self_join(df, "rid", "tokens", "jac", 0.72)
        unfused = [tuple(r) for r in topk_via_ta(pairs, df, 500).select(
            "id1", "id2", "score").collect()]
        fused = {k: [tuple(r) for r in topk_over_self_join(df, k, "jac", 0.72).collect()]
                 for k in (7, 500)}
        assert len(unfused) > 7 and fused[500] == unfused, cap
        assert fused[7] == unfused[:7], cap
        got.append(unfused)
    assert got[0] == got[1] == got[2]


def test_cc_over_groups_across_sweep_cap(spark, monkeypatch):
    """Set-level CC == CC over the expanded join on both sides of the sweep
    cap, and the same labels on each side."""
    df = _df(spark, _rows(CAP - 1))
    got = []
    for cap in _sweep_caps(df):
        monkeypatch.setattr(SJ, "MAX_ALLPAIRS_SETS", cap)
        verified, groups = _self_join_parts(df, "rid", "tokens", "jac", 0.72)
        fused = _sorted(connected_components_over_groups(
            verified.select("id1", "id2"), groups))
        pairs = set_similarity_self_join(df, "rid", "tokens", "jac", 0.72)
        want = _sorted(connected_components(pairs.select("id1", "id2")))
        assert fused and fused == want, cap
        got.append(fused)
    assert got[0] == got[1] == got[2]
