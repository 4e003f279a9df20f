"""Similarity functions over token-set arrays and strings (SURVEY.md §2.3).

The one home of the similarity formulas, as ``cpp/common/simfunc.cc`` is the
reference's: every set similarity is a function of the overlap ``o`` and
the two set sizes (or IDF weights), written once in ``sim_from_counts``;
the set joins, top-K, MinHash, the samplers and the feature matrices all
call it on whatever (o, |a|, |b|) triple they hold (array_intersect,
bit_count over masks, or a weighted overlap). ``PAIR_SIMS`` is the one
dispatch of the untokenized string sims.

Join-time semantics: operate on deduped sorted token arrays; a zero
denominator yields 0 (pairs with empty attrs never join). Feature-time
NaN-on-empty semantics live in ``matcher/features.py``.

All functions here are **native Column expressions** — they stay inside
whole-stage codegen (``array_intersect``/``size``/``levenshtein`` are JVM
intrinsics), no Python in the hot path, except Jaro-Winkler and
Monge-Elkan (Arrow-batched numpy). Weighted (IDF) variants take a
token-id -> idf array produced by ``functions.dictionary``.

Formulas (simfunc.cc line refs):
- jaccard = o / (|a|+|b|-o)                    (:127)
- cosine  = o / sqrt(|a|*|b|)   (set cosine)   (:165)
- dice    = 2o / (|a|+|b|)                     (:209)
- overlap_coeff = o / min(|a|,|b|)             (:247)
- lev_sim = 1 - lev / max(len)                 (:285)
- exact_match = 1.0 if equal else 0.0          (:292)
- absolute_norm = 1 - |a-b| / max(a,b)         (:297)
- weighted jaccard = W∩ / (wa + wb - W∩)       (setjoin.h:250-258)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sim_from_counts(sim: str, o: Column, la: Column, lb: Column) -> Column:
    """Set similarity ``sim`` from the overlap ``o`` and the two set sizes
    ``la``/``lb`` — or, weighted, from W∩ and the two record weights. Every
    ratio is 0.0 where its denominator is not positive (a bare division
    would throw there under ANSI mode, e.g. for a record whose tokens all
    have idf 0). ``"overlap"`` is ``o`` itself."""
    if sim == "overlap":
        return o
    if sim == "jac":
        num, denom = o, la + lb - o
    elif sim == "cos":
        num, denom = o, F.sqrt(la.cast("double") * lb.cast("double"))
    elif sim == "dice":
        num, denom = F.lit(2.0) * o, (la + lb).cast("double")
    elif sim == "overlap_coeff":
        num, denom = o, F.least(la, lb).cast("double")
    else:
        raise ValueError(f"unknown set similarity {sim!r}")
    return F.when(denom > 0, num / denom).otherwise(F.lit(0.0))


def overlap(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)).cast("double")


def jaccard(a: Column, b: Column) -> Column:
    return sim_from_counts("jac", overlap(a, b), F.size(a), F.size(b))


def cosine(a: Column, b: Column) -> Column:
    return sim_from_counts("cos", overlap(a, b), F.size(a), F.size(b))


def dice(a: Column, b: Column) -> Column:
    return sim_from_counts("dice", overlap(a, b), F.size(a), F.size(b))


def overlap_coeff(a: Column, b: Column) -> Column:
    return sim_from_counts("overlap_coeff", overlap(a, b), F.size(a), F.size(b))


def lev_dist(a: Column, b: Column) -> Column:
    return F.levenshtein(a, b).cast("double")


def lev_sim(a: Column, b: Column) -> Column:
    mx = F.greatest(F.length(a), F.length(b)).cast("double")
    return F.when(mx > 0, F.lit(1.0) - F.levenshtein(a, b) / mx).otherwise(F.lit(1.0))


def exact_match(a: Column, b: Column) -> Column:
    return F.when(a == b, F.lit(1.0)).otherwise(F.lit(0.0))


def absolute_norm(a: Column, b: Column) -> Column:
    """Numeric relative similarity of two numbers or numeric strings
    (simfunc.cc:297); a NULL or non-numeric side scores 0.0."""
    x, y = a.try_cast("double"), b.try_cast("double")
    mx = F.greatest(F.abs(x), F.abs(y))
    return (
        F.when(x.isNull() | y.isNull(), F.lit(0.0))
        .when((x == 0) & (y == 0), F.lit(1.0))
        .when(mx > 0, F.lit(1.0) - F.abs(x - y) / mx)
        .otherwise(F.lit(0.0))
    )


# ---- IDF-weighted variants ------------------------------------------------
# idf_arr: an array<double> Column indexed by token id (token ids are dense
# 0..V-1 by construction), typically F.lit of the vocabulary's idf list.

def weighted_overlap(a: Column, b: Column, idf_arr: Column) -> Column:
    """W∩: the idf sum over the token-id intersection."""
    return F.aggregate(F.array_intersect(a, b), F.lit(0.0),
                       lambda acc, t: acc + F.get(idf_arr, t))


def weighted_overlap_coeff(a: Column, b: Column, idf_arr: Column, wa: Column, wb: Column) -> Column:
    """W∩ / min(wa, wb); 1.0 when both record weights are ~0 (simfunc.cc:265-283)
    and 0.0 when only one is (the shared zero-denominator rule)."""
    both_zero = (F.abs(wa) < 1e-9) & (F.abs(wb) < 1e-9)
    return F.when(both_zero, F.lit(1.0)).otherwise(
        sim_from_counts("overlap_coeff", weighted_overlap(a, b, idf_arr), wa, wb))


# ---- character-level string sims (scoring stage: Arrow-batched pandas UDFs) -
# Per the north-star contract the pairwise-scoring stage runs in vectorized
# pandas/Arrow UDFs; Jaro-Winkler and Monge-Elkan have no JVM intrinsic, so
# they ride the Arrow batch path here (never the blocking hot path).

def jaro_winkler_py(s1: str, s2: str) -> float:
    """Reference-exact Jaro-Winkler (simfunc.cc:318-384): match window
    max(len)/2 - 1, integer-truncated transposition halving, boost threshold
    0.7, prefix cap 4, p = 0.1. Verified equal to DuckDB's
    jaro_winkler_similarity (the oracle function) across the test corpus."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    rng = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    m = 0
    for i in range(len1):
        low = i - rng if i >= rng else 0
        high = i + rng if i + rng <= len2 - 1 else len2 - 1
        for j in range(low, high + 1):
            if not m1[i] and not m2[j] and s1[i] == s2[j]:
                m += 1
                m1[i] = True
                m2[j] = True
                break
    if m == 0:
        return 0.0
    k = 0
    ntrans = 0
    for i in range(len1):
        if m1[i]:
            j = k
            for j in range(k, len2):
                if m2[j]:
                    k = j + 1
                    break
            if s1[i] != s2[j]:
                ntrans += 1
    w = (m / len1 + m / len2 + (m - ntrans // 2) / m) / 3.0
    if w > 0.7:
        l = 0
        while l < 4 and l < min(len1, len2) and s1[l] == s2[l]:
            l += 1
        w += l * 0.1 * (1.0 - w)
    return w


def monge_elkan_py(s1: str, s2: str) -> float:
    """Monge-Elkan with Jaro-Winkler inner sim (simfunc.cc:387-412): mean
    over s1's space-split tokens (duplicates kept) of the max JW against
    s2's tokens; empty token lists on either side -> 0.0."""
    t1 = [t for t in (s1 or "").split(" ") if t]
    t2 = [t for t in (s2 or "").split(" ") if t]
    if not t1 or not t2:
        return 0.0
    return sum(max(jaro_winkler_py(a, b) for b in t2) for a in t1) / len(t1)


def _batch_udf(batch_fn):
    """Arrow pandas UDF wrapping a numpy batch function (list[str], list[str])
    -> np.ndarray — the whole batch is one vectorized call, no per-row
    Python (functions.jw_numpy; bit-identical to the *_py scalar oracles)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _udf(a, b):
        return pd.Series(batch_fn(a.tolist(), b.tolist()), dtype="float64")

    # real type objects (the module-level `from __future__ import annotations`
    # would stringify inline hints, which pandas_udf cannot resolve)
    _udf.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    # asNondeterministic: a filter over a column computed by this UDF
    # otherwise evaluates the UDF TWICE (once below the pushed-down filter,
    # once in the output projection — two ArrowEvalPython nodes for one
    # call); these scorers are the most expensive UDFs in the repo, so the
    # lost reorderings are a fine trade (optimization guide §4.4)
    return pandas_udf(_udf, "double").asNondeterministic()


def jaro_winkler(a: Column, b: Column) -> Column:
    """Jaro-Winkler similarity — numpy-vectorized Arrow batches (masked char
    sweeps over padded code matrices, ~5x the scalar loop on head-length
    strings; see functions/jw_numpy.py)."""
    from .jw_numpy import jw_batch

    return _batch_udf(jw_batch)(a, b)


def monge_elkan(a: Column, b: Column) -> Column:
    """Monge-Elkan (JW inner) — numpy-vectorized with distinct-token-pair
    dedup across the Arrow batch (see functions/jw_numpy.py)."""
    from .jw_numpy import monge_elkan_batch

    return _batch_udf(monge_elkan_batch)(a, b)


#: dispatch table for the set-similarity family (sim name -> Column fn)
SET_SIMS = {
    "jac": jaccard,
    "cos": cosine,
    "dice": dice,
    "overlap": overlap,
    "overlap_coeff": overlap_coeff,
}


def _on_strings(fn):
    return lambda a, b: fn(a.cast("string"), b.cast("string"))


#: the one dispatch of the untokenized pair sims (feature name -> Column fn
#: over two raw attribute Columns); all but abs_norm compare the values as
#: strings
PAIR_SIMS = {
    "lev_dist": _on_strings(lev_dist),
    "lev_sim": _on_strings(lev_sim),
    "exact_match": _on_strings(exact_match),
    "abs_norm": absolute_norm,
    "jaro_winkler": _on_strings(jaro_winkler),
    "monge_elkan": _on_strings(monge_elkan),
}
