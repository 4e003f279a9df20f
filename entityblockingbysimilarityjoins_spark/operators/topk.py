"""Top-K candidate ranking (SURVEY §2.6, K1-K5).

The reference ranks candidate pairs with Fagin's Threshold Algorithm over four
ranked similarity lists (jaccard, cosine, dice, overlapCoeff of the
representative attribute's dlm tokens — ``/root/reference/cpp/topk/topk.cc:31-95,530-653``)
or by an F1-weighted sum of all rules' similarities (topk.cc:1053-1523).

In Spark, TA's early-termination is pointless: computing the four similarity
columns for every candidate and taking a distributed top-K
(per-partition partial top-K + final merge — ``orderBy().limit(K)`` compiles
to TakeOrderedAndProject) touches each candidate exactly once with no index
builds. Determinism: the reference's heaps tie-break by arrival order
(setjoin.h:74-78); we define the total order (score DESC, id1 ASC, id2 ASC)
(SURVEY §7 hard parts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import persist_tracked
from .set_join import (
    _expand_pairs,
    _group_sets,
    _self_join_parts,
    _ta_score,
)


def ta_score(t1: Column, t2: Column) -> Column:
    """Sum of the four TA similarities (row upper bound in topk.cc:588-613).

    One ``array_intersect`` evaluation; all four sims derive from the shared
    (o, |a|, |b|) triple (``set_join.TA_SIMS``) — identical values to
    summing ``functions.sim.SET_SIMS``, 4x less intersection work per
    candidate."""
    return _ta_score(F.size(F.array_intersect(t1, t2)), F.size(t1), F.size(t2))


def topk_via_ta(
    pairs: DataFrame,
    tokens_df: DataFrame,
    k: int,
    id_col: str = "rid",
    tokens_col: str = "tokens",
    score_col: str = "score",
) -> DataFrame:
    """K1: global top-K candidate pairs by the 4-sim TA score (self or RS).

    The score is a pure function of the two TOKEN SETS, so records with
    identical sets (abundant on duplicate-heavy web corpora — the same
    grouping the set joins exploit) need only one ``array_intersect`` per
    distinct set pair: group records by token set, score the distinct
    (group, group) pairs present in ``pairs``, then hash-join the score back
    onto the expanded pairs. The candidate-level exchanges carry only int
    group keys, never token arrays, and the final global top-K is still one
    ``TakeOrderedAndProject`` (per-partition partial top-K + driver merge)
    over trivially-scored rows."""
    t = tokens_df.select(F.col(id_col).alias("rid"), F.col(tokens_col).alias("toks"))
    groups = _group_sets(t, "toks")
    m = groups.select(F.explode("members").alias("__rid"), F.col("rid").alias("__gid"))
    pairs = persist_tracked(pairs)
    p2 = (
        pairs.join(m.withColumnsRenamed({"__rid": "id1", "__gid": "__g1"}), "id1")
        .join(m.withColumnsRenamed({"__rid": "id2", "__gid": "__g2"}), "id2")
    )
    r1, r2 = (groups.select(F.col("rid").alias(f"__g{i}"), F.col("toks").alias(f"t{i}"))
              for i in ("1", "2"))
    score = ta_score(F.col("t1"), F.col("t2"))
    scored_gp = persist_tracked(
        p2.select("__g1", "__g2").distinct()
        .join(r1, "__g1").join(r2, "__g2")
        .select("__g1", "__g2", score.alias(score_col))
    )
    other = [c for c in pairs.columns if c not in ("id1", "id2")]
    # Group-level pre-top-K (k <= 10^5): every group pair contributes at
    # least one record pair, so no record pair from a group pair scoring
    # BELOW the k-th highest group-pair score can reach the record top-k —
    # filter the expansion to group pairs at or above that threshold before
    # the final TakeOrderedAndProject, instead of sorting the full expanded
    # pair table (orders of magnitude fewer rows on duplicate-heavy
    # corpora). The threshold probe collects exactly k scores.
    if k <= 100_000:
        top = scored_gp.orderBy(F.desc(score_col), F.asc("__g1"),
                                F.asc("__g2")).limit(k).select(score_col).collect()
        if len(top) == k:
            scored_gp = scored_gp.filter(F.col(score_col) >= top[-1][score_col])
    full = (
        p2.join(scored_gp, ["__g1", "__g2"])
        .select("id1", "id2", *other, score_col)
    )
    return (
        full.orderBy(F.desc(score_col), F.asc("id1"), F.asc("id2"))
        .limit(k)
    )


def topk_over_self_join(
    tokens_df: DataFrame,
    k: int,
    sim: str = "jac",
    threshold: float = 0.8,
    id_col: str = "rid",
    tokens_col: str = "tokens",
    score_col: str = "score",
) -> DataFrame:
    """K1 fused with the upstream set-similarity self join — the canonical
    composition ``topk_via_ta(set_similarity_self_join(toks), toks)`` without
    ever materializing, persisting, or re-grouping the expanded record-pair
    table (guide §2.4: the join's expansion plus ``topk_via_ta``'s two
    membership joins, one distinct shuffle, and full-pair persist all carried
    the SAME group structure the join already had).

    Output is row-identical to the unfused composition: the join's verified
    SET-level pairs carry the TA score computed in the verify stage by the
    same ``_ta_score``; intra-group pairs score exactly 4.0 (all four sims
    are exactly 1.0 for identical sets — the division/sqrt are exact for
    these operands). Group-level threshold pruning keeps every set pair at
    or above the k-th best group score (each multi-member group counts once
    at 4.0) — each group pair contributes >= 1 record pair, so the
    record-level top-k survives — and intra-group pairs, at the maximum
    score, pass any threshold. Only those expand into the final
    TakeOrderedAndProject. On the prefix path the join runs over records
    and its pairs are ranked as they are."""
    verified, groups = _self_join_parts(
        tokens_df, id_col, tokens_col, sim, threshold, sim_col="__sim",
        ta_col=score_col)
    set_pairs = persist_tracked(verified.select("id1", "id2", score_col))
    if k <= 100_000:
        scores = set_pairs.select(score_col)
        if groups is not None:
            scores = scores.unionByName(groups.filter(F.size("members") >= 2)
                                        .select(F.lit(4.0).alias(score_col)))
        top = scores.orderBy(F.desc(score_col)).limit(k).collect()
        if len(top) == k:
            set_pairs = set_pairs.filter(F.col(score_col) >= top[-1][score_col])
    return (
        _expand_pairs(set_pairs, groups, score_col, 4.0)
        .orderBy(F.desc(score_col), F.asc("id1"), F.asc("id2"))
        .limit(k)
    )


def topk_by_weighted_score(
    scored_pairs: DataFrame,
    k: int,
    score_col: str = "score",
) -> DataFrame:
    """K2/K5: top-K of an already-scored pair table, deterministic order."""
    return scored_pairs.orderBy(F.desc(score_col), F.asc("id1"), F.asc("id2")).limit(k)


def cap_pairs(pairs: DataFrame, tokens_df: DataFrame, max_pairs: int,
              id_col: str = "rid", tokens_col: str = "tokens") -> DataFrame:
    """K3 overflow valve: if |pairs| exceeds max_pairs, keep the TA top-K
    (pretopKviaTA 'replace' mode, blocker_util.cc:111-149)."""
    if pairs.limit(max_pairs + 1).count() <= max_pairs:
        return pairs
    return topk_via_ta(pairs, tokens_df, max_pairs, id_col, tokens_col).drop("score")
