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

from ..functions import sim as S

#: the four TA lists of topk.cc:31-95
TA_SIMS = ("jac", "cos", "dice", "overlap_coeff")


def attach_pair_tokens(pairs: DataFrame, tokens_df: DataFrame, id_col: str = "rid",
                       tokens_col: str = "tokens") -> DataFrame:
    t = tokens_df.select(F.col(id_col), F.col(tokens_col))
    return (
        pairs.join(t.withColumnsRenamed({id_col: "id1", tokens_col: "__t1"}), "id1")
        .join(t.withColumnsRenamed({id_col: "id2", tokens_col: "__t2"}), "id2")
    )


def ta_score(t1: Column, t2: Column) -> Column:
    """Sum of the four TA similarities (row upper bound in topk.cc:588-613).

    One ``array_intersect`` evaluation; all four sims derive from the shared
    (o, |a|, |b|) triple — identical values to summing S.SET_SIMS, 4x less
    intersection work per candidate."""
    o = F.size(F.array_intersect(t1, t2)).cast("double")
    l1 = F.size(t1).cast("double")
    l2 = F.size(t2).cast("double")
    jac = F.when(l1 + l2 - o > 0, o / (l1 + l2 - o)).otherwise(F.lit(0.0))
    cos = F.when(l1 * l2 > 0, o / F.sqrt(l1 * l2)).otherwise(F.lit(0.0))
    dice = F.when(l1 + l2 > 0, F.lit(2.0) * o / (l1 + l2)).otherwise(F.lit(0.0))
    oc = F.when(F.least(l1, l2) > 0, o / F.least(l1, l2)).otherwise(F.lit(0.0))
    return jac + cos + dice + oc


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
    from .cache import persist_tracked

    t = tokens_df.select(F.col(id_col).alias("__rid"),
                         F.col(tokens_col).alias("__toks"))
    grouped = persist_tracked(
        t.groupBy("__toks").agg(F.collect_list("__rid").alias("__members"),
                                F.min("__rid").alias("__gid"))
    )
    m = grouped.select(F.explode("__members").alias("__rid"), "__gid")
    pairs = persist_tracked(pairs)
    p2 = (
        pairs.join(m.withColumnsRenamed({"__rid": "id1", "__gid": "__g1"}), "id1")
        .join(m.withColumnsRenamed({"__rid": "id2", "__gid": "__g2"}), "id2")
    )
    # tiny-vocab scoring (see set_join): representatives encode to bitmask
    # words via a driver-inlined literal map, and the 4-sim TA score derives
    # from (bit_count overlap, |a|, |b|) — the same double arithmetic as
    # ta_score, with no per-group-pair string-array intersection. Large
    # vocabularies keep the string path. One probe job total.
    from .set_join import resolve_vocab

    inline = resolve_vocab(t.select(F.col("__toks").alias("tokens")),
                           build=False).inline
    if inline is not None:
        nw = inline.n_words
        tids = F.array_sort(
            F.filter(F.transform("__toks",
                                 lambda x: F.element_at(inline.token_map, x)),
                     lambda x: x.isNotNull())).cast("array<int>")
        rep = grouped.select("__gid", F.size("__toks").alias("__l"),
                             tids.alias("__tids"))
        from .set_join import _mask_cols

        rep = rep.select("__gid", "__l",
                         *_mask_cols(F.col("__tids"), nw)).withColumnsRenamed(
            {f"__bm{w}": f"__m{w}" for w in range(nw)})
        l1 = F.col("__l1").cast("double")
        l2 = F.col("__l2").cast("double")
        o = F.bit_count(F.col("__m01").bitwiseAND(F.col("__m02")))
        for w in range(1, nw):
            o = o + F.bit_count(F.col(f"__m{w}1").bitwiseAND(F.col(f"__m{w}2")))
        od = o.cast("double")
        jac = F.when(l1 + l2 - od > 0, od / (l1 + l2 - od)).otherwise(F.lit(0.0))
        cos = F.when(l1 * l2 > 0, od / F.sqrt(l1 * l2)).otherwise(F.lit(0.0))
        dice = F.when(l1 + l2 > 0, F.lit(2.0) * od / (l1 + l2)).otherwise(F.lit(0.0))
        oc = F.when(F.least(l1, l2) > 0, od / F.least(l1, l2)).otherwise(F.lit(0.0))
        score = jac + cos + dice + oc
        r1 = rep.select(F.col("__gid").alias("__g1"), F.col("__l").alias("__l1"),
                        *[F.col(f"__m{w}").alias(f"__m{w}1") for w in range(nw)])
        r2 = rep.select(F.col("__gid").alias("__g2"), F.col("__l").alias("__l2"),
                        *[F.col(f"__m{w}").alias(f"__m{w}2") for w in range(nw)])
    else:
        rep = grouped.select("__gid", "__toks")
        r1 = rep.withColumnsRenamed({"__gid": "__g1", "__toks": "__t1"})
        r2 = rep.withColumnsRenamed({"__gid": "__g2", "__toks": "__t2"})
        score = ta_score(F.col("__t1"), F.col("__t2"))
    scored_gp = persist_tracked(
        p2.select("__g1", "__g2").distinct()
        .join(r1, "__g1").join(r2, "__g2")
        .select("__g1", "__g2", score.alias(score_col))
    )
    other = [c for c in pairs.columns if c not in ("id1", "id2")]
    full = (
        p2.join(scored_gp, ["__g1", "__g2"])
        .select("id1", "id2", *other, score_col)
    )
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
            s_star = top[-1][score_col]
            full = (
                p2.join(scored_gp.filter(F.col(score_col) >= s_star),
                        ["__g1", "__g2"])
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
    SET-level pairs carry the 4-sim TA score computed in the verify stage
    (same operand order, bit-compatible doubles); intra-group pairs score
    exactly 4.0 (all four sims are exactly 1.0 for identical sets — the
    division/sqrt are exact for these operands). Group-level threshold
    pruning keeps every group pair at or above the k-th best group score —
    each group pair contributes >= 1 record pair, so the record-level top-k
    survives — and only those expand into the final TakeOrderedAndProject.
    On the prefix path the join runs over records, so every group is a
    singleton (a projection, no shuffle) and the same code applies."""
    from .cache import persist_tracked
    from .set_join import _self_join_parts

    verified, groups = _self_join_parts(
        tokens_df, id_col, tokens_col, sim, threshold, sim_col="__sim",
        ta_col=score_col)
    g = groups.select(F.col("rid").alias("gid"), "members",
                      F.size("members").alias("sz"))
    cross_gp = verified.select(F.col("id1").alias("g1"), F.col("id2").alias("g2"),
                               F.col(score_col))
    intra_gp = (
        g.filter(F.col("sz") >= 2)
        .select(F.col("gid").alias("g1"), F.col("gid").alias("g2"),
                F.lit(4.0).alias(score_col))
    )
    gp = persist_tracked(cross_gp.unionByName(intra_gp))
    if k <= 100_000:
        top = gp.orderBy(F.desc(score_col), F.asc("g1"),
                         F.asc("g2")).limit(k).select(score_col).collect()
        if len(top) == k:
            gp = gp.filter(F.col(score_col) >= top[-1][score_col])
    m1 = g.select(F.col("gid").alias("g1"), F.col("members").alias("m1"))
    m2 = g.select(F.col("gid").alias("g2"), F.col("members").alias("m2"))
    cross = (
        gp.filter(F.col("g1") != F.col("g2"))
        .join(m1, "g1").join(m2, "g2")
        .withColumn("a", F.explode("m1"))
        .withColumn("b", F.explode("m2"))
        .select(F.least("a", "b").alias("id1"), F.greatest("a", "b").alias("id2"),
                score_col)
    )
    intra = (
        gp.filter(F.col("g1") == F.col("g2"))
        .join(m1, "g1")
        .select(F.explode("m1").alias("a"), "m1", score_col)
        .select("a", F.explode("m1").alias("b"), score_col)
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("id1"), F.col("b").alias("id2"), score_col)
    )
    return (
        cross.unionByName(intra)
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
