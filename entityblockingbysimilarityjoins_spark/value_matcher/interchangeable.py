"""Interchangeable-value grouping + IC-aware rematch + cluster expansion
(SURVEY §2.10, V2/V3/V5/V7/V8).

Reference semantics re-expressed:

- value pairs come from *matched* record pairs whose attribute values differ
  (``value_matcher/doc2vec.py:290-326``: the matcher's positives supply the
  value pairs to test);
- pairs with embedding cosine >= tau become edges; DSU/graph closure groups
  them (we use the distributed connected-components operator); each group's
  representative is its minimum value (deterministic);
- ``normalize_values`` rewrites an attribute to group representatives (V5,
  ``interchangeable.py:17-67``) so downstream consumers can canonicalize;
- ``extract_features_ic`` (F3/V6, ``cpp/feature/cal_feature.cc:37-317``):
  feature values are the max (min for lev) over all IC-group member
  combinations — the reference's consistency-aware scoring, not value
  substitution;
- ``rematch_negatives`` (V7, ``matcher/match.py:135-166``): re-extract
  IC-max features for the matcher's negatives, re-predict, append recovered
  positives;
- ``cluster_pairs_ic`` (V8, ``interchangeable.py:70-158``): entity clusters =
  connected components over matched pairs plus interchangeable-value edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.connected_components import connected_components
from .embed import cosine_sim, hashed_embedding
from ..operators.cache import persist_tracked


def value_pairs_from_matches(
    matches: DataFrame, records: DataFrame, id_col: str, attr: str
) -> DataFrame:
    """(v1, v2) distinct differing value pairs among matched record pairs."""
    r = records.select(F.col(id_col), F.col(attr))
    return (
        matches.join(r.withColumnsRenamed({id_col: "id1", attr: "v1"}), "id1")
        .join(r.withColumnsRenamed({id_col: "id2", attr: "v2"}), "id2")
        .filter(F.col("v1").isNotNull() & F.col("v2").isNotNull())
        .filter((F.col("v1") != F.col("v2")) & (F.col("v1") != "") & (F.col("v2") != ""))
        .select(F.least("v1", "v2").alias("v1"), F.greatest("v1", "v2").alias("v2"))
        .distinct()
    )


def group_values(
    value_pairs: DataFrame, tau: float = 0.8, dim: int = 64, seed: int = 0,
    closure: str = "cc",
) -> DataFrame:
    """V2+V3: cosine-label value pairs, group by connectivity.

    Returns (value, representative) for every value in some group
    (representative = min value of the group, deterministic).

    ``closure``: 'cc' takes the full transitive closure (connected
    components). '2hop' is the reference's bounded mode
    (``cpp/group/graph.h:69-71``: "we only check the two-hop neighbors" —
    x ~ z is deduced through one shared neighbor but z's further neighbors
    are NOT followed): each value's representative is the minimum over its
    <=2-hop neighborhood, computed with ONE self-join of the symmetric edge
    list — noisy embeddings then produce smaller, tighter groups."""
    scored = value_pairs.withColumn(
        "cos", cosine_sim(hashed_embedding(F.col("v1"), dim, seed),
                          hashed_embedding(F.col("v2"), dim, seed))
    )
    edges = scored.filter(F.col("cos") >= tau).select("v1", "v2")
    return group_edges(edges, closure)


def group_edges(edges: DataFrame, closure: str = "cc") -> DataFrame:
    """Shared V3 closure step over an already-labeled (v1, v2) edge list:
    'cc' = connected components; '2hop' = the reference's bounded mode
    (min representative over the <=2-hop neighborhood via one self-join)."""
    if closure == "cc":
        comp = connected_components(edges, "v1", "v2")
        return comp.select(F.col("node").alias("value"),
                           F.col("component").alias("representative"))
    if closure != "2hop":
        raise ValueError(closure)
    sym = edges.select(F.col("v1").alias("u"), F.col("v2").alias("v")).unionAll(
        edges.select(F.col("v2").alias("u"), F.col("v1").alias("v")))
    two = (
        sym.withColumnRenamed("v", "m")
        .join(sym.withColumnsRenamed({"u": "m", "v": "w"}), "m")
        .select("u", F.col("w").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    reach = sym.unionAll(two)
    return (
        reach.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("representative"))
        .select(F.col("u").alias("value"), "representative")
    )


def normalize_values(
    records: DataFrame, attr: str, groups: DataFrame, out_col: str | None = None
) -> DataFrame:
    """V5: rewrite ``attr`` to its group representative (identity if ungrouped)."""
    out_col = out_col or attr
    g = F.broadcast(groups.withColumnsRenamed({"value": attr, "representative": "__rep"}))
    return (
        records.join(g, attr, "left")
        .withColumn(out_col, F.coalesce(F.col("__rep"), F.col(attr)))
        .drop("__rep")
    )


def cluster_pairs_ic(
    matches: DataFrame,
    records: DataFrame,
    id_col: str,
    groups_per_attr: dict[str, DataFrame],
) -> DataFrame:
    """V8: connected components over match edges ∪ same-IC-group record edges.

    Two records whose attribute values share an IC group are linked (the
    reference expands the match graph with IC cliques of the representative
    attribute; a hub node per (attr, representative) realizes the clique
    without materializing O(k^2) edges)."""
    edges = matches.select(
        F.col("id1").cast("string").alias("u"), F.col("id2").cast("string").alias("v")
    )
    for attr, groups in groups_per_attr.items():
        g = F.broadcast(groups.withColumnsRenamed({"value": attr}))
        hub = (
            records.select(F.col(id_col), F.col(attr))
            .join(g, attr)
            .select(
                F.col(id_col).cast("string").alias("u"),
                F.concat(F.lit(f"__ic_{attr}__"), F.col("representative")).alias("v"),
            )
        )
        edges = edges.unionByName(hub)
    comp = connected_components(edges, "u", "v")
    recs = comp.filter(~F.col("node").startswith("__ic_"))
    # component label may be a hub node; remap to min record id per component
    rep = recs.groupBy("component").agg(F.min("node").alias("rep"))
    return recs.join(rep, "component").select(
        F.col("node"), F.col("rep").alias("component")
    )


def extract_features_ic(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    features: list,
    groups_per_attr: dict[str, DataFrame],
) -> DataFrame:
    """F3/V6: IC-max feature matrix (``cpp/feature/cal_feature.cc:37-317``).

    Reference semantics, not value substitution: a feature over (l, r) is the
    **max** over all combinations of l's and r's IC-group member values
    (min of |v| for lev features, cal_feature.cc:76-80); two values in the
    SAME group score 1.0 (overlap: the max member token count,
    cal_feature.cc:105-112 ``lcltid == rcltid`` branch).

    Plan shape: member lists and their tokenizations are materialized on the
    records side (groups are broadcast — they are tiny relative to the
    corpus); per pair, only nested array transforms over the few-member
    arrays run — no per-pair Python, no extra shuffle beyond the payload
    joins."""
    from ..functions import sim as S
    from ..functions.tokenize import tokenizer
    from ..matcher.features import _empty, attach_pair_payload

    attrs = sorted({f.attr for f in features})
    rec = records.select(id_col, *attrs)
    for attr in attrs:
        groups = groups_per_attr.get(attr)
        if groups is None:
            rec = rec.withColumn(f"__rep_{attr}", F.col(attr))
            rec = rec.withColumn(f"__mem_{attr}", F.array(F.col(attr)))
            continue
        members = groups.groupBy("representative").agg(
            F.array_sort(F.collect_list("value")).alias("__grp")
        )
        g = groups.withColumnsRenamed({"value": attr, "representative": f"__rep0_{attr}"})
        rec = (
            rec.join(F.broadcast(g), attr, "left")
            .withColumn(f"__rep_{attr}", F.coalesce(f"__rep0_{attr}", attr))
            .drop(f"__rep0_{attr}")
            .join(
                F.broadcast(members.withColumnsRenamed({"representative": f"__rep_{attr}"})),
                f"__rep_{attr}",
                "left",
            )
            .withColumn(f"__mem_{attr}", F.coalesce("__grp", F.array(F.col(attr))))
            .drop("__grp")
        )
    tok_keys = sorted({(f.attr, f.tok, str(f.tok_settings)) for f in features if f.tok})
    for attr, tok, settings in tok_keys:
        if tok == "qgm":
            # count-only consumer: long-packed grams, same set sizes
            # (matcher.features does the same — see tokens_qgram_encoded)
            from ..functions.tokenize import tokens_qgram_encoded

            s = None if settings == "None" else settings
            fn = lambda e, q=int(s or 3): tokens_qgram_encoded(e, q)  # noqa: E731
        else:
            fn = tokenizer(tok, None if settings == "None" else settings)
        rec = rec.withColumn(
            f"__mtok_{attr}_{tok}_{settings}",
            F.transform(f"__mem_{attr}", lambda e: fn(e)),
        )
    rec = rec.transform(persist_tracked)

    payload = attach_pair_payload(pairs, rec, id_col,
                                  [c for c in rec.columns if c != id_col])

    # shared cross-product triples: ONE array_intersect per (attr, tok) member
    # cross product, from which every sim of that tokenization derives — the
    # same move matcher.features makes for the flat matrix (guide §7.2
    # duplicated subtrees; e.g. the 4 dlm sims cost 1 intersect, not 4). A
    # stacked projection keeps the triple arrays from being inlined per
    # feature (CollapseProject stops at expensive multiply-referenced
    # expressions, SPARK-36718). The triple column carries the per-feature
    # branches' LAZINESS with it: same-group pairs (identical raw values for
    # ungrouped attrs — abundant on duplicate-heavy corpora) short-circuit to
    # NULL inside the CaseWhen, so the intersect is skipped for exactly the
    # rows the per-feature `when(same_grp, ...)` used to skip it for.
    mid_cols = [F.col(c) for c in payload.columns]
    for attr, tok, settings in tok_keys:
        mt = f"__mtok_{attr}_{tok}_{settings}"
        lm, rm = F.col(f"l_{mt}"), F.col(f"r_{mt}")
        triples = F.flatten(F.transform(lm, lambda a: F.transform(
            rm, lambda b: F.struct(
                F.size(F.array_intersect(a, b)).cast("double").alias("o"),
                F.size(a).alias("la"),
                F.size(b).alias("lb")))))
        same_grp = F.col(f"l___rep_{attr}") == F.col(f"r___rep_{attr}")
        mid_cols.append(
            F.when(same_grp, F.lit(None)).otherwise(triples).alias(f"__xt_{mt}"))
    mid = payload.select(*mid_cols)

    cols = [F.col("id1"), F.col("id2")]
    for feat in features:
        lval, rval = F.col(f"l_{feat.attr}"), F.col(f"r_{feat.attr}")
        same_grp = F.col(f"l___rep_{feat.attr}") == F.col(f"r___rep_{feat.attr}")
        if feat.tok:
            mt = f"__mtok_{feat.attr}_{feat.tok}_{feat.tok_settings}"
            xt = F.col(f"__xt_{mt}")
            cross = F.array_max(
                F.transform(xt, lambda t: S.sim_from_counts(
                    feat.sim, t["o"], t["la"], t["lb"]))
            )
            if feat.sim == "overlap":
                lm = F.col(f"l_{mt}")
                same_val = F.array_max(F.transform(lm, lambda a: F.size(a))).cast("double")
            else:
                same_val = F.lit(1.0)
            val = F.when(same_grp, same_val).otherwise(cross)
        else:
            if feat.sim not in S.PAIR_SIMS or feat.sim in ("jaro_winkler", "monge_elkan"):
                # the Arrow-batched sims cannot run inside a lambda function
                raise ValueError(f"untokenized feature {feat.sim!r}")
            fn = S.PAIR_SIMS[feat.sim]
            lm, rm = F.col(f"l___mem_{feat.attr}"), F.col(f"r___mem_{feat.attr}")
            if feat.sim == "lev_dist":
                cross = F.array_min(
                    F.flatten(F.transform(lm, lambda a: F.transform(
                        rm, lambda b: F.abs(fn(a, b)))))
                )
                same_val = F.lit(0.0)
            else:
                cross = F.array_max(F.flatten(F.transform(lm, lambda a: F.transform(rm, lambda b: fn(a, b)))))
                same_val = F.lit(1.0)
            val = F.when(same_grp, same_val).otherwise(cross)
        cols.append(
            F.when(_empty(lval) | _empty(rval), F.lit(None).cast("double"))
            .otherwise(val)
            .alias(feat.name)
        )
    return mid.select(*cols)


def rematch_negatives(
    predicted: DataFrame,
    records: DataFrame,
    id_col: str,
    features: list,
    model,
    groups_per_attr: dict[str, DataFrame],
    threshold: float = 0.5,
) -> DataFrame:
    """V7: re-score the matcher's negatives with IC-max features
    (cal_feature semantics); returns the full match set (original positives
    ∪ recovered negatives).

    Only the features of attributes that HAVE an IC grouping are
    re-extracted; the rest are reused verbatim from the first-pass matrix
    (``predicted`` must carry its feature columns). For an ungrouped
    attribute the IC matrix degenerates to singleton member lists, whose
    values the forest cannot tell apart from the flat ones: cross products
    are the 1x1 raw pair (identical expressions), identical values hit the
    same-group branch whose constants equal the flat sims exactly, and the
    residual cell difference (flat NULL vs IC 0.0 on empty token sets)
    vanishes under the matcher's NaN->0.0 imputation. One corner differs
    in value: two identical non-empty values whose tokenization is empty
    score 1.0 on the IC same-group branch but NULL->0.0 as the reused flat
    feature. The flat 0.0 is the value the frozen oracle expects, as its
    own structure shows — its pass 2 swaps only the grouped attribute's IC
    features into the pass-1 matrix."""
    from ..matcher.random_forest import apply_matcher

    grouped = set(groups_per_attr)
    ic_feats = [f for f in features if f.attr in grouped]
    flat_feats = [f for f in features if f.attr not in grouped]
    # both passes read the first-pass predictions (negatives here, positives
    # in the final union) — persist the slim projection (pair, decision, and
    # the reused feature columns) so the feature matrix + forest run once.
    # Callers that dropped the feature columns (e.g. a checkpointed slim
    # match_res stage) get the missing flat features recomputed for the
    # negatives — still the flat matrix, never the IC expansion.
    have = set(predicted.columns)
    carried = [f for f in flat_feats if f.name in have]
    missing = [f for f in flat_feats if f.name not in have]
    predicted = persist_tracked(predicted.select(
        "id1", "id2", "match", *[f.name for f in carried]))
    negatives = predicted.filter(~F.col("match")).drop("match")
    if missing:
        from ..matcher.features import extract_features

        recomputed = extract_features(
            negatives.select("id1", "id2"), records, id_col, missing)
        negatives = negatives.join(recomputed, ["id1", "id2"])
    if ic_feats:
        neg_ic = extract_features_ic(
            negatives.select("id1", "id2"), records, id_col, ic_feats,
            groups_per_attr)
        neg_feats = negatives.join(neg_ic, ["id1", "id2"]).select(
            "id1", "id2", *[f.name for f in features])
    else:
        neg_feats = negatives.select("id1", "id2", *[f.name for f in features])
    # localCheckpoint: the IC-max columns are deeply nested HOF expressions;
    # feeding them straight into the Arrow-UDF scorer trips Catalyst's
    # subexpression-elimination proxies ("Cannot evaluate expression"), and
    # cutting the plan here also stops the matcher re-deriving the whole
    # feature stage per downstream action
    neg_feats = neg_feats.localCheckpoint()
    rescored = apply_matcher(neg_feats, model, threshold=threshold)
    recovered = rescored.filter(F.col("match")).select("id1", "id2")
    return predicted.filter(F.col("match")).select("id1", "id2").unionByName(recovered)
