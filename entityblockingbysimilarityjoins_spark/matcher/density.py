"""Per-rule quality estimation + rule-weighted ranking (SURVEY M4 + K2).

``estimate_rule_density`` re-expresses ``SimJoinBlocker::estimateDensity``
(``/root/reference/cpp/blocker/simjoin_blocker.cc:383-537``): evaluate every
blocking rule alone on the labeled sample, compute its F1, and normalize the
F1s into rule weights. ``score_pairs_by_rules`` then ranks candidate pairs by
the weight-blended similarity values — the reference's
``topKviaAllSimilarityScores`` (``cpp/topk/topk.cc:1053-1523``), computed as
plain score columns + distributed top-K.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sim as S
from ..functions.tokenize import tokenizer
from ..sources.rules import FEATURE_SPELLING, Rule
from .features import attach_pair_payload


def _attach_rule_payload(pairs: DataFrame, records: DataFrame, id_col: str,
                         rules: list[Rule]):
    """Pair payload with per-rule tokenizations materialized on the RECORDS
    side (O(records) tokenizer runs instead of O(pairs) — the same move
    matcher.features makes). Returns (payload, tok_col_by_rule_index)."""
    attrs = sorted({r.attr for r in rules})
    rec = records.select(id_col, *attrs)
    tok_cols: dict[int, str] = {}
    for i, r in enumerate(rules):
        if r.tok:
            cname = f"__rtok_{i}"
            rec = rec.withColumn(
                cname, tokenizer(r.tok, r.tok_settings)(F.col(r.attr)))
            tok_cols[i] = cname
    side_cols = attrs + [tok_cols[i] for i in sorted(tok_cols)]
    return attach_pair_payload(pairs, rec, id_col, side_cols), tok_cols


def _rule_value(rule: Rule, i: int, tok_cols: dict[int, str]) -> Column:
    """Similarity value of rule ``i`` on a payload row; a tokenized rule
    reads the token arrays ``_attach_rule_payload`` materialized."""
    if rule.tok:
        return S.SET_SIMS[rule.sim](F.col(f"l_{tok_cols[i]}"), F.col(f"r_{tok_cols[i]}"))
    name = FEATURE_SPELLING.get(rule.sim, rule.sim)
    if name not in S.PAIR_SIMS:
        raise ValueError(rule.sim)
    return S.PAIR_SIMS[name](F.col(f"l_{rule.attr}"), F.col(f"r_{rule.attr}"))


def _rule_passes(rule: Rule, value: Column) -> Column:
    if rule.sign == "+":
        return value >= rule.threshold
    return value <= rule.threshold


def estimate_rule_density(
    labeled_pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    rules: list[Rule],
) -> list[float]:
    """Normalized per-rule F1 weights on a labeled (id1, id2, label) sample."""
    payload, tok_cols = _attach_rule_payload(
        labeled_pairs.select("id1", "id2", "label"), records, id_col, rules)
    aggs = []
    for i, r in enumerate(rules):
        hit = _rule_passes(r, _rule_value(r, i, tok_cols))
        aggs += [
            F.sum((hit & (F.col("label") == 1)).cast("int")).alias(f"tp_{i}"),
            F.sum(hit.cast("int")).alias(f"pp_{i}"),
        ]
    aggs.append(F.sum((F.col("label") == 1).cast("int")).alias("pos"))
    row = payload.agg(*aggs).collect()[0]
    pos = row["pos"] or 0
    f1s = []
    for i in range(len(rules)):
        tp, pp = row[f"tp_{i}"] or 0, row[f"pp_{i}"] or 0
        prec = tp / pp if pp else 0.0
        rec = tp / pos if pos else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    total = sum(f1s)
    return [f / total if total else 1.0 / len(rules) for f in f1s]


def score_pairs_by_rules(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    rules: list[Rule],
    weights: list[float],
    score_col: str = "score",
) -> DataFrame:
    """K2: pairs + weighted-sum-of-rule-similarities score column.

    lev rules contribute as lev_sim-style (inverted) via 1/(1+dist) so higher
    is always better in the blend."""
    payload, tok_cols = _attach_rule_payload(pairs, records, id_col, rules)
    score = F.lit(0.0)
    for i, (r, w) in enumerate(zip(rules, weights)):
        val = _rule_value(r, i, tok_cols)
        contrib = F.lit(1.0) / (F.lit(1.0) + val) if r.sim == "lev" else val
        score = score + F.lit(float(w)) * contrib
    return payload.select("id1", "id2", score.alias(score_col))
