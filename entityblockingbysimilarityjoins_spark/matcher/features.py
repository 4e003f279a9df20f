"""Per-pair feature extraction (SURVEY §2.8, F1/F2) — native Column expressions.

py_entitymatching conventions re-expressed (reference
``cpp/feature/feature_utils.h:36-68``, ``simjoin_entitymatching/feature/feature_base.py``):

- feature set = 7 sim functions {lev_dist, overlap, jaccard, dice, cosine,
  exact_match, abs_norm} × tokenizers {qgm_3, dlm} chosen per attribute type
  (Falcon appendix mapping, feature_base.py:85-112),
- attribute types by mean word count: numeric / str_eq_1w / str_bt_1w_5w /
  str_bt_5w_10w / str_gt_10w (utils/datasets.py:18-22),
- **NaN-on-empty**: a feature is NULL (-> NaN in pandas) when either side's
  attribute is missing/empty (feature_utils.h:36-41); imputation to 0.0
  happens at train/predict time (random_forest.py:430,660), never here.

The whole feature matrix is computed with built-in expressions
(array_intersect / levenshtein / ...) inside whole-stage codegen — the
reference needed C++ threads for this; Spark needs no Python at all.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sim as S
from ..functions.tokenize import tokenizer, tokens_qgram_encoded
from ..operators.cache import persist_tracked


@dataclass(frozen=True)
class Feature:
    attr: str
    sim: str                    # jac|cos|dice|overlap|overlap_coeff|lev_dist|lev_sim|exact_match|abs_norm
    tok: str | None = None      # dlm|qgm|wspace|alphanumeric|None
    tok_settings: str | int | None = None

    @property
    def name(self) -> str:
        if self.tok:
            t = f"{self.tok}_{self.tok_settings}" if self.tok_settings else self.tok
            return f"{self.attr}_{self.attr}_{self.sim}_{t}_{t}"
        return f"{self.attr}_{self.attr}_{self.sim}"


#: attribute type -> feature recipes (sim, tok, settings)
_TYPE_FEATURES = {
    "numeric": [("exact_match", None, None), ("abs_norm", None, None),
                ("lev_dist", None, None)],
    "str_eq_1w": [("exact_match", None, None), ("lev_dist", None, None),
                  ("jac", "qgm", 3), ("cos", "qgm", 3)],
    "str_bt_1w_5w": [("jac", "qgm", 3), ("cos", "qgm", 3), ("dice", "qgm", 3),
                     ("lev_dist", None, None), ("overlap", "qgm", 3),
                     ("exact_match", None, None)],
    "str_bt_5w_10w": [("jac", "qgm", 3), ("cos", "qgm", 3), ("jac", "dlm", None),
                      ("cos", "dlm", None), ("dice", "dlm", None),
                      ("overlap", "dlm", None), ("lev_dist", None, None)],
    "str_gt_10w": [("jac", "qgm", 3), ("cos", "qgm", 3), ("jac", "dlm", None),
                   ("cos", "dlm", None), ("dice", "dlm", None),
                   ("overlap_coeff", "dlm", None)],
}


def infer_attr_types(df: DataFrame, attrs: list[str]) -> dict[str, str]:
    """Mean-word-count attribute typing (datasets.py:18-22 categories)."""
    aggs = []
    for a in attrs:
        aggs.append(F.avg(F.size(F.split(F.col(a), " +"))).alias(f"{a}__wc"))
        aggs.append(
            F.avg(F.col(a).try_cast("double").isNotNull().cast("int")).alias(f"{a}__num")
        )
    row = df.agg(*aggs).collect()[0]
    out = {}
    for a in attrs:
        if (row[f"{a}__num"] or 0.0) > 0.95:
            out[a] = "numeric"
        else:
            wc = row[f"{a}__wc"] or 0.0
            if wc <= 1.0:
                out[a] = "str_eq_1w"
            elif wc <= 5.0:
                out[a] = "str_bt_1w_5w"
            elif wc <= 10.0:
                out[a] = "str_bt_5w_10w"
            else:
                out[a] = "str_gt_10w"
    return out


def generate_features(attr_types: dict[str, str]) -> list[Feature]:
    """F1: the py_em-style feature set for the given attribute typing."""
    feats = []
    for attr, typ in attr_types.items():
        for sim, tok, settings in _TYPE_FEATURES[typ]:
            feats.append(Feature(attr, sim, tok, settings))
    return feats


def _empty(c: Column) -> Column:
    return c.isNull() | (c.cast("string") == F.lit(""))


def _tok_col(feat: Feature) -> str:
    return f"__tok_{feat.attr}_{feat.tok}_{feat.tok_settings}"


def _feature_col(feat: Feature, l: Column, r: Column) -> Column:
    """NULL when either side is empty, else the untokenized similarity."""
    if feat.sim not in S.PAIR_SIMS:
        raise ValueError(f"untokenized feature {feat.sim!r}")
    return F.when(_empty(l) | _empty(r), F.lit(None).cast("double")
                  ).otherwise(S.PAIR_SIMS[feat.sim](l, r))


def attach_pair_payload(
    pairs: DataFrame, records: DataFrame, id_col: str, cols: list[str]
) -> DataFrame:
    """(id1, id2, ..., l_<col>..., r_<col>...): each pair with both records'
    ``cols`` — the one payload join of every pair scorer. No join hint:
    Catalyst broadcasts the record side while it fits and falls back to
    sort-merge (AQE skew-aware) beyond that."""
    l = records.select(F.col(id_col).alias("id1"),
                       *[F.col(c).alias(f"l_{c}") for c in cols])
    r = records.select(F.col(id_col).alias("id2"),
                       *[F.col(c).alias(f"r_{c}") for c in cols])
    return pairs.join(l, "id1").join(r, "id2")


def extract_features(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    features: list[Feature],
    keep_cols: tuple[str, ...] = (),
    topk_normalize: bool = False,
) -> DataFrame:
    """F2: (id1, id2, <feature name>...) feature matrix for candidate pairs.

    Tokenization is materialized on the records side (O(records), once per
    distinct (attr, tok, settings)) before the pair join — only array
    intersections run per pair.

    The per-pair set features are computed in TWO stacked projections: the
    first evaluates one shared (overlap, |a|, |b|) triple per tokenization,
    the second derives every sim from that triple
    (``functions.sim.sim_from_counts``). All features of one tokenization
    therefore cost ONE array_intersect per pair instead of one each (e.g.
    8 -> 3 for the documents feature set) — CollapseProject keeps the
    stages separate because the triple columns are expensive and multiply
    referenced (SPARK-36718), so the intersect is evaluated once.

    ``topk_normalize`` is the F4 top-K mode: unbounded ``overlap`` features
    evaluate as ``overlap_coeff`` so every feature the TA scorer consumes
    lies in [0, 1] (cal_feature.cc:326-328, isTopK branch)."""
    attrs = sorted({f.attr for f in features})
    tok_feats = {_tok_col(f): f for f in features if f.tok}
    # the matrix only consumes (o, |a|, |b|) counts — long-packed q-grams
    # intersect on the atomic-type fast path, identical sizes
    rec = records.select(id_col, *attrs).withColumns({
        cname: (tokens_qgram_encoded(F.col(feat.attr), int(feat.tok_settings or 3))
                if feat.tok == "qgm"
                else tokenizer(feat.tok, feat.tok_settings)(F.col(feat.attr)))
        for cname, feat in tok_feats.items()
    }).transform(persist_tracked)

    payload = attach_pair_payload(pairs, rec, id_col, attrs + list(tok_feats))

    # stage 1: shared per-tokenization triples (one intersect per pair each)
    mid_cols = [F.col("id1"), F.col("id2"), *[F.col(c) for c in keep_cols]]
    mid_cols += [F.col(f"l_{a}") for a in attrs] + [F.col(f"r_{a}") for a in attrs]
    for cname in tok_feats:
        tl, tr = F.col(f"l_{cname}"), F.col(f"r_{cname}")
        mid_cols += [
            F.size(F.array_intersect(tl, tr)).cast("double").alias(f"__o_{cname}"),
            F.size(tl).alias(f"__la_{cname}"),
            F.size(tr).alias(f"__lb_{cname}"),
        ]
    mid = payload.select(*mid_cols)

    # stage 2: every feature from its triple (set sims) or raw attrs
    cols = [F.col("id1"), F.col("id2"), *[F.col(c) for c in keep_cols]]
    for feat in features:
        lraw, rraw = F.col(f"l_{feat.attr}"), F.col(f"r_{feat.attr}")
        if feat.tok:
            cname = _tok_col(feat)
            o = F.col(f"__o_{cname}")
            la, lb = F.col(f"__la_{cname}"), F.col(f"__lb_{cname}")
            sim_key = feat.sim
            if topk_normalize and sim_key == "overlap":
                sim_key = "overlap_coeff"
            val = S.sim_from_counts(sim_key, o, la, lb)
            cols.append(
                F.when(_empty(lraw) | _empty(rraw) | (la == 0) | (lb == 0),
                       F.lit(None).cast("double"))
                .otherwise(val).alias(feat.name))
        else:
            cols.append(_feature_col(feat, lraw, rraw).alias(feat.name))
    return mid.select(*cols)
