"""Rule-dispatching blocker: union semantics + rules_passed + metrics + rules IO."""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.operators.blocker import (
    block_self,
    blocking_metrics,
)
from entityblockingbysimilarityjoins_spark.sources.rules import (
    Rule,
    parse_feature_name,
    parse_rule_line,
    read_rules,
    write_rules,
)

ROWS = [
    (0, "spark entity match engine", "en", "100"),
    (1, "spark entity match engine", "en", "101"),   # jac 1.0 with 0
    (2, "spark entity match motor", "en", "150"),    # jac 0.6 with 0/1
    (3, "flink stream runner", "de", "10"),
    (4, "flink stream runner x", "de", "10"),
    (5, "", "en", "100"),
]


def _df(spark):
    return spark.createDataFrame(ROWS, ["rid", "title", "lang", "price"])


def test_block_self_union_and_rules_passed(spark):
    rules = [
        Rule("title", "jac", "dlm", None, 0.8),
        Rule("title", "lev", None, None, 2.0, "-"),
        Rule("price", "anm", None, None, 0.95),
    ]
    res = {(r["id1"], r["id2"]): r["rules_passed"] for r in
           block_self(_df(spark), "rid", rules).collect()}
    # pair (0,1): jac=1.0 pass, lev=0 pass, anm(100,101)=0.990 pass -> 3
    assert res[(0, 1)] == 3
    # pair (3,4): jac=3/4 fail, lev=2 pass, anm(10,10) pass -> 2
    assert res[(3, 4)] == 2
    # pair (0,5): anm(100,100)=1 pass only (title "" never joins)
    assert res[(0, 5)] == 1
    assert (2, 5) not in res  # nothing passes
    # one more rule, overlap >= c: it adds exactly one to every pair whose
    # title token sets share at least c tokens (brute force), to no other
    c = 2
    toks = {rid: set(title.split()) for rid, title, _, _ in ROWS}
    want = {p for p in itertools.combinations(sorted(toks), 2)
            if len(toks[p[0]] & toks[p[1]]) >= c}
    assert want  # (0,1), (0,2), (1,2), (3,4)
    with_ovl = {(r["id1"], r["id2"]): r["rules_passed"] for r in block_self(
        _df(spark), "rid", rules + [Rule("title", "overlap", "dlm", None, float(c))]
    ).collect()}
    assert want <= set(with_ovl)
    assert {p: n - res.get(p, 0) for p, n in with_ovl.items()} == {
        p: int(p in want) for p in with_ovl}


def test_degenerate_lev_skipped(spark):
    rules = [
        Rule("lang", "exm", None, None, 0.5),
        Rule("lang", "lev", None, None, 0.0, "-"),
    ]
    res = {(r["id1"], r["id2"]): r["rules_passed"] for r in
           block_self(_df(spark), "rid", rules).collect()}
    # lev rule skipped -> every same-lang pair has rules_passed == 1
    assert set(res.values()) == {1}
    assert (0, 1) in res and (3, 4) in res


def test_blocking_metrics(spark):
    rules = [Rule("title", "jac", "dlm", None, 0.8)]
    cand = block_self(_df(spark), "rid", rules)
    gold = spark.createDataFrame([(0, 1), (3, 4)], ["id1", "id2"])
    m = blocking_metrics(cand, gold, n_rows=6)
    assert m["recall"] == 0.5  # only (0,1) found at jac 0.8
    assert m["candidates"] == 1
    assert m["gold"] == 2
    assert m["cssr"] == pytest.approx(1 / 15)


def test_parse_feature_name():
    assert parse_feature_name("title_title_jac_qgm_3_qgm_3") == ("title", "jac", "qgm", "3")
    assert parse_feature_name("title_title_lev_dist_lev_dist") == ("title", "lev", None, None)
    assert parse_feature_name("lang_lang_exact_match_exact_match") == ("lang", "exm", None, None)
    assert parse_feature_name("price_price_abs_norm_abs_norm") == ("price", "anm", None, None)
    assert parse_feature_name("name_name_cos_dlm_dc0_dlm_dc0") == ("name", "cos", "dlm", "dc0")


def test_rules_roundtrip(tmp_path):
    rules = [
        Rule("title", "jac", "qgm", "3", 0.8),
        Rule("title", "lev", None, None, 2.0, "-"),
        Rule("lang", "exm", None, None, 0.5),
    ]
    p = str(tmp_path / "rules.txt")
    write_rules(rules, p)
    back = read_rules(p)
    assert [(r.attr, r.sim, r.tok, r.threshold, r.sign) for r in back] == [
        ("title", "jac", "qgm", 0.8, "+"),
        ("title", "lev", None, 2.0, "-"),
        ("lang", "exm", None, 0.5, "+"),
    ]


def test_parse_rule_line():
    r = parse_rule_line("title_title_jac_dlm_dc0_dlm_dc0 + 0.8")
    assert (r.attr, r.sim, r.tok, r.threshold, r.sign) == ("title", "jac", "dlm", 0.8, "+")


def test_block_self_per_rule_cap(spark):
    # K4: a flooding rule is capped at its TA-top-K (MAX_PAIR_SIZE analogue)
    from entityblockingbysimilarityjoins_spark.operators.blocker import block_self
    from entityblockingbysimilarityjoins_spark.sources.rules import Rule

    rows = [(i, f"tok{i%3} tok{(i+1)%3} shared common words here") for i in range(30)]
    df = spark.createDataFrame(rows, ["rid", "text"])
    rules = [Rule("text", "jac", "dlm", None, 0.3)]
    full = block_self(df, "rid", rules)
    capped = block_self(df, "rid", rules, max_pairs_per_rule=10)
    assert full.count() > 10
    assert capped.count() == 10
    # capped output is a subset of the full pair set
    assert capped.join(full, ["id1", "id2"], "left_anti").count() == 0


def test_pre_sample(spark):
    from entityblockingbysimilarityjoins_spark.operators.sampler import pre_sample

    rows = [(1, "a b c"), (2, "a b d"), (3, "x y z"), (4, "x q r")]
    df = spark.createDataFrame(rows, ["rid", "t"])
    gold = spark.createDataFrame([(1, 2)], ["id1", "id2"])
    out = {(r["id1"], r["id2"]): r["label"] for r in pre_sample(df, gold, "rid", "t").collect()}
    assert out[(1, 2)] == 1          # gold positive
    assert out[(3, 4)] == 0          # shares 'x', not gold
    assert (1, 3) not in out         # no shared token
    assert len(out) == 2


def test_per_rule_recall(spark):
    """One row per rule; recall/hits/contribution computed vs a driver-side
    replay on a corpus where rules overlap partially."""
    from entityblockingbysimilarityjoins_spark.operators.blocker import (
        per_rule_recall,
    )

    rules = [
        Rule("title", "jac", "dlm", None, 0.8),
        Rule("title", "lev", None, None, 2.0, "-"),
        Rule("price", "anm", None, None, 0.95),
    ]
    gold = spark.createDataFrame([(0, 1), (0, 2), (3, 4)], ["id1", "id2"])
    rows = {r["rule_id"]: r for r in
            per_rule_recall(_df(spark), "rid", rules, gold).collect()}
    assert sorted(rows) == [0, 1, 2]
    # rule 0 (jac>=0.8): finds only (0,1) -> 1 hit of 3 gold, contribution 0
    # (pair (0,1) also passes lev and anm)
    assert rows[0]["candidates"] == 1 and rows[0]["hits"] == 1
    assert rows[0]["contribution"] == 0
    assert rows[0]["recall"] == pytest.approx(1 / 3, abs=1e-6)
    # rule 1 (lev<=2): (0,1) lev 0 and (3,4) lev 2 -> 2 hits
    assert rows[1]["hits"] == 2
    # rule 2 (anm): (0,1),(3,4),(0,5),(1,5) -> gold hits (0,1),(3,4);
    # (0,5),(1,5) are anm-only pairs -> contribution 2
    assert rows[2]["candidates"] == 4 and rows[2]["hits"] == 2
    assert rows[2]["contribution"] == 2
    n = _df(spark).count()
    assert rows[2]["cssr"] == pytest.approx(4 / (n * (n - 1) / 2), abs=1e-9)


def test_recall_by_passed_count(spark):
    from entityblockingbysimilarityjoins_spark.operators.blocker import (
        recall_by_passed_count,
    )

    rules = [
        Rule("title", "jac", "dlm", None, 0.8),
        Rule("title", "lev", None, None, 2.0, "-"),
        Rule("price", "anm", None, None, 0.95),
    ]
    cand = block_self(_df(spark), "rid", rules)
    gold = spark.createDataFrame([(0, 1), (0, 2), (3, 4)], ["id1", "id2"])
    rows = {r["rules_passed"]: r for r in
            recall_by_passed_count(cand, gold).collect()}
    # (0,1) passes 3 rules (gold); (3,4) passes 2 (gold); (0,5),(1,5) pass 1
    assert rows[3]["candidates"] == 1 and rows[3]["hits"] == 1
    assert rows[2]["candidates"] == 1 and rows[2]["hits"] == 1
    assert rows[1]["candidates"] == 2 and rows[1]["hits"] == 0
    assert rows[1]["recall"] == 0.0
