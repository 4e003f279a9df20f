"""Dictionary/IDF determinism tests vs a pure-pandas oracle (SURVEY §7 P1)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.dictionary import (
    build_dictionary,
    encode_tokens,
)
from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace

ROWS = [
    (0, "a b c"),
    (1, "b c d"),
    (2, "c d e"),
    (3, ""),  # empty token set: no encoding
    (4, "e e a"),
]


def _df(spark):
    return spark.createDataFrame(ROWS, ["rid", "s"]).withColumn("tokens", tokens_wspace(F.col("s")))


def test_dictionary_freq_order_and_idf(spark):
    d = build_dictionary(_df(spark)).collect()
    by_token = {r["token"]: r for r in d}
    # freqs: a2 b2 c3 d2 e2 -> order (freq asc, token asc): a,b,d,e,c
    assert [r["token"] for r in sorted(d, key=lambda r: r["tid"])] == ["a", "b", "d", "e", "c"]
    assert by_token["c"]["freq"] == 3
    assert abs(by_token["a"]["idf"] - math.log10(5 / 2)) < 1e-12


def test_encode_rarest_first_and_weights(spark):
    df = _df(spark)
    d = build_dictionary(df)
    enc = {r["rid"]: r for r in encode_tokens(df, d, idfs_col="idfs").collect()}
    tid = {r["token"]: r["tid"] for r in d.collect()}
    idf = {r["token"]: r["idf"] for r in d.collect()}
    assert enc[0]["tids"] == sorted([tid["a"], tid["b"], tid["c"]])
    # sorted ascending == rarest-first: row0 prefix token is 'a' (rarest)
    assert enc[0]["tids"][0] == tid["a"]
    assert 3 not in enc  # the empty token set has no encoding
    # idfs align with tids; their sum is the record weight the joins use
    assert enc[4]["idfs"] == [idf[t] for t in sorted("ae", key=tid.get)]
    want = idf["e"] + idf["a"]  # row4 token set {a, e}
    assert abs(sum(enc[4]["idfs"]) - want) < 1e-12


def test_dictionary_deterministic_across_partitionings(spark):
    df1 = _df(spark).repartition(1)
    df7 = _df(spark).repartition(7)
    a = [(r["token"], r["tid"]) for r in build_dictionary(df1).collect()]
    b = [(r["token"], r["tid"]) for r in build_dictionary(df7).collect()]
    assert sorted(a) == sorted(b)
