"""Dictionary/IDF determinism tests vs a pure-pandas oracle (SURVEY §7 P1)."""

from __future__ import annotations

import math
import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.dictionary import (
    build_dictionary,
    encode_tokens,
    token_freqs,
)
from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace
from entityblockingbysimilarityjoins_spark.operators.set_join import resolve_vocab

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


def test_driver_rank_matches_spark_order(spark):
    """Over 257+ tokens (the dictionary path of the joins) the driver's
    Python rank gives every token the tid Spark's own sort would: tied
    frequencies, case and accent variants, CJK, and an astral-plane token
    next to a high-BMP one (UTF-16 order puts U+1F600 first, code-point and
    UTF-8 byte order put U+FF21 first)."""
    special = ["a", "A", "\u00e1", "\u00c1", "\u00e0", "\u00e9", "e\u0301",
               "\u65e5\u672c", "\u4e2d\u6587", "\ud55c\uad6d", "\uff21",
               "\U0001f600", "\U00010000", "\ufffd", "z", "Z"]
    vocab = [f"t{i:03d}" for i in range(250)] + special
    occ = [t for i, t in enumerate(vocab) for _ in range(1 + i % 3)]
    occ += ["\U0001f600"] * 2  # ties U+FF21 (and U+FFFD) at 3
    random.Random(11).shuffle(occ)
    rows = [(i, occ[k:k + 8]) for i, k in enumerate(range(0, len(occ), 8))]
    df = spark.createDataFrame(rows, "rid long, tokens array<string>")
    w = Window.orderBy("freq", "token")
    want = {r["token"]: r["tid"] for r in token_freqs(df).select(
        "token", (F.row_number().over(w) - 1).alias("tid")).collect()}
    assert len(want) == len(vocab) > 256
    assert occ.count("\uff21") == occ.count("\U0001f600") == 3
    assert want["\uff21"] < want["\ufffd"] < want["\U0001f600"]
    got = {r["token"]: r["tid"] for r in build_dictionary(df).collect()}
    assert got == want
    joined = resolve_vocab(df).dictionary
    assert {r["token"]: r["tid"] for r in joined.collect()} == want
