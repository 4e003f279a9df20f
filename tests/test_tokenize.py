"""Tokenizer fixtures (FIXTURES.md F7) — hand-computed expected outputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions import tokenize as T


def _one(spark, col):
    return [r[0] for r in spark.createDataFrame([("x",)], ["_"]).select(col).collect()][0]


def _apply(spark, fn, s):
    df = spark.createDataFrame([(s,)], ["s"])
    return df.select(fn(F.col("s")).alias("t")).collect()[0]["t"]


def test_dlm_blocking_delims(spark):
    # space, dquote, squote, comma, backslash, tab, CR, LF are all delimiters
    s = "a b\tc\rd\ne,f'g\"h\\i  j a"
    assert _apply(spark, T.tokens_dlm, s) == sorted({"a", "b", "c", "d", "e", "f", "g", "h", "i", "j"})


def test_dlm_keeps_non_alnum_tokens(spark):
    # SKIP_NO_ALPHANUMERIC=0: punctuation-bearing tokens are kept raw
    assert _apply(spark, T.tokens_dlm, "foo-bar baz!") == ["baz!", "foo-bar"]


def test_dlm_empty_and_all_delims(spark):
    assert _apply(spark, T.tokens_dlm, "") == []
    assert _apply(spark, T.tokens_dlm, " ,\t\n") == []


def test_wspace_runs(spark):
    assert _apply(spark, T.tokens_wspace, "a   b  a") == ["a", "b"]
    # tab is NOT a wspace delimiter
    assert _apply(spark, T.tokens_wspace, "a\tb c") == ["a\tb", "c"]


def test_alphanumeric_runs(spark):
    assert _apply(spark, T.tokens_alphanumeric, "ab1--cd;;ab1 x") == ["ab1", "cd", "x"]
    assert _apply(spark, T.tokens_alphanumeric, "!!!") == []


def test_qgram_basic(spark):
    # "abcd" q=3 -> abc, bcd (padding grams dropped by the alnum filter)
    assert _apply(spark, lambda c: T.tokens_qgram(c, 3), "abcd") == ["abc", "bcd"]


def test_qgram_non_alnum_windows_dropped(spark):
    # windows crossing the space or '-' are dropped
    assert _apply(spark, lambda c: T.tokens_qgram(c, 3), "ab cde-fg") == ["cde"]


def test_qgram_short_and_empty(spark):
    assert _apply(spark, lambda c: T.tokens_qgram(c, 3), "ab") == []
    assert _apply(spark, lambda c: T.tokens_qgram(c, 3), "") == []
    assert _apply(spark, lambda c: T.tokens_qgram(c, 2), "ab") == ["ab"]


def test_qgram_dedup_sorted(spark):
    assert _apply(spark, lambda c: T.tokens_qgram(c, 2), "ababab") == ["ab", "ba"]


def test_normalize_strategies(spark):
    assert _apply(spark, lambda c: T.normalize_string(c, 0), "A  B  ") == "a b"
    assert _apply(spark, lambda c: T.normalize_string(c, 1), "A-b c!") == "abc"
    assert _apply(spark, lambda c: T.normalize_string(c, 2), "A-b  c!") == "ab c"


def test_tokenizer_registry(spark):
    fn = T.tokenizer("qgm", 3)
    assert _apply(spark, fn, "abcd") == ["abc", "bcd"]
    assert T.tokenizer("dlm") is T.tokens_dlm


def test_null_input_yields_empty_arrays(spark):
    df = spark.createDataFrame([(None,)], "s string")
    row = df.select(
        T.tokens_dlm("s").alias("d"),
        T.tokens_qgram(F.col("s"), 3).alias("q"),
        T.tokens_alphanumeric("s").alias("a"),
    ).collect()[0]
    assert row["d"] == [] and row["q"] == [] and row["a"] == []


def test_cjk_tokenizer(spark):
    from entityblockingbysimilarityjoins_spark.functions.tokenize import (
        replace_cjk_puncs,
        tokens_cjk_char,
        tokenizer,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("你好，世界。你好",), ("",), (None,)], ["t"])
    rep = [r[0] for r in df.select(replace_cjk_puncs(F.col("t"))).collect()]
    assert rep[0] == "你好#世界#你好"
    toks = [r[0] for r in df.select(tokens_cjk_char(F.col("t"))).collect()]
    assert toks[0] == sorted({"你", "好", "世", "界"})
    assert toks[1] == [] and toks[2] == []
    assert tokenizer("cjk") is tokens_cjk_char


_ALNUM = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")

_QGRAM_PROBES = [
    None, "", "a", "ab", "!!!---...", "a\tbc\nde\tf\r\nghi", "abcdefghij",
    "aaaaaaaa", "x1 y22 z333 Q9999", "caféabcß straße 東京abc日本 x😀yz😀1234567",
    "éé", "😀😀😀", "ABCdef,GHIjkl;mnopqrstu",
]


def _qgram_ref(s, q):
    """Every fully-alphanumeric q-char window, sorted and distinct."""
    if s is None:
        return []
    return sorted({s[i:i + q] for i in range(len(s) - q + 1)
                   if _ALNUM.issuperset(s[i:i + q])})


def test_qgram_matches_window_reference(spark):
    """tokens_qgram and tokens_qgram_encoded == a pure-Python window
    reference for q = 1..7, over NULL, empty, short, punctuation, tab /
    newline and non-ASCII letters next to ASCII alphanumerics."""
    df = spark.createDataFrame([(s,) for s in _QGRAM_PROBES], "s string")
    cols = []
    for q in range(1, 8):
        cols += [T.tokens_qgram("s", q).alias(f"g{q}"),
                 T.tokens_qgram_encoded("s", q).alias(f"e{q}")]
    rows = {r["s"]: r for r in df.select("s", *cols).collect()}
    for s in _QGRAM_PROBES:
        for q in range(1, 8):
            want = _qgram_ref(s, q)
            assert rows[s][f"g{q}"] == want, (s, q)
            assert rows[s][f"e{q}"] == [int.from_bytes(g.encode(), "big")
                                        for g in want], (s, q)


def test_qgram_encoded_packed_values(spark):
    """Pinned packings: the feature values derived from them cannot drift."""
    enc = lambda q: lambda c: T.tokens_qgram_encoded(c, q)  # noqa: E731
    assert _apply(spark, enc(3), "abc") == [0x616263]
    assert _apply(spark, enc(3), "abcd") == [0x616263, 0x626364]
    assert _apply(spark, enc(1), "Z0z") == [0x30, 0x5A, 0x7A]
    assert _apply(spark, enc(7), "zzzzzzz9") == [0x7A7A7A7A7A7A39, 0x7A7A7A7A7A7A7A]
    assert _apply(spark, enc(3), "é-ab") == []
