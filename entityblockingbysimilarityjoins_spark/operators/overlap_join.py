"""Exact overlap join: all pairs with |A ∩ B| >= c — SURVEY.md J3.

Output contract of the reference's SIGMOD'18-style overlap join
(``/root/reference/cpp/common/ovlpjoin.cc:592-680``): every pair of records
sharing at least ``c`` tokens; records with fewer than ``c`` tokens are
dropped (short-record drop, ovlpjoin.cc:607-644); tokens of global frequency
< 2 cannot produce a pair and are skipped.

Spark-native plan: instead of the reference's c-sized combination inverted
lists, use the **prefix filter specialized to overlap**: order tokens
rarest-first (functions.dictionary); if |A∩B| >= c, the two records must share
a token among their first ``len - c + 1`` rarest tokens. Explode that prefix,
equi-join on token, dedupe, verify ``size(array_intersect) >= c`` natively.
The c-1 most frequent tokens of every record never enter the shuffle — the
exact skew relief the combination index bought, without driver-side heaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import persist_tracked
from .set_join import (
    _bm_cols,
    _encode,
    _fan_out,
    _mask_overlap,
    resolve_vocab,
)


def _prefix(enc: DataFrame, c: int, side: str, n_singletons: int,
            n_mask_words: int | None = None) -> DataFrame:
    """The ``len - c + 1`` rarest tokens of each record, less the tokens
    that occur once: they are tids ``[0, n_singletons)`` (see ``_Vocab``),
    and such a token cannot produce a pair."""
    return enc.select(
        F.col("rid").alias(f"rid{side}"),
        *_bm_cols(n_mask_words, side),
        F.explode(F.slice("tids", 1, F.col("len") - F.lit(c - 1))).alias("tok"),
    ).filter(F.col("tok") >= n_singletons)


def overlap_self_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    c: int = 1,
    count_col: str = "overlap",
) -> DataFrame:
    """All pairs (id1 < id2) sharing >= c tokens, with the exact overlap count."""
    if c < 1:
        raise ValueError("overlap threshold c must be >= 1")
    vocab = resolve_vocab(df.select(F.col(tokens_col).alias("tokens")))
    n_mask = vocab.inline.n_words if vocab.inline is not None else None
    enc = persist_tracked(_encode(df, id_col, tokens_col, vocab, min_len=c))
    l = _fan_out(_prefix(enc, c, "1", vocab.n_singletons, n_mask))
    r = _prefix(enc, c, "2", vocab.n_singletons, n_mask)
    joined = l.join(r, (l["tok"] == r["tok"]) & (F.col("rid1") < F.col("rid2")))
    if n_mask:
        # fused bitset verify: the mask words ride the prefix entries, the
        # exact overlap is bit_count(m1 & m2) INSIDE the join stage, and only
        # verified pairs reach the dedup exchange — no candidate-set shuffle,
        # no re-attach joins (guide §2.4; identical counts)
        return (
            joined.withColumn(count_col, _mask_overlap("1", "2", n_mask))
            .filter(F.col(count_col) >= c)
            .select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"), count_col)
            .dropDuplicates(["id1", "id2"])
        )
    cand = joined.select("rid1", "rid2").dropDuplicates(["rid1", "rid2"])
    return (
        cand.join(enc.select(F.col("rid").alias("rid1"), F.col("tids").alias("t1")), "rid1")
        .join(enc.select(F.col("rid").alias("rid2"), F.col("tids").alias("t2")), "rid2")
        .withColumn(count_col, F.size(F.array_intersect("t1", "t2")))
        .filter(F.col(count_col) >= c)
        .select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"), count_col)
    )


def overlap_rs_join(
    df_r: DataFrame,
    df_s: DataFrame,
    id_col: str,
    tokens_col: str,
    c: int = 1,
    count_col: str = "overlap",
) -> DataFrame:
    """All (r, s) pairs sharing >= c tokens (ovlpjoin.cc:376-447 contract)."""
    if c < 1:
        raise ValueError("overlap threshold c must be >= 1")
    vocab = resolve_vocab(df_r.select(F.col(tokens_col).alias("tokens")).unionAll(
        df_s.select(F.col(tokens_col).alias("tokens"))))
    n_mask = vocab.inline.n_words if vocab.inline is not None else None
    left = persist_tracked(_encode(df_r, id_col, tokens_col, vocab, min_len=c))
    right = persist_tracked(_encode(df_s, id_col, tokens_col, vocab, min_len=c))
    l = _prefix(left, c, "1", vocab.n_singletons, n_mask)
    r = _prefix(right, c, "2", vocab.n_singletons, n_mask)
    joined = l.join(r, l["tok"] == r["tok"])
    if n_mask:
        # fused bitset verify — see overlap_self_join
        return (
            joined.withColumn(count_col, _mask_overlap("1", "2", n_mask))
            .filter(F.col(count_col) >= c)
            .select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"), count_col)
            .dropDuplicates(["id1", "id2"])
        )
    cand = joined.select("rid1", "rid2").dropDuplicates(["rid1", "rid2"])
    return (
        cand.join(left.select(F.col("rid").alias("rid1"), F.col("tids").alias("t1")), "rid1")
        .join(right.select(F.col("rid").alias("rid2"), F.col("tids").alias("t2")), "rid2")
        .withColumn(count_col, F.size(F.array_intersect("t1", "t2")))
        .filter(F.col(count_col) >= c)
        .select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"), count_col)
    )
