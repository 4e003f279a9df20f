"""Exact set-similarity joins (Jaccard / Cosine / Dice) — SURVEY.md J1/J2.

Same output contract as the reference's partition-based set joins
(``/root/reference/cpp/common/setjoin.cc``, ``setjoin_parallel.cc``): every
pair whose (optionally IDF-weighted) similarity meets the threshold, self or
RS flavor, empty token sets never join (setjoin.cc:199-202), self pairs
canonicalized ``id1 < id2`` (blocker_util.cc:37-108).

The *algorithm* is Spark-native (AllPairs/PPJoin family) with everything
after one equi-join fused into a single codegen stage:

1. resolve the vocabulary in ONE pass (``resolve_vocab``): a single probe
   job yields the token-frequency aggregate, the record count and the HLL
   distinct-set count; the driver ranks the collected aggregate
   (``functions.dictionary``), so tokens encode as ints ordered
   rarest-first. Vocabularies of at most 256 tokens inline as plan
   literals, larger ones encode through the broadcast dictionary built
   from the same ranked list;
2. explode two prefixes per record: the **probe** prefix
   (``|x| - ceil(f(t)|x|) + 1`` rarest tokens) and, within it, the
   **indexing** prefix (PPJoin: on the smaller side of any qualifying pair
   the minimum overlap is >= f_short(t)*|x|, so a shared token must sit in
   its first ``|x| - ceil(f_short|x|) + 1`` tokens);
3. equi-join index entries against probe entries on the token — the ONLY
   shuffle proportional to data; hot mid-frequency tokens explode-join as
   index_freq x probe_freq instead of probe^2;
4. in the same stage: smaller-side ordering filter, length filter,
   positional filter, then **inline verification** with native
   ``array_intersect`` on the token arrays carried through the join —
   candidates are never materialized or shuffled;
5. ``dropDuplicates`` only on the verified output (pairs sharing several
   prefix tokens emit duplicates; the verified set is tiny).

Records join as records on this prefix path. Identical token sets are
grouped only on the all-pairs sweep (tiny vocabulary, few distinct sets),
whose broadcast square runs over DISTINCT sets; on the prefix path grouping
lost at every set:record ratio measured.

The set-level core lives here too, shared by the overlap, top-K and dedup
operators: ``resolve_vocab`` (the one vocabulary entry), ``_encode`` (the one
record encoder), ``_InlineVocab.encode`` (tiny-vocabulary encode),
``_group_sets`` (group identical sets), ``_expand_pairs`` (members back to
record pairs) and ``_ta_score`` (the 4-sim top-K score). The similarity
values themselves — verify, TA score, and the alpha bound solved from them
— come from ``functions.sim.sim_from_counts``.

Scale levers (north_rule: "salted, skew-aware inverted-index self-join"):
- prefixes hold only the rarest tokens (deterministic freq-ordered ids);
- AQE skew-join splits oversized token groups at shuffle time;
- join strategy left to Catalyst/AQE: small prefix-entry tables broadcast
  (map-side join, zero shuffle); large ones sort-merge with AQE's skew
  split handling hot prefix tokens.
"""

from __future__ import annotations

import logging
import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sim as S
from ..functions.dictionary import (
    dictionary_frame,
    encode_tokens,
    rank_tokens,
    token_freqs,
)
from .cache import persist_tracked

log = logging.getLogger(__name__)

_EPS = 1e-9  # guard float error in ceil() bounds: prune conservatively


def _prefix_factor(sim: str, t: float) -> float:
    """Probe-prefix skip fraction: prefix = |x| - ceil(f*|x|) + 1."""
    if sim == "jac":
        return t
    if sim == "cos":
        return t * t
    if sim == "dice":
        return t / (2.0 - t)
    raise ValueError(f"set join does not support sim={sim!r}")


def _short_prefix_factor(sim: str, t: float) -> float:
    """Indexing-prefix skip fraction for the smaller side (see module doc).

    jac:  alpha = t/(1+t)(|x|+|y|) >= 2t/(1+t)*|x|
    cos:  alpha = t*sqrt(|x||y|)   >= t*|x|
    dice: alpha = t(|x|+|y|)/2     >= t*|x|
    """
    if sim == "jac":
        return 2.0 * t / (1.0 + t)
    if sim in ("cos", "dice"):
        return t
    raise ValueError(sim)


def _min_overlap(sim: str, t: float, s1: Column, s2: Column) -> Column:
    """alpha: the minimum overlap (weighted: W∩) that sim >= t requires of
    two sets of sizes (weights) s1, s2 — ``functions.sim.sim_from_counts``
    solved for o (setjoin.h:250-258 for the weighted formulas). A count
    bound is ``ceil(alpha - eps)``; a weight bound stays real."""
    if sim == "jac":
        return F.lit(t / (1.0 + t)) * (s1 + s2).cast("double")
    if sim == "cos":
        return F.lit(t) * F.sqrt(s1.cast("double") * s2.cast("double"))
    if sim == "dice":
        return F.lit(t / 2.0) * (s1 + s2).cast("double")
    raise ValueError(sim)


#: vocabularies above this never inline as a plan literal (~2 MiB of doubles);
#: larger vocabs verify through the per-record idf map instead
MAX_IDF_LITERAL_ENTRIES = 1 << 18

#: all-pairs valve: the distinct-set square is swept directly (broadcast
#: inequality join + bitmask verify, no prefix explode) only when the HLL
#: set-count estimate is at or under this — 8192²/2 ≈ 34M O(words)
#: comparisons, sub-second on a few cores; anything larger keeps the
#: prefix-filter join (the path that scales)
MAX_ALLPAIRS_SETS = 8192

#: bitset verification (guide §2.3 "narrower types"): when the probed
#: vocabulary fits this many 64-bit words, each record's token-id set is
#: additionally encoded as fixed-width bitmask columns and the per-candidate
#: overlap becomes bit_count(m1 & m2) instead of array_intersect — O(words)
#: per candidate instead of O(|a|+|b|) hash-set work, and the exploded
#: prefix-entry shuffle carries a few longs instead of the full int array.
#: Values are identical (o, |a|, |b| unchanged); vocabularies beyond the cap
#: (any real text corpus) take the array path exactly as before.
MAX_BITSET_WORDS = 4


class _InlineVocab:
    """Driver-inlined tiny dictionary: token->tid literal map + idf-by-tid
    literal array. When the probed vocabulary fits MAX_BITSET_WORDS*64
    entries, record encoding becomes a pure projection (map lookup + sort)
    instead of explode + dictionary join + groupBy — removing two exchanges
    from every join's prepare stage (guide §2.4). Only the encoding differs
    from a larger vocabulary: both are ranked on the driver from the same
    probe."""

    def __init__(self, ranked: list[tuple[str, int]], idfs: list[float] | None):
        """``ranked``: (token, freq) pairs in tid order; ``idfs`` by tid, or
        None for an unweighted join (no unweighted code path reads them)."""
        kv = []
        for tid, (token, _) in enumerate(ranked):
            kv += [F.lit(token), F.lit(tid)]
        self.token_map = F.create_map(*kv)
        self.idfs = idfs
        self.idf_arr = None if idfs is None else F.lit(idfs)
        self.n = len(ranked)
        self.n_words = max(1, -(-self.n // 64))

    def encode(self, toks: str | Column) -> Column:
        """The sorted tid array of a token-array column — a pure projection
        (map lookup + sort), zero exchanges where the dictionary path needs
        explode + join + groupBy. Unknown tokens map to NULL and are
        dropped, matching the inner dictionary join; ascending tids are
        rarest-first."""
        return F.array_sort(F.filter(
            F.transform(toks, lambda t: F.element_at(self.token_map, t)),
            lambda x: x.isNotNull())).cast("array<int>")

    def wo_lut(self, w: int, j: int) -> list[float]:
        """256-entry lookup table: byte j of mask word w -> sum of the IDFs
        of its set bits (added in ascending-tid order, float64)."""
        base = w * 64 + j * 8
        out = []
        for b in range(256):
            s = 0.0
            for i in range(8):
                if (b >> i) & 1 and base + i < self.n:
                    s += self.idfs[base + i]
            out.append(s)
        return out

    def weighted_overlap(self, side1: str, side2: str) -> Column:
        """IDF-weighted overlap from the bitmask columns: the intersection
        mask is split into bytes and each byte indexes a precomputed
        256-entry IDF-sum table — pure codegen expressions, no per-token
        interpreted fold over the intersection array (guide §4.1)."""
        wo = None
        for w in range(self.n_words):
            m = F.col(f"__bm{w}{side1}").bitwiseAND(F.col(f"__bm{w}{side2}"))
            for j in range(8):
                if w * 64 + j * 8 >= self.n:
                    break
                lut = F.lit(self.wo_lut(w, j))
                byte = F.shiftrightunsigned(m, j * 8).bitwiseAND(F.lit(255))
                term = F.get(lut, byte.cast("int"))
                wo = term if wo is None else wo + term
        return wo


class _Vocab:
    """What a join knows about its vocabulary after ``resolve_vocab``.

    ``ranked`` is the (token, freq) list in tid order (None when a probe
    beyond the cap was told not to build), with its size ``n_tokens``;
    ``n_sets_approx`` is the HLL distinct-set estimate that gates the
    all-pairs sweep. Tids run (freq ASC, token ASC) and every freq is at
    least 1, so the tokens that occur once are exactly tids
    ``[0, n_singletons)``. ``idfs`` (by tid) is set for weighted joins.
    At most one of ``inline`` / ``dictionary`` drives the encoding: the
    inline projection up to the cap, the broadcast dictionary beyond it."""

    def __init__(self, n_records: int, n_sets_approx: int,
                 ranked: list[tuple[str, int]] | None = None,
                 idfs: list[float] | None = None,
                 dictionary: DataFrame | None = None):
        self.n_records = n_records
        self.n_sets_approx = n_sets_approx
        self.ranked = ranked
        self.idfs = idfs
        self.dictionary = dictionary
        self.n_tokens = None if ranked is None else len(ranked)
        self.n_singletons = sum(1 for _, f in ranked or () if f < 2)
        self.inline = (_InlineVocab(ranked, idfs)
                       if ranked and dictionary is None else None)


def resolve_vocab(
    tokens_df: DataFrame,
    weighted: bool = False,
    build: bool = True,
) -> _Vocab:
    """The one vocabulary pass every token join shares (``tokens_df``: a
    ``tokens`` column).

    ONE probe job computes the (token, freq) aggregate, the record count and
    the HLL distinct-set count together. With ``build`` the probe collects
    the whole aggregate and the driver ranks it (``rank_tokens``), so the
    driver holds every vocabulary — no more than the broadcast encode of a
    large vocabulary already brings to it. Within the cap
    (MAX_BITSET_WORDS*64 tokens) the ranked list becomes the inline
    vocabulary; beyond it, the broadcast dictionary (``dictionary_frame``)
    over the same list. Weighted joins collect the IDFs ``log10(N/freq)``
    from a projection over that frame, so they are the JVM's at every size.

    Without ``build`` the probe is LIMITed to cap + 2 rows and a vocabulary
    beyond the cap is refused (no ranked list); its one caller, the MinHash
    verify, only ever uses the inline vocabulary. The count row is unioned
    FIRST and the union coalesced to one partition, which the LIMIT reads
    in order: the limit can only ever cut token rows, so a refusing probe
    still returns both counts (and the probe is one result job however many
    partitions the aggregate has)."""
    cap = MAX_BITSET_WORDS * 64
    counts = tokens_df.agg(
        F.count("*").alias("freq"),
        F.approx_count_distinct("tokens").alias("n_sets"),
    ).select(F.lit(None).cast("string").alias("token"), "freq", "n_sets")
    probe = counts.unionByName(token_freqs(tokens_df), allowMissingColumns=True).coalesce(1)
    rows = (probe if build else probe.limit(cap + 2)).collect()
    if rows[0]["n_sets"] is None:
        raise RuntimeError("resolve_vocab: the count row must come first")
    n_records, n_sets = rows[0]["freq"], rows[0]["n_sets"]
    toks = rows[1:]
    if not build and len(toks) > cap:
        return _Vocab(n_records, n_sets)
    ranked = rank_tokens(toks)
    inline = 0 < len(ranked) <= cap
    frame = None
    if weighted or not inline:
        frame = dictionary_frame(tokens_df.sparkSession, ranked, n_records)
    idfs = None
    if weighted:
        idfs = [0.0] * len(ranked)
        for tid, idf in frame.select("tid", "idf").collect():
            idfs[tid] = idf
    return _Vocab(n_records, n_sets, ranked, idfs,
                  dictionary=None if inline else frame)


def _mask_cols(tids: Column, n_words: int) -> list[Column]:
    """Bitmask words over a dense token-id array: word w holds ids
    [64w, 64w+64)."""
    one = F.lit(1).cast("long")

    def word(w: int) -> Column:
        def step(acc: Column, t: Column) -> Column:
            return acc.bitwiseOR(
                F.when((t >= w * 64) & (t < (w + 1) * 64),
                       F.call_function("shiftleft", one, t - w * 64))
                .otherwise(F.lit(0).cast("long")))

        return F.aggregate(tids, F.lit(0).cast("long"), step).alias(f"__bm{w}")

    return [word(w) for w in range(n_words)]


def _mask_overlap(side1: str, side2: str, n_words: int) -> Column:
    o = F.bit_count(F.col(f"__bm0{side1}").bitwiseAND(F.col(f"__bm0{side2}")))
    for w in range(1, n_words):
        o = o + F.bit_count(
            F.col(f"__bm{w}{side1}").bitwiseAND(F.col(f"__bm{w}{side2}")))
    return o


def _bm_cols(n_words: int | None, side: str) -> list[Column]:
    """The mask words renamed for one side of a pair: __bm{w} -> __bm{w}{side}."""
    return [F.col(f"__bm{w}").alias(f"__bm{w}{side}") for w in range(n_words or 0)]


def _overlap(n_mask_words: int | None) -> Column:
    """|A ∩ B| of a pair row: bit_count over the mask words when the
    vocabulary inlined, array_intersect over the tid arrays otherwise."""
    if n_mask_words:
        return _mask_overlap("1", "2", n_mask_words)
    return F.size(F.array_intersect(F.col("t1"), F.col("t2")))


def _fan_out(df: DataFrame) -> DataFrame:
    """Round-robin a join's probe side over twice the default parallelism:
    the side is small relative to the candidates the join EMITS (output
    explosion), and without this AQE right-sizes partitions to the tiny
    input, so the whole verify stage runs in a couple of tasks however many
    cores exist."""
    return df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism)


def _encode(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    vocab: _Vocab,
    weighted: bool = False,
    min_len: int = 1,
) -> DataFrame:
    """The one record encoder of every token join: (rid, tids, len[, __bm*]
    [, idfs, wt]) for the records with at least ``min_len`` known tokens
    (DROP_EMPTY at ``min_len=1``, the overlap join's short-record drop at
    ``c``). ``tids`` is sorted ascending, i.e. rarest-first. An inline
    vocabulary encodes by projection and adds the bitmask words; the
    broadcast dictionary encodes through ``encode_tokens``. Weighted
    records carry the idf array aligned with ``tids`` and its sum ``wt``.

    Ordering/tie-breaks ride directly on ``rid`` — a deterministic key, so a
    lost-and-recomputed cache partition can never re-key records."""
    slim = df.select(F.col(id_col).alias("rid"), F.col(tokens_col).alias("toks"))
    inline = vocab.inline
    if inline is not None:
        enc = slim.select("rid", inline.encode("toks").alias("tids"))
    else:
        enc = encode_tokens(slim, vocab.dictionary, id_col="rid", tokens_col="toks",
                            idfs_col="idfs" if weighted else None)
    enc = enc.filter(F.size("tids") >= min_len).withColumn("len", F.size("tids"))
    if inline is not None:
        enc = enc.withColumns(
            {f"__bm{w}": c for w, c in enumerate(_mask_cols(F.col("tids"), inline.n_words))})
        if weighted:
            enc = enc.withColumn(
                "idfs", F.transform("tids", lambda t: F.get(inline.idf_arr, t)))
    if weighted:
        enc = enc.withColumn(
            "wt", F.aggregate("idfs", F.lit(0.0), lambda acc, x: acc + x))
    return enc


def _prepare(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    vocab: _Vocab,
    weighted: bool,
    need_idf_map: bool = False,
    need_suffixs: bool = True,
) -> DataFrame:
    """The persisted ``_encode`` output of a set join, plus the weighted
    extras (``idf_map``, ``suffixs``; ``idfs`` is dropped).

    ``need_suffixs=False`` skips the reverse prefix-sum scan (and keeps the
    arrays out of every downstream exchange) when the caller knows no
    weight-based prefix test will run — the all-pairs sweep verifies every
    pair directly from the masks.

    The weighted extras are pure projections over the (tids, idfs) arrays
    the encode step already carries — no additional shuffle:
    - weighted verification sums idf over the int-array intersection by
      indexing a GLOBAL tid->idf literal array (idf is a pure function of
      tid): array ``get`` is O(1). The alternatives both measured badly on
      dense corpora: a per-record tid->idf map (element_at on MapData is a
      linear scan -> O(|inter| x |map|) per candidate, 4x slower) and
      (tid, idf) struct arrays (array_intersect falls off the specialized
      atomic-type fast path into a nested loop, 10x slower). Only a
      vocabulary beyond MAX_IDF_LITERAL_ENTRIES takes the per-record map;
    - ``suffixs``: suffixs[p] = sum(idfs[p:]), a reverse prefix-sum scan
      (aggregate HOF), feeding the weight-based prefix membership tests."""
    enc = _encode(df, id_col, tokens_col, vocab, weighted)
    if weighted:
        if need_idf_map:
            enc = enc.withColumn("idf_map", F.map_from_arrays("tids", "idfs"))
        if not need_suffixs:
            return persist_tracked(enc.drop("idfs"))
        enc = enc.withColumn(
            "suffixs",
            F.reverse(
                F.aggregate(
                    F.reverse("idfs"),
                    F.struct(F.lit(0.0).alias("s"),
                             F.array().cast("array<double>").alias("o")),
                    lambda acc, x: F.struct(
                        (acc["s"] + x).alias("s"),
                        F.array_append(acc["o"], acc["s"] + x).alias("o"),
                    ),
                    lambda acc: acc["o"],
                )
            ),
        ).drop("idfs")
    return persist_tracked(enc)


def _entries(
    enc: DataFrame,
    side: str,
    sim: str,
    threshold: float,
    weighted: bool,
    need_idf_map: bool = False,
    n_mask_words: int | None = None,
) -> DataFrame:
    """Exploded probe-prefix rows with payload for inline verification.

    Unweighted: prefix membership is positional (count bounds). Weighted:
    count bounds are UNSOUND (one high-IDF shared token can satisfy the
    weighted threshold alone), so prefixes are **weight-based**: an entry at
    position p with suffix weight S(p) = sum of idf from p onward stays in
    the probe prefix iff S(p) >= f(t)*wt, and in the indexing prefix iff
    S(p) >= f_short(t)*wt — any qualifying pair's rarest shared token
    satisfies both on the respective sides. ``suffix{side}`` carries S(p)
    for the weighted positional filter."""
    f = _prefix_factor(sim, threshold)
    fs = _short_prefix_factor(sim, threshold)
    # bitset mode: entries carry the fixed-width mask words instead of the
    # whole int array — a narrower exploded table and O(words) verify
    payload = _bm_cols(n_mask_words, side) or [F.col("tids").alias(f"t{side}")]
    if not weighted:
        plen = (F.col("len") - F.ceil(F.lit(f) * F.col("len") - F.lit(_EPS)) + 1).cast("int")
        slen = (F.col("len") - F.ceil(F.lit(fs) * F.col("len") - F.lit(_EPS)) + 1).cast("int")
        cols = [
            F.col("rid").alias(f"rid{side}"),
            *payload,
            F.col("len").alias(f"len{side}"),
            slen.alias(f"short{side}"),
            F.posexplode(F.slice("tids", 1, plen)).alias(f"pos{side}", "tok"),
        ]
        e = enc.select(*cols).withColumn(f"short{side}",
                                         F.col(f"pos{side}") < F.col(f"short{side}"))
    else:
        # suffix weights ride the pre-computed per-record scan (suffixs) —
        # one posexplode, zero joins, zero windows
        cols = [
            F.col("rid").alias(f"rid{side}"),
            *payload,
            F.col("len").alias(f"len{side}"),
            F.col("wt").alias(f"w{side}"),
        ]
        if need_idf_map and side == "1":
            cols.append(F.col("idf_map"))
        cols.append(F.posexplode(F.arrays_zip("tids", "suffixs")).alias(f"pos{side}", "__z"))
        e = enc.select(*cols).withColumns({
            "tok": F.col("__z.tids"),
            f"suffix{side}": F.col("__z.suffixs"),
        }).drop("__z")
        e = e.filter(F.col(f"suffix{side}") >= F.lit(f) * F.col(f"w{side}") - F.lit(_EPS))
        e = e.withColumn(
            f"short{side}",
            F.col(f"suffix{side}") >= F.lit(fs) * F.col(f"w{side}") - F.lit(_EPS),
        )
    return e


def _sim_value(sim: str, weighted: bool, idf_arr: Column | None = None,
               inline: _InlineVocab | None = None) -> Column:
    """sim of a pair row from its (len|w, t|__bm) 1/2 columns — verified
    from the mask words when the vocabulary inlined."""
    n_mask = inline.n_words if inline is not None else None
    if not weighted:
        return S.sim_from_counts(sim, _overlap(n_mask).cast("double"),
                                 F.col("len1"), F.col("len2"))
    w1, w2 = F.col("w1"), F.col("w2")
    if n_mask:
        # byte-LUT weighted overlap over the mask intersection — codegen.
        # Its byte-wise sum order differs from the record weight's tid
        # order, so identical sets take their full weight as the overlap:
        # sim is then exactly 1.0, as for grouped identical sets.
        same = F.col("__bm01") == F.col("__bm02")
        for w in range(1, n_mask):
            same = same & (F.col(f"__bm{w}1") == F.col(f"__bm{w}2"))
        wo = F.when(same, w1).otherwise(inline.weighted_overlap("1", "2"))
    elif idf_arr is not None:
        wo = S.weighted_overlap(F.col("t1"), F.col("t2"), idf_arr)
    else:
        wo = F.aggregate(F.array_intersect("t1", "t2"), F.lit(0.0),
                         lambda acc, t: acc + F.element_at(F.col("idf_map"), t))
    return S.sim_from_counts(sim, wo, w1, w2)


#: the four TA lists of topk.cc:31-95, summed in this order
TA_SIMS = ("jac", "cos", "dice", "overlap_coeff")


def _ta_score(o: Column, l1: Column, l2: Column) -> Column:
    """The 4-sim TA score (the row upper bound of topk.cc:588-613) from the
    overlap and both set sizes: the left-to-right sum of
    ``sim_from_counts`` over TA_SIMS, so every top-K path yields
    bit-identical doubles."""
    o, l1, l2 = o.cast("double"), l1.cast("double"), l2.cast("double")
    return reduce(operator.add, (S.sim_from_counts(s, o, l1, l2) for s in TA_SIMS))


def _size_filter(sim: str, threshold: float, weighted: bool) -> Column:
    """Length filter of a pair row: the smaller set holds at least f(t) of
    the larger's tokens (weighted: of its weight)."""
    f = _prefix_factor(sim, threshold)
    s1, s2 = ("w1", "w2") if weighted else ("len1", "len2")
    lo, hi = F.least(s1, s2), F.greatest(s1, s2)
    if weighted:
        return lo >= F.lit(f) * hi - F.lit(_EPS)
    return lo >= F.ceil(F.lit(f) * hi - F.lit(_EPS))


def _fused_verify(joined: DataFrame, sim: str, threshold: float, weighted: bool,
                  sim_col: str, canonicalize: bool,
                  idf_arr: Column | None = None,
                  inline: _InlineVocab | None = None,
                  ta_col: str | None = None) -> DataFrame:
    """length + positional filters and inline similarity verification —
    all inside the join's codegen stage; no candidate materialization.

    ``ta_col``: optionally also emit the 4-sim TA score (computed from the
    same verify columns in the same stage) — the fused top-K path consumes
    it without re-deriving groups or re-intersecting (guide §2.4)."""
    j = joined.filter(_size_filter(sim, threshold, weighted))
    if weighted:
        # weighted analogue of the positional filter: suffix weights
        ub = F.least("suffix1", "suffix2")
        j = j.filter(ub >= _min_overlap(sim, threshold, F.col("w1"), F.col("w2"))
                     - F.lit(_EPS))
    else:
        ub = F.lit(1) + F.least(F.col("len1") - F.col("pos1") - 1,
                                F.col("len2") - F.col("pos2") - 1)
        j = j.filter(ub >= F.ceil(_min_overlap(sim, threshold, F.col("len1"), F.col("len2"))
                                  - F.lit(_EPS)))
    j = j.withColumn(sim_col, _sim_value(sim, weighted, idf_arr, inline)
                     ).filter(F.col(sim_col) >= threshold)
    extra = [ta_col] if ta_col else []
    if ta_col:
        n_mask = inline.n_words if inline is not None else None
        j = j.withColumn(ta_col, _ta_score(_overlap(n_mask), F.col("len1"), F.col("len2")))
    if canonicalize:
        out = j.select(F.least("rid1", "rid2").alias("id1"),
                       F.greatest("rid1", "rid2").alias("id2"), sim_col, *extra)
    else:
        out = j.select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"),
                       sim_col, *extra)
    return out.dropDuplicates(["id1", "id2"])


def _join_vocab(tokens_df: DataFrame, weighted: bool) -> tuple[_Vocab, Column | None]:
    """(vocab, idf_arr) for a set join: the resolved vocabulary and, for
    weighted joins, the global tid->idf lookup as an array literal (tids are
    dense 0..V-1) — None when the vocabulary exceeds MAX_IDF_LITERAL_ENTRIES."""
    vocab = resolve_vocab(tokens_df, weighted)
    if not weighted:
        return vocab, None
    if vocab.n_tokens > MAX_IDF_LITERAL_ENTRIES:
        log.info(
            "set_join: vocabulary exceeds %d entries — weighted verification "
            "falls back to the per-record idf map", MAX_IDF_LITERAL_ENTRIES,
        )
        return vocab, None
    return vocab, F.lit(vocab.idfs)


def _group_sets(df: DataFrame, key: str,
                keep: list[str] | tuple[str, ...] = ()) -> DataFrame:
    """Records (``rid``) with IDENTICAL ``key`` values as one persisted row:
    (key, members, rid, *keep) — the reference's group trick
    (``cpp/feature/feature_index.cc``). The group key ``rid`` is the min
    member id — deterministic and stable across cache loss / recompute (a
    monotonically_increasing_id here silently mis-joined the member
    expansion when a persisted partition was re-derived; see ADVICE r2)."""
    return persist_tracked(
        df.groupBy(key).agg(F.collect_list("rid").alias("members"),
                            F.min("rid").alias("rid"),
                            *[F.first(c).alias(c) for c in keep]))


def _expand_pairs(set_pairs: DataFrame, groups: DataFrame | None, value_col: str,
                  intra_value: float) -> DataFrame:
    """Record pairs (id1 < id2, value_col) from set-level pairs keyed by each
    group's min member: every cross pair of two groups' members inherits its
    set pair's value, and every pair within one group takes ``intra_value``
    (what identical sets score). Each unordered record pair descends from
    exactly one set(-pair), so no dedup shuffle is needed. Set pairs that
    already carry both member lists (``m1``, ``m2``) are not joined again.
    ``groups=None`` means the join ran over records: the pairs are returned
    as they are."""
    if groups is None:
        return set_pairs
    if "m1" not in set_pairs.columns:  # a verify join may have fetched them
        g1 = groups.select(F.col("rid").alias("id1"), F.col("members").alias("m1"))
        g2 = groups.select(F.col("rid").alias("id2"), F.col("members").alias("m2"))
        set_pairs = set_pairs.join(g1, "id1").join(g2, "id2")
    cross = (
        set_pairs
        .withColumn("a", F.explode("m1"))
        .withColumn("b", F.explode("m2"))
        .select(F.least("a", "b").alias("id1"), F.greatest("a", "b").alias("id2"),
                value_col)
    )
    intra = (
        groups.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("id1"), F.col("b").alias("id2"),
                F.lit(intra_value).alias(value_col))
    )
    return cross.unionByName(intra)


def _sweep(
    left: DataFrame,
    right: DataFrame | None,
    sim: str,
    threshold: float,
    weighted: bool,
    inline: _InlineVocab,
    sim_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The all-pairs bitmask sweep over encoded records (``right=None``: the
    self join): (set pairs, left groups, right groups).

    Identical sets are grouped per side, and the broadcast square over the
    DISTINCT sets applies the length (weighted: weight-ratio) filter in the
    join and verifies from the mask words — each set pair once,
    with zero exchanges of prefix entries. The set pairs are (rid1, rid2,
    len|w 1/2, __bm* 1/2, sim_col) keyed by each group's min member, and the
    self join emits each unordered pair once (rid1 < rid2). The suffix-
    weight bound of the prefix path only prunes candidates there; every
    pair is fully verified here, so dropping it cannot change the output."""
    n_mask = inline.n_words
    size, src = ("w", "wt") if weighted else ("len", "len")
    keep = [src] + [f"__bm{w}" for w in range(n_mask)]
    g_left = _group_sets(left, "tids", keep)
    g_right = g_left if right is None else _group_sets(right, "tids", keep)

    def side(groups: DataFrame, i: str) -> DataFrame:
        return groups.select(F.col("rid").alias(f"rid{i}"),
                             F.col(src).alias(f"{size}{i}"), *_bm_cols(n_mask, i))

    on = F.col("rid1") < F.col("rid2") if right is None else None
    j = (_fan_out(side(g_left, "1")).join(F.broadcast(side(g_right, "2")), on)
         .filter(_size_filter(sim, threshold, weighted)))
    j = j.withColumn(sim_col, _sim_value(sim, weighted, None, inline)
                     ).filter(F.col(sim_col) >= threshold)
    return j, g_left, g_right


def _self_join_parts(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    sim: str,
    threshold: float,
    weighted: bool = False,
    sim_col: str = "sim",
    ta_col: str | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The self join up to (but not including) member expansion: returns
    (verified, groups) — shared by the public join, the fused top-K path and
    set-level connected components, which consume set-level pairs without
    ever materializing the expanded pair table.

    On the all-pairs sweep ``verified`` holds SET-level pairs keyed by each
    group's min member and ``groups`` is (rid, members, ...). On the prefix
    path the join runs over records: ``verified`` holds record pairs and
    ``groups`` is None."""
    vocab, idf_arr = _join_vocab(df.select(F.col(tokens_col).alias("tokens")),
                                 weighted)
    inline = vocab.inline
    need_map = weighted and idf_arr is None
    n_mask = inline.n_words if inline is not None else None
    # All-pairs bitmask sweep for tiny-vocabulary, few-distinct-set corpora
    # (valve-gated, guide §1.2 "the distributed algorithm"): when the probed
    # vocabulary inlines AND the HLL distinct-set estimate says the full
    # set-pair square is small, the prefix filter cannot prune — hot tokens
    # appear in most prefixes, so the explode+equi-join emits ~as many
    # candidates as the square holds while paying an exploded shuffle for
    # them (measured 0.9s vs 1.2-3.2s on the sf0.1 corpus, identical
    # output). Only this path groups identical sets: the square is over
    # DISTINCT sets. Real vocabularies (> 256 tokens) or set counts beyond
    # the cap take the prefix path. The decision is known before any record
    # work, so the sweep skips the weighted suffix scan.
    use_sweep = (inline is not None
                 and vocab.n_sets_approx is not None
                 and vocab.n_sets_approx <= MAX_ALLPAIRS_SETS)
    enc = _prepare(df, id_col, tokens_col, vocab, weighted,
                   need_idf_map=need_map, need_suffixs=not use_sweep)
    if use_sweep:
        j, groups, _ = _sweep(enc, None, sim, threshold, weighted, inline, sim_col)
        extra = []
        if ta_col:
            j = j.withColumn(ta_col, _ta_score(_overlap(n_mask), F.col("len1"),
                                               F.col("len2")))
            extra = [ta_col]
        verified = j.select(F.col("rid1").alias("id1"),
                            F.col("rid2").alias("id2"), sim_col, *extra)
        return verified, groups
    # Prefix path: records join directly. Grouping identical sets lost here
    # at every set:record ratio measured (4,788 sets over 7,573 pages, 243k
    # over 250k at 100k entities): the two aggregate shuffles and the member
    # expansion cost more than the duplicate rows they save.
    e = _entries(enc, "1", sim, threshold, weighted,
                 need_idf_map=need_map, n_mask_words=n_mask)
    a = _fan_out(e.filter(F.col("short1")))
    b = _entries(enc, "2", sim, threshold, weighted, n_mask_words=n_mask)
    # the indexing (short) prefix applies to the pair's smaller side —
    # smaller by token count (unweighted) / record weight (weighted)
    m1, m2 = ("w1", "w2") if weighted else ("len1", "len2")
    # no join-strategy hint: with few prefix entries Catalyst broadcasts
    # (map-side, zero shuffle); at scale it picks sort-merge, where AQE's
    # skew-join split handles hot prefix tokens — a forced shuffle_hash both
    # blocked the broadcast AND disabled the skew handling.
    # Tie-break on rid (deterministic), never a surrogate id.
    joined = a.join(b, "tok").filter(
        (F.col(m1) < F.col(m2))
        | ((F.col(m1) == F.col(m2)) & (F.col("rid1") < F.col("rid2")))
    )
    verified = _fused_verify(joined, sim, threshold, weighted, sim_col,
                             canonicalize=True, idf_arr=idf_arr,
                             inline=inline, ta_col=ta_col)
    return verified, None


def set_similarity_self_join(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    sim: str = "jac",
    threshold: float = 0.8,
    weighted: bool = False,
    sim_col: str = "sim",
) -> DataFrame:
    """All pairs (id1 < id2) with sim(tokens) >= threshold. See module doc.

    On the all-pairs sweep records with IDENTICAL token sets join as ONE
    set-level row, then pairs expand from the member lists: cross-set pairs
    inherit the verified set-level sim, intra-set pairs are sim = 1.0 by
    identity. The prefix path joins records (same rows: identical sets
    verify to exactly 1.0)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    verified, groups = _self_join_parts(
        df, id_col, tokens_col, sim, threshold, weighted, sim_col)
    return _expand_pairs(verified, groups, sim_col, 1.0)


def set_similarity_rs_join(
    df_r: DataFrame,
    df_s: DataFrame,
    id_col: str,
    tokens_col: str,
    sim: str = "jac",
    threshold: float = 0.8,
    weighted: bool = False,
    sim_col: str = "sim",
) -> DataFrame:
    """All (r, s) pairs with sim >= threshold; dictionary/IDF over R ∪ S.

    Two asymmetric index-vs-probe joins cover both length orderings (ties
    treat the R side as smaller)."""
    union = df_r.select(F.col(tokens_col).alias("tokens")).unionAll(
        df_s.select(F.col(tokens_col).alias("tokens")))
    vocab, idf_arr = _join_vocab(union, weighted)
    inline = vocab.inline
    need_map = weighted and idf_arr is None
    n_mask = inline.n_words if inline is not None else None
    # RS flavor of the all-pairs sweep (same valve as the self join): the
    # R-group x S-group square, members expanded after. Each (R-group,
    # S-group) pair is generated exactly once, so the two directional prefix
    # joins AND their dedup exchange disappear.
    use_sweep = (inline is not None and vocab.n_sets_approx is not None
                 and vocab.n_sets_approx <= MAX_ALLPAIRS_SETS)
    left = _prepare(df_r, id_col, tokens_col, vocab, weighted,
                    need_idf_map=need_map, need_suffixs=not use_sweep)
    right = _prepare(df_s, id_col, tokens_col, vocab, weighted,
                     need_idf_map=need_map, need_suffixs=not use_sweep)
    if use_sweep:
        j, gl, gr = _sweep(left, right, sim, threshold, weighted, inline, sim_col)
        m1 = gl.select(F.col("rid").alias("rid1"), F.col("members").alias("mm1"))
        m2 = gr.select(F.col("rid").alias("rid2"), F.col("members").alias("mm2"))
        return (
            j.select("rid1", "rid2", sim_col)
            .join(m1, "rid1").join(m2, "rid2")
            .withColumn("a", F.explode("mm1")).withColumn("b", F.explode("mm2"))
            .select(F.col("a").alias("id1"), F.col("b").alias("id2"), sim_col)
        )
    l = _entries(left, "1", sim, threshold, weighted,
                 need_idf_map=need_map, n_mask_words=n_mask)
    r = _entries(right, "2", sim, threshold, weighted,
                 need_idf_map=need_map, n_mask_words=n_mask)
    m1, m2 = ("w1", "w2") if weighted else ("len1", "len2")
    c1 = _fan_out(l.filter(F.col("short1"))).join(r, "tok").filter(F.col(m1) <= F.col(m2))
    c2 = _fan_out(r.filter(F.col("short2"))).join(l, "tok").filter(F.col(m2) < F.col(m1))
    v1 = _fused_verify(c1, sim, threshold, weighted, sim_col, canonicalize=False,
                       idf_arr=idf_arr, inline=inline)
    v2 = _fused_verify(c2, sim, threshold, weighted, sim_col, canonicalize=False,
                       idf_arr=idf_arr, inline=inline)
    return v1.unionByName(v2).dropDuplicates(["id1", "id2"])
