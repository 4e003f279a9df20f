"""Document deduplication operators for training-data pipelines.

Beyond the reference's blocker (which is itself a near-dup engine), these are
the dedup primitives a 100 TB corpus pipeline needs, each Spark-native:

- ``exact_duplicate_groups``: sha2 hash -> groupBy; the group id is the min
  record id (deterministic representative).
- ``minhash_lsh_pairs``: shingle -> xxhash64 (JVM) -> minhash signatures
  (min over (a*h+b) mod p per permutation, p = 2^31-1 so the modular
  arithmetic stays inside signed-64 bounds), Arrow-batched numpy with
  ``np.minimum.reduceat`` over the batch-flattened hash array — one
  vectorized pass per permutation, zero per-row Python. Then banded bucket
  join -> exact Jaccard verification. With b bands of r rows the candidate
  recall at Jaccard s is 1-(1-s^r)^b; defaults (b=32, r=8) give per-pair
  miss probability <2e-8 at s>=0.9 while colliding far fewer mid-similarity
  pairs than shallow bands — verification then makes the *output* exact w.h.p.
  **r is the scale knob**: on corpora dense in MID-similarity pairs (entity
  variants at jac 0.6-0.85) r=8 floods the candidate-dedup shuffle (~73
  band candidates per true pair measured on a variant-heavy 1.25M-page
  corpus); r=12 (e.g. 192/16) cuts the
  mid-sim collision rate ~3x and costs only ~0.5% banding recall at s=0.9.
  Keep r=8 when the exact-recall contract matters more than the shuffle.
- ``simhash_pairs``: 60-bit simhash over md5-derived token hashes, computed
  entirely with SQL higher-order functions (aggregate + zip_with) so the
  signature is engine-portable (DuckDB reproduces it bit-for-bit for the
  correctness oracle); hamming <= k via the pigeonhole block join (k+1
  blocks of the signature as join keys), verified natively with
  bit_count(s1 ^ s2).
- ``ngram_jaccard_pairs``: q-gram/word-shingle Jaccard via the exact
  prefix-filter set join (operators.set_join).
- ``embedding_neardup_pairs``: cosine >= t over an embedding column;
  'brute' = block-nested loop with native zip_with dot products (exact),
  'lsh' = random-hyperplane band buckets + exact verification (scale path).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sim as S
from ..functions.tokenize import tokens_qgram, tokens_wspace
from .cache import persist_tracked
from .set_join import (
    _bm_cols,
    _expand_pairs,
    _fan_out,
    _group_sets,
    _mask_cols,
    _mask_overlap,
    _size_filter,
    resolve_vocab,
    set_similarity_self_join,
)

log = logging.getLogger(__name__)


_MERSENNE31 = (1 << 31) - 1  # minhash modulus: keeps a*h+b < 2^62 (ANSI-safe)
_SIMHASH_BITS = 60  # 15 hex chars of md5 — fits a positive BIGINT in any engine


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """(id, group_id) for every row; identical rows share group_id = min id."""
    h = F.sha2(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                                     for c in cols]), 256)
    with_h = df.select(F.col(id_col).alias("id"), h.alias("__h"))
    reps = with_h.groupBy("__h").agg(F.min("id").alias("group_id"))
    return with_h.join(reps, "__h").select("id", "group_id")


def dedup_exact(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Keep one representative row (min id) per identical (cols) tuple."""
    groups = exact_duplicate_groups(df, id_col, cols)
    keep = groups.filter(F.col("id") == F.col("group_id")).select("id")
    return df.join(keep.withColumnsRenamed({"id": id_col}), id_col)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE31, size=num_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE31, size=num_perm, dtype=np.int64)
    return a, b


def minhash_signature(tokens_hashed: Column, num_perm: int = 128, seed: int = 1) -> Column:
    """array<long> minhash signature from an array<long> of token hashes;
    sig[i] = min over tokens of (a_i * (h mod p) + b_i) mod p, p = 2^31-1.

    Arrow-batched and fully vectorized — the whole batch's token hashes are
    flattened into ONE array, each permutation is a single numpy affine
    pass, and the per-row minima come from ``np.minimum.reduceat`` on the
    row offsets. No per-row Python loop. Empty arrays map to the sentinel p."""
    a, b = _minhash_params(num_perm, seed)
    from pyspark.sql.functions import pandas_udf

    def _sig(hashes):
        n = len(hashes)
        lens = np.fromiter((0 if h is None else len(h) for h in hashes),
                           dtype=np.int64, count=n)
        if n == 0 or lens.sum() == 0:
            return pd.Series([np.full(num_perm, _MERSENNE31, dtype=np.int64)] * n)
        flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in hashes
                               if h is not None and len(h)])
        flat = np.mod(flat, _MERSENNE31)
        nonempty = lens > 0
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=offsets[1:])
        sigs = np.full((n, num_perm), _MERSENNE31, dtype=np.int64)
        ne_rows = np.flatnonzero(nonempty)
        for i in range(num_perm):
            v = (a[i] * flat + b[i]) % _MERSENNE31
            sigs[ne_rows, i] = np.minimum.reduceat(v, offsets)
        return pd.Series(list(sigs))

    _sig.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "array<long>")(tokens_hashed)



def cap_band_buckets(
    bands_df: DataFrame,
    keys: tuple[str, ...],
    cap: int | None,
    label: str = "lsh",
) -> DataFrame:
    """Overflow valve for LSH band buckets, mirroring the reference's hard
    inverted-list caps (``cpp/common/config.h:109-110``).

    Banding math bounds EXPECTED bucket sizes, but a pathological bucket
    (boilerplate corpora, adversarial near-identical shards) still emits
    |bucket|^2 candidate rows. With ``cap`` set, buckets holding more than
    ``cap`` rows are dropped ENTIRELY before the self/RS join — a row pair
    that only collides in an oversized bucket is lost (recall caveat, logged
    with the measured drop), matching the reference's drop-the-hot-list
    semantics rather than sampling inside the bucket (which would make the
    output nondeterministic). ``cap=None`` (the default) is a no-op, so
    existing results are byte-identical unless the caller opts in.

    The stats pass is one eager map-side-combinable count over ``bands_df``.
    The dedup callers persist the band table itself, so the check re-reads
    cached narrow rows; ``ann_lsh_topk`` recomputes its band UDF once more
    for the stats (cap=None skips all of this).
    """
    if cap is None:
        return bands_df
    if cap < 2:
        raise ValueError("cap must allow at least one pair per bucket")
    sizes = bands_df.groupBy(*keys).agg(F.count("*").alias("__bc"))
    n_over, rows_over = (
        sizes.filter(F.col("__bc") > cap)
        .agg(F.count("*"), F.coalesce(F.sum("__bc"), F.lit(0)))
        .first()
    )
    if not n_over:
        return bands_df
    log.warning(
        "%s: dropping %d band buckets over cap %d (%d signature rows; pairs "
        "colliding only there are missed unless another band catches them — "
        "recall caveat)", label, n_over, cap, rows_over)
    keep = sizes.filter(F.col("__bc") <= cap).select(*keys)
    return bands_df.join(keep, list(keys), "left_semi")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float = 0.8,
    num_perm: int = 256,
    bands: int = 32,
    seed: int = 1,
    sim_col: str = "jac",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id1 < id2) with verified exact Jaccard >= threshold.

    Identical token sets join as ONE set-level row (exact duplicates are
    abundant in web corpora): signatures are computed once per DISTINCT
    set, the banded join runs over distinct sets, intra-set pairs are
    jaccard 1.0 by identity, cross pairs expand from the member lists.
    ``max_band_bucket``: optional overflow valve — see ``cap_band_buckets``."""
    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm")
    r = num_perm // bands
    slim = (
        df.select(F.col(id_col).alias("rid"), F.col(tokens_col).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    # Cache layout (12.5M-page lesson, round 5): persist the two frames that
    # are actually read twice — the groups (toks/members, read by verify's
    # joins + the member expansion) and the post-explode band table (narrow
    # int columns, read by both sides of the band self-join and by the
    # overflow-valve stats) — and let the signature column STREAM through
    # unpersisted: it is consumed exactly once by the band explode. Caching
    # the signature+tokenhash base instead (~3 KB/row: toks + a parallel
    # xxhash64 array + 192 longs) saturated 6g-executor storage pools at
    # 12.5M distinct sets and execution OOM'd against block eviction
    # (exit 52) — and stored ~4x more bytes than these two frames combined.
    groups = _group_sets(slim, "toks")
    # Tiny-vocab verify (see set_join): LSH collides far more candidate set
    # pairs than survive exact verification on mid-similarity-dense corpora,
    # so when the probed vocabulary inlines, each distinct set's band rows
    # also carry bitmask words and the exact-Jaccard verify is bit_count
    # arithmetic instead of a string-array intersection per candidate.
    inline = resolve_vocab(slim.select(F.col("toks").alias("tokens")),
                           build=False).inline
    nw = inline.n_words if inline is not None else 0
    mask_pay = [f"__bm{w}" for w in range(nw)]
    # the masks are projected BEFORE the band explode: once per set, not
    # once per band row
    base = (
        groups.select("rid", "toks", *(_mask_cols(inline.encode("toks"), nw) if nw else []))
        .withColumn("__h", F.transform("toks", lambda t: F.xxhash64(t)))
        .withColumn("__sig", minhash_signature(F.col("__h"), num_perm, seed))
    )
    bands_df = base.select(
        "rid",
        F.size("toks").alias("len"),
        *mask_pay,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(F.slice("__sig", i * r + 1, r).cast("string")),
            )
        ).alias("band", "bh"),
    )
    bands_df = persist_tracked(bands_df)
    bands_df = cap_band_buckets(bands_df, ("band", "bh"), max_band_bucket,
                                "minhash_lsh_pairs")
    l, rr = (bands_df.select("band", "bh", F.col("rid").alias(f"rid{i}"),
                             F.col("len").alias(f"len{i}"), *_bm_cols(nw, i))
             for i in ("1", "2"))
    coll = (
        _fan_out(l).join(rr, ["band", "bh"])
        .filter(F.col("rid1") < F.col("rid2"))
        .filter(_size_filter("jac", threshold, False))
    )
    if inline is not None:
        # fused bitset verify inside the band-join stage (the mask words are
        # fixed-width longs riding the band rows — the band exchange stays
        # free of array payloads): only exact-Jaccard SURVIVORS reach the
        # dedup exchange, instead of every band collision. On mid-similarity-
        # dense corpora collisions outnumber survivors ~50x.
        verified = (
            coll.withColumn("__o", _mask_overlap("1", "2", nw))
            .withColumn(sim_col, S.sim_from_counts("jac", F.col("__o"),
                                                   F.col("len1"), F.col("len2")))
            .filter(F.col(sim_col) >= threshold)
            .select("rid1", "rid2", sim_col)
            .dropDuplicates(["rid1", "rid2"])
        )
    else:
        # the token arrays come with the member lists, in one join per side
        cand = coll.select("rid1", "rid2").dropDuplicates(["rid1", "rid2"])
        t1, t2 = (groups.select(F.col("rid").alias(f"rid{i}"), F.col("toks").alias(f"t{i}"),
                                F.col("members").alias(f"m{i}")) for i in ("1", "2"))
        verified = (
            cand.join(t1, "rid1").join(t2, "rid2")
            .withColumn("__o", F.size(F.array_intersect("t1", "t2")))
            .withColumn(sim_col, S.sim_from_counts("jac", F.col("__o"),
                                                   F.size("t1"), F.size("t2")))
            .filter(F.col(sim_col) >= threshold)
            .select("rid1", "rid2", sim_col, "m1", "m2")
        )
    set_pairs = verified.withColumnsRenamed({"rid1": "id1", "rid2": "id2"})
    return _expand_pairs(set_pairs, groups, sim_col, 1.0)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def md5_token_hash(token: Column) -> Column:
    """Engine-portable 60-bit token hash: first 15 hex chars of md5.

    Identical in Spark (``conv(substr(md5(t),1,15),16,10)``) and DuckDB
    (``('0x' || substr(md5(t),1,15))::BIGINT``) — the basis of the simhash
    correctness oracle."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")


def simhash_signature(tokens_hashed: Column, n_bits: int = _SIMHASH_BITS) -> Column:
    """n-bit simhash (long) from an array<long> of token hashes.

    Pure SQL higher-order functions — ``aggregate`` accumulates a per-bit
    +1/-1 counter array in one pass over the tokens, then folds the sign
    vector into a single long. Runs inside whole-stage codegen; bit b is 1
    iff strictly more token hashes have bit b set than unset (deterministic
    tie rule shared with the DuckDB oracle)."""
    counts = F.aggregate(
        tokens_hashed,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.array(
            *[
                F.get(acc, i)
                + F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1)).otherwise(F.lit(-1))
                for i in range(n_bits)
            ]
        ),
    )
    # fold the sign vector into one long; `counts` is referenced exactly once
    # (zip_with) so the aggregate above is evaluated a single time per row
    weights = F.lit([1 << i for i in range(n_bits)]).cast("array<long>")
    return F.aggregate(
        F.zip_with(counts, weights, lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def simhash_signature_numpy(tokens_hashed: Column, n_bits: int = _SIMHASH_BITS) -> Column:
    """Same signature as ``simhash_signature`` (bit-for-bit), computed with
    one vectorized numpy pass per Arrow batch instead of the interpreted
    per-token HOF array fold (~6x faster at corpus scale): unpack every
    hash's bits, sum the ±1 contributions per row with ``np.add.reduceat``
    (integer sums — order-independent, so batch order cannot matter), fold
    the strict-majority sign vector into one long."""
    from pyspark.sql.functions import pandas_udf

    def _sig(hashes):
        n = len(hashes)
        out = np.zeros(n, dtype=np.int64)
        lens = np.fromiter((0 if h is None else len(h) for h in hashes),
                           dtype=np.int64, count=n)
        ne = np.flatnonzero(lens > 0)
        if len(ne):
            flat = np.concatenate([np.asarray(hashes[i], dtype=np.int64) for i in ne])
            offsets = np.zeros(len(ne), dtype=np.int64)
            np.cumsum(lens[ne][:-1], out=offsets[1:])
            sig = np.zeros(len(ne), dtype=np.int64)
            # one 1-D reduceat per bit — axis-0 reduceat on the (T, n_bits)
            # matrix measured 37x slower (cache-hostile column reduction)
            for b in range(n_bits):
                pm = ((flat >> b) & 1).astype(np.int32) * 2 - 1
                cnt = np.add.reduceat(pm, offsets)
                sig |= (cnt > 0).astype(np.int64) << b
            out[ne] = sig
        return pd.Series(out)

    _sig.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "long")(tokens_hashed)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    hamming_k: int = 3,
    dist_col: str = "hamming",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Pairs (id1 < id2) with simhash hamming distance <= k (exact via pigeonhole).

    Token hashes are computed ONCE PER DISTINCT TOKEN (md5+base-conv per
    occurrence was the dominant cost on duplicate-heavy corpora), joined back
    onto the exploded corpus — Catalyst/AQE broadcasts the vocabulary side
    when it is small, shuffle-joins beyond that. Signature fold rides the
    numpy batch path; hash order from collect_list is irrelevant (per-bit
    integer sums commute exactly)."""
    blocks = hamming_k + 1
    width = _SIMHASH_BITS // blocks
    toks = (
        df.select(F.col(id_col).alias("rid"), F.col(tokens_col).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    vocab = (
        toks.select(F.explode("toks").alias("token")).distinct()
        .withColumn("__th", md5_token_hash(F.col("token")))
    )
    base = (
        toks.select("rid", F.explode("toks").alias("token"))
        .join(vocab, "token")
        .groupBy("rid")
        .agg(F.collect_list("__th").alias("__h"))
        .withColumn("__sig", simhash_signature_numpy(F.col("__h")))
    )
    base = persist_tracked(base)
    mask = (1 << width) - 1
    block_structs = [
        F.struct(
            F.lit(b).alias("b"),
            F.shiftrightunsigned(F.col("__sig"), b * width).bitwiseAND(F.lit(mask)).alias("v"),
        )
        for b in range(blocks)
    ]
    blk = base.select(
        "rid", "__sig", F.explode(F.array(*block_structs)).alias("blk")
    ).select("rid", "__sig", F.col("blk.b").alias("b"), F.col("blk.v").alias("v"))
    blk = cap_band_buckets(blk, ("b", "v"), max_band_bucket, "simhash_pairs")
    l = blk.withColumnsRenamed({"rid": "rid1", "__sig": "s1"})
    r = blk.withColumnsRenamed({"rid": "rid2", "__sig": "s2"})
    cand = (
        l.join(r, ["b", "v"])
        .filter(F.col("rid1") < F.col("rid2"))
        .select("rid1", "rid2", "s1", "s2")
        .dropDuplicates(["rid1", "rid2"])
    )
    return (
        cand.withColumn(dist_col, F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col(dist_col) <= hamming_k)
        .select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"), dist_col)
    )


# ---------------------------------------------------------------------------
# shingle Jaccard + embedding near-dup
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    q: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via the prefix-filter set join.
    q=None -> word shingles (wspace); q=int -> character q-grams."""
    tok = tokens_qgram(F.col(text_col), q) if q else tokens_wspace(F.col(text_col))
    toks = df.select(F.col(id_col).alias("rid"), tok.alias("tokens"))
    return set_similarity_self_join(toks, "rid", "tokens", "jac", threshold)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    threshold: float = 0.95,
    method: str = "auto",
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
    sim_col: str = "cos",
    max_broadcast_bytes: int | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold. 'brute' is exact; 'lsh' buckets by
    md5-derived random-hyperplane sign bands then verifies exactly (the
    scale path); 'blas' broadcasts the corpus matrix (exact, fast while it
    fits); 'auto' picks blas when the matrix fits the broadcast cap and
    falls back to lsh beyond it — the default never risks a driver OOM."""
    from .ann import DEFAULT_MAX_BROADCAST_BYTES

    cap = max_broadcast_bytes or DEFAULT_MAX_BROADCAST_BYTES
    base = (
        df.select(F.col(id_col).alias("rid"), F.col(emb_col).cast("array<double>").alias("e"))
        .withColumn("__n", F.sqrt(_dot(F.col("e"), F.col("e"))))
        .filter(F.col("__n") > 0)
    )
    base = persist_tracked(base)
    if method == "auto":
        n_rows, d = base.select(
            F.count("*").alias("n"), F.first(F.size("e")).alias("d")
        ).first()
        method = "blas" if (n_rows or 0) * (d or 0) * 8 <= cap else "lsh"
    if method == "blas":
        # broadcast corpus matrix; each partition scores its rows with one
        # matmul — exact, Arrow-batched, the fast path while the corpus fits
        rows = base.select("rid", "e", "__n").collect()
        ids = np.array([r["rid"] for r in rows])
        order = np.argsort(ids)
        ids = ids[order]
        M = np.array([rows[i]["e"] for i in order], dtype=np.float64)
        M /= np.array([rows[i]["__n"] for i in order], dtype=np.float64)[:, None]
        spark = df.sparkSession
        b_ids = spark.sparkContext.broadcast(ids)
        b_M = spark.sparkContext.broadcast(M)

        def score(batches):
            cid, cM = b_ids.value, b_M.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf["e"].to_numpy()).astype(np.float64)
                Q /= pdf["__n"].to_numpy(dtype=np.float64)[:, None]
                sims = Q @ cM.T
                out = []
                for row_i, rid in enumerate(pdf["rid"].to_numpy()):
                    js = np.flatnonzero((sims[row_i] >= threshold) & (cid > rid))
                    out.extend((rid, cid[j], float(sims[row_i, j])) for j in js)
                yield pd.DataFrame(out, columns=["id1", "id2", sim_col])

        idt = dict(df.select(F.col(id_col)).dtypes)[id_col]
        return base.mapInPandas(score, schema=f"id1 {idt}, id2 {idt}, {sim_col} double")
    if method == "brute":
        cand = (
            base.select(F.col("rid").alias("rid1"), F.col("e").alias("e1"), F.col("__n").alias("n1"))
            .crossJoin(base.select(F.col("rid").alias("rid2"), F.col("e").alias("e2"), F.col("__n").alias("n2")))
            .filter(F.col("rid1") < F.col("rid2"))
        )
    elif method == "lsh":
        from pyspark.sql.functions import pandas_udf

        from .ann import md5_planes

        if dim is None:
            dim = len(base.select("e").first()["e"])
        planes = md5_planes(seed, n_planes * n_bands, dim)
        weights = 1 << np.arange(n_planes, dtype=np.int64)

        # one numpy matmul per Arrow batch replaces n_bands*n_planes
        # interpreted zip_with dot products per row (guide §4.2) — the same
        # sign-band construction ann_lsh_topk uses, bit-for-bit: band value
        # b = sum over planes p of (e . w[b*P+p] >= 0) << p
        def _band_sigs(emb):
            M = np.stack(emb.to_numpy()).astype(np.float64)
            bits = (M @ planes.T >= 0).reshape(len(M), n_bands, n_planes)
            vals = (bits * weights).sum(axis=2).astype(np.int64)
            return pd.Series(list(vals))

        _band_sigs.__annotations__ = {"emb": pd.Series, "return": pd.Series}
        band_udf = pandas_udf(_band_sigs, "array<long>")

        # id-only band join: the banded shuffle carries (rid, band, bv) ONLY —
        # embeddings are re-attached to the deduped candidate pairs with two
        # hash joins against the persisted base (the payload never rides the
        # xbands explosion or the hot-bucket join output)
        bands_df = base.select(
            "rid",
            F.posexplode(band_udf(F.col("e"))).alias("band", "bv"),
        )
        bands_df = persist_tracked(bands_df)
        bands_df = cap_band_buckets(bands_df, ("band", "bv"), max_band_bucket,
                                    "embedding_neardup_pairs")
        l = bands_df.select(F.col("rid").alias("rid1"), "band", "bv")
        r = bands_df.select(F.col("rid").alias("rid2"), "band", "bv")
        cand = (
            l.join(r, ["band", "bv"])
            .filter(F.col("rid1") < F.col("rid2"))
            .select("rid1", "rid2")
            .dropDuplicates(["rid1", "rid2"])
            .join(base.select(F.col("rid").alias("rid1"), F.col("e").alias("e1"),
                              F.col("__n").alias("n1")), "rid1")
            .join(base.select(F.col("rid").alias("rid2"), F.col("e").alias("e2"),
                              F.col("__n").alias("n2")), "rid2")
        )
    else:
        raise ValueError(method)
    if method == "lsh":
        # Arrow-batched verify: one einsum per batch over the candidate
        # cohort (the brute path below stays pure-Column — it is the declared
        # no-Python oracle baseline)
        from .ann import _dot_udf

        sim = _dot_udf()(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    else:
        sim = _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        cand.withColumn(sim_col, sim)
        .filter(F.col(sim_col) >= threshold)
        .select(F.col("rid1").alias("id1"), F.col("rid2").alias("id2"), sim_col)
    )
