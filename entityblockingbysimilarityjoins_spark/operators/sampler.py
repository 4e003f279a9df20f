"""Sampling operators for training-set construction (SURVEY §2.7, P1/P2/P4/P5).

- ``down_sample``: Falcon-style down-sampler
  (``/root/reference/cpp/sampler/sampler_impl.cc:50-219``): take ``n_probe``
  hash-chosen probe rows; for each, keep the top ``y/2`` partner rows by
  shared-token count plus ``y - y/2`` pseudo-random partners; dedupe.
  The random half draws from a constant-size hash-ordered partner *pool*
  joined to the probes (n_probe x pool rows) — never a cross join against
  the full partner table, so the plan is O(n_probe) regardless of corpus
  size.
- ``cluster_sample_self``: cluster at ``cluster_tau`` (Jaccard join + CC),
  then one representative pair per connected cluster pair discovered by a
  lower-threshold ``blk_tau`` join, capped (``cpp/sampler/sample.cc:10-110``).
  Component labels are minimum member ids, so the representative of a
  cluster IS its label — the output is the capped distinct set of
  (label_min, label_max) cluster pairs.
- ``cluster_sample_rs`` + ``step2_sample`` + ``get_stat``: the RS-table
  sampling path (``cpp/sampler/sample.cc:160-291``): Jaccard RS join at
  ``blk_tau`` (overlap join when blk_tau >= 1), capped, quality-checked
  against gold with ``get_stat`` (recall, density); density <= 0.1 triggers
  the 2-step re-verification — 3-gram Jaccard >= ``step2_tau`` per pair.
- ``pre_sample``: P6 preSample (``sample.cc:320-460``) — gold positives +
  every >= 1-shared-token pair as negatives, Megallen-labeled.
- ``build_training_sample``: Megallen-style labeled sample_res (FIXTURES F3):
  low-threshold candidates labeled by the gold graph + seeded random
  negatives, balanced-ish (random_forest.py:132-175 conventions).

Determinism: all "randomness" is md5-hash order (engine-portable — DuckDB
reproduces every sample bit-for-bit for the correctness oracle); sampling
caps use ``orderBy(key).limit(n)`` (TakeOrderedAndProject — a distributed
top-n, never a single-task global window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sim as S
from ..functions.tokenize import tokens_qgram
from .connected_components import connected_components
from .overlap_join import overlap_rs_join, overlap_self_join
from .set_join import set_similarity_rs_join, set_similarity_self_join
from .cache import persist_tracked

#: reference Sample::CLUSTER_SAMPLE_SIZE (sample.cc:7)
CLUSTER_SAMPLE_SIZE = 100_000


def _md5_key(*cols: Column | str) -> Column:
    """Engine-portable deterministic shuffle key: md5 of ':'-joined strings."""
    return F.md5(F.concat_ws(":", *[F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]))


def down_sample(
    df_probe: DataFrame,
    df_part: DataFrame,
    id_col: str,
    tokens_col: str,
    n_probe: int,
    y: int = 10,
    seed: int = 0,
    pool_size: int | None = None,
) -> DataFrame:
    """P1: (id1=probe, id2=partner) pairs — top-y/2 by shared tokens plus
    y-y/2 pool partners; self pairs excluded; deduped."""
    pool_size = pool_size or max(4 * y, 64)
    probe = (
        df_probe.select(F.col(id_col).alias("id1"), F.col(tokens_col).alias("t1"))
        .orderBy(_md5_key(F.col("id1"), F.lit(seed)))
        .limit(n_probe)
        .transform(persist_tracked)
    )
    part = df_part.select(F.col(id_col).alias("id2"), F.col(tokens_col).alias("t2"))
    shared = (
        probe.select("id1", F.explode("t1").alias("tok"))
        .join(part.select("id2", F.explode("t2").alias("tok")), "tok")
        .filter(F.col("id1") != F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared"))
    )
    w = Window.partitionBy("id1").orderBy(F.desc("shared"), F.asc("id2"))
    top = shared.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= y // 2
    ).select("id1", "id2")
    # pseudo-random half: probes x constant-size hash-ordered pool, per-probe
    # md5 rank — the pool is broadcast, so this stage never shuffles the corpus
    pool = (
        part.select("id2")
        .orderBy(_md5_key(F.col("id2"), F.lit(seed + 1)))
        .limit(pool_size)
    )
    wr = Window.partitionBy("id1").orderBy(_md5_key(F.col("id1"), F.col("id2"), F.lit(seed)))
    rand = (
        probe.select("id1")
        .crossJoin(F.broadcast(pool))
        .filter(F.col("id1") != F.col("id2"))
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") <= y - y // 2)
        .select("id1", "id2")
    )
    return top.unionByName(rand).dropDuplicates(["id1", "id2"])


def cluster_sample_self(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    cluster_tau: float = 0.9,
    blk_tau: float = 0.6,
    max_pairs: int = CLUSTER_SAMPLE_SIZE,
    seed: int = 0,
) -> DataFrame:
    """P4: representative inter-cluster pairs (see module doc).

    Clusters = CC of the ``cluster_tau`` Jaccard join; candidate pairs from
    the looser ``blk_tau`` join map to (component(id1), component(id2));
    distinct cross-cluster pairs, labels being min member ids, ARE the
    representative pairs. Cap via hash-ordered distributed top-n."""
    comp = connected_components(
        set_similarity_self_join(df, id_col, tokens_col, "jac", cluster_tau).select("id1", "id2")
    )
    edges = set_similarity_self_join(df, id_col, tokens_col, "jac", blk_tau).select("id1", "id2")
    c1 = comp.select(F.col("node").alias("id1"), F.col("component").alias("c1"))
    c2 = comp.select(F.col("node").alias("id2"), F.col("component").alias("c2"))
    pairs = (
        edges.join(c1, "id1", "left").join(c2, "id2", "left")
        .select(
            F.coalesce("c1", "id1").alias("c1"),
            F.coalesce("c2", "id2").alias("c2"),
        )
        .filter(F.col("c1") != F.col("c2"))
        .select(F.least("c1", "c2").alias("id1"), F.greatest("c1", "c2").alias("id2"))
        .distinct()
    )
    return (
        pairs.orderBy(_md5_key(F.col("id1"), F.col("id2"), F.lit(seed)))
        .limit(max_pairs)
    )


def get_stat(pairs: DataFrame, gold: DataFrame) -> tuple[float, float]:
    """(recall, density) of a candidate pair set vs gold
    (``sample.cc:115-158``): recall = |pairs ∩ gold| / |gold|,
    density = |pairs ∩ gold| / |pairs|. One aggregate job."""
    p = pairs.select("id1", "id2").dropDuplicates(["id1", "id2"])
    g = gold.select("id1", "id2").dropDuplicates(["id1", "id2"])
    row = (
        p.withColumn("__p", F.lit(1))
        .join(g.withColumn("__g", F.lit(1)), ["id1", "id2"], "full")
        .agg(
            F.sum(F.coalesce("__p", F.lit(0))).alias("np"),
            F.sum(F.coalesce("__g", F.lit(0))).alias("ng"),
            F.sum(F.when(F.col("__p").isNotNull() & F.col("__g").isNotNull(), 1).otherwise(0)).alias("hit"),
        )
        .first()
    )
    recall = row["hit"] / row["ng"] if row["ng"] else 0.0
    density = row["hit"] / row["np"] if row["np"] else 0.0
    return recall, density


def step2_sample(
    pairs: DataFrame,
    df_r: DataFrame,
    df_s: DataFrame,
    id_col: str,
    attr_col: str,
    step2_tau: float,
    q: int = 3,
) -> DataFrame:
    """2-step re-verification (``sample.cc:160-231``): keep pairs whose
    attribute q-gram Jaccard >= step2_tau. The token arrays join onto the
    pair list (two hash joins), the similarity verifies inline — no re-join
    of the corpus against itself."""
    def grams(df: DataFrame, out_id: str, out_t: str) -> DataFrame:
        # tokens_qgram already returns sorted-distinct set semantics
        return df.select(
            F.col(id_col).alias(out_id),
            tokens_qgram(F.col(attr_col), q).alias(out_t),
        )

    r = grams(df_r, "id1", "t1")
    s = grams(df_s, "id2", "t2")
    return (
        pairs.join(r, "id1").join(s, "id2")
        .withColumn("__jac", S.jaccard(F.col("t1"), F.col("t2")))
        .filter(F.col("__jac") >= step2_tau)
        .select("id1", "id2")
    )


def cluster_sample_rs(
    df_r: DataFrame,
    df_s: DataFrame,
    id_col: str,
    tokens_col: str,
    attr_col: str,
    gold: DataFrame | None,
    blk_tau: float = 0.6,
    step2_tau: float = 0.5,
    max_pairs: int = CLUSTER_SAMPLE_SIZE,
    seed: int = 0,
    density_floor: float = 0.1,
) -> DataFrame:
    """P5: RS sampling path (``sample.cc:231-291``). Jaccard RS join at
    blk_tau (overlap join at ceil(blk_tau) when blk_tau >= 1), hash-capped at
    max_pairs, then — when gold is supplied and density <= density_floor —
    the 2-step q-gram re-verification. Returns (id1, id2, label=0) in the
    Megallen sample_res convention."""
    if blk_tau < 1.0:
        cand = set_similarity_rs_join(
            df_r, df_s, id_col, tokens_col, "jac", blk_tau
        ).select("id1", "id2")
    else:
        import math

        cand = overlap_rs_join(
            df_r, df_s, id_col, tokens_col, c=int(math.ceil(blk_tau - 1e-5))
        ).select("id1", "id2")
    cand = (
        cand.orderBy(_md5_key(F.col("id1"), F.col("id2"), F.lit(seed)))
        .limit(max_pairs)
        .transform(persist_tracked)
    )
    if gold is not None:
        recall, density = get_stat(cand, gold)
        if density <= density_floor:
            cand = step2_sample(cand, df_r, df_s, id_col, attr_col, step2_tau)
    return cand.withColumn("label", F.lit(0))


def pre_sample(
    df_z: DataFrame,
    gold: DataFrame,
    id_col: str,
    attr_col: str,
) -> DataFrame:
    """P6 preSample (``sample.cc:320-460``): labeled sample over a sampled
    table Z — positives = the gold pairs Y (label 1), negatives = every
    canonical pair sharing >= 1 dlm token of ``attr_col`` that is not in Y
    (label 0). Returns (id1, id2, label)."""
    from ..functions.tokenize import tokens_dlm

    toks = df_z.select(F.col(id_col).alias("rid"),
                       tokens_dlm(F.col(attr_col)).alias("tokens"))
    cand = overlap_self_join(toks, "rid", "tokens", c=1).select("id1", "id2")
    g = gold.select("id1", "id2")
    neg = cand.join(g, ["id1", "id2"], "left_anti").withColumn("label", F.lit(0))
    pos = g.withColumn("label", F.lit(1))
    return pos.unionByName(neg)


def build_training_sample(
    df: DataFrame,
    gold: DataFrame,
    id_col: str,
    tokens_col: str,
    candidate_threshold: float = 0.4,
    n_random_negatives: int = 2000,
    seed: int = 0,
) -> DataFrame:
    """F3 sample_res: (id1, id2, label) — candidates + random pairs, gold-labeled."""
    cand = set_similarity_self_join(
        df, id_col, tokens_col, "jac", candidate_threshold
    ).select("id1", "id2")
    slim = df.select(F.col(id_col).alias("rid"))

    # random negatives: zip two independent seeded samples (never a cross join)
    def indexed_sample(s: int, out: str) -> DataFrame:
        k = slim.orderBy(F.hash("rid", F.lit(s))).limit(n_random_negatives)
        w = Window.orderBy(F.hash("rid", F.lit(s)))  # k rows only — cheap
        return k.select(F.col("rid").alias(out), F.row_number().over(w).alias("__i"))

    rand_pairs = (
        indexed_sample(seed, "a").join(indexed_sample(seed + 1, "b"), "__i")
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("id1"), F.greatest("a", "b").alias("id2"))
    )
    pairs = cand.unionByName(rand_pairs).dropDuplicates(["id1", "id2"])
    g = gold.select("id1", "id2").withColumn("label", F.lit(1))
    return pairs.join(g, ["id1", "id2"], "left").fillna({"label": 0})


def resample_labeled(
    df: DataFrame,
    label_col: str = "label",
    mode: str = "over",
    seed: int = 0,
) -> DataFrame:
    """P7: seeded class rebalancing of a labeled sample to a 1:1 ratio —
    the Random{Over,Under}Sampler(random_state) calls of the reference
    (``simjoin_entitymatching/matcher/random_forest.py:148-175``).

    mode='over': duplicate minority rows with replacement (each row gets
    floor(extra/n_min) copies plus one more for the md5-order-first
    ``extra mod n_min`` rows — a deterministic draw, stable across
    partitionings). mode='under': keep the md5-order-first n_min majority
    rows. The window/TakeOrdered run over the labeled sample only, which is
    driver-trainable-small by construction (never the corpus)."""
    counts = {
        r[label_col]: r["n"]
        for r in df.groupBy(label_col).agg(F.count("*").alias("n")).collect()
    }
    if len(counts) != 2 or len(set(counts.values())) == 1:
        return df
    maj = max(counts, key=lambda k: (counts[k], str(k)))
    minr = min(counts, key=lambda k: (counts[k], str(k)))
    n_maj, n_min = counts[maj], counts[minr]
    h = F.md5(F.concat_ws(
        ":", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns],
        F.lit(str(seed))))
    if mode == "under":
        kept_maj = df.filter(F.col(label_col) == maj).orderBy(h).limit(n_min)
        return df.filter(F.col(label_col) == minr).unionByName(kept_maj)
    if mode != "over":
        raise ValueError(mode)
    extra = n_maj - n_min
    base, rem = extra // n_min, extra % n_min
    minority = df.filter(F.col(label_col) == minr)
    ranked = minority.withColumn("__h", h).withColumn(
        "__rn", F.row_number().over(Window.orderBy("__h")))
    dup = (
        ranked.withColumn(
            "__k", F.lit(base) + (F.col("__rn") <= rem).cast("int"))
        .filter(F.col("__k") > 0)
        .withColumn("__e", F.explode(F.sequence(F.lit(1), F.col("__k"))))
        .drop("__h", "__rn", "__k", "__e")
    )
    return df.unionByName(dup)
