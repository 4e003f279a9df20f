"""ANN top-k vs numpy oracle; text statistics fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.text_stats import (
    fingerprint,
    lang_id,
    quality_score,
    subword_count,
    token_count,
)
from entityblockingbysimilarityjoins_spark.operators.ann import (
    ann_bruteforce_topk,
    ann_lsh_topk,
)


def _emb_rows(seed, n, dim=12):
    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]


def test_ann_bruteforce_matches_numpy(spark):
    rows = _emb_rows(3, 30)
    df = spark.createDataFrame(rows, ["rid", "e"])
    k = 5
    got = ann_bruteforce_topk(df, df, "rid", "e", k=k).collect()
    M = np.array([v for _, v in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    for r in got:
        q, n_, c = r["query_id"], r["neighbor_id"], r["cos"]
        assert c == pytest.approx(float(sims[q, n_]), abs=1e-9)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos"]))
    for q, lst in by_q.items():
        lst.sort()
        assert len(lst) == k
        order = np.argsort([-sims[q, j] if j != q else np.inf for j in range(len(rows))])
        want = [j for j in order if j != q][:k]
        assert [n for _, n, _ in lst] == want


def test_ann_lsh_subset_and_ranked(spark):
    rows = _emb_rows(7, 40)
    df = spark.createDataFrame(rows, ["rid", "e"])
    res = ann_lsh_topk(df, df, "rid", "e", k=3, n_planes=6, n_bands=8).collect()
    assert all(r["rank"] <= 3 for r in res)
    # top-1 LSH neighbor should usually be the true top-1; check >70%
    brute = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in ann_bruteforce_topk(df, df, "rid", "e", k=1).collect()}
    lsh1 = {r["query_id"]: r["neighbor_id"] for r in res if r["rank"] == 1}
    hits = sum(1 for q, n_ in lsh1.items() if brute.get((q, 1)) == n_)
    assert hits / max(len(lsh1), 1) > 0.7


def test_token_counts(spark):
    df = spark.createDataFrame([("hello  world foo",), ("a-b c!",), ("",)], ["t"])
    rows = df.select(token_count(F.col("t")).alias("n"),
                     subword_count(F.col("t")).alias("s")).collect()
    assert [r["n"] for r in rows] == [3, 2, 0]
    assert rows[1]["s"] == 5  # a, b, c runs + '-' + '!'


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",), ("der hund und die katze ist da",),
         ("le chat et la maison est grande",), ("xyz qqq www",)], ["t"])
    assert [r[0] for r in df.select(lang_id(F.col("t"))).collect()] == \
        ["en", "de", "fr", "unk"]


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("The quick brown fox jumps over the lazy dog and runs away",),
         ("!!!! ???? ....",)], ["t"])
    q = [r[0] for r in df.select(quality_score(F.col("t"))).collect()]
    assert q[0] > q[1]
    assert 0.0 <= q[1] <= q[0] <= 1.0
    fp = spark.createDataFrame([("Hello  World",), ("hello world",)], ["t"])
    h = [r[0] for r in fp.select(fingerprint(F.col("t"))).collect()]
    assert h[0] == h[1]  # case-fold + ws-collapse canonicalization


def test_winnow_fingerprint(spark):
    """Rolling-hash winnowing vs a direct python reference, plus the
    SIGMOD'03 guarantee: a shared run of >= k + w - 1 tokens yields a common
    selection; whitespace/case noise does not change the fingerprint."""
    import hashlib
    import re

    from entityblockingbysimilarityjoins_spark.functions.text_stats import (
        winnow_fingerprint,
    )

    def ref(t, k=5, w=4):
        toks = [x for x in re.split(r"\s+", (t or "").lower(), flags=re.ASCII)
                if x]
        hs = [int(hashlib.md5(" ".join(toks[i:i + k]).encode())
                  .hexdigest()[:15], 16)
              for i in range(max(len(toks) - k + 1, 0))]
        if len(hs) < w:
            return []
        return sorted({min(hs[j:j + w]) for j in range(len(hs) - w + 1)})

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k + w - 1
    rows = [(0, "the quick brown fox jumps over the lazy dog today ok"),
            (1, "too short"), (2, None), (3, ""), (4, "  \t "),
            (5, f"{shared} one two three four five"),
            (6, f"nine ten eleven twelve {shared}"),
            (7, "THE  Quick\tbrown fox JUMPS over the lazy dog today ok")]
    df = spark.createDataFrame(rows, ["doc_id", "t"])
    got = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id",
                     winnow_fingerprint(F.col("t")).alias("fp")).collect()}
    for i, t in rows:
        assert got[i] == ref(t), i
    assert set(got[5]) & set(got[6])   # shared k+w-1 run => common selection
    assert got[0] == got[7]            # case/whitespace invariant


def test_ann_native_equals_blas(spark):
    rows = _emb_rows(21, 25)
    df = spark.createDataFrame(rows, ["rid", "e"])
    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in ann_bruteforce_topk(df, df, "rid", "e", k=4, impl="native").collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in ann_bruteforce_topk(df, df, "rid", "e", k=4, impl="blas").collect()}
    assert a == b


def test_knn_filter_matches_brute_force(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from entityblockingbysimilarityjoins_spark.operators.ann import (
        knn_filter_matches,
    )

    rng = np.random.default_rng(7)
    n, d, k = 40, 8, 3
    vecs = {i: rng.normal(size=d) for i in range(n)}
    emb = spark.createDataFrame([(i, v.tolist()) for i, v in vecs.items()],
                                "vec_id int, embedding array<double>")
    # candidate pairs: two overlapping mod-buckets (uneven partner counts,
    # some buckets smaller than k -> the short-bucket early-out)
    pairs = [(i, j) for i in range(n) for j in range(i + 1, n)
             if i % 5 == j % 5 or i % 11 == j % 11]
    pdf = spark.createDataFrame(pairs, "id1 int, id2 int")

    got = {(r["id1"], r["id2"]) for r in
           knn_filter_matches(pdf, emb, "vec_id", "embedding", k=k).collect()}

    # driver-side brute force of the reference semantics: per-id top-k among
    # its matched partners, forward AND reverse must both keep the pair
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    partners: dict[int, list[int]] = {}
    for i, j in pairs:
        partners.setdefault(i, []).append(j)
        partners.setdefault(j, []).append(i)
    topk = {
        i: set(sorted(ps, key=lambda j: (-cos(vecs[i], vecs[j]), j))[:k])
        for i, ps in partners.items()
    }
    want = {(i, j) for i, j in pairs if j in topk[i] and i in topk[j]}
    assert got == want and 0 < len(want) < len(pairs)

    # demote-don't-drop mode keeps every row, flips the flag
    flagged = knn_filter_matches(
        pdf.withColumn("match", F.lit(True)), emb, "vec_id", "embedding",
        k=k, predicted_col="match")
    rows = flagged.collect()
    assert len(rows) == len(pairs)
    assert {(r["id1"], r["id2"]) for r in rows if r["match"]} == want


def test_knn_filter_demote_preserves_missing_embeddings(spark):
    """Demote mode keeps every match row even when a side has no embedding
    row (left joins + cos=0); filter mode drops unscorable pairs."""
    from entityblockingbysimilarityjoins_spark.operators.ann import (
        knn_filter_matches,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"])
    pairs = spark.createDataFrame(
        [(1, 2, True), (1, 99, True)],  # 99 has no embedding row
        ["id1", "id2", "predicted"])
    demoted = knn_filter_matches(pairs, emb, "vec_id", "embedding", k=1,
                                 predicted_col="predicted").collect()
    assert len(demoted) == 2
    flags = {(r["id1"], r["id2"]): r["predicted"] for r in demoted}
    assert flags[(1, 2)] is True
    assert flags[(1, 99)] is False  # unscorable -> demoted, never dropped
    filtered = knn_filter_matches(pairs, emb, "vec_id", "embedding", k=1)
    assert [(r["id1"], r["id2"]) for r in filtered.collect()] == [(1, 2)]


def test_ann_ivf_matches_numpy_replay(spark):
    """ann_ivf_topk == an independent numpy replay of the same IVF pipeline:
    md5-seeded centroid pick, nearest-cell assignment (cos DESC, cent ASC
    ties), n_probe cells per query, exact re-rank within the cohort."""
    import hashlib

    from entityblockingbysimilarityjoins_spark.operators.ann import ann_ivf_topk

    rows = _emb_rows(11, 60)
    df = spark.createDataFrame(rows, ["rid", "e"])
    n_cells, n_probe, k, seed = 5, 2, 4, 7
    got = ann_ivf_topk(df, df, "rid", "e", k=k, n_cells=n_cells,
                       n_probe=n_probe, seed=seed).collect()

    M = np.array([v for _, v in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    cent_ids = sorted(range(len(rows)),
                      key=lambda i: (hashlib.md5(f"ivf:{seed}:{i}".encode())
                                     .hexdigest(), i))[:n_cells]
    cc = Mn @ Mn[cent_ids].T  # (n, n_cells) cell scores
    # ties (cos DESC, cent_id ASC): stable argsort over (-cos, cent_id)
    order = np.lexsort((np.array(cent_ids)[None, :].repeat(len(rows), 0), -cc),
                       axis=1)
    assign = {i: cent_ids[order[i, 0]] for i in range(len(rows))}
    probes = {i: {cent_ids[order[i, p]] for p in range(n_probe)}
              for i in range(len(rows))}
    want = {}
    for qi in range(len(rows)):
        cohort = [j for j in range(len(rows))
                  if j != qi and assign[j] in probes[qi]]
        cohort.sort(key=lambda j: (-Mn[qi] @ Mn[j], j))
        want[qi] = cohort[:k]
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qi, lst in by_q.items():
        lst.sort()
        assert [n for _, n in lst] == want[qi]
    assert set(by_q) == {qi for qi in want if want[qi]}


def test_ann_ivf_cell_cap_valve(spark):
    """max_cell_rows caps a hot inverted list deterministically."""
    from entityblockingbysimilarityjoins_spark.operators.ann import ann_ivf_topk

    # one dominant direction -> almost everything lands in one cell
    rng = np.random.default_rng(5)
    rows = [(i, [1.0 + 0.01 * float(x) for x in rng.standard_normal(6)])
            for i in range(40)]
    df = spark.createDataFrame(rows, ["rid", "e"])
    full = ann_ivf_topk(df, df, "rid", "e", k=3, n_cells=3, n_probe=1).count()
    capped = ann_ivf_topk(df, df, "rid", "e", k=3, n_cells=3, n_probe=1,
                          max_cell_rows=10)
    assert capped.count() <= full
    # deterministic: same call twice -> identical rows
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, ann_ivf_topk(df, df, "rid", "e", k=3, n_cells=3,
                                       n_probe=1, max_cell_rows=10).collect()))
    assert a == b


def test_winnow_fingerprint_property(spark):
    """Hypothesis sweep of winnow_fingerprint over random corpora AND random
    (k, w) — the fixed-parameter differential test above only exercises the
    default (5, 4); the shingle/window gating (`n < k`, `m < w`) and the
    k=1 / w=1 degenerate forms (w=1 keeps every shingle) each have their own
    branch in the Column expression. One Spark job per example batch keeps
    the sweep cheap; the oracle is the same direct python reference."""
    import hashlib
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from entityblockingbysimilarityjoins_spark.functions.text_stats import (
        winnow_fingerprint,
    )

    def ref(t, k, w):
        toks = [x for x in re.split(r"\s+", (t or "").lower(), flags=re.ASCII)
                if x]
        hs = [int(hashlib.md5(" ".join(toks[i:i + k]).encode())
                  .hexdigest()[:15], 16)
              for i in range(max(len(toks) - k + 1, 0))]
        if len(hs) < w:
            return []
        return sorted({min(hs[j:j + w]) for j in range(len(hs) - w + 1)})

    # tiny token alphabet -> repeated shingles -> duplicate hashes, so
    # array_distinct and window-min ties are actually exercised
    token = st.text(alphabet="ab1", min_size=1, max_size=2)
    sep = st.sampled_from([" ", "  ", "\t", " \n"])
    doc = st.lists(st.tuples(token, sep), max_size=14).map(
        lambda ps: "".join(t + s for t, s in ps))

    @settings(max_examples=8, deadline=None)
    @given(docs=st.lists(doc, min_size=1, max_size=10),
           k=st.integers(1, 6), w=st.integers(1, 6))
    def check(docs, k, w):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                                   ["doc_id", "t"])
        got = {r["doc_id"]: r["fp"] for r in
               df.select("doc_id",
                         winnow_fingerprint(F.col("t"), k, w).alias("fp"))
               .collect()}
        for i, t in enumerate(docs):
            assert got[i] == ref(t, k, w), (i, t, k, w)

    check()
