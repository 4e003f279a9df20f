"""The benchmark workloads.

Each workload generates its inputs from the seed during ``setup``, runs its
job once per ``iteration`` through the program's public functions (one
tracer span per layer call, each span materializing the layer's output),
and checks the last iteration's outputs against independent computations
in ``check``.
"""

from __future__ import annotations

import os
import random

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as E
from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_dlm
from entityblockingbysimilarityjoins_spark.matcher.features import (
    extract_features,
    generate_features,
)
from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
    RandomForestMatcher,
    apply_matcher,
)
from entityblockingbysimilarityjoins_spark.operators.cache import release_cached
from entityblockingbysimilarityjoins_spark.operators.connected_components import (
    cluster_pairs,
)
from entityblockingbysimilarityjoins_spark.operators.sampler import build_training_sample
from entityblockingbysimilarityjoins_spark.operators.set_join import (
    set_similarity_self_join,
)
from entityblockingbysimilarityjoins_spark.plans.pipeline import derive_attrs
from entityblockingbysimilarityjoins_spark.sources.pages import generate_gold, generate_pages

import checks as C
import datagen

#: rows of each sampled score check
SAMPLE_ROWS = 300


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.n_records = 0
        self.out: dict = {}
        self.counts: dict[str, int] = {}
        self.walls: dict[str, float] = {}
        self.cpus: dict[str, float] = {}

    @classmethod
    def spark_conf(cls) -> dict[str, str]:
        """Session settings the workload needs on top of the run's own."""
        return {}

    def setup(self) -> None:
        raise NotImplementedError

    def iteration(self) -> None:
        raise NotImplementedError

    def check(self) -> tuple[list[C.Check], dict[str, float]]:
        """(checks, quality metrics) over the last iteration's outputs."""
        raise NotImplementedError

    def rates(self) -> dict[str, float]:
        """blocking and scoring pairs per CPU second of the last iteration."""
        raise NotImplementedError

    def _step(self, layer: str, step: str, build):
        """One layer call: build the DataFrame and materialize it, persisted
        and counted, so that a later step or the checks read it back."""
        with self.tracer.span(layer, step) as sp:
            out = build().persist()
            sp.rows_out = out.count()
        self.out[step] = out
        self.counts[step] = sp.rows_out
        self.walls[step] = sp.wall_s
        self.cpus[step] = sp.cpu_s
        return out

    def release(self) -> None:
        for out in self.out.values():
            out.unpersist()
        self.out = {}
        release_cached()
        self.spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# pages_em: big-vocabulary entity matching
# ---------------------------------------------------------------------------

PAGE_ATTR_TYPES = {"title": "str_bt_5w_10w", "body": "str_bt_5w_10w",
                   "lang": "str_eq_1w"}
TITLE_CTE = ("CASE WHEN strpos(text, chr(10)) > 0 "
             "THEN substr(text, 1, strpos(text, chr(10)) - 1) ELSE text END")
BODY_CTE = ("CASE WHEN strpos(text, chr(10)) > 0 "
            "THEN substr(text, strpos(text, chr(10)) + 1) ELSE '' END")


class PagesEM(Workload):
    name = "pages_em"
    n_entities = 3_000
    #: the corpus size whose join plans the run reproduces
    plan_entities = 100_000
    sample_entities = 500
    threshold = 0.8

    @classmethod
    def spark_conf(cls) -> dict[str, str]:
        # Catalyst broadcasts a join side estimated below 10 MB. At 100k
        # entities the title join's prefix-entry table is above that, so
        # the join sort-merges (with AQE's skew split on hot tokens); at
        # 3k it would broadcast. Shrinking the threshold with the corpus
        # keeps every join of the run on the plan it takes at 100k.
        return {"spark.sql.autoBroadcastJoinThreshold":
                str(10 * 2**20 * cls.n_entities // cls.plan_entities)}

    def setup(self) -> None:
        self.pages_path = os.path.join(self.work_dir, "pages.parquet")
        with self.tracer.span("pages", "generate") as sp:
            generate_pages(self.spark, self.n_entities, self.seed, with_entity_id=True) \
                .write.mode("overwrite").parquet(self.pages_path)
        self.features = generate_features(PAGE_ATTR_TYPES)
        self._fit_forest()
        # the program sees the generated pages only; entity ids stay with
        # the benchmark as gold
        pages = self.spark.read.parquet(self.pages_path).drop("entity_id")
        self.records = derive_attrs(pages).persist()
        self.n_records = sp.rows_out = self.records.count()

    def _fit_forest(self) -> None:
        """Forest fit on a separately seeded 2k-entity sample, labelled by
        the program's own training sampler against the sample's gold."""
        names = [f.name for f in self.features]
        sample = self._step("pages", "generate_sample", lambda: derive_attrs(
            generate_pages(self.spark, self.sample_entities, self.seed + 1)))
        gold = generate_gold(self.spark, self.sample_entities, self.seed + 1) \
            .withColumnsRenamed({"url1": "id1", "url2": "id2"})
        toks = sample.select("url", tokens_dlm(F.col("title")).alias("tokens"))
        labeled = build_training_sample(toks, gold, "url", "tokens")
        train = self._step("features", "sample_features", lambda: extract_features(
            labeled.select("id1", "id2"), sample, "url", self.features)
            .join(labeled, ["id1", "id2"])).toPandas()
        Workload.release(self)
        with self.tracer.span("random_forest", "fit") as sp:
            self.model = RandomForestMatcher(
                n_trees=10, max_depth=8, random_state=0, feature_names=names,
            ).fit(train[names].to_numpy(dtype=np.float64, na_value=np.nan),
                  train["label"].to_numpy())
            sp.rows_out = len(train)

    def iteration(self) -> None:
        records = self.records
        toks = records.select("url", tokens_dlm(F.col("title")).alias("tokens"))
        pairs = self._step("set_join", "title_join", lambda: set_similarity_self_join(
            toks, "url", "tokens", "jac", self.threshold).select("id1", "id2", "sim"))
        feats = self._step("features", "extract_features", lambda: extract_features(
            pairs.select("id1", "id2"), records, "url", self.features))
        scored = self._step("random_forest", "apply_matcher", lambda: apply_matcher(
            feats, self.model).select("id1", "id2", "match_proba", "match"))
        self._step("connected_components", "cluster_pairs", lambda: cluster_pairs(
            scored.filter(F.col("match")).select("id1", "id2")))

    def release(self) -> None:
        super().release()  # clearCache also drops the input; persist it again
        self.records.persist()
        self.records.count()

    def rates(self) -> dict[str, float]:
        c = self.cpus
        return {
            "blocking_pairs_per_cpu_s": self.counts["title_join"] / c["title_join"],
            "scoring_pairs_per_cpu_s": self.counts["apply_matcher"]
            / (c["extract_features"] + c["apply_matcher"]),
        }

    def check(self):
        cands = self.out["title_join"].select("id1", "id2").toPandas()
        scored = self.out["apply_matcher"].toPandas()
        clusters = self.out["cluster_pairs"].toPandas()
        con = duckdb.connect()
        con.execute(f"""CREATE TABLE pages AS
            SELECT url, entity_id, {TITLE_CTE} AS title, {BODY_CTE} AS body, lang
            FROM read_parquet('{self.pages_path}/*.parquet')""")
        con.execute(f"CREATE TABLE tt AS SELECT url, {E._dlm_sql('title')} AS t FROM pages")
        con.execute("""CREATE TABLE gold AS
            SELECT a.url AS id1, b.url AS id2 FROM pages a JOIN pages b
            ON a.entity_id = b.entity_id AND a.url < b.url""")
        con.register("cands", cands)
        jac = ("len(list_intersect(a.t, b.t))::DOUBLE / "
               "(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))")
        low = con.execute(f"""SELECT count(*) FROM cands c JOIN tt a ON a.url = c.id1
            JOIN tt b ON b.url = c.id2 WHERE NOT ({jac} >= {self.threshold})""").fetchone()[0]
        gold_hi = con.execute(f"""SELECT g.id1, g.id2 FROM gold g JOIN tt a ON a.url = g.id1
            JOIN tt b ON b.url = g.id2 WHERE {jac} >= {self.threshold}""").df()
        gold = con.execute("SELECT id1, id2 FROM gold").df()
        missed = len(gold_hi.merge(cands, on=["id1", "id2"], how="left", indicator=True)
                     .query("_merge == 'left_only'"))
        _, recall, _ = C.prf(cands, gold)
        duck_share = len(gold_hi) / len(gold)
        out = [
            C.Check("title_join: every candidate has raw-token jaccard >= 0.8",
                    low == 0, f"{low} below"),
            C.Check("title_join: every gold pair >= 0.8 is a candidate",
                    missed == 0, f"{missed} missed of {len(gold_hi)}"),
            C.Check("title_join: pair_recall equals DuckDB's share",
                    abs(recall - duck_share) < 1e-12, f"{recall:.6f} vs {duck_share:.6f}"),
        ]
        matches = scored[scored["match"]]
        out.append(C.compare_clusters("cluster_pairs == union-find", clusters, matches))
        out.append(self._check_forest(con, scored))
        _, _, f1 = C.prf(matches, gold)
        return out, {"pair_recall": recall, "match_f1": f1}

    def _check_forest(self, con, scored: pd.DataFrame) -> C.Check:
        """Sampled match decisions == numpy predict_proba over features
        recomputed by the oracle feature SQL."""
        rng = random.Random(self.seed)
        idx = rng.sample(range(len(scored)), min(SAMPLE_ROWS, len(scored)))
        sample = scored.iloc[sorted(idx)].reset_index(drop=True)
        con.register("sample", sample[["id1", "id2"]])
        attrs = sorted({f.attr for f in self.features})
        rec_cols = attrs + [f"{E._dlm_sql(a)} AS {a}_dlm" for a in attrs]
        rec_cols += [f"{E._qgm3_sql(a)} AS {a}_qgm" for a in attrs]
        side = [f"{s}.{c} AS {s}_{c}" for s in ("a", "b")
                for a in attrs for c in (a, f"{a}_dlm", f"{a}_qgm")]
        feats = {f.name: f for f in self.features}
        cols = ", ".join(f'{E._feat_sql(feats[n])} AS "{n}"' for n in self.model.feature_names)
        fm = con.execute(f"""WITH rec AS (SELECT url, {', '.join(rec_cols)} FROM pages),
            fp AS (SELECT s.id1, s.id2, {', '.join(side)} FROM sample s
                   JOIN rec a ON a.url = s.id1 JOIN rec b ON b.url = s.id2)
            SELECT id1, id2, {cols} FROM fp""").df()
        fm = sample[["id1", "id2"]].merge(fm, on=["id1", "id2"], how="left")
        X = fm[self.model.feature_names].to_numpy(dtype=np.float64, na_value=np.nan)
        proba = self.model.predict_proba(X)
        got = sample["match_proba"].to_numpy(dtype=np.float64)
        n_bad = int((np.abs(proba - got) > C.FLOAT_TOL).sum()
                    + ((proba >= 0.5) != sample["match"].to_numpy()).sum())
        return C.Check("apply_matcher sample == numpy forest on DuckDB features",
                       n_bad == 0, f"{n_bad} of {len(sample)} differ")


# ---------------------------------------------------------------------------
# docs_tinyvocab: declared blocking and scoring queries over generated docs
# ---------------------------------------------------------------------------

class DocsTinyVocab(Workload):
    name = "docs_tinyvocab"
    n_docs = 1_000
    #: (declared query, layer)
    queries = [("set_join_jaccard", "set_join"), ("block_union", "blocker"),
               ("topk_ta", "topk"), ("minhash_dedup", "dedup"),
               ("string_sim_bulk_1m", "sim"), ("rf_predict", "random_forest")]
    #: the steps that emit candidate pairs from the documents alone, and
    #: the steps that score given pairs; each rate sums several steps, so
    #: that no single small query carries a gate
    blocking_steps = ("set_join_jaccard", "block_union", "topk_ta", "minhash_dedup")
    scoring_steps = ("string_sim_bulk_1m", "rf_predict")
    partners = 200  # per document, as in the declared *_1m queries

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.work_dir, "docs")
        os.makedirs(self.sf_dir, exist_ok=True)
        datagen.write_documents(self.sf_dir, self.n_docs, self.seed)
        self.n_records = self.n_docs
        self.qs = E.queries()

    def iteration(self) -> None:
        for q, layer in self.queries:
            self._step(layer, q, lambda q=q: self.qs[q](self.spark, self.sf_dir))

    def _docs(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.sf_dir, "documents.parquet"))

    def _duck(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet("
                    f"'{self.sf_dir}/documents.parquet')")
        return con

    @staticmethod
    def _h16_gold(docs: pd.DataFrame) -> pd.DataFrame:
        d = docs.assign(h=docs["text"].str[:16])[["doc_id", "h"]]
        g = d.merge(d, on="h", suffixes=("1", "2"))
        g = g[g["doc_id1"] < g["doc_id2"]]
        return g.rename(columns={"doc_id1": "id1", "doc_id2": "id2"})[["id1", "id2"]]

    def rates(self) -> dict[str, float]:
        c, n = self.cpus, self.counts
        return {f"{kind}_pairs_per_cpu_s": sum(n[s] for s in steps) / sum(c[s] for s in steps)
                for kind, steps in (("blocking", self.blocking_steps),
                                    ("scoring", self.scoring_steps))}

    def check(self):
        docs = self._docs()
        con = self._duck()
        got = {step: out.toPandas() for step, out in self.out.items()}
        out = self._check_blocking(docs, con, got) + self._check_scoring(con, got)
        gold = self._h16_gold(docs)
        _, recall, _ = C.prf(got["block_union"], gold)
        rf = got["rf_predict"]
        _, _, f1 = C.prf(rf[rf["match"]], gold)
        return out, {"pair_recall": recall, "match_f1": f1}

    @staticmethod
    def _check_blocking(docs, con, got) -> list[C.Check]:
        """Set-similarity outputs against a numpy all-pairs verifier over
        token bitmasks (DuckDB's list joins take ~10 s per query here)."""
        ids = docs["doc_id"].to_numpy()
        pc = C.PairCounts.all_pairs(C.token_masks([set(t.split()) for t in docs["text"]]))
        jac = pc.jaccard()
        ok = pc.nonempty()

        def pairs(mask, **cols):
            return pd.DataFrame({"id1": ids[pc.i[mask]], "id2": ids[pc.j[mask]],
                                 **{k: v[mask] for k, v in cols.items()}})

        out = [C.compare_rows("set_join_jaccard == numpy all-pairs",
                              got["set_join_jaccard"], pairs(ok & (jac >= 0.8), sim=jac))]

        # block_union: jac >= 0.85 | lev(head24) <= 3 | anm(n_chars) >= 0.995
        n = docs["n_chars"].to_numpy(dtype=np.float64)
        x, y = n[pc.i], n[pc.j]
        mx = np.maximum(np.abs(x), np.abs(y))
        with np.errstate(divide="ignore", invalid="ignore"):
            anm = np.where((x == 0) & (y == 0), 1.0,
                           np.where(mx > 0, 1.0 - np.abs(x - y) / mx, 0.0))
        # each edit moves the character histogram by at most 2 in L1, so
        # DuckDB's levenshtein only runs where that distance is <= 6
        heads = docs["text"].fillna("").str[:24]
        chars = sorted(set("".join(heads)))
        hist = np.array([[h.count(c) for c in chars] for h in heads], dtype=np.int16)
        near = np.abs(hist[pc.i] - hist[pc.j]).sum(axis=1) <= 6
        con.register("near", pairs(near & (heads.str.len().to_numpy()[pc.i] > 0)
                                   & (heads.str.len().to_numpy()[pc.j] > 0)))
        lev = con.execute("""WITH d AS (SELECT doc_id, substring(text, 1, 24) AS h FROM documents)
            SELECT n.id1, n.id2 FROM near n JOIN d a ON a.doc_id = n.id1
            JOIN d b ON b.doc_id = n.id2 WHERE levenshtein(a.h, b.h) <= 3""").df()
        rules = pd.concat([pairs(ok & (jac >= 0.85)), lev, pairs(anm >= 0.995)])
        want_bu = rules.groupby(["id1", "id2"]).size().rename("rules_passed").reset_index()
        out.append(C.compare_rows("block_union == numpy + DuckDB rule union",
                                  got["block_union"], want_bu))

        ta = pairs(ok & (jac >= 0.8), score=pc.ta_score()).sort_values(
            ["score", "id1", "id2"], ascending=[False, True, True]).head(200)
        out.append(C.compare_rows("topk_ta == numpy top-200", got["topk_ta"], ta))
        out.append(C.compare_rows("minhash_dedup == numpy all-pairs",
                                  got["minhash_dedup"], pairs(ok & (jac >= 0.9), jac=jac)))
        return out

    def _synthetic_pairs(self) -> pd.DataFrame:
        d = np.arange(self.n_docs)
        k = np.arange(1, self.partners + 1)
        id1 = np.repeat(d, len(k))
        id2 = (id1 + np.tile(k, len(d)) * 37) % self.n_docs
        keep = id1 != id2
        return pd.DataFrame({"id1": id1[keep], "id2": id2[keep]}) \
            .sort_values(["id1", "id2"]).reset_index(drop=True)

    def _check_scoring(self, con, got) -> list[C.Check]:
        """A seeded sample of the 10^5-pair string scoring against DuckDB, in
        the string_sim_bulk oracle's SQL shape; the small rf_predict against
        its own oracle."""
        expected = self._synthetic_pairs()
        rng = random.Random(self.seed)
        sample = expected.iloc[sorted(rng.sample(range(len(expected)), SAMPLE_ROWS))]
        con.register("sample", sample)
        q = "string_sim_bulk_1m"
        out = [C.Check(f"{q} pairs == the synthetic pair set",
                       got[q][["id1", "id2"]].sort_values(["id1", "id2"])
                       .reset_index(drop=True).equals(expected),
                       f"{len(got[q])} vs {len(expected)} rows")]
        want_s = con.execute("""
            WITH d AS (SELECT doc_id, substring(text, 1, 40) AS h40,
                              list_filter(string_split(substring(text, 1, 60), ' '),
                                          x -> x <> '') AS t60
                       FROM documents)
            SELECT s.id1, s.id2, round(jaro_winkler_similarity(a.h40, b.h40), 6) AS jw,
                   round(CASE WHEN len(a.t60) = 0 OR len(b.t60) = 0 THEN 0.0
                         ELSE list_avg(list_transform(a.t60,
                                x -> list_max(list_transform(b.t60,
                                       y -> jaro_winkler_similarity(x, y))))) END, 6) AS me
            FROM sample s JOIN d a ON a.doc_id = s.id1 JOIN d b ON b.doc_id = s.id2""").df()
        out.append(C.compare_rows("string_sim_bulk_1m sample == DuckDB jaro_winkler",
                                  got["string_sim_bulk_1m"].merge(sample), want_s,
                                  tol=C.ROUNDED_TOL))
        want_rf = con.execute(E.oracle_sql()["rf_predict"]).df()
        out.append(C.compare_rows("rf_predict == its DuckDB oracle", got["rf_predict"],
                                  want_rf, tol=C.ROUNDED_TOL))
        return out


WORKLOADS = {w.name: w for w in (PagesEM, DocsTinyVocab)}
