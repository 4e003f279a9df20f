"""Scaling-efficiency benchmark (BASELINE.json north_rule evidence).

Runs the SAME end-to-end EM job on the SAME deterministic input at a given
parallelism (local[N]) and prints one JSON line. Sandbox proxy for N vs 4N
executors (driver instruction): run with CPUS=4 and CPUS=16 (or 8/32),
efficiency = (T_N / T_4N) / 4.

Job = the pipeline core at bench scale over generated pages:
  1. blocking: dlm-token Jaccard self-join on titles,
  2. scoring: feature extraction (17 native sim columns) + forest predict
     (one native Column of CASE trees) over every blocked pair,
  3. near-dup: MinHash-LSH + exact-verify over page text,
  4. clustering: large-star/small-star connected components over matches.
Corpus generation and model training are excluded from the timing (setup).

Usage: SPARK_GRAFT_CPUS=4 python scripts/scaling_bench.py [n_entities]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.tokenize import (
    tokens_dlm,
    tokens_wspace,
)
from entityblockingbysimilarityjoins_spark.matcher.features import (
    extract_features,
    generate_features,
)
from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
    RandomForestMatcher,
    apply_matcher,
)
from entityblockingbysimilarityjoins_spark.operators.connected_components import (
    connected_components,
)
from entityblockingbysimilarityjoins_spark.operators.dedup import minhash_lsh_pairs
from entityblockingbysimilarityjoins_spark.operators.set_join import (
    set_similarity_self_join,
)
from entityblockingbysimilarityjoins_spark.plans.pipeline import derive_attrs
from entityblockingbysimilarityjoins_spark.session import get_spark
from entityblockingbysimilarityjoins_spark.sources.pages import (
    generate_gold,
    generate_pages,
)

ATTR_TYPES = {"title": "str_bt_5w_10w", "body": "str_bt_5w_10w", "lang": "str_eq_1w"}


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # SPARK_GRAFT_MASTER overrides the in-process local[N] with e.g.
    # local-cluster[16,1,6144]: SEPARATE executor JVMs (own heap, own GC,
    # own python workers) — the closest this one box gets to real executors,
    # isolating JVM-level contention from the shared physical memory bus.
    # SPARK_GRAFT_CPUS must still state the TOTAL core count for reporting.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    extra = {
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(cpus, 2)} "
            "-Djava.net.preferIPv6Addresses=false",
    }
    if master.startswith("local-cluster"):
        n_exec, exec_cores, _ = master.split("[", 1)[1].rstrip("]").split(",")
        # per-executor GC pool bounded by ITS core count (the honest-GC rule
        # below, applied per JVM), and the repo on the executor python path
        # (the package is not pip-installed; workers import it by name)
        extra["spark.executor.extraJavaOptions"] = (
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(int(exec_cores), 2)}")
        extra["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
    if os.environ.get("SPARK_GRAFT_INPUT_DISK") == "1":
        # compress the DISK_ONLY cached blocks (generated text compresses
        # ~4x) — same setting at both parallelism levels
        extra["spark.rdd.compress"] = "true"
    # honest N-core simulation: cap the GC worker pool at the task-slot
    # count — otherwise a local[4] JVM still collects with all machine
    # cores and the low-parallelism run looks faster than a 4-core node
    spark = get_spark(app_name=f"scaling-{cpus}-{master}", master=master,
                      shuffle_partitions=2 * cpus,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    # ---- setup (untimed): corpus + a trained matcher ----
    # SPARK_GRAFT_INPUT_DISK=1 persists the corpus DISK_ONLY — the single-box
    # analogue of reading input from distributed storage (HDFS/S3), which is
    # where a real cluster's corpus lives. Load-bearing for large inputs on
    # small-heap executor topologies: with MEMORY_AND_DISK a 12.5M-page
    # corpus fills every 6g executor heap with cached blocks, and the minhash
    # stage's execution allocations then fight block eviction + GC to
    # executor OOM (exit 52, rounds 4-5). Applied identically at BOTH
    # parallelism levels, so the efficiency ratio stays apples-to-apples.
    from pyspark import StorageLevel
    level = (StorageLevel.DISK_ONLY
             if os.environ.get("SPARK_GRAFT_INPUT_DISK") == "1"
             else StorageLevel.MEMORY_AND_DISK_DESER)
    # Only `records` is persisted: it is the sole frame the timed job reads
    # (title tokens, text tokens, feature extraction). Also persisting the
    # raw `pages` doubled the on-disk cache for no reader and, combined
    # with rep-1 shuffle files lingering on the long-lived executors, ran
    # the box out of disk at 12.5M pages (rep 2, minhash stage — twice).
    pages = generate_pages(spark, n_entities, seed=42)
    records = derive_attrs(pages).persist(level)
    n_pages = records.count()
    features = generate_features(ATTR_TYPES)
    feat_names = [f.name for f in features]
    gold_small = generate_gold(spark, 2000, seed=42)
    small_pages = derive_attrs(generate_pages(spark, 2000, seed=42))
    toks_small = small_pages.select("url", tokens_dlm(F.col("title")).alias("tokens"))
    sample = set_similarity_self_join(toks_small, "url", "tokens", "jac", 0.5) \
        .select("id1", "id2")
    labeled = sample.join(
        gold_small.select(F.col("url1").alias("id1"), F.col("url2").alias("id2"))
        .withColumn("label", F.lit(1)), ["id1", "id2"], "left").fillna({"label": 0})
    train_pdf = extract_features(labeled.select("id1", "id2"), small_pages, "url", features) \
        .join(labeled, ["id1", "id2"]).toPandas()
    model = RandomForestMatcher(n_trees=10, max_depth=8, random_state=0,
                                feature_names=feat_names).fit(
        train_pdf[feat_names].to_numpy(), train_pdf["label"].to_numpy())

    # ---- timed job, repeated: this box is noisy (4-5x run-to-run swings),
    # so report every repetition and the min (steady-state estimate) ----
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    runs = []
    n_pairs = n_match = n_mh = n_comp = 0
    for rep in range(reps):
        spark.catalog.clearCache()
        records.persist(level).count()

        t0 = time.time()
        toks = records.select("url", tokens_dlm(F.col("title")).alias("tokens"))
        pairs = set_similarity_self_join(toks, "url", "tokens", "jac", 0.8) \
            .select("id1", "id2").persist()
        n_pairs = pairs.count()
        t_block = time.time() - t0

        t0 = time.time()
        feats = extract_features(pairs, records, "url", features)
        predicted = apply_matcher(feats, model).persist()
        n_match = predicted.filter(F.col("match")).count()
        t_score = time.time() - t0

        t0 = time.time()
        wtoks = records.select("url", tokens_wspace(F.col("text")).alias("tokens"))
        # perms/rows-per-band configurable. r = rows per band controls the
        # candidate explosion: a stage probe measured that r=8 emits ~73
        # band candidates per true pair on the variant-heavy corpus
        # (mid-similarity entity pairs collide), making the
        # candidate-dedup shuffle the scaling bottleneck; r=12 cuts the
        # mid-sim collision rate ~3x at 99.5% banding recall for jac>=0.9.
        mh_perms = int(os.environ.get("SPARK_GRAFT_MH_PERMS", "192"))
        mh_rows = int(os.environ.get("SPARK_GRAFT_MH_ROWS", "12"))
        n_mh = minhash_lsh_pairs(wtoks, "url", "tokens", threshold=0.9,
                                 num_perm=mh_perms,
                                 bands=mh_perms // mh_rows).count()
        t_minhash = time.time() - t0

        t0 = time.time()
        matches = predicted.filter(F.col("match")).select("id1", "id2")
        n_comp = connected_components(matches).select("component").distinct().count()
        t_cc = time.time() - t0

        runs.append({"t_block": round(t_block, 2), "t_score": round(t_score, 2),
                     "t_minhash": round(t_minhash, 2), "t_cc": round(t_cc, 2),
                     "t_total": round(t_block + t_score + t_minhash + t_cc, 2)})

        # Release this rep's cached frames and force a driver GC so the
        # ContextCleaner drops the rep's now-dereferenced shuffle files from
        # the executors' disks BEFORE the next rep re-shuffles the corpus.
        # Without this, shuffle files only vanish at the periodic 30-min GC
        # and rep 2 runs the disk out (outside the timed window; identical
        # at both parallelism levels).
        pairs.unpersist()
        predicted.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(5)

    best = min(r["t_total"] for r in runs)
    print(json.dumps({
        "cpus": cpus,
        "master": master,
        "n_entities": n_entities,
        "n_pages": n_pages,
        "blocking_pairs": n_pairs,
        "matches": n_match,
        "minhash_pairs": n_mh,
        "components": n_comp,
        "runs": runs,
        "t_total_min": best,
        "pairs_per_sec_blocking_best": round(n_pairs / min(r["t_block"] for r in runs), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
