"""Rule density weights, streaming dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.matcher.density import (
    estimate_rule_density,
    score_pairs_by_rules,
)
from entityblockingbysimilarityjoins_spark.sources.rules import Rule


def test_rule_density_weights(spark):
    records = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "a b x"), (3, "q r s"), (4, "t u v")],
        ["rid", "title"],
    )
    labeled = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 1), (0, 3, 0), (3, 4, 0)], ["id1", "id2", "label"])
    rules = [
        Rule("title", "jac", "dlm", None, 0.5),   # catches both positives
        Rule("title", "exm", None, None, 0.5),    # catches only (0,1)
    ]
    w = estimate_rule_density(labeled, records, "rid", rules)
    assert len(w) == 2 and abs(sum(w) - 1.0) < 1e-9
    assert w[0] > w[1]  # full-recall rule outweighs the exact-only rule
    scored = score_pairs_by_rules(
        labeled.select("id1", "id2"), records, "rid", rules, w)
    vals = {(r["id1"], r["id2"]): r["score"] for r in scored.collect()}
    assert vals[(0, 1)] > vals[(0, 2)] > vals[(0, 3)]


def test_streaming_dedup(spark, tmp_path):
    from entityblockingbysimilarityjoins_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", "Hello  World", "en"),
         ("u2", "2024-01-01 00:01:00", "hello world", "en"),   # dup by fingerprint
         ("u3", "2024-01-01 00:02:00", "other text", "en")],
        ["url", "ts", "text", "lang"],
    ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts") \
     .write.parquet(src)

    stream = spark.readStream.schema(
        "url string, text string, lang string, warc_ts timestamp"
    ).parquet(src)
    out = dedup_stream(stream)
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select url from dedup_out").collect()
    urls = {r["url"] for r in rows}
    assert len(urls) == 2 and "u3" in urls and len({"u1", "u2"} & urls) == 1


def test_neardup_stream_stateful(spark, tmp_path):
    from entityblockingbysimilarityjoins_spark.streaming.dedup_stream import (
        neardup_stream,
    )

    src = str(tmp_path / "nd_src")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # same token SET (reordered + repeated word) -> identical signature and
    # bucket: deterministically exercises the stateful suppression path
    near = "kappa iota theta eta zeta epsilon delta gamma beta alpha alpha"
    far = "completely different words everywhere nothing shared at all here now"
    spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", base, "en"),
         ("u2", "2024-01-01 00:01:00", near, "en"),
         ("u3", "2024-01-01 00:02:00", far, "en")],
        ["url", "ts", "text", "lang"],
    ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts") \
     .write.parquet(src)

    stream = spark.readStream.schema(
        "url string, text string, lang string, warc_ts timestamp"
    ).parquet(src)
    out = neardup_stream(stream, hamming_k=6)
    q = (out.writeStream.format("memory").queryName("nd_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    urls = {r["url"] for r in spark.sql("select url from nd_out").collect()}
    assert "u3" in urls
    assert len({"u1", "u2"} & urls) == 1  # the near-dup pair collapsed


def _sf0001_doc_stream(spark):
    import __spark_entry__ as E

    return E._doc_stream(spark, "/root/testdata/sf0.001")


def test_dedup_stream_equals_batch(spark):
    """Streaming exact dedup over the real corpus (AvailableNow replay) ==
    batch one-survivor-per-fingerprint. Order-independent contract (ADVICE
    r4): verify group coverage + exactly-one-kept, not WHICH row survived —
    'first seen' is shuffle-order nondeterministic with multi-split sources."""
    import __spark_entry__ as E
    from entityblockingbysimilarityjoins_spark.functions.text_stats import (
        fingerprint,
    )

    got = [(r["fp"], r["n_kept"]) for r in
           E._q_stream_dedup(spark, "/root/testdata/sf0.001").collect()]
    batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(
        (r["__fp"], 1) for r in
        batch.withColumn("__fp", fingerprint(F.substring("text", 1, 8)))
        .select("__fp").distinct().collect())
    assert got == want and 0 < len(want) < batch.count()


def test_neardup_stream_equals_batch_greedy(spark):
    """Streaming simhash suppression over the real corpus == a driver-side
    greedy replay (same signatures from the batch expression, same per-bucket
    event-time order), row for row."""
    import __spark_entry__ as E
    from entityblockingbysimilarityjoins_spark.functions.tokenize import (
        tokens_wspace,
    )
    from entityblockingbysimilarityjoins_spark.operators.dedup import (
        md5_token_hash,
        simhash_signature,
    )

    k = 3
    got = [(r["doc_id"], r["sig"]) for r in
           E._q_stream_neardup(spark, "/root/testdata/sf0.001").collect()]

    batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = simhash_signature(F.transform(tokens_wspace(F.col("text")),
                                        md5_token_hash))
    rows = (batch.withColumn("__sig", sig)
            .select("doc_id", "__sig").orderBy("doc_id").collect())
    state: dict[int, list[int]] = {}
    want = []
    for r in rows:  # event time == doc_id order, exactly the stream's replay
        s = int(r["__sig"])
        bucket = s & ((1 << 15) - 1)
        sigs = state.setdefault(bucket, [])
        if all(bin(s ^ t).count("1") > k for t in sigs):
            sigs.append(s)
            want.append((r["doc_id"], s))
    assert got == sorted(want) and 0 < len(want) < len(rows)
