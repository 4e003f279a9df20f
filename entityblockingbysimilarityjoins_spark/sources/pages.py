"""Deterministic synthetic Common-Crawl-style pages + gold pairs (FIXTURES.md F1/F2).

Schema per BASELINE.json input_hint:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.
Gold = all intra-entity variant pairs ``gold(url1, url2)`` with url1 < url2.

Generation is **distributed and partition-independent**: entities are derived
from ``spark.range(n_entities)`` and every entity's variants are produced from
an RNG seeded by ``(seed, entity_id)`` inside ``mapInPandas`` — the same rows
come out no matter the partitioning or cluster size (the determinism contract
the whole test harness leans on).

Duplicate model: each entity emits 1-4 page variants via seeded perturbations
(token drop/swap, case/punctuation noise, whitespace churn, boilerplate wrap).
Intra-entity title Jaccard on raw dlm tokens is >= 0.8 for only ~73% of
variant pairs (72.65% at 100k entities, seed 42; 70.9-73.7% at 3k entities,
seeds 1-20): a fifth of the variants upper-case one title token, which the
case-sensitive tokens count as a different token. After lowercasing it is
~98%. Inter-entity similarity stays low — mirroring the recall-oriented
blocking design of the reference (README.md:6-8).
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ADJ = ["fast", "smart", "ultra", "compact", "classic", "digital", "wireless",
        "portable", "premium", "basic", "modern", "vintage", "solar", "hybrid",
        "quantum", "turbo", "eco", "mini", "mega", "pro"]
_NOUN = ["blender", "keyboard", "monitor", "router", "scooter", "camera",
         "speaker", "charger", "backpack", "kettle", "drone", "printer",
         "tablet", "watch", "lamp", "heater", "mixer", "sensor", "tripod",
         "projector"]
_BRAND = ["acme", "globex", "initech", "umbrella", "hooli", "stark", "wayne",
          "wonka", "tyrell", "cyberdyne", "aperture", "vandelay"]
_BODY = ["great battery life", "ships worldwide", "two year warranty",
         "award winning design", "limited edition", "energy efficient",
         "easy to assemble", "customer favorite", "new model", "free returns",
         "water resistant", "made from recycled materials"]
_LANGS = ["en", "en", "en", "en", "en", "en", "en", "de", "fr", "es"]
_BOILER = ["home products about", "copyright all rights reserved",
           "subscribe to our newsletter", "cookie settings privacy"]

_EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)


def _entity_rng(seed: int, eid: int) -> random.Random:
    h = hashlib.sha256(f"{seed}:{eid}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _title(rng: random.Random, eid: int) -> list[str]:
    return [
        rng.choice(_BRAND),
        rng.choice(_ADJ),
        rng.choice(_ADJ),
        rng.choice(_NOUN),
        f"model{eid % 99991}",
        f"v{rng.randint(1, 9999)}",
    ]


def _perturb_title(rng: random.Random, toks: list[str]) -> list[str]:
    out = list(toks)
    # at most one light perturbation keeps intra-entity Jaccard high
    op = rng.random()
    if op < 0.25 and len(out) > 4:
        out.pop(rng.randrange(len(out)))           # token drop
    elif op < 0.5:
        i = rng.randrange(len(out) - 1)
        out[i], out[i + 1] = out[i + 1], out[i]     # adjacent swap
    elif op < 0.7:
        i = rng.randrange(len(out))
        out[i] = out[i].upper()                     # case noise
    return out


def _variant_rows(seed: int, eid: int) -> list[dict]:
    rng = _entity_rng(seed, eid)
    title = _title(rng, eid)
    body = rng.sample(_BODY, 4)
    n_var = rng.randint(1, 4)
    rows = []
    for vid in range(n_var):
        vt = title if vid == 0 else _perturb_title(rng, title)
        vb = list(body)
        if vid > 0 and rng.random() < 0.5:
            vb[rng.randrange(len(vb))] = rng.choice(_BODY)  # body churn
        sep = "  " if (vid > 0 and rng.random() < 0.3) else " "   # ws churn
        # entity-specific body tokens keep inter-entity body Jaccard low
        # (FIXTURES duplicate model: inter-entity < 0.5)
        uniq = f"sku{(eid * 7919) % 999983} lot{(eid * 104729) % 999983}"
        text = sep.join(vt) + "\n" + " ".join(vb) + " " + uniq
        if vid > 0 and rng.random() < 0.3:
            text = text + "\n" + rng.choice(_BOILER)        # boilerplate wrap
        url = f"https://site{eid % 97}.example/p/{eid}-{vid}"
        ts = _EPOCH + timedelta(seconds=(eid * 131 + vid * 17) % 10_000_000)
        rows.append({
            "url": url,
            "warc_ts": ts.replace(tzinfo=None),
            "html": b"<html><body>" + text.encode() + b"</body></html>",
            "text": text,
            "lang": _LANGS[(eid + vid) % len(_LANGS)],
            "entity_id": eid,
        })
    return rows


def generate_pages(
    spark: SparkSession,
    n_entities: int = 1000,
    seed: int = 42,
    with_entity_id: bool = False,
) -> DataFrame:
    """Distributed deterministic pages table (see module doc)."""
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string, entity_id long"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for eid in pdf["id"]:
                rows.extend(_variant_rows(seed, int(eid)))
            yield pd.DataFrame(rows, columns=[
                "url", "warc_ts", "html", "text", "lang", "entity_id"])

    # bound the per-partition working set: ~50k entities (~125k pages) per
    # generation slice regardless of core count, so small-heap executors
    # (local-cluster scaling runs) never materialize gigabyte partitions
    n_parts = max(spark.sparkContext.defaultParallelism,
                  n_entities // 50_000 or 1)
    out = spark.range(0, n_entities, numPartitions=n_parts) \
        .mapInPandas(gen, schema=schema)
    return out if with_entity_id else out.drop("entity_id")


def generate_gold(spark: SparkSession, n_entities: int = 1000, seed: int = 42) -> DataFrame:
    """gold(url1, url2): all intra-entity pairs, url1 < url2."""
    pages = generate_pages(spark, n_entities, seed, with_entity_id=True)
    a = pages.select(F.col("entity_id"), F.col("url").alias("url1"))
    b = pages.select(F.col("entity_id"), F.col("url").alias("url2"))
    return (
        a.join(b, "entity_id")
        .filter(F.col("url1") < F.col("url2"))
        .select("url1", "url2")
    )
