"""Seeded input generators for the benchmark workloads.

``documents`` reproduces the shape of the repository's ``documents`` test
table: a 30-word vocabulary, 10-99 words per text, 5 % near-duplicates that
copy another document's text and append the token ``dup``, 20 sources and a
skewed language mix. Text lengths and languages are drawn as seeded
permutations of exact proportions, so pair counts (which grow with the
square of the number of long texts) move little from seed to seed. The declared queries of ``__spark_entry__`` therefore
take the same operator paths on it as on the test table (31 dlm tokens:
inline vocabulary, bitmask sweep, set-level grouping).

Pages come from the program's own generator (``sources.pages``); only the
seed and size are chosen here.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (41, 15, 14, 15, 15)
DUP_SHARE = 0.05


def documents(n_docs: int, seed: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` with ids 0..n-1."""
    rng = random.Random(seed)
    lengths = [10 + i % 90 for i in range(n_docs)]
    rng.shuffle(lengths)
    texts = [" ".join(rng.choices(WORDS, k=k)) for k in lengths]
    dup_ids = rng.sample(range(n_docs), int(n_docs * DUP_SHARE))
    originals = sorted(set(range(n_docs)) - set(dup_ids))
    for i in dup_ids:
        texts[i] = texts[rng.choice(originals)] + " dup"
    langs = [lang for lang, w in zip(LANGS, LANG_WEIGHTS)
             for _ in range(n_docs * w // 100)]
    langs += ["en"] * (n_docs - len(langs))
    rng.shuffle(langs)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(sf_dir: str, n_docs: int, seed: int) -> None:
    pq.write_table(documents(n_docs, seed), f"{sf_dir}/documents.parquet")
