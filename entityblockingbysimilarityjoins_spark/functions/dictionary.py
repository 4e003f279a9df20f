"""Deterministic global token dictionary + IDF weights (SURVEY.md T6).

The reference builds, per (tokenizer, setting, attribute), a global dictionary
over all records with token ids assigned in increasing frequency order
(rarest token = smallest id) and IDF weight log10(N/freq)
(``/root/reference/cpp/common/tokenizer.cc:329-363``). Sorted-ascending int
token arrays therefore put the **rarest tokens first**, which is exactly what
the prefix filter of the set-similarity join needs.

Determinism contract (SURVEY.md §4): the reference's sort breaks frequency
ties arbitrarily; we define the total order ``(count ASC, token ASC)`` so
blocking keys are reproducible across runs and cluster sizes.

Scale notes:
- the token-frequency aggregate (``token_freqs``) is one explode +
  groupBy(token) shuffle. Set joins define it once, in the vocabulary probe
  of ``operators.set_join.resolve_vocab``, which collects it whole together
  with the record count: no recount, and no second pass over the aggregate.
- the rank is not distributed: the driver sorts the collected (token, freq)
  rows (``rank_tokens``) and ``dictionary_frame`` turns the ranked list into
  the dictionary. The driver therefore holds the whole vocabulary, which
  costs no more than the broadcast encode below already does.
- encoding joins the (exploded) corpus with the dictionary, which is always
  broadcast: every executor holds the whole vocabulary. A vocabulary beyond
  what a broadcast can hold is an open limit (ROADMAP).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def token_freqs(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(token, freq): occurrences of each token over all records. NULL
    elements never join an encoding, so they take no tid."""
    return (
        df.select(F.explode(tokens_col).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def rank_tokens(rows) -> list[tuple[str, int]]:
    """(token, freq) pairs in tid order, (freq ASC, token ASC), from rows
    whose first two fields are (token, freq). Python orders strings by code
    point and Spark by UTF-8 bytes; the two orders agree, so this is the
    order Spark would sort."""
    return [(t, f) for f, t in sorted((r[1], r[0]) for r in rows)]


def dictionary_frame(spark: SparkSession, ranked: list[tuple[str, int]],
                     n_records: int) -> DataFrame:
    """(token, tid, freq, idf) over a ranked list: tid is the list index and
    idf = log10(n_records/freq), evaluated by the JVM (Python's libm log10
    differs by 1 ulp on real corpus values).

    The list crosses as one Arrow table: a list of tuples would become a
    pickled RDD that Python workers re-serialize each time the broadcast
    encode reads it. The lazy local checkpoint takes the rows out of the
    plan, where Spark keeps a small Arrow table as a local relation; on a
    118,818-token title join (local[4], 4 vCPUs) that relation cost about
    1 s more wall time per join."""
    table = pa.table({
        "token": pa.array([t for t, _ in ranked], pa.string()),
        "tid": pa.array(range(len(ranked)), pa.int32()),
        "freq": pa.array([f for _, f in ranked], pa.int64()),
    })
    return spark.createDataFrame(table).localCheckpoint(eager=False).withColumn(
        "idf", F.log10(F.lit(float(n_records)) / F.col("freq")))


def build_dictionary(df: DataFrame, tokens_col: str = "tokens", n_records: int | None = None) -> DataFrame:
    """Build (token, tid, freq, idf) with tid 0..V-1 ordered (freq ASC, token ASC).

    ``n_records`` defaults to df.count() — for RS joins pass |A|+|B| over the
    union, matching wordwt = log10((|A|+|B|)/freq) (tokenizer.cc:348-363).
    """
    if n_records is None:
        n_records = df.count()
    ranked = rank_tokens(token_freqs(df, tokens_col).collect())
    return dictionary_frame(df.sparkSession, ranked, n_records)


def encode_tokens(
    df: DataFrame,
    dictionary: DataFrame,
    id_col: str = "rid",
    tokens_col: str = "tokens",
    out_col: str = "tids",
    idfs_col: str | None = None,
) -> DataFrame:
    """(id_col, out_col[, idfs_col]): string-token arrays re-encoded as sorted
    int-id arrays through the broadcast dictionary.

    Sorted ascending == rarest-first (see module doc). Records with no
    dictionary token emit no exploded row, so they are absent (the joins drop
    empty token sets anyway, setjoin.cc:199-202): the groupBy output IS the
    encoding, with no join back onto ``df``. Only ``id_col`` survives from
    ``df``.

    ``idfs_col``: optionally also emit the per-token idf array aligned with
    ``out_col`` (idfs[i] = idf of tids[i]) — weighted joins derive the record
    weight, suffix weights and the verification map from it with pure
    projections, no extra shuffle."""
    d = F.broadcast(dictionary.select("token", "tid", "idf"))
    exploded = df.select(id_col, F.explode(tokens_col).alias("token"))
    # array_sort on (tid, idf) structs orders by tid — tids and idfs stay
    # aligned through one aggregation
    pairs = (
        exploded.join(d, "token")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("tid", "idf"))).alias("__p"))
    )
    cols = [id_col, F.transform("__p", lambda x: x["tid"]).cast("array<int>").alias(out_col)]
    if idfs_col is not None:
        cols.append(F.transform("__p", lambda x: x["idf"]).alias(idfs_col))
    return pairs.select(*cols)
