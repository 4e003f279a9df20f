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
  of ``operators.set_join.resolve_vocab``, and hand that aggregate and the
  record count the probe also returns to ``rank_vocab``: no recount, and
  the finished dictionary is never probed again (``rank_vocab`` returns its
  size). Spark evaluates the aggregate a second time for the rank; caching
  it would cost every inline-vocabulary join a job.
- the rank is distributed and two-pass, with no global window: range-partition
  the vocabulary on (freq, token), sort inside each partition, number the
  rows in that order, then shift each partition by the sizes of the ones
  before it. Only the P-row partition-size table (P = number of range
  partitions) reaches the driver, never the vocabulary. The rank is a pure
  function of the unique total order (freq, token), so tids are identical
  wherever the range boundaries land.
- encoding joins the (exploded) corpus with the dictionary, which is always
  broadcast: every executor holds the whole vocabulary. A vocabulary beyond
  what a broadcast can hold is an open limit (ROADMAP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..operators.cache import persist_tracked


def token_freqs(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(token, freq): occurrences of each token over all records. NULL
    elements never join an encoding, so they take no tid."""
    return (
        df.select(F.explode(tokens_col).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def rank_vocab(freqs: DataFrame, n_records: int) -> tuple[DataFrame, int]:
    """(dictionary, V) from a (token, freq) aggregate: tid 0..V-1 ordered
    (freq ASC, token ASC), idf = log10(n_records/freq).

    One action: it materializes the persisted range-partitioned vocabulary
    and collects the P partition sizes. The row index inside a sorted
    partition is the low 33 bits of ``monotonically_increasing_id`` (its
    high bits are the partition id), so the dictionary itself is a
    projection over the cached partitions: no window, no exchange."""
    sc = freqs.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, 1)
    parts = (
        freqs.repartitionByRange(n_parts, F.asc("freq"), F.asc("token"))
        .sortWithinPartitions("freq", "token")
        .withColumn("__mid", F.monotonically_increasing_id())
        .transform(persist_tracked)
    )
    pid = F.shiftright("__mid", 33).cast("int")
    sizes = dict(parts.groupBy(pid.alias("__pid")).count().collect())
    offsets, total = [], 0
    for p in range(max(sizes, default=-1) + 1):
        offsets.append(total)
        total += sizes.get(p, 0)
    if not offsets:
        offsets = [0]
    idx = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    dictionary = parts.select(
        "token",
        (F.get(F.lit(offsets), pid) + idx).cast("int").alias("tid"),
        "freq",
        F.log10(F.lit(float(n_records)) / F.col("freq")).alias("idf"),
    )
    return dictionary, total


def build_dictionary(df: DataFrame, tokens_col: str = "tokens", n_records: int | None = None) -> DataFrame:
    """Build (token, tid, freq, idf) with tid 0..V-1 ordered (freq ASC, token ASC).

    ``n_records`` defaults to df.count() — for RS joins pass |A|+|B| over the
    union, matching wordwt = log10((|A|+|B|)/freq) (tokenizer.cc:348-363).
    """
    if n_records is None:
        n_records = df.count()
    return rank_vocab(token_freqs(df, tokens_col), n_records)[0]


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
