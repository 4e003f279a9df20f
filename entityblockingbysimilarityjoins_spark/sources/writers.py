"""Result writers (SURVEY §2.1 S4-S6): chunked outputs + stats sidecar.

The reference writes blocking results as chunked CSVs of ``table_size`` rows
plus ``stat.txt`` = "<num_chunks> <num_pairs>" (``cpp/common/io.cc:989-1083``).
Spark-native: ``maxRecordsPerFile`` bounds chunk size, the stats become a tiny
metrics table next to the data (at real scale this would be Iceberg snapshot
metadata — same role, queryable lineage).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_pairs(
    pairs: DataFrame,
    path: str,
    records: DataFrame | None = None,
    id_col: str = "id1",
    payload_attrs: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    fmt: str = "parquet",
) -> dict:
    """S4: write candidate/match pairs (optionally with Megallen payload
    columns l_*/r_*), chunked; returns + persists the stats sidecar."""
    out = pairs
    if records is not None and payload_attrs:
        from ..matcher.features import attach_pair_payload

        out = attach_pair_payload(pairs, records, id_col, payload_attrs)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", str(max_records_per_file))
        .format(fmt)
        .save(path)
    )
    spark = pairs.sparkSession
    written = spark.read.format(fmt).load(path)
    n = written.count()
    n_files = written.select(F.input_file_name()).distinct().count()
    stats = {"num_chunks": int(n_files), "num_pairs": int(n)}
    with open(os.path.join(path, "_stats.json"), "w") as f:
        json.dump(stats, f)
    return stats


def read_pair_stats(path: str) -> dict:
    """stat.txt analogue reader."""
    with open(os.path.join(path, "_stats.json")) as f:
        return json.load(f)
