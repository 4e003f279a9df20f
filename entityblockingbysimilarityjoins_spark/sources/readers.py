"""Table readers (SURVEY §2.1 S1/S2/S7/S8).

The reference reads CSVs into string-typed tables with optional
normalization (``cpp/common/io.h:44-81``; normalization OFF at blocking time,
``cpp/blocker/block.cc:153`` — preserving raw bytes is the input_hint
invariant). Spark equivalents are plain ``spark.read`` calls; the value here
is the conventions: string-typed columns, optional normalization column
(never in-place), Megallen key metadata by column-name convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import normalize_string


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    all_strings: bool = False,
) -> DataFrame:
    """S1/S2: read parquet/csv; all_strings mimics the reference's untyped table."""
    if fmt == "csv":
        df = spark.read.csv(path, header=True,
                            inferSchema=not all_strings, multiLine=True, escape='"')
    else:
        df = spark.read.parquet(path)
    if all_strings:
        df = df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])
    return df


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Input-hint table: pages(url, warc_ts, html, text, lang)."""
    df = read_table(spark, path, fmt)
    required = {"url", "warc_ts", "html", "text", "lang"}
    missing = required - set(df.columns)
    if missing:
        raise ValueError(f"pages table missing columns {sorted(missing)}")
    return df


def with_normalized(df: DataFrame, col: str, strategy: int = 0,
                    out_col: str | None = None) -> DataFrame:
    """S8: optional normalization as a NEW column (raw text stays byte-identical)."""
    return df.withColumn(out_col or f"{col}_norm", normalize_string(F.col(col), strategy))
