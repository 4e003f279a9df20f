"""Exact-match join (J5/J7) and absolute-norm numeric range join (J6).

- ``exact_*_join``: equality on the raw attribute — a plain hash equi-join
  (the reference length-buckets + brute-forces, stringjoin.h:210-288; Spark's
  shuffled/broadcast hash join subsumes it). Empty strings never join
  (DROP_EMPTY, config.h:63).
- ``absolute_norm_*_join``: numeric relative similarity
  ``1 - |a-b|/max(a,b) >= t`` (simfunc.cc:297). Instead of the reference's
  OpenMP nested loop (simjoin_blocker.cc:117-166) we bucket by magnitude:
  for positive values, a qualifying partner satisfies ``b/a ∈ [t, 1/t]`` so
  bucketing on ``floor(ln v / -ln t)`` means partners sit in adjacent
  buckets; probe side explodes into {k-1, k, k+1}, equi-join, then the exact
  predicate filters. Zeros pair only with zeros (sim 1.0); sign groups are
  separated by the bucket key's sign marker.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sim as S


def exact_self_join(df: DataFrame, id_col: str, attr_col: str) -> DataFrame:
    slim = df.select(F.col(id_col).alias("rid"), F.col(attr_col).alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") != F.lit(""))
    )
    l = slim.select(F.col("rid").alias("id1"), "v")
    r = slim.select(F.col("rid").alias("id2"), "v")
    return l.join(r, ["v"]).filter(F.col("id1") < F.col("id2")).select("id1", "id2")


def exact_rs_join(df_r: DataFrame, df_s: DataFrame, id_col: str, attr_col: str) -> DataFrame:
    l = df_r.select(F.col(id_col).alias("id1"), F.col(attr_col).alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") != F.lit(""))
    )
    r = df_s.select(F.col(id_col).alias("id2"), F.col(attr_col).alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") != F.lit(""))
    )
    return l.join(r, ["v"]).select("id1", "id2")


def _bucketed(df: DataFrame, id_col: str, num_col: str, t: float, side: str, probe: bool) -> DataFrame:
    """(rid, v, bucket) rows; probe side explodes into neighbor buckets."""
    v = F.col(num_col).try_cast("double")
    slim = df.select(F.col(id_col).alias(f"id{side}"), v.alias(f"v{side}")).filter(
        v.isNotNull()
    )
    lnt = -math.log(t)
    # sign-tagged magnitude bucket; zeros get their own bucket 0
    vv = F.col(f"v{side}")
    k = (
        F.when(vv == 0, F.lit(0))
        .otherwise(
            F.signum(vv).cast("int")
            * (F.floor(F.log(F.abs(vv)) / F.lit(lnt)).cast("int") * 2 + 2)
        )
    )
    if probe:
        buckets = F.array(k - F.lit(2) * F.signum(vv).cast("int"), k,
                          k + F.lit(2) * F.signum(vv).cast("int"))
        buckets = F.when(vv == 0, F.array(F.lit(0))).otherwise(F.array_distinct(buckets))
        return slim.select(f"id{side}", f"v{side}", F.explode(buckets).alias("bucket"))
    return slim.select(f"id{side}", f"v{side}", k.alias("bucket"))


def absolute_norm_self_join(
    df: DataFrame,
    id_col: str,
    num_col: str,
    threshold: float = 0.9,
    sim_col: str = "sim",
) -> DataFrame:
    """All pairs (id1 < id2) with 1 - |a-b|/max(a,b) >= threshold."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0,1) for the bucketed range join")
    l = _bucketed(df, id_col, num_col, threshold, "1", probe=True)
    r = _bucketed(df, id_col, num_col, threshold, "2", probe=False)
    return (
        l.join(r, ["bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn(sim_col, S.absolute_norm(F.col("v1"), F.col("v2")))
        .filter(F.col(sim_col) >= threshold)
        .dropDuplicates(["id1", "id2"])
        .select("id1", "id2", sim_col)
    )


def absolute_norm_rs_join(
    df_r: DataFrame,
    df_s: DataFrame,
    id_col: str,
    num_col: str,
    threshold: float = 0.9,
    sim_col: str = "sim",
) -> DataFrame:
    l = _bucketed(df_r, id_col, num_col, threshold, "1", probe=True)
    r = _bucketed(df_s, id_col, num_col, threshold, "2", probe=False)
    return (
        l.join(r, ["bucket"])
        .withColumn(sim_col, S.absolute_norm(F.col("v1"), F.col("v2")))
        .filter(F.col(sim_col) >= threshold)
        .dropDuplicates(["id1", "id2"])
        .select("id1", "id2", sim_col)
    )
