"""PySpark-native entity blocking / matching / clustering engine.

A from-scratch re-expression of the capabilities of
rutgers-db/EntityBlockingBySimilarityJoins (studied read-only at /root/reference;
see SURVEY.md) on idiomatic Spark DataFrames:

- blocking via exact similarity self/RS joins (Jaccard / Cosine / Dice /
  overlap-count / edit-distance / exact / absolute-norm) built from
  explode + hash-partitioned equi-joins with length, prefix and positional pruning,
- pairwise scoring via native feature Columns + a pure-numpy random-forest
  matcher that predicts as one native Column and whose decision paths yield
  blocking rules,
- transitive clustering via iterative large-star/small-star connected components,
- plus web-scale pipeline extras: MinHash-LSH / SimHash / embedding near-dup
  dedup, ANN search and text quality statistics.

All heavy computation stays JVM-side (built-in ``pyspark.sql.functions``) or in
Arrow-batched pandas UDFs; no per-row Python in hot paths.
"""

__version__ = "0.1.0"
