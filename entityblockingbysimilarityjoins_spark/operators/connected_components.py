"""Iterative connected components: large-star / small-star (SURVEY V8, §4.3).

Transitive-closure clustering of matched pairs — the Spark-native replacement
for the reference's driver-side networkx connectivity
(``/root/reference/simjoin_entitymatching/value_matcher/interchangeable.py:70-158``)
and sampler union-find (``cpp/sampler/sample.h:25-40``), which cannot hold
10^12-document graphs. Algorithm: Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) alternating large-star/small-star — O(log n)
rounds, each round two groupBy shuffles.

- large-star: for every node u emit (v, min(Γ⁺(u))) for each neighbor v > u
- small-star: orient edges (hi -> lo); for every hi emit (v, m) for each lo
  neighbor v plus (hi, m), m = min(lo-neighbors ∪ {hi})
- converged when the edge multiset stops changing; result rows (node, component)
  with component = the minimum node id in the component (deterministic labels).

Each iteration ``localCheckpoint``s to cut lineage (iterating over a growing
Catalyst plan otherwise re-executes the whole history every round).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


from pyspark.sql import Window


def _large_star(edges: DataFrame) -> DataFrame:
    # per-u min neighbor via a window over the same shuffle the join would
    # need anyway — one exchange instead of groupBy + join (two)
    sym = edges.select(F.col("u"), F.col("v")).unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    starred = sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
    return (
        starred.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    joined = directed.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
    a = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    b = joined.select(F.col("u"), F.col("m").alias("v"))
    return a.unionAll(b).distinct()


#: edge lists at or under this size label on the driver in one numpy pass —
#: a valve-guarded fast path (probe with a LIMIT count, never an unbounded
#: collect): small graphs otherwise pay ~3 jobs x 3 shuffles per star round
#: in pure scheduling latency. 10^6 edges collect as ~32 MB; larger graphs
#: take the distributed large-star/small-star loop unchanged.
DRIVER_CC_MAX_EDGES = 1_000_000


def _driver_cc(edges_pdf, spark, node_type: str) -> DataFrame:
    """Exact (node, component) labels for a collected edge list via numpy
    min-label propagation with pointer jumping — component = min node id,
    identical to the distributed fixpoint. O(|E| + |V| log diameter)."""
    import numpy as np
    import pandas as pd

    a = edges_pdf["u"].to_numpy()
    b = edges_pdf["v"].to_numpy()
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a):]
    label = np.arange(len(nodes))
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, ea, label[eb])
        np.minimum.at(nxt, eb, label[ea])
        nxt = np.minimum(nxt, nxt[nxt])
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            break
        label = nxt
    # np.unique sorts, so index order == value order (UTF-8 binary order for
    # strings matches Spark's) — min index maps back to the min node id
    pdf = pd.DataFrame({"node": nodes, "component": nodes[label]})
    return spark.createDataFrame(
        pdf, schema=f"node {node_type}, component {node_type}")


def connected_components(
    pairs: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``.

    ``component`` is the minimum node id of the component. Deterministic,
    independent of partitioning. Node ids must be orderable (int or string).
    """
    def _stats(e: DataFrame) -> tuple:
        # one job per iteration: (|E|, two independent bit_xor fingerprints).
        # Edges are a distinct set, so xor-of-hashes is a sound set
        # fingerprint (multiplicity is always 1); xor never overflows under
        # ANSI mode. Equality of all three across rounds implies the edge
        # sets are equal up to a ~2^-128 collision; a cheap anti-join
        # confirms once at the end (the fixed point is stable, so a false
        # positive could only terminate early, never corrupt a label).
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x1"),
            F.expr("bit_xor(xxhash64(v, u, 7))").alias("x2"),
        ).first()
        return (row["n"], row["x1"], row["x2"])

    # No eager .distinct() here: both star rounds end in their own distinct,
    # so duplicate input edges cannot affect any label and round 1's window
    # shuffle deduplicates for the same price the dropped exchange cost —
    # one less full-edge shuffle per call (guide §2.4).
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint()
    )
    if edges.limit(DRIVER_CC_MAX_EDGES + 1).count() <= DRIVER_CC_MAX_EDGES:
        node_type = dict(edges.dtypes)["u"]
        pdf = edges.toPandas()  # Arrow path (session enables it)
        if len(pdf) == 0:
            return edges.select(F.col("u").alias("node"),
                                F.col("v").alias("component"))
        return _driver_cc(pdf, pairs.sparkSession, node_type)
    prev_stats = _stats(edges)
    for it in range(max_iterations):
        edges2 = _small_star(_large_star(edges)).localCheckpoint()
        stats = _stats(edges2)
        if stats == prev_stats and edges2.join(edges, ["u", "v"], "left_anti").isEmpty():
            edges = edges2
            log.info("connected_components converged after %d iterations", it + 1)
            break
        edges, prev_stats = edges2, stats
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")

    # After convergence every edge points node -> component min. Nodes that are
    # component minima appear only on the v side; add their self-assignments.
    assign = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node")).distinct().join(
        assign.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return assign.unionByName(roots)


def cluster_pairs(matches: DataFrame, src: str = "id1", dst: str = "id2") -> DataFrame:
    """Entity clusters from matched pairs (V8 cluster_pairs contract):
    every record in a cluster with cluster id = min record id."""
    return connected_components(matches, src, dst)


def connected_components_over_groups(
    set_pairs: DataFrame, groups: DataFrame | None
) -> DataFrame:
    """(node, component) for the record graph a group-identical set join
    implies — computed on the SET-level graph, never expanding record pairs.

    The expanded graph is intra-group cliques plus complete-bipartite edges
    per verified set pair, so its components are exactly the set-graph's
    components with members substituted in, and every component minimum is a
    group representative (each rep is its group's min member). CC therefore
    runs over the set pairs (orders of magnitude fewer edges than the record
    expansion the old composition collected), multi-member groups that
    touched no set pair become their own components, and members inherit
    their group's label through one small join + explode (guide §8: decide
    with small rows, move the heavy expansion never). ``groups=None`` (the
    join ran over records) means the set pairs already are record pairs."""
    comp_sets = connected_components(set_pairs)
    if groups is None:
        return comp_sets
    multi = groups.filter(F.size("members") >= 2).select(F.col("rid").alias("node"))
    iso = (
        multi.join(comp_sets.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    comp_all = comp_sets.unionByName(iso)
    g = groups.select(F.col("rid").alias("node"), "members")
    return (
        comp_all.join(g, "node")
        .select(F.explode("members").alias("node"), "component")
    )
