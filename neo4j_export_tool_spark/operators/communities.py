"""Deterministic label-propagation community detection (LPA).

The standard cheap community detector over the derived concept graph
(after `operators/triangles.py` co-occurrence projection): each node
repeatedly adopts the most frequent label among its neighbors.  Classic
LPA breaks ties randomly and updates asynchronously — both
irreproducible.  This variant is fully deterministic: SYNCHRONOUS
rounds (every node updates from the same previous labeling) and ties
broken by the smallest label (then the algorithm is a pure function of
the graph, independent of partitioning and engine — an independent
python replay reproduces it exactly, tests/test_communities.py).

Per round: one equi-join of the (node, label) table to the symmetrized
edge list, one (node, label) count agg, one per-node argmax via
``min(struct(-count, label))`` (the struct makes the tie-break part of
the ordering), lineage cut with localCheckpoint — the CC/PageRank loop
discipline.  Labels start as the node ids, so label values stay in the
node-id domain and the final (node, community) output is stable across
runs.

Synchronous LPA on bipartite-ish structures can oscillate 2-cycles;
``n_iters`` is therefore a fixed round count (the common practical
choice — DeepWalk-adjacent pipelines run 3-10 rounds), not a
convergence loop that could never terminate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small
from neo4j_export_tool_spark.operators.triangles import _canonical_undirected


def label_propagation(
    edges: DataFrame,
    a_col: str,
    b_col: str,
    n_iters: int = 5,
) -> DataFrame:
    """(node, community) after ``n_iters`` synchronous LPA rounds on the
    undirected simple graph.  Edges are canonicalized (least, greatest)
    before dedup, so an input containing both ``(a, b)`` and ``(b, a)``
    still contributes ONE undirected edge (one vote per neighbor).
    Self-loops are dropped; a node appearing only in self-loops has no
    neighbors and is absent from the output."""
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    und = _canonical_undirected(edges, a_col, b_col)
    sym = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    # Broadcast the per-round (node, label) table when it is small: behind
    # the localCheckpoint boundary the planner has no size statistics and
    # shuffle-joins even tiny graphs (guide §3.1; the pagerank / walks
    # convention).  The tier is decided from the label table's own row
    # count (one per node), which the first round's checkpoint pays for
    # anyway; results are identical (the vote fold is a min,
    # partitioning-independent).
    _bl = lambda df: df
    for i in range(n_iters):
        labels = labels.localCheckpoint(eager=False)
        if i == 0:
            _bl = broadcast_if_small(labels.count())
        neigh = sym.join(
            _bl(labels.withColumnRenamed("node", "b")), "b"
        ).select(F.col("a").alias("node"), "community")
        counts = neigh.groupBy("node", "community").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = counts.groupBy("node").agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("community").alias("l"))
            ).alias("_m")
        ).select("node", F.col("_m.l").alias("community"))
    return labels
