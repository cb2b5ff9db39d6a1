"""Transitive closure with min-hop distances over KG edges.

KG construction materializes hierarchy reasoning — ``subclass_of`` /
``part_of`` / ``located_in`` chains — as explicit (ancestor, descendant)
pairs so downstream queries are a single equi-join instead of a runtime
graph walk (the reference's export consumers do exactly this with the
label hierarchy; cf. /root/reference/docs/DataModel.md mention of label
inheritance).  The closure here is exact and carries the minimum hop
count per pair, which is what ontology queries actually need ("direct
vs inherited type").

Algorithm: frontier BFS (semi-naive datalog).  ``known`` holds every
(src, dst, hops) discovered so far at its MINIMUM hops; the round-k
frontier holds exactly the pairs whose shortest path is k.  Each round
is one equi-join of the frontier to the edge table plus one left-anti
join against ``known`` — no re-derivation of old facts, the semi-naive
property.  BFS order guarantees the first discovery of a pair is at its
min distance, so no min-aggregation is needed.

Scale shape: the edge table is checkpointed once; per round the frontier
(new pairs only) joins it on one key.  For ontology/hierarchy graphs —
the intended input — the closure is |V|·depth-ish and every join is
AQE-broadcastable.  For general dense graphs the closure is inherently
O(V^2); ``max_hops`` and ``max_pairs`` are the explicit cost ceilings
(raise, don't truncate silently).

``_frontier_loop`` is the one semi-naive loop behind `transitive_closure`,
`bfs_distances` and the backward sweep of
`operators/scc.py::strongly_connected_components`: step, left-anti join
against ``known``, lineage cut, union into ``known``.

Determinism: output is a SET of (src, dst, hops) integer-exact rows —
independent of partitioning and shuffle order; a DuckDB recursive CTE
reproduces it bit-for-bit (tests/test_closure.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _frontier_loop(
    frontier: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    keys: list[str],
    max_rounds: int,
    *,
    ceiling: str | None = None,
    bcast: Callable[[DataFrame], DataFrame] = lambda df: df,
    on_round: Callable[[DataFrame], None] | None = None,
) -> DataFrame:
    """Semi-naive fixpoint from a checkpointed ``frontier``, which also
    seeds ``known``; returns ``known``.

    Each round expands the frontier with ``step`` and keeps only rows
    whose ``keys`` are not yet in ``known`` (left-anti join; ``bcast``
    wraps the ``known`` side).  The new frontier is checkpointed BEFORE
    it branches into the next round and the ``known`` union (and
    ``on_round``, which sees the new ``known``), so each round's step
    and anti join run once.  The loop stops on an empty frontier.  Out
    of rounds, it checks the last frontier: still non-empty raises
    RuntimeError(``ceiling``); with ``ceiling=None`` the round count is
    a radius and the loop returns what it reached."""
    known = frontier
    for _ in range(max_rounds):
        if frontier.isEmpty():
            return known
        frontier = (
            step(frontier)
            .join(bcast(known.select(*keys)), keys, "left_anti")
            .localCheckpoint(eager=False)
        )
        known = known.unionByName(frontier).localCheckpoint(eager=False)
        if on_round is not None:
            on_round(known)
    if ceiling is not None and not frontier.isEmpty():
        raise RuntimeError(ceiling)
    return known


def transitive_closure(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_hops: int = 32,
    max_pairs: int | None = None,
) -> DataFrame:
    """All reachable (src, dst, hops) pairs, hops = minimum path length.

    Self-loops contribute pairs (v, v, 1) like any edge; a node is NOT
    otherwise its own ancestor (irreflexive closure, the ontology
    convention).  Raises RuntimeError if the closure is still growing
    at ``max_hops`` or exceeds ``max_pairs`` — explicit ceilings, not
    silent truncation.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = e.withColumn("hops", F.lit(1)).localCheckpoint(eager=False)

    def step(f: DataFrame) -> DataFrame:
        return (
            f.select(F.col("src"), F.col("dst").alias("mid"), "hops")
            .join(e.select(F.col("src").alias("mid"), "dst"), "mid")
            .select("src", "dst", (F.col("hops") + F.lit(1)).alias("hops"))
            .distinct()
        )

    def check_pairs(known: DataFrame) -> None:
        if max_pairs is not None and known.count() > max_pairs:
            raise RuntimeError(
                f"transitive closure exceeded max_pairs={max_pairs}; "
                "raise the ceiling or restrict the relation"
            )

    return _frontier_loop(
        frontier,
        step,
        ["src", "dst"],
        max_hops,
        ceiling=(
            f"closure still growing after max_hops={max_hops}; "
            "raise the ceiling (cycle-heavy or deep graph)"
        ),
        on_round=check_pairs,
    )


def ancestor_stats(closure: DataFrame) -> DataFrame:
    """Per-node rollup of the closure: how many ancestors/descendants a
    node has and its max depth in each direction — the data-card view of
    a materialized hierarchy (one pass each way, keyed int aggs)."""
    up = closure.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("n_ancestors"),
        F.max("hops").alias("max_up"),
    )
    down = closure.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_descendants"),
        F.max("hops").alias("max_down"),
    )
    return (
        up.join(down, "node", "full_outer")
        .select(
            "node",
            F.coalesce("n_ancestors", F.lit(0)).alias("n_ancestors"),
            F.coalesce("max_up", F.lit(0)).alias("max_up"),
            F.coalesce("n_descendants", F.lit(0)).alias("n_descendants"),
            F.coalesce("max_down", F.lit(0)).alias("max_down"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    seeds,
    seed_col: str | None = None,
    max_hops: int = 10,
) -> DataFrame:
    """(node, dist) — minimum hop count from the seed SET to every node
    reachable within ``max_hops`` (bounded-radius multi-source BFS;
    seeds themselves are dist 0).  The KG neighborhood-distance probe:
    "how far is each entity from the canonical/trusted set".

    ``max_hops`` here is the RADIUS CONTRACT, not a silent cap: the
    result is exactly the ≤-max_hops neighborhood (unreachable or
    farther nodes are absent), unlike `transitive_closure`, whose
    ceiling raises because its contract is the full closure.

    ``seeds`` is a DataFrame (``seed_col`` names the column, default
    first) or a plain list/tuple/set; seeds outside the node universe
    are ignored (distance is about graph nodes).  Semi-naive frontier
    expansion like `transitive_closure`: per hop one frontier⋈edges
    equi-join + one left-anti vs known — each node enters the frontier
    at most once, so the total work is O(edges · 1) per radius layer,
    and BFS order makes the first distance the minimum with no min-agg.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    spark = edges.sparkSession
    if isinstance(seeds, (list, tuple, set)):
        if not seeds:
            # createDataFrame cannot infer a schema from an empty list;
            # fail with the real reason instead
            raise ValueError("bfs_distances needs at least one seed")
        seeds = spark.createDataFrame([(s,) for s in sorted(seeds)], ["node"])
        seed_col = "node"
    if seed_col is None:
        seed_col = seeds.columns[0]
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    frontier = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )

    def step(f: DataFrame) -> DataFrame:
        return (
            f.select(F.col("node").alias("src"), "dist")
            .join(e, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
            .distinct()
        )

    return _frontier_loop(frontier, step, ["node"], max_hops)
