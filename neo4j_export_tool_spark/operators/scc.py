"""Strongly connected components via deterministic min-label coloring.

The directed sibling of `operators/components.py` (weakly connected):
SCCs are what make a KG hierarchy cyclic — `operators/closure.py`
RAISES on a cycle-heavy graph; this operator is how a user finds the
cycles to fix.  Algorithm: the coloring method (Orzan 2004 — the
standard distributed SCC scheme; FW-BW's recursive pivoting doesn't
map to a driver loop):

  outer round:
    0. TRIM: peel every edge out of a node with no in-edge or into a
       node with no out-edge, to the fixpoint; a node left on no edge
       is a singleton SCC.
    1. FORWARD fixpoint: every node's color = min node id that can
       reach it (min-label propagation along edge direction).
    2. BACKWARD sweep: from each color's root (the node that IS its
       color), walk the reversed edges restricted to same-color nodes;
       everything reached is in the root's SCC (reaches the root
       forward by construction of the color, and is reached backward).
    3. Emit those SCCs, delete their nodes, repeat on the remainder.

Every pick is a ``min`` — fully deterministic, partitioning/engine
independent, no salt needed.  An isolated or acyclic node emits a
singleton SCC (scc_id = its own id).

Scale shape: each step runs on a fixpoint loop that another operator
shares — the trim on the peel loop of k-core and k-truss
(`operators/triangles.py::_peel`), the forward coloring on CC's
min-label loop (`operators/components.py::_min_label_loop`, without
pointer-doubling hops: the colors of a shallow graph settle in two or
three rounds, and each hop would cost one more broadcast job per
round), and the backward sweep on the semi-naive frontier loop that
closure and BFS share (`operators/closure.py::_frontier_loop`).  Only
the outer remove-and-repeat loop lives here.  Every loop cuts lineage
with localCheckpoint each round.  Forward rounds are bounded by the
color diameter, outer rounds by the SCC condensation's chain
structure; both carry RAISING ceilings (`max_label_rounds`,
`max_outer_rounds`) — explicit cost ceilings, never silent
truncation.  The trim's rounds are a radius: running out of them is
not an error, coloring handles the rest.  The node count, measured
once per call in one job with the edge count (nodes only shrink),
sets the `broadcast_if_small` tier of every node-sized loop table (the
trim's in/out node sets, colors, inbound mins, the removal sets, the
backward frontier): behind
localCheckpoint barriers the planner has no size statistics and would
sort-merge-join even a 500-node graph.  Worst case (one long path) is
O(diameter) rounds — the known cost of label-propagation SCC; for that
shape raise the ceilings deliberately.

Independent python twin: iterative Tarjan in tests/test_scc.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small
from neo4j_export_tool_spark.operators.closure import _frontier_loop
from neo4j_export_tool_spark.operators.components import _min_label_loop
from neo4j_export_tool_spark.operators.triangles import _peel


def strongly_connected_components(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_outer_rounds: int = 32,
    max_label_rounds: int = 64,
) -> DataFrame:
    """(node, scc_id) — scc_id is the minimum node id of the component.

    Node ids are CAST TO STRING in the output (both columns; the
    min-label fixpoint needs one canonical orderable form — the walks
    convention).  Join the result back to a non-string-keyed node table
    through an explicit cast, or ANSI mode faults the comparison.

    Nodes appearing only as endpoints still get a row (singleton unless
    cyclic).  Self-loops are irrelevant to the grouping (a node is
    always in its own SCC).  Raises RuntimeError if a fixpoint is still
    moving at its ceiling.

    The call is eager on every input: one opening count of nodes and
    edges (the node count sets the broadcast tier), the trim's per-round
    counts (a count of 0 ends the call), the coloring's per-round
    checkpoints and the sweep's ``isEmpty`` checks are Spark jobs that
    run before it returns.
    """
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col(src_col).cast("string").alias("node"))
        .unionByName(edges.select(F.col(dst_col).cast("string").alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    assigned = spark.createDataFrame([], "node string, scc_id string")

    # one job counts both tables: nodes only shrink, so this node count
    # decides the broadcast tier of every outer round; the edge count
    # seeds the first trim
    n_nodes, n_edges = (
        nodes.select(F.lit(True).alias("is_node"))
        .unionByName(e.select(F.lit(False).alias("is_node")))
        .agg(F.count_if("is_node"), F.count_if(~F.col("is_node")))
        .first()
    )
    _bn = broadcast_if_small(n_nodes)

    def trimmed(e: DataFrame) -> DataFrame:
        has_in = e.select(F.col("dst").alias("src")).distinct()
        has_out = e.select(F.col("src").alias("dst")).distinct()
        return e.join(_bn(has_in), "src", "left_semi").join(
            _bn(has_out), "dst", "left_semi"
        )

    for _ in range(max_outer_rounds):
        # 0. TRIM: an edge out of a node with no in-edge, or into a node
        # with no out-edge, lies on no cycle; peel such edges to the
        # fixpoint (out of rounds, coloring handles what remains).  A
        # node left on no edge colors itself and is its own sweep root,
        # a singleton SCC.  This removes entire DAG portions cheaply;
        # without it a plain 40-node path would need 40 outer rounds
        # (one root SCC each).  No surviving edge leaves only singletons,
        # which also ends the call on an empty remainder.
        e, n_edges = _peel(e, trimmed, max_label_rounds, None, n_edges)
        if n_edges == 0:
            return assigned.unionByName(
                nodes.select("node", F.col("node").alias("scc_id"))
            )
        # 1. forward min-label fixpoint: color(v) = min id reaching v
        labels, _, converged, _ = _min_label_loop(
            e,
            nodes.select(F.col("node").alias("id"), F.col("node").alias("label")),
            max_label_rounds,
            hops=0,
            bcast=_bn,
        )
        if not converged:
            raise RuntimeError(
                f"SCC forward labeling still moving after "
                f"max_label_rounds={max_label_rounds}; raise the ceiling "
                "(long-diameter graph)"
            )
        colors = labels.select(
            F.col("id").alias("node"), F.col("label").alias("color")
        )

        # 2. backward sweep from roots within each color
        e_col = (
            e.join(
                _bn(colors.select(F.col("node").alias("src"),
                                  F.col("color").alias("_cs"))),
                "src",
            )
            .join(
                _bn(colors.select(F.col("node").alias("dst"),
                                  F.col("color").alias("_cd"))),
                "dst",
            )
            .where(F.col("_cs") == F.col("_cd"))
            .select("src", "dst", F.col("_cs").alias("color"))
        )
        e_col = e_col.localCheckpoint(eager=False)
        roots = colors.where(F.col("node") == F.col("color")).select(
            "node", "color"
        ).localCheckpoint(eager=False)
        member = _frontier_loop(
            roots,
            lambda f: (
                _bn(f.select(F.col("node").alias("dst"), "color"))
                .join(e_col, ["dst", "color"])
                .select(F.col("src").alias("node"), "color")
                .distinct()
            ),
            ["node"],
            max_label_rounds,
            ceiling=(
                f"SCC backward sweep still moving after "
                f"max_label_rounds={max_label_rounds}; raise the ceiling"
            ),
            bcast=_bn,
        )

        found = member.select("node", F.col("color").alias("scc_id"))
        assigned = assigned.unionByName(found).localCheckpoint(eager=False)
        # 3. remove assigned nodes; keep only edges between survivors
        nodes = nodes.join(
            _bn(found.select("node")), "node", "left_anti"
        ).localCheckpoint(eager=False)
        e = e.join(
            _bn(found.select(F.col("node").alias("src"))),
            "src", "left_anti",
        ).join(
            _bn(found.select(F.col("node").alias("dst"))),
            "dst", "left_anti",
        ).localCheckpoint(eager=False)
        n_edges = None  # the next trim opens with a count of its own
    if not nodes.isEmpty():
        raise RuntimeError(
            f"SCC still has unassigned nodes after "
            f"max_outer_rounds={max_outer_rounds}; raise the ceiling "
            "(deep SCC condensation chain)"
        )
    return assigned
