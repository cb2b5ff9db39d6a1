"""Approximate neighborhood function (HyperANF, Boldi-Vigna-Rosa,
WWW 2011): |ball(v, h)| for every node and hop radius — the scalable
way to ask "how big is each entity's h-hop neighborhood" and to read
off the graph's effective diameter, where exact per-node BFS is
O(n·edges) and hopeless at KG scale.

Built from this repo's verified pieces: each node carries an HLL
register SET (the `operators/sketches.py` register math — exact int64,
bit-replayable) seeded with itself; one hop = push registers along
edges + per-(node, bucket) max — the HLL merge, which is exactly set
union in sketch space.  After h rounds node v's registers sketch the
set ball(v, h), and the standard estimator reads the size.

Representation: SPARSE (node, bucket, max_rho) rows, not per-node
arrays — the propagation is then one equi-join + one keyed max per
hop, the same shuffle shape as PageRank, and register count per node
is bounded by min(|ball|, 2^p).  All register arithmetic is integer
and deterministic (python twin in tests); only the final size estimate
is float (per-node sorted fold, bit-stable).

Scale shape per hop: registers ⋈ edges (shuffle keyed by node) + one
(node, bucket) max agg; localCheckpoint lineage cuts.  Total state =
Σ_v min(|ball(v,h)|, 2^p) rows — the fixed-size-sketch guarantee that
makes ANF feasible where exact closure is not (`transitive_closure`
materializes every PAIR; this materializes 2^p registers per node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small
from neo4j_export_tool_spark.operators.sketches import (
    estimate_over_regs,
    register_cols,
)

def neighborhood_function(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    h: int = 4,
    p: int = 8,
    salt: str = "anf",
) -> DataFrame:
    """(node, hop, ball_size) for hop in [0, h]: the estimated number
    of distinct nodes within ``hop`` hops of ``node`` (itself
    included), following edge direction.  Node ids are CAST TO STRING
    in the output (the register hash needs one canonical byte form —
    the walks/SCC convention); cast explicitly when joining back to a
    non-string-keyed table.  Relative error ≈ 1.04/√(2^p)
    per estimate (p=8 → ~6.5%).  The per-hop register tables are a
    pure integer function of (graph, p, salt); estimates are per-node
    sorted folds (bit-stable).  Averaging ``ball_size`` over nodes per
    hop gives the neighborhood function; the smallest hop whose mean
    ball covers ~90% of the final mean is the effective diameter.

    Eagerness: with ``h >= 1`` the call runs the edge count that picks
    the per-hop broadcast tier (it materializes the edge checkpoint hop
    1 reads).  Under adaptive query execution (the session default)
    each lazy ``localCheckpoint`` also runs the shuffle stages below it
    when it is created, so every hop's merge runs at call time, and even
    ``h == 0`` runs the edge deduplication's shuffle.  With AQE off,
    ``h == 0`` starts no job.
    """
    if h < 0:
        raise ValueError("h must be >= 0")
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12] (sparse-register regime)")
    m = 1 << p
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    _be = lambda df: df
    if h >= 1:
        # broadcast the edge table instead of shuffling the (larger)
        # register table to meet it; the tier count materializes e — the
        # job hop 1 would otherwise trigger; h == 0 skips it.  Results are
        # identical (register max-merge is partitioning-independent,
        # pinned by the python register twin in tests/test_anf.py)
        _be = broadcast_if_small(e.count())
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # seed: every node's sketch contains exactly itself (the shared
    # sketches.py register math, applied to the node id)
    bucket, rho = register_cols(F.col("node"), p, salt)
    regs = nodes.select(
        "node", bucket.alias("bucket"), rho.alias("max_rho")
    ).localCheckpoint(eager=False)

    def _estimates(r: DataFrame, hop: int) -> DataFrame:
        agg = r.groupBy("node").agg(
            F.sort_array(
                F.collect_list(F.struct("bucket", "max_rho"))
            ).alias("_regs")
        )
        est = estimate_over_regs(F.col("_regs"), F.size("_regs"), m)
        return agg.select(
            "node", F.lit(hop).alias("hop"), est.alias("ball_size")
        )

    # per-hop estimate frames collected and unioned ONCE at the end:
    # regs is materialized per hop (below, BEFORE being referenced by
    # the estimate) so each hop's propagation join runs exactly once,
    # and the output union has no lineage worth checkpointing
    per_hop = [_estimates(regs, 0)]
    for hop in range(1, h + 1):
        pushed = (
            regs.join(_be(e), regs["node"] == e["dst"])
            .select(F.col("src").alias("node"), "bucket", "max_rho")
        )
        regs = (
            regs.unionByName(pushed)
            .groupBy("node", "bucket")
            .agg(F.max("max_rho").alias("max_rho"))
            .localCheckpoint(eager=False)
        )
        per_hop.append(_estimates(regs, hop))
    out = per_hop[0]
    for frame in per_hop[1:]:
        out = out.unionByName(frame)
    return out
