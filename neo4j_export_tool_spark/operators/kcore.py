"""k-core extraction over the derived concept graph.

After co-occurrence projection (`operators/triangles.py`) the standard
cohesion filter is the k-core: the maximal subgraph where every node keeps
degree ≥ k — the classic noise filter before community detection or
embedding training on a KG (long-tail concepts peel away, hubs stay).

Algorithm: exact fixpoint peeling on the peel loop that `ktruss` shares
(`operators/triangles.py::_peel`).  Each round computes degrees (one keyed
agg), drops nodes below k, and semi-joins the edge set down — all
equi-joins, no corpus windows.  Rounds repeat until no node peels; the
round count is the peel depth of the graph (small for power-law graphs —
each round removes every currently-under-k node at once, not one node at
a time).  Lineage is cut per round, so deep peels do not accrete plans.
Per-round driver work is one ``count()`` (the fixpoint test) — no edge
or node data is collected.

``core_numbers`` (the full decomposition) peels k = 1, 2, … until the
core empties, seeding each k's peel from the (k-1)-core's edges and
their count (the k-core is a subgraph of the (k-1)-core, so nothing is
ever re-peeled or re-counted);
cost is Σ_k incremental-peel-depth(k) rounds.  Exact and
partition-independent (integer degrees, equi-joins), but at 10⁹-node
scale prefer filtering at a single operating k via ``k_core`` — the
decomposition's sequential k-sweep is the textbook trade, stated here
rather than hidden (``max_core`` caps it explicitly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.triangles import (
    _canonical_undirected,
    _degrees,
    _peel,
)


def _k_peel(
    und: DataFrame, k: int, max_rounds: int, n_rows: int | None = None
) -> tuple[DataFrame, int]:
    """The k-core's edges (possibly empty) of a checkpointed canonical
    edge set, and their count: each round keeps the edges whose
    endpoints both have degree >= k.  ``n_rows``: ``und``'s count, if
    known."""

    def survivors(und: DataFrame) -> DataFrame:
        keep = _degrees(und).where(F.col("deg") >= k).select("node")
        return und.join(
            keep.withColumnRenamed("node", "u"), "u", "leftsemi"
        ).join(keep.withColumnRenamed("node", "v"), "v", "leftsemi")

    ceiling = f"k_core did not converge in {max_rounds} rounds"
    return _peel(und, survivors, max_rounds, ceiling, n_rows)


def k_core(
    edges: DataFrame, a_col: str, b_col: str, k: int, max_rounds: int = 1000
) -> DataFrame:
    """(node) — members of the k-core of the undirected simple graph."""
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _canonical_undirected(edges, a_col, b_col).localCheckpoint(eager=False)
    core, _ = _k_peel(und, k, max_rounds)
    return _degrees(core).select("node")


def core_numbers(
    edges: DataFrame, a_col: str, b_col: str, max_core: int = 64
) -> DataFrame:
    """(node, core) — the largest k for which each node sits in the k-core.

    Incremental k-sweep: each k peels the previous core's edges (exact;
    cost stated in the module docstring).  Nodes beyond ``max_core`` are reported AT ``max_core``
    and the cap is the caller's explicit trade, mirroring the candidate
    caps in `operators/dedup.py`.
    """
    cur = _canonical_undirected(edges, a_col, b_col).localCheckpoint(eager=False)
    result = _degrees(cur).select("node", F.lit(0).alias("core"))
    n_cur = None
    for k in range(1, max_core + 1):
        # k-core(k) is a subgraph of k-core(k-1): peel each k from the
        # PREVIOUS core's edges, never restarting from the full edge set
        # (and never re-canonicalizing already-canonical edges); the
        # previous peel's count seeds this one, and no edges means no
        # members
        cur, n_cur = _k_peel(cur, k, max_rounds=1000, n_rows=n_cur)
        if n_cur == 0:
            return result
        members = _degrees(cur).select("node")
        result = (
            result.join(
                members.select(F.col("node"), F.lit(1).alias("_in")),
                "node",
                "left",
            )
            .select(
                "node",
                F.when(F.col("_in").isNotNull(), F.lit(k))
                .otherwise(F.col("core"))
                .alias("core"),
            )
            .localCheckpoint(eager=False)
        )
    return result
