"""Deterministic integer PageRank over the materialized KG edges.

Floating-point PageRank cannot be verified bit-exactly across engines:
a shuffled double sum is order-dependent.  This variant keeps ALL
arithmetic in int64 — ranks carry ``base`` total mass, every transfer is
an exact integer division (``div``), and the per-node inbound sum is an
associative int64 sum, so the result is independent of partitioning,
shuffle order, and engine (a DuckDB twin reproduces it bit-for-bit; the
q52 gate does exactly that).  Rounding mass lost to the floors (and the
out-mass of dangling nodes) simply decays — the standard "lossy" PR
formulation; ranks remain a total order identical to float PR's up to
floor resolution (1 part in ``base``).

Iteration k:  rank'(v) = teleport + Σ_{u→v} (rank(u)·damping_pct) div
(100·outdeg(u)),  with teleport = (100-damping_pct)·base div (100·n).

Scale shape: one checkpointed (src, outdeg) edge table; each round is a
broadcast-or-shuffle join of the rank table (node-sized) to edges plus
one keyed int sum — the textbook DataFrame PR loop.  Lineage is cut per
round with localCheckpoint (same discipline as connected components,
`operators/components.py`), so 100-round runs do not accrete plans.

Overflow: rank ≤ base ≤ 10^12, rank·damping_pct ≤ 8.5·10^13 ≪ 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small


def _prepared_graph(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str | None = None,
):
    """(e_aug, nodes) — the edge table augmented with the per-source
    normalizer (outdeg, or the weight sum when ``weight_col`` is given)
    and the node universe, both materialized for the iteration loop."""
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).alias("w"))
    e = edges.select(*cols)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if weight_col is None:
        norm = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    else:
        norm = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    e_deg = e.join(norm, "src")
    return e_deg.localCheckpoint(eager=False), nodes.localCheckpoint(eager=False)


def _pagerank_loop(
    e_deg: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    n_iters: int,
    damping_pct: int,
    new_rank,
    contrib_sql: str | None = None,
    *,
    bcast,
) -> DataFrame:
    """The shared PR recurrence: per round one rank⋈edges join + one
    int64 inbound sum, then ``new_rank(nodes ⟕ contribs)`` rebuilds the
    (node, rank_int) table (uniform teleport for PR, seed-targeted for
    PPR); lineage cut per round.  ``contrib_sql`` overrides the
    per-edge transfer expression (weighted variant); ``{d}`` is
    substituted with damping_pct.  ``bcast`` (the callers'
    `broadcast_if_small` tier for the measured node count) wraps the
    node-sized side of both per-round joins — results are identical
    either way (int64 sums are order-independent)."""
    contrib_sql = (contrib_sql or "rank_int * {d} div (100 * outdeg)").format(
        d=damping_pct
    )
    for _ in range(n_iters):
        contribs = (
            e_deg.join(bcast(ranks), e_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(contrib_sql).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = new_rank(
            nodes.join(bcast(contribs), "node", "left")
        ).localCheckpoint(eager=False)
    return ranks


def _finish_uniform(
    e_aug: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    n_iters: int,
    damping_pct: int,
    base: int,
    contrib_sql: str | None = None,
) -> DataFrame:
    """Shared tail of the uniform-teleport variants: empty-graph guard,
    teleport/init, and the loop with the uniform rank rebuild."""
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame(
            [], "node string, rank_int long"
        )
    teleport = (100 - damping_pct) * base // (100 * n)
    ranks = nodes.select(
        "node", F.lit(base // n).cast("long").alias("rank_int")
    )
    return _pagerank_loop(
        e_aug,
        nodes,
        ranks,
        n_iters,
        damping_pct,
        lambda joined: joined.select(
            "node",
            (
                F.lit(teleport) + F.coalesce(F.col("inbound"), F.lit(0))
            ).cast("long").alias("rank_int"),
        ),
        contrib_sql=contrib_sql,
        bcast=broadcast_if_small(n),
    )


def weighted_pagerank_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    n_iters: int = 5,
    damping_pct: int = 85,
    base: int = 10**12,
) -> DataFrame:
    """(node, rank_int) — exact-integer PageRank where each out-edge
    receives mass proportional to its INTEGER weight (a KG's edge
    weights are counts — mention multiplicity, co-occurrence n — so
    integer weights are the natural contract and keep every transfer
    exact):

      contrib(u→v) = ((rank(u)·damping_pct) div 100) · w(u→v)
                       div Σ_out w(u)

    The two-step floor division bounds intermediates: rank·damping ≤
    10^14, then ×w — safe for weights up to 10^7 (enforced in-plan via
    ``assert_true``; larger weights would overflow int64 at full rank
    mass).  Same teleport, loop discipline, and engine/partitioning
    independence as `pagerank_int`; a python twin replays the identical
    two-step recurrence (tests/test_ppr.py).
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    # the safe weight ceiling depends on (base, damping_pct): the
    # largest intermediate is ((rank*d) div 100) * w with rank <= base
    # (mass only decays), so w_max = (2^63-1) div ((base*d) div 100)
    w_cap = (2**63 - 1) // ((base * damping_pct) // 100)
    w_long = F.col(weight_col).cast("long")
    chk = F.assert_true(
        F.col(weight_col).isNotNull()
        # fractional weights would silently floor in the cast — reject
        & (F.col(weight_col) == w_long)
        & (w_long >= 1)
        & (w_long <= w_cap),
        F.lit(
            "weighted_pagerank_int: weights must be integers in "
            f"[1, {w_cap}] (ceiling derived from base/damping_pct: "
            "larger would overflow int64 at full rank mass)"
        ),
    )
    checked = edges.select(
        F.col(src_col).alias("_ws"),
        F.col(dst_col).alias("_wd"),
        F.when(chk.isNull(), w_long).alias("w"),
    )
    e_w, nodes = _prepared_graph(checked, "_ws", "_wd", weight_col="w")
    return _finish_uniform(
        e_w, nodes, edges, n_iters, damping_pct, base,
        contrib_sql="((rank_int * {d}) div 100) * w div wsum",
    )


def pagerank_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    n_iters: int = 5,
    damping_pct: int = 85,
    base: int = 10**12,
) -> DataFrame:
    """(node, rank_int) after ``n_iters`` exact-integer PR rounds."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    e_deg, nodes = _prepared_graph(edges, src_col, dst_col)
    return _finish_uniform(e_deg, nodes, edges, n_iters, damping_pct, base)


def personalized_pagerank_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    seeds,
    seed_col: str | None = None,
    n_iters: int = 5,
    damping_pct: int = 85,
    base: int = 10**12,
) -> DataFrame:
    """(node, rank_int) after ``n_iters`` exact-integer PERSONALIZED
    PageRank rounds: all teleport mass returns to the seed set instead
    of spreading uniformly — the standard entity-relevance /
    random-walk-with-restart measure over a KG neighborhood.

    ``seeds`` is a DataFrame (``seed_col`` names the node column;
    defaults to its first column) or a plain list/tuple of node ids.
    Seeds outside the graph's node universe are ignored; an effectively
    empty seed set raises ValueError.  Initial mass = ``base div |S|``
    on each seed, 0 elsewhere; per round each seed receives
    ``(100-damping_pct)·base div (100·|S|)`` teleport mass.  Same int64
    arithmetic, overflow bound, localCheckpoint loop discipline, and
    partitioning/engine independence as ``pagerank_int`` — plus one
    (usually broadcast) seed-marker join per round.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    spark = edges.sparkSession
    if isinstance(seeds, (list, tuple, set)):
        if not seeds:
            raise ValueError(
                "personalized PageRank needs at least one seed inside the "
                "graph's node universe"
            )
        # infer the id type from the values (node ids need not be strings)
        seeds = spark.createDataFrame([(s,) for s in sorted(seeds)], ["node"])
        seed_col = "node"
    if seed_col is None:
        seed_col = seeds.columns[0]
    e_deg, nodes = _prepared_graph(edges, src_col, dst_col)
    marker = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .select("node", F.lit(1).alias("_seed"))
        .localCheckpoint(eager=False)
    )

    s = marker.count()
    if s == 0:
        raise ValueError(
            "personalized PageRank needs at least one seed inside the "
            "graph's node universe"
        )
    teleport = (100 - damping_pct) * base // (100 * s)

    # the seed marker is |S|-sized (≤ nodes); behind a checkpoint its
    # stats are unknown, so broadcast it explicitly on the rank tier
    _bm = broadcast_if_small(nodes.count())
    ranks = nodes.join(_bm(marker), "node", "left").select(
        "node",
        F.when(F.col("_seed") == 1, F.lit(base // s))
        .otherwise(0)
        .cast("long")
        .alias("rank_int"),
    )
    return _pagerank_loop(
        e_deg,
        nodes,
        ranks,
        n_iters,
        damping_pct,
        lambda joined: joined.join(_bm(marker), "node", "left").select(
            "node",
            (
                F.when(F.col("_seed") == 1, F.lit(teleport)).otherwise(0)
                + F.coalesce(F.col("inbound"), F.lit(0))
            ).cast("long").alias("rank_int"),
        ),
        bcast=_bm,
    )


def degree_stats(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(node, out_degree, in_degree) — the first thing anyone asks of a
    freshly materialized graph; one union + two keyed counts."""
    out_d = (
        edges.groupBy(F.col(src_col).alias("node"))
        .agg(F.count(F.lit(1)).alias("out_degree"))
    )
    in_d = (
        edges.groupBy(F.col(dst_col).alias("node"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )
