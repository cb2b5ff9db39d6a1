"""Deterministic random-walk corpus generation over KG edges.

Graph-embedding training (DeepWalk / node2vec family) consumes a corpus
of fixed-length walks.  ``rand()``-driven walks are irreproducible and
resume-inconsistent — the same objection the mixture sampler solves
(functions/sampling.py): a 100 TB pipeline needs every walk to be a
pure function of (graph, salt), identical across runs, partitionings,
and engines.  Here the "random" next hop from node u at step t of walk
w is the neighbor minimizing the portable 60-bit md5 hash of
``salt:w:t:neighbor`` — i.e. a salted hash-argmin, exactly the
deterministic-pick convention of ``negative_samples``.

Per step the plan is: active walks ⋈ edges on the current node (one
equi-join), a per-walk ``min(struct(hash, dst))`` argmin (one keyed
agg; the struct makes ties impossible — the hash includes the
neighbor), and a 1:1 join back.  Dead-end walks retire into the result
as-is.  walk_len rounds of linear joins on the walk loop that both walk
operators share (`_walk_loop`), lineage cut per step.  Walk count =
|nodes| × walks_per_node rows; nothing is ever driver-side.

Determinism is pinned by an independent python replay of the identical
md5 picks (tests/test_walks.py) and a repartition-equality test.

``node2vec_walks`` generalizes to the biased second-order walk of
node2vec (Grover & Leskovec, KDD 2016).  The float-weighted pick of
the paper (weights 1/p, 1, 1/q) is replaced by an integer-exact
equivalent: the caller supplies INTEGER class weights ``(w_return,
w_near, w_far)`` (node2vec's α with p = w_near/w_return and
q = w_near/w_far, cleared of denominators), and the draw is one 60-bit
md5 hash per (walk, step) reduced mod the total candidate weight, then
located in the cumulative-weight ladder of the neighbors ordered by
node id.  No floats anywhere — the walk stays a pure integer function
of (graph, salt), bit-stable across runs, engines, and partitionings,
which a float Gumbel/exponential race cannot guarantee (last-ulp
``ln`` differences flip argmins).

``skipgram_pairs`` completes the pipeline: walks → (center, context)
training pairs for a skip-gram embedding model.  It is a pure
projection (nested array higher-order functions, zero Exchange until
the optional count aggregation) — the pair explosion happens inside
whole-stage codegen on each walk row, never via a self-join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small
from neo4j_export_tool_spark.functions.similarity import shingle_hash_col


def cap_neighbors(
    edges: DataFrame, src_col: str, dst_col: str, k: int, salt: str
) -> DataFrame:
    """Deterministic per-node neighbor cap: keep the ``k`` neighbors of
    every source with the smallest 60-bit md5 of ``salt:cap:src:dst``
    (GraphSAGE-style neighbor sampling, made reproducible).  WHY: on a
    hub-heavy graph (a doc↔concept bipartite graph's concepts have
    degree ~ corpus size) every walk standing at a hub expands
    |N(hub)| candidate rows per step — measured weak-scaling
    efficiency 0.27-0.45 uncapped vs ~linear capped
    (BENCH/scaling_graph_ops_round6*.json).  The cap bounds per-step
    expansion to k·|walks| and is a pure function of (graph, salt) —
    same pick across runs/engines/partitionings.  One shuffle keyed by
    the source node.
    """
    if k < 1:
        raise ValueError("max_neighbors_per_node must be >= 1")
    h = shingle_hash_col(
        F.concat(
            F.lit(salt + ":cap:"),
            F.col(src_col),
            F.lit(":"),
            F.col(dst_col),
        )
    )
    w = Window.partitionBy(src_col).orderBy(h.asc(), F.col(dst_col).asc())
    return (
        edges.withColumn("_capr", F.row_number().over(w))
        .where(F.col("_capr") <= k)
        .drop("_capr")
    )


def _walk_loop(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    walk_len: int,
    walks_per_node: int,
    salt: str,
    max_neighbors_per_node: int | None,
    step: Callable,
    second_order: bool = False,
) -> DataFrame:
    """The walk loop shared by `random_walks` and `node2vec_walks`:
    validation, edge prep and cap, the broadcast tiers, frontier init,
    then per step ``step(active, e, be, bp, t)`` → the walks that moved
    (``be`` / ``bp`` wrap the edge-sized / walk-sized join sides), and
    the retire/checkpoint of the rest.  ``second_order`` carries the
    previous node in a ``prev`` column (null before the first hop).

    Tiers: when the (capped) edge table fits (`broadcast_if_small`),
    the per-step joins broadcast it, and the walk-sized pick/retire
    tables likewise — the planner cannot decide this itself, since the
    tables sit behind localCheckpoint barriers with no size statistics.
    The counts that decide it materialize the checkpoints step 1 reads;
    results are identical either way (every pick is a pure hash
    function of (graph, salt), pinned by the python replays in
    tests/test_walks.py).  Walk count = |nodes| × walks_per_node rows;
    nothing is ever driver-side."""
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    if max_neighbors_per_node is not None:
        # bounds BOTH the candidate expansion and node2vec's distance-1
        # membership probe (the walk lives entirely on the pruned graph)
        e = cap_neighbors(e, "src", "dst", max_neighbors_per_node, salt)
    _be = _bp = lambda df: df
    e = e.localCheckpoint(eager=False)
    if walk_len > 1:  # walk_len == 1: the loop never runs
        # materializes the checkpoint; decides the edge-side tier
        _be = broadcast_if_small(e.count())
    prev = [F.lit(None).cast("string").alias("prev")] if second_order else []
    active = (
        e.select("src")
        .distinct()
        .select(
            F.col("src").alias("start"),
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("_i"),
        )
        .select(
            F.concat("start", F.lit("#"), F.col("_i")).alias("walk_id"),
            "start",
            *prev,
            F.col("start").alias("cur"),
            F.array("start").alias("path"),
        )
    )
    # round 1 consumes the initial frontier in both branches
    active = active.localCheckpoint(eager=False)
    if walk_len > 1:
        # the pick/retire side is WALK-sized; count it exactly
        # (walks only retire, so every later frame is ≤ this) —
        # the count materializes the frontier round 1 reads twice
        _bp = broadcast_if_small(active.count())
    done = active.limit(0)

    for t in range(1, walk_len):
        # nxt feeds BOTH the retire anti-join and the next round:
        # checkpoint it where computed, so the candidate join + pick
        # evaluate once per step and each step stores exactly one
        # walk-sized frame
        nxt = step(active, e, _be, _bp, t).localCheckpoint(eager=False)
        done = done.unionByName(
            active.join(_bp(nxt.select("walk_id")), "walk_id", "left_anti")
        ).localCheckpoint(eager=False)
        active = nxt
    return done.unionByName(active).select("walk_id", "start", "path")


def random_walks(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    walk_len: int = 10,
    walks_per_node: int = 2,
    salt: str = "walk",
    max_neighbors_per_node: int | None = None,
) -> DataFrame:
    """(walk_id, start, path) — ``walks_per_node`` walks from every node
    with at least one outgoing edge, each following ``walk_len - 1``
    hash-argmin hops (shorter when a dead end retires the walk early).

    ``walk_id`` = ``start#i`` for i in [0, walks_per_node); the path is
    an array of node strings beginning with ``start``.  Node ids are
    cast to string (the hash needs a canonical byte form).
    ``max_neighbors_per_node`` applies the deterministic
    `cap_neighbors` prune first — REQUIRED on hub-heavy graphs, where
    per-step candidate expansion is otherwise |N(hub)|·walks (see
    `cap_neighbors`); the walk is then a pure function of
    (capped graph, salt).  When the edge table fits
    (`broadcast_if_small`), the per-step joins broadcast it (and the
    walk-sized pick table) instead of shuffling — same rows, decided
    from a measured count.

    Eagerness: with ``walk_len > 1`` the call runs the edge and walk
    counts that pick the broadcast tiers (they materialize the
    checkpoints step 1 reads).  Under adaptive query execution (the
    session default) each lazy ``localCheckpoint`` also runs the shuffle
    stages below it when it is created, so every step's join and
    aggregation runs at call time, and even ``walk_len == 1`` runs the
    edge deduplication's shuffle.  With AQE off, ``walk_len == 1``
    starts no job.
    """

    def step(active, e, _be, _bp, t):
        cand = active.join(_be(e), active["cur"] == e["src"])
        h = shingle_hash_col(
            F.concat(
                F.lit(salt + ":"),
                F.col("walk_id"),
                F.lit(f":{t}:"),
                F.col("dst"),
            )
        )
        pick = cand.groupBy("walk_id").agg(
            F.min(F.struct(h.alias("h"), F.col("dst").alias("d"))).alias("_m")
        ).select("walk_id", F.col("_m.d").alias("_next"))
        return active.join(_bp(pick), "walk_id").select(
            "walk_id",
            "start",
            F.col("_next").alias("cur"),
            F.concat("path", F.array("_next")).alias("path"),
        )

    return _walk_loop(
        edges, src_col, dst_col, walk_len, walks_per_node, salt,
        max_neighbors_per_node, step,
    )


def node2vec_walks(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    walk_len: int = 10,
    walks_per_node: int = 2,
    w_return: int = 1,
    w_near: int = 1,
    w_far: int = 1,
    salt: str = "n2v",
    max_neighbors_per_node: int | None = None,
) -> DataFrame:
    """(walk_id, start, path) — node2vec-biased second-order walks with
    integer class weights.

    From previous node ``p`` standing at ``u``, a candidate neighbor
    ``x`` of ``u`` weighs ``w_return`` if ``x == p``, ``w_near`` if the
    edge ``(p, x)`` exists (distance 1 from ``p``), else ``w_far``
    (distance 2) — node2vec's 1/p, 1, 1/q bias cleared of denominators.
    The first hop (no previous node) is uniform.  The pick at step t of
    walk w is ``h60(salt:w:t) mod Σweights`` located in the cumulative
    ladder of candidates ordered by node id (binary/ASCII string
    order), so the walk is a pure integer function of (graph, salt) —
    the python replay in tests/test_walks.py reproduces it bit-exactly.
    ``w_return = w_near = w_far`` degenerates to a uniform DeepWalk
    (but NOT to ``random_walks``, whose draw is a per-neighbor
    hash-argmin rather than a ladder pick).

    Scale shape per step: one equi-join on the current node (candidate
    expansion), one equi-join against the edge list on ``(prev, dst)``
    (the distance-1 membership probe), and one window over ``walk_id``
    (cumulative + total weight — same partitioning, one Exchange);
    lineage cut per step.  When the capped edge table fits
    (`broadcast_if_small`), the two equi-joins broadcast it instead of
    shuffling the walk table — same rows, decided from a measured count
    the checkpoint materialization pays for anyway.  Dead ends retire
    into the result.  Weights must be positive ints; totals stay far
    inside int64 (max degree × max weight).

    Eagerness: as `random_walks` (both run `_walk_loop`).

    Reference: the walk corpus feeds the same embedding-training surface
    as ``random_walks``; see module docstring for the determinism
    convention shared with ``negative_samples``.
    """
    for w in (w_return, w_near, w_far):
        # floats would silently truncate in int() and change the walk
        # distribution relative to any replay — reject, don't coerce
        if not isinstance(w, int) or w < 1:
            raise ValueError("class weights must be positive integers")
    by_walk = Window.partitionBy("walk_id")
    ladder = by_walk.orderBy("dst").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    def step(active, e, _be, _bp, t):
        e_near = e.select(
            F.col("src").alias("_psrc"), F.col("dst").alias("_pdst"),
            F.lit(1).alias("_near"),
        )
        cand = (
            active.join(_be(e), active["cur"] == e["src"])
            .join(
                _be(e_near),
                (F.col("prev") == F.col("_psrc"))
                & (F.col("dst") == F.col("_pdst")),
                "left",
            )
            .select(
                "walk_id", "start", "prev", "cur", "path", "dst",
                F.when(F.col("prev").isNull(), F.lit(1))
                .when(F.col("dst") == F.col("prev"), F.lit(int(w_return)))
                .when(F.col("_near") == 1, F.lit(int(w_near)))
                .otherwise(F.lit(int(w_far)))
                .cast("long")
                .alias("_w"),
            )
        )
        draw = (
            shingle_hash_col(
                F.concat(F.lit(salt + ":"), F.col("walk_id"), F.lit(f":{t}"))
            )
            % F.sum("_w").over(by_walk)
        )
        pick = (
            cand.withColumn("_cum", F.sum("_w").over(ladder))
            .withColumn("_r", draw)
            .where(
                (F.col("_r") >= F.col("_cum") - F.col("_w"))
                & (F.col("_r") < F.col("_cum"))
            )
        )
        # the NARROW projection is what the loop checkpoints: the
        # ladder scaffolding _w/_cum/_r/dst is dropped first
        return pick.select(
            "walk_id",
            "start",
            F.col("cur").alias("prev"),
            F.col("dst").alias("cur"),
            F.concat("path", F.array("dst")).alias("path"),
        )

    return _walk_loop(
        edges, src_col, dst_col, walk_len, walks_per_node, salt,
        max_neighbors_per_node, step, second_order=True,
    )


def skipgram_pairs(
    walks: DataFrame,
    path_col: str = "path",
    window: int = 2,
    with_counts: bool = False,
) -> DataFrame:
    """Skip-gram training pairs from walk paths: one ``(center,
    context)`` row per ordered pair of positions ``(i, j)`` with
    ``j != i`` and ``|j - i| <= window`` (both directions, the standard
    skip-gram context).  With ``with_counts=True`` the pairs are
    aggregated to ``(center, context, n)`` — the frequency table an
    embedding trainer consumes.

    Scale shape: the pair expansion is a pure array projection (indexed
    structs + nested transform/filter, all JVM-side in whole-stage
    codegen) followed by one explode — ZERO shuffles for the raw-pair
    form.  A self-join formulation would shuffle the exploded positions
    table twice; this never shuffles at all.  Per-row cost is
    O(len(path)^2) element ops, bounded by walk_len (typically 5-40).
    Null/empty paths yield no pairs.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    indexed = F.transform(
        F.col(path_col),
        lambda x, j: F.struct(x.alias("x"), j.alias("j")),
    )
    pairs = F.expr(
        "flatten(transform(_ix, c -> "
        "  transform("
        f"    filter(_ix, t -> t.j != c.j AND abs(t.j - c.j) <= {int(window)}),"
        "    t -> named_struct('center', c.x, 'context', t.x))))"
    )
    out = (
        walks.where(F.col(path_col).isNotNull())
        .select(indexed.alias("_ix"))
        .select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.center").alias("center"), F.col("_p.context").alias("context"))
    )
    if with_counts:
        out = out.groupBy("center", "context").agg(
            F.count(F.lit(1)).alias("n")
        )
    return out
