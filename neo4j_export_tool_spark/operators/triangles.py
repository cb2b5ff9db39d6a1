"""Concept co-occurrence graph + exact distributed triangle counting.

KG-construction step: after entity mentions are materialized, the first
*derived* graph anyone builds is concept↔concept co-occurrence ("appear in
the same document"), and the first cohesion statistic asked of it is the
per-node triangle count (clustering / community seeds).  The doc→concept
mention graph itself is bipartite and therefore triangle-free; triangles
only exist on this derived projection.

Scale shapes:

- ``cooccurrence_edges``: per-doc distinct concepts, then a doc-keyed
  self-join with ``c1 < c2``.  The self-join is quadratic in a document's
  concept count, so heavy-tailed "mega-docs" are the skew risk at 100 TB —
  ``max_concepts_per_doc`` drops them entirely (the stop-shingle /
  stop-gram policy from `operators/dedup.py`: a doc mentioning thousands
  of concepts contributes relatedness noise, not signal).  Dropped docs
  are observable via the returned edge weights only — callers needing an
  audit count them upstream (one groupBy).
- ``triangle_counts``: the standard degree-ordered orientation algorithm
  (each undirected edge directed from its lower (degree, node) endpoint →
  out-degrees are bounded by graph arboricity, so the wedge join's fan-out
  is O(m·α) not O(Σdeg²); see Suri & Vassilvitskii, "Counting Triangles
  and the Curse of the Last Reducer", WWW'11).  Three shuffles total
  (degree agg, wedge self-join, closing-edge join) — all equi-joins that
  AQE can re-plan; no window over the corpus, no driver collection.

Exactness: counts are integers and every join is an equi-join on string
keys, so results are engine- and partitioning-independent; the pytest twin
replays the same canonical-triple definition in DuckDB bit-for-bit
(tests/test_triangles.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    mentions: DataFrame,
    doc_col: str,
    concept_col: str,
    *,
    max_concepts_per_doc: int | None = None,
) -> DataFrame:
    """(c1, c2, weight) undirected co-occurrence edges, ``c1 < c2``;
    weight = number of distinct docs where both concepts appear."""
    m = mentions.select(
        F.col(doc_col).alias("doc"), F.col(concept_col).alias("c")
    ).distinct()
    if max_concepts_per_doc is not None:
        if max_concepts_per_doc < 2:
            raise ValueError("max_concepts_per_doc must be >= 2")
        keep = (
            m.groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_c"))
            .where(F.col("n_c") <= max_concepts_per_doc)
            .select("doc")
        )
        m = m.join(keep, "doc")
    left = m.select("doc", F.col("c").alias("c1"))
    right = m.select("doc", F.col("c").alias("c2"))
    return (
        left.join(right, "doc")
        .where(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _canonical_undirected(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """(u, v) with u < v, self-loops and duplicate/reversed edges collapsed."""
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).where(
        F.col("a") != F.col("b")
    )
    return e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()


def _degrees(und: DataFrame) -> DataFrame:
    """(node, deg) of a canonical edge set."""
    return (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _peel(
    und: DataFrame,
    survivors: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    ceiling: str | None,
    n_rows: int | None = None,
) -> tuple[DataFrame, int]:
    """Fixpoint peel of a checkpointed edge set, shared by
    `operators/kcore.py` (node peel), `ktruss` (edge peel) and SCC's trim
    (`operators/scc.py`): each round keeps ``survivors(und)``,
    checkpointed and counted, until a round drops nothing.  An emptied
    table is also a fixpoint (an empty set cannot shrink), so a peel that
    empties on its last round returns instead of raising.  Per-round
    driver work is one ``count()``; no edge data is collected.  Returns
    the peeled table and its row count; ``n_rows``, when the caller
    already knows ``und``'s count, saves the opening one.  Still
    shrinking after ``max_rounds`` raises RuntimeError(``ceiling``) —
    explicit cost ceiling, never silent truncation; with
    ``ceiling=None`` the round count is a radius and the peel returns
    what it reached (the `closure._frontier_loop` convention)."""
    n_prev = und.count() if n_rows is None else n_rows
    for _ in range(max_rounds):
        if n_prev == 0:
            return und, 0
        keep = survivors(und).localCheckpoint(eager=False)
        n_keep = keep.count()
        if n_keep in (n_prev, 0):
            return keep, n_keep
        und, n_prev = keep, n_keep
    if ceiling is not None:
        raise RuntimeError(ceiling)
    return und, n_prev


def _enumerate_triangles(und: DataFrame) -> DataFrame:
    """(x, lo, hi) — each triangle of the canonical edge set exactly once,
    via degree-ordered orientation + wedge join (Suri-Vassilvitskii)."""
    deg = _degrees(und)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    # orient from the lower (degree, node) endpoint; carry the head's rank
    # so wedge pairs can be ordered the same way without re-joining degrees
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    )

    o1 = oriented.select(
        F.col("x"), F.col("y").alias("y1"), F.col("dy").alias("dy1")
    )
    o2 = oriented.select(
        F.col("x"), F.col("y").alias("y2"), F.col("dy").alias("dy2")
    )
    # wedges at x; order the pair by the SAME (degree, node) rank the
    # orientation used, so the closing edge is oriented lo→hi exactly
    wedges = (
        o1.join(o2, "x")
        .where(
            (F.col("dy1") < F.col("dy2"))
            | ((F.col("dy1") == F.col("dy2")) & (F.col("y1") < F.col("y2")))
        )
        .select("x", F.col("y1").alias("lo"), F.col("y2").alias("hi"))
    )
    closing = oriented.select(F.col("x").alias("lo"), F.col("y").alias("hi"))
    return wedges.join(closing, ["lo", "hi"]).select("x", "lo", "hi")


def triangle_counts(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """(node, triangles) for every node on ≥1 triangle of the undirected
    simple graph induced by ``edges`` (self-loops and duplicate /
    reversed edges are collapsed first)."""
    tris = _enumerate_triangles(_canonical_undirected(edges, a_col, b_col))

    return (
        tris.select(
            F.explode(F.array("x", "lo", "hi")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def ktruss(
    edges: DataFrame,
    a_col: str,
    b_col: str,
    k: int,
    max_rounds: int = 64,
) -> DataFrame:
    """(u, v) — the canonical edges of the maximal k-truss: the largest
    subgraph in which EVERY edge sits on at least ``k - 2`` triangles
    (Cohen 2008) — the edge analog of `operators/kcore.py`'s node peel,
    and the standard cohesive-community filter one notch stronger than
    k-core.

    Fixpoint peel (`_peel`, shared with k-core): per round enumerate
    the surviving triangles (`_enumerate_triangles` — the
    degree-ordered wedge join, each triangle once), credit each
    triangle's three canonical edges, drop edges with support < k - 2,
    repeat until stable.  Rounds cost one triangle enumeration each
    (the same cost law as `triangle_counts`); ``max_rounds`` is a
    RAISING ceiling — a pathological peel cascade needs a deliberate
    raise, never silent truncation.  ``k <= 2`` returns every edge
    (every edge is trivially a 2-truss member).  Deterministic:
    supports are exact counts, the peel is a pure function of the
    graph.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # without a lineage cut each round's plan embeds the previous round
    # ~6x (degree agg + wedge self-join + semi-join)
    und = _canonical_undirected(edges, a_col, b_col).localCheckpoint(eager=False)
    if k <= 2:
        return und
    need = k - 2

    def supported(und: DataFrame) -> DataFrame:
        tris = _enumerate_triangles(und)
        credits = (
            tris.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("x", "lo").alias("u"),
                            F.greatest("x", "lo").alias("v"),
                        ),
                        F.struct(
                            F.least("x", "hi").alias("u"),
                            F.greatest("x", "hi").alias("v"),
                        ),
                        F.struct(
                            F.least("lo", "hi").alias("u"),
                            F.greatest("lo", "hi").alias("v"),
                        ),
                    )
                ).alias("_e")
            )
            .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        return und.join(
            credits.where(F.col("support") >= need).select("u", "v"),
            ["u", "v"],
            "left_semi",
        )

    truss, _ = _peel(
        und,
        supported,
        max_rounds,
        f"k-truss peel still shrinking after max_rounds={max_rounds}; "
        "raise the ceiling (deep peel cascade)",
    )
    return truss
