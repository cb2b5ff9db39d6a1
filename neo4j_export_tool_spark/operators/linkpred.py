"""Link-prediction scores over the KG: the classic neighborhood
heuristics (common neighbors, Jaccard, Adamic-Adar, resource
allocation) that KG-completion pipelines use to propose candidate
edges (Liben-Nowell & Kleinberg, CIKM 2003; Adamic & Adar 2003).

Complements the derived-graph stack (`operators/triangles.py`,
`operators/kcore.py`, `operators/communities.py`): the candidate pair
set here IS the wedge set of the triangle counter — two nodes sharing
at least one common neighbor — produced by the same degree-bounded
self-join, never an all-pairs product.

Scale shape: one canonicalized edge dedup, one degree agg, one
wedge self-join on the center node (the only quadratic term —
Σ deg(w)² over centers, the same cost law as triangle counting; the
``max_center_degree`` ceiling RAISES on hub centers rather than
silently truncating scores, the closure/`max_pairs` convention), one
(pair)-keyed agg, two degree joins.  All shuffles are equi-joins /
keyed aggs; AQE decides the physical strategy.

Float determinism: Adamic-Adar and resource allocation sum doubles, so
the per-pair sum is folded over a ``sort_array``-ed degree list, not a
shuffle-ordered SQL SUM — bit-identical across partitionings, the
`lm_score`/`retrieval` convention.  A common neighbor of any pair has
degree >= 2 (it touches both endpoints), so ``ln(deg)`` is never 0 and
``1/ln`` never divides by zero.  Jaccard is a single double division
of exact int64s, deterministic by construction.

An independent pure-python twin reproduces all four scores in
tests/test_linkpred.py (ints exact, floats rel 1e-12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.triangles import _canonical_undirected


def link_prediction_scores(
    edges: DataFrame,
    a_col: str,
    b_col: str,
    include_existing: bool = False,
    max_center_degree: int | None = None,
) -> DataFrame:
    """(n1, n2, common_neighbors, jaccard, adamic_adar,
    resource_allocation) for every unordered pair ``n1 < n2`` with at
    least one common neighbor in the undirected simple graph.

    ``include_existing=False`` (default) drops pairs that are already
    edges — the KG-completion candidate set; ``True`` keeps them
    (useful for scoring observed edges against the heuristics).
    ``max_center_degree`` raises RuntimeError if any wedge center
    exceeds it (hub centers cost deg² pairs; raise the ceiling or
    pre-filter hubs explicitly — silent truncation would skew scores).
    """
    und = (
        _canonical_undirected(
            edges.select(
                F.col(a_col).cast("string").alias("a"),
                F.col(b_col).cast("string").alias("b"),
            ),
            "a",
            "b",
        )
        .toDF("a", "b")
        .localCheckpoint(eager=False)
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    if max_center_degree is not None:
        over = deg.where(F.col("deg") > max_center_degree).limit(1).collect()
        if over:
            raise RuntimeError(
                f"wedge center {over[0].node!r} has degree {over[0].deg} > "
                f"max_center_degree={max_center_degree}; raise the ceiling "
                "or pre-filter hub nodes"
            )

    # (center w with its degree) fanned to both endpoints, then the wedge
    # self-join on w: candidate pairs n1 < n2 plus the center's degree.
    adj = sym.join(
        deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "dw"), "a"
    ).select(F.col("a").alias("w"), F.col("b").alias("n"), "dw")
    wedges = (
        adj.select("w", F.col("n").alias("n1"), "dw")
        .join(adj.select("w", F.col("n").alias("n2")), "w")
        .where(F.col("n1") < F.col("n2"))
    )
    pairs = wedges.groupBy("n1", "n2").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sort_array(F.collect_list("dw")).alias("_dws"),
    )
    if not include_existing:
        pairs = pairs.join(
            und.select(F.col("a").alias("n1"), F.col("b").alias("n2")),
            ["n1", "n2"],
            "left_anti",
        )
    d1 = deg.select(F.col("node").alias("n1"), F.col("deg").alias("_d1"))
    d2 = deg.select(F.col("node").alias("n2"), F.col("deg").alias("_d2"))
    fold = lambda expr: F.aggregate(  # noqa: E731 — two folds, same shape
        "_dws", F.lit(0.0), lambda acc, d: acc + expr(d.cast("double"))
    )
    return (
        pairs.join(d1, "n1")
        .join(d2, "n2")
        .select(
            "n1",
            "n2",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("_d1") + F.col("_d2") - F.col("common_neighbors"))
            ).alias("jaccard"),
            fold(lambda d: F.lit(1.0) / F.log(d)).alias("adamic_adar"),
            fold(lambda d: F.lit(1.0) / d).alias("resource_allocation"),
        )
    )
