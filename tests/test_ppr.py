"""Personalized-PageRank tests: closed-form integer recurrence, python
twin, seed-set semantics, locality, partitioning independence."""

from __future__ import annotations

import pytest

from neo4j_export_tool_spark.operators.pagerank import (
    personalized_pagerank_int,
)


def _py_ppr(edges, seeds, n_iters=5, damping_pct=85, base=10**12):
    eset = [(str(a), str(b)) for a, b in edges]
    nodes = {n for e in eset for n in e}
    seeds = sorted({str(s) for s in seeds} & nodes)
    assert seeds
    outdeg = {}
    for a, _ in eset:
        outdeg[a] = outdeg.get(a, 0) + 1
    tele = (100 - damping_pct) * base // (100 * len(seeds))
    r = {n: (base // len(seeds) if n in seeds else 0) for n in nodes}
    for _ in range(n_iters):
        inbound = {n: 0 for n in nodes}
        for a, b in eset:
            inbound[b] += r[a] * damping_pct // (100 * outdeg[a])
        r = {
            n: (tele if n in seeds else 0) + inbound[n] for n in nodes
        }
    return r


def _spark_ppr(spark, edges, seeds, n_parts=None, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    if n_parts:
        df = df.repartition(n_parts)
    rows = personalized_pagerank_int(df, "src", "dst", seeds, **kw).collect()
    return {r.node: r.rank_int for r in rows}


def test_closed_form_chain(spark):
    # a->b->c, seed {a}: hand-run the exact integer recurrence
    edges = [("a", "b"), ("b", "c")]
    base = 10**12
    tel = 15 * base // 100
    r = {"a": base, "b": 0, "c": 0}
    for _ in range(3):
        r = {
            "a": tel,
            "b": r["a"] * 85 // 100,
            "c": r["b"] * 85 // 100,
        }
    assert _spark_ppr(spark, edges, ["a"], n_iters=3) == r


def test_matches_python_twin(spark):
    edges = [
        (f"n{i}", f"n{(i * 7 + 3) % 17}") for i in range(17)
    ] + [(f"n{i}", f"n{(i * 5 + 1) % 17}") for i in range(17)]
    edges = [(a, b) for a, b in edges if a != b]
    for seeds in (["n0"], ["n0", "n3", "n9"]):
        got = _spark_ppr(spark, edges, seeds, n_iters=6)
        assert got == _py_ppr(edges, seeds, n_iters=6)


def test_locality_vs_global_teleport(spark):
    # path a->b->c->d->e, seed {a}: rank decays monotonically with
    # distance from the seed — the personalization signature
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    got = _spark_ppr(spark, edges, ["a"], n_iters=8)
    assert got["a"] > 0
    assert got["b"] > got["c"] > got["d"] > got["e"]


def test_seed_forms_equivalent_and_outside_seeds_ignored(spark):
    edges = [("a", "b"), ("b", "a"), ("b", "c")]
    by_list = _spark_ppr(spark, edges, ["a", "ghost"], n_iters=4)
    seed_df = spark.range(1).selectExpr("'a' as s")
    df = spark.createDataFrame(edges, "src string, dst string")
    by_df = {
        r.node: r.rank_int
        for r in personalized_pagerank_int(
            df, "src", "dst", seed_df, seed_col="s", n_iters=4
        ).collect()
    }
    assert by_list == by_df  # 'ghost' is outside the universe → |S| = 1


def test_partitioning_bit_identical(spark):
    edges = [(f"n{i}", f"n{(i * 3 + 2) % 11}") for i in range(11)]
    edges = [(a, b) for a, b in edges if a != b]
    a = _spark_ppr(spark, edges, ["n1", "n4"], n_parts=1, n_iters=5)
    b = _spark_ppr(spark, edges, ["n1", "n4"], n_parts=7, n_iters=5)
    assert a == b


def test_integer_node_ids(spark):
    # node ids need not be strings; the list-seed path must infer types
    sdf = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    got = {
        r.node: r.rank_int
        for r in personalized_pagerank_int(
            sdf, "src", "dst", [1], n_iters=3
        ).collect()
    }
    assert set(got) == {1, 2, 3} and got[1] > 0


def test_validation(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank_int(df, "src", "dst", ["ghost"]).collect()
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank_int(df, "src", "dst", [])
    with pytest.raises(ValueError):
        personalized_pagerank_int(df, "src", "dst", ["a"], damping_pct=0)


# --------------------------------------------------------- weighted PR


def _py_wpr(edges, n_iters=5, damping_pct=85, base=10**12):
    """edges: (src, dst, w) — replays the exact two-step integer div."""
    nodes = {n for a, b, _ in edges for n in (a, b)}
    wsum: dict[str, int] = {}
    for a, _, w in edges:
        wsum[a] = wsum.get(a, 0) + w
    n = len(nodes)
    tele = (100 - damping_pct) * base // (100 * n)
    r = {x: base // n for x in nodes}
    for _ in range(n_iters):
        inbound = {x: 0 for x in nodes}
        for a, b, w in edges:
            inbound[b] += ((r[a] * damping_pct) // 100) * w // wsum[a]
        r = {x: tele + inbound[x] for x in nodes}
    return r


def test_weighted_matches_python_twin(spark):
    from neo4j_export_tool_spark.operators.pagerank import (
        weighted_pagerank_int,
    )

    edges = [
        (f"n{i}", f"n{(i * 7 + 3) % 11}", 1 + (i * 5) % 9) for i in range(11)
    ] + [(f"n{i}", f"n{(i * 3 + 1) % 11}", 1 + i % 4) for i in range(11)]
    edges = [(a, b, w) for a, b, w in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        r.node: r.rank_int
        for r in weighted_pagerank_int(df, "src", "dst", "w", n_iters=5).collect()
    }
    assert got == _py_wpr(edges, n_iters=5)
    # partitioning independence
    got7 = {
        r.node: r.rank_int
        for r in weighted_pagerank_int(
            df.repartition(7), "src", "dst", "w", n_iters=5
        ).collect()
    }
    assert got7 == got


def test_weighted_bias_and_validation(spark):
    from neo4j_export_tool_spark.operators.pagerank import (
        weighted_pagerank_int,
    )

    # a splits its mass 9:1 between b and c
    df = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    got = {
        r.node: r.rank_int
        for r in weighted_pagerank_int(df, "src", "dst", "w", n_iters=6).collect()
    }
    assert got["b"] > got["c"]
    bad = spark.createDataFrame(
        [("a", "b", 0)], "src string, dst string, w long"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="weights"):
        weighted_pagerank_int(bad, "src", "dst", "w").collect()
