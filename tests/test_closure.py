"""Transitive-closure tests: closed-form hierarchies, cycle handling,
cost ceilings, a DuckDB recursive-CTE twin on a pseudo-random graph,
and the ancestor-stats rollup."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from neo4j_export_tool_spark.operators.closure import (
    ancestor_stats,
    transitive_closure,
)


def _pairs(spark, edges, **kw):
    df = spark.createDataFrame(edges, "s string, d string")
    rows = transitive_closure(df, "s", "d", **kw).collect()
    return {(r.src, r.dst): r.hops for r in rows}


def test_chain_min_hops(spark):
    got = _pairs(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1,
        ("a", "c"): 2, ("b", "d"): 2, ("a", "d"): 3,
    }


def test_diamond_takes_shortest_path(spark):
    # a→b→d and a→c→d plus a→d directly: (a,d) must be hops=1.
    got = _pairs(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")])
    assert got[("a", "d")] == 1
    assert got[("b", "d")] == 1 and got[("a", "b")] == 1


def test_two_cycle_closure(spark):
    got = _pairs(spark, [("a", "b"), ("b", "a")])
    assert got == {
        ("a", "b"): 1, ("b", "a"): 1, ("a", "a"): 2, ("b", "b"): 2,
    }


def test_self_loop_is_hops_one(spark):
    got = _pairs(spark, [("a", "a"), ("a", "b")])
    assert got == {("a", "a"): 1, ("a", "b"): 1}


def test_max_hops_ceiling_raises(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    with pytest.raises(RuntimeError, match="max_hops"):
        _pairs(spark, chain, max_hops=3)
    # exactly deep enough is fine
    assert len(_pairs(spark, chain, max_hops=6)) == 6 * 7 // 2
    # the 2-cycle's round-2 frontier is empty: the closure finishes on
    # its last round at max_hops=2, and is still growing at max_hops=1
    two_cycle = [("a", "b"), ("b", "a")]
    assert len(_pairs(spark, two_cycle, max_hops=2)) == 4
    with pytest.raises(RuntimeError, match="max_hops"):
        _pairs(spark, two_cycle, max_hops=1)


def test_max_pairs_ceiling_raises(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(10)]
    with pytest.raises(RuntimeError, match="max_pairs"):
        _pairs(spark, chain, max_pairs=10)


def test_matches_duckdb_recursive_cte(spark):
    edges = [
        (f"n{i}", f"n{j}")
        for i in range(24)
        for j in range(24)
        if i != j and (i * 37 + j * 13) % 19 < 2
    ]
    got = _pairs(spark, edges)

    con = duckdb.connect()
    con.register("raw", pd.DataFrame(edges, columns=["s", "d"]))
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            """
            WITH RECURSIVE e AS (SELECT DISTINCT s, d FROM raw),
            reach(src, dst, hops) AS (
              SELECT s, d, 1 FROM e
              UNION
              SELECT r.src, e.d, r.hops + 1
              FROM reach r JOIN e ON e.s = r.dst
              WHERE r.hops < 32
            )
            SELECT src, dst, MIN(hops) FROM reach GROUP BY src, dst
            """
        ).fetchall()
    }
    assert got == want


def test_ancestor_stats_chain(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "s string, d string")
    clo = transitive_closure(df, "s", "d")
    rows = {r.node: r for r in ancestor_stats(clo).collect()}
    assert (rows["a"].n_ancestors, rows["a"].n_descendants, rows["a"].max_down) == (0, 2, 2)
    assert (rows["b"].n_ancestors, rows["b"].n_descendants) == (1, 1)
    assert (rows["c"].n_ancestors, rows["c"].max_up, rows["c"].n_descendants) == (2, 2, 0)


# ------------------------------------------------------------- BFS dist


def _py_bfs(edges, seeds, max_hops):
    adj: dict[str, set[str]] = {}
    nodes = set()
    for a, b in set(edges):
        adj.setdefault(a, set()).add(b)
        nodes.update((a, b))
    dist = {s: 0 for s in seeds if s in nodes}
    frontier = set(dist)
    for d in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.add(v)
        frontier = nxt
        if not frontier:
            break
    return dist


def _spark_bfs(spark, edges, seeds, n_parts=None, **kw):
    from neo4j_export_tool_spark.operators.closure import bfs_distances

    df = spark.createDataFrame(edges, "s string, d string")
    if n_parts:
        df = df.repartition(n_parts)
    rows = bfs_distances(df, "s", "d", seeds, **kw).collect()
    return {r.node: r.dist for r in rows}


def test_bfs_closed_form_and_radius_contract(spark):
    # chain a->b->c->d->e with radius 2 from {a}
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    got = _spark_bfs(spark, edges, ["a"], max_hops=2)
    assert got == {"a": 0, "b": 1, "c": 2}  # d, e beyond the radius


def test_bfs_multi_source_takes_min(spark):
    edges = [("a", "m"), ("m", "x"), ("z", "x")]
    got = _spark_bfs(spark, edges, ["a", "z"], max_hops=5)
    assert got == {"a": 0, "z": 0, "m": 1, "x": 1}  # x via z, not a->m->x


def test_bfs_matches_python_twin(spark):
    edges = [
        (f"n{i}", f"n{(i * 7 + 3) % 19}") for i in range(19)
    ] + [(f"n{i}", f"n{(i * 3 + 5) % 19}") for i in range(19)]
    edges = [(a, b) for a, b in edges if a != b]
    for seeds in (["n0"], ["n0", "n7"]):
        for hops in (1, 3, 10):
            got = _spark_bfs(spark, edges, seeds, max_hops=hops)
            assert got == _py_bfs(edges, seeds, hops)


def test_bfs_ghost_seed_ignored_and_partitioning_independent(spark):
    edges = [("a", "b"), ("b", "c")]
    got = _spark_bfs(spark, edges, ["a", "ghost"], max_hops=5)
    assert got == {"a": 0, "b": 1, "c": 2}
    big = [(f"n{i}", f"n{(i * 5 + 2) % 13}") for i in range(13)]
    big = [(a, b) for a, b in big if a != b]
    assert _spark_bfs(spark, big, ["n1"], n_parts=1) == _spark_bfs(
        spark, big, ["n1"], n_parts=7
    )


def test_bfs_validation(spark):
    import pytest as _pytest

    from neo4j_export_tool_spark.operators.closure import bfs_distances

    df = spark.createDataFrame([("a", "b")], "s string, d string")
    with _pytest.raises(ValueError):
        bfs_distances(df, "s", "d", ["a"], max_hops=-1)
    with _pytest.raises(ValueError, match="seed"):
        bfs_distances(df, "s", "d", [])
