"""k-core tests: closed-form graphs + an independent pure-python peel twin
on a pseudo-random graph (same rigor pattern as the triangle twins)."""

from __future__ import annotations

import pytest

from neo4j_export_tool_spark.operators.kcore import core_numbers, k_core


def _kcore_py(edges: list[tuple[str, str]], k: int) -> set[str]:
    """Independent reference peel: adjacency sets, one node at a time."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return set(adj)


def _members(spark, edges, k):
    df = spark.createDataFrame(edges, "a string, b string")
    return {r.node for r in k_core(df, "a", "b", k).collect()}


def test_triangle_with_tail(spark):
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "t1"), ("t1", "t2")]
    assert _members(spark, edges, 2) == {"a", "b", "c"}
    assert _members(spark, edges, 3) == set()
    assert _members(spark, edges, 1) == {"a", "b", "c", "t1", "t2"}


def test_cascading_peel(spark):
    # a chain hung off a K4: removing the chain end cascades
    k4 = ["w", "x", "y", "z"]
    edges = [(p, q) for i, p in enumerate(k4) for q in k4[i + 1 :]]
    edges += [("z", "c1"), ("c1", "c2"), ("c2", "c3")]
    assert _members(spark, edges, 2) == set(k4)
    assert _members(spark, edges, 3) == set(k4)
    assert _members(spark, edges, 4) == set()


def test_peel_emptied_on_last_round_is_a_fixpoint(spark):
    # path a-b-c at k=2: round 1 keeps only b, so no edge survives; an
    # empty edge set cannot shrink, so one round is enough
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    assert k_core(df, "a", "b", 2, max_rounds=1).collect() == []


def test_peel_without_ceiling_returns_what_it_reached(spark):
    # path a-…-f at k=2 peels its two end edges per round: 5 → 3 → 1 → 0
    # edges.  Out of rounds, ceiling=None returns the last round's table
    # and count; a ceiling raises.
    from pyspark.sql import functions as F

    from neo4j_export_tool_spark.operators.triangles import _degrees, _peel

    def survivors(und):
        keep = _degrees(und).where(F.col("deg") >= 2).select("node")
        return und.join(
            keep.withColumnRenamed("node", "u"), "u", "leftsemi"
        ).join(keep.withColumnRenamed("node", "v"), "v", "leftsemi")

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")],
        "u string, v string",
    ).localCheckpoint(eager=False)
    left, n = _peel(path, survivors, 2, None)
    assert n == 1
    assert [tuple(r) for r in left.select("u", "v").collect()] == [("c", "d")]
    with pytest.raises(RuntimeError, match="still shrinking"):
        _peel(path, survivors, 2, "still shrinking")


def test_dirty_input_and_validation(spark):
    edges = [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"), ("a", "c")]
    assert _members(spark, edges, 2) == {"a", "b", "c"}
    df = spark.createDataFrame(edges, "a string, b string")
    with pytest.raises(ValueError):
        k_core(df, "a", "b", 0)


def test_matches_python_twin_on_pseudorandom_graph(spark):
    edges = [
        (f"n{i}", f"n{j}")
        for i in range(40)
        for j in range(40)
        if i != j and (i * 31 + j * 17) % 11 < 2
    ]
    df = spark.createDataFrame(edges, "a string, b string")
    for k in (2, 3, 4, 5):
        got = {r.node for r in k_core(df, "a", "b", k).collect()}
        assert got == _kcore_py(edges, k), f"k={k}"


def test_core_numbers_match_twin(spark):
    edges = [
        (f"n{i}", f"n{j}")
        for i in range(25)
        for j in range(25)
        if i != j and (i * 13 + j * 7) % 9 < 2
    ]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r.node: r.core for r in core_numbers(df, "a", "b").collect()}
    want = {}
    k = 0
    remaining = _kcore_py(edges, 1) | {n for e in edges for n in e if e[0] != e[1]}
    for n in remaining:
        want[n] = 0
    k = 1
    while True:
        members = _kcore_py(edges, k)
        if not members:
            break
        for n in members:
            want[n] = k
        k += 1
    assert got == want
    assert max(want.values()) >= 2  # non-vacuous