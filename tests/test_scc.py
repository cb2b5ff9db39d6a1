"""SCC tests: closed forms (cycles, DAGs, nested structures), an
independent iterative-Tarjan twin, ceilings, partitioning independence."""

from __future__ import annotations

import pytest

from neo4j_export_tool_spark.operators.scc import (
    strongly_connected_components,
)


def _py_scc(edges):
    """Iterative Tarjan; returns {node: min-id-of-its-SCC}."""
    adj: dict[str, list[str]] = {}
    nodes = set()
    for a, b in {(str(x), str(y)) for x, y in edges}:
        nodes.update((a, b))
        if a != b:
            adj.setdefault(a, []).append(b)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on: set[str] = set()
    stack: list[str] = []
    out: dict[str, str] = {}
    counter = [0]

    for start in sorted(nodes):
        if start in index:
            continue
        work = [(start, iter(sorted(adj.get(start, []))))]
        index[start] = low[start] = counter[0]
        counter[0] += 1
        stack.append(start)
        on.add(start)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on.add(w)
                    work.append((w, iter(sorted(adj.get(w, [])))))
                    advanced = True
                    break
                elif w in on:
                    low[v] = min(low[v], index[w])
            if not advanced:
                work.pop()
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    cid = min(comp)
                    for w in comp:
                        out[w] = cid
    return out


def _spark_scc(spark, edges, n_parts=None, **kw):
    df = spark.createDataFrame(edges, "s string, d string")
    if n_parts:
        df = df.repartition(n_parts)
    rows = strongly_connected_components(df, "s", "d", **kw).collect()
    got = {r.node: r.scc_id for r in rows}
    assert len(got) == len(rows), "every node assigned exactly once"
    return got


def test_cycle_and_dag(spark):
    # cycle a->b->c->a plus a DAG tail c->x->y
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "x"), ("x", "y")]
    got = _spark_scc(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "y"}


def test_two_cycles_one_way_bridge(spark):
    edges = [("a", "b"), ("b", "a"), ("b", "p"), ("p", "q"), ("q", "p")]
    got = _spark_scc(spark, edges)
    assert got == {"a": "a", "b": "a", "p": "p", "q": "p"}


def test_self_loops_and_singletons(spark):
    got = _spark_scc(spark, [("a", "a"), ("a", "b")])
    assert got == {"a": "a", "b": "b"}


def test_matches_tarjan_twin(spark):
    edges = [
        (f"n{i:02d}", f"n{(i * 7 + 3) % 23:02d}") for i in range(23)
    ] + [
        (f"n{i:02d}", f"n{(i * 5 + 11) % 23:02d}") for i in range(0, 23, 2)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _spark_scc(spark, edges, max_outer_rounds=64)
    assert got == _py_scc(edges)


def test_partitioning_independent(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
             ("e", "d"), ("e", "f")]
    a = _spark_scc(spark, edges, n_parts=1)
    b = _spark_scc(spark, edges, n_parts=7)
    assert a == b


def test_label_ceiling_raises(spark):
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(20)]
    with pytest.raises(RuntimeError, match="max_label_rounds"):
        _spark_scc(spark, chain, max_label_rounds=3)


def test_trim_out_of_rounds_hands_remainder_to_coloring(spark):
    # a decreasing-id 20-node chain: three trim rounds peel three edges
    # off each end, and coloring (whose colors settle at once, every
    # node's predecessors having larger ids) finishes the rest
    chain = [(f"c{i + 1:03d}", f"c{i:03d}") for i in range(19)]
    got = _spark_scc(spark, chain, max_label_rounds=3)
    assert got == _py_scc(chain)


def test_backward_sweep_finishing_on_last_round(spark):
    # the 3-cycle's backward sweep reaches c, b, then nothing new in
    # exactly 3 rounds: an empty last frontier has converged
    cycle = [("a", "b"), ("b", "c"), ("c", "a")]
    got = _spark_scc(spark, cycle, max_label_rounds=3)
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_deep_dag_handled_by_trim(spark):
    # a pure 40-node path has no cycles; before the trim step this
    # needed 40 outer rounds (one root SCC each) and raised the ceiling
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(39)]
    got = _spark_scc(spark, chain)  # default ceilings
    assert got == {f"c{i:03d}": f"c{i:03d}" for i in range(40)}


def test_trim_plus_cycle_mix(spark):
    # DAG tail into a cycle into a DAG head: trim strips both ends,
    # coloring finds the cycle
    edges = [("t1", "t2"), ("t2", "x"), ("x", "y"), ("y", "z"),
             ("z", "x"), ("z", "h1"), ("h1", "h2")]
    got = _spark_scc(spark, edges)
    assert got == {"t1": "t1", "t2": "t2", "x": "x", "y": "x", "z": "x",
                   "h1": "h1", "h2": "h2"}


def test_broadcast_and_shuffle_tiers_agree(spark, monkeypatch):
    """The size-adaptive broadcast of the node-sized loop tables is a
    physical choice only: forcing the shuffle tier must reproduce the
    broadcast tier's assignment exactly."""
    import neo4j_export_tool_spark.functions.partitioning as P

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
             ("e", "d"), ("f", "a"), ("g", "h")]
    df = spark.createDataFrame(edges, "s string, d string")
    base = sorted(
        (r.node, r.scc_id)
        for r in strongly_connected_components(df, "s", "d").collect()
    )
    monkeypatch.setattr(P, "_BROADCAST_MAX_ROWS", -1)
    forced = sorted(
        (r.node, r.scc_id)
        for r in strongly_connected_components(df, "s", "d").collect()
    )
    assert base == forced
