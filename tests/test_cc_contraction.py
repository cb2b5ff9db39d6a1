"""Correctness evidence for the partition-local union-find contraction.

Two layers:
- hypothesis sweep of the Arrow kernel on ``pa.record_batch`` partitions
  (no Spark): for ANY edge list split into ANY partitioning, empty
  partitions included, the union of the emitted star edges must have
  exactly the same connected components as the input graph, and a single
  partition's stars must already be the final min-member components.
- randomized Spark cross-check: `connected_components` over random graphs
  at random partition counts equals a driver-side union-find oracle.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import neo4j_export_tool_spark.operators.components as C
from neo4j_export_tool_spark.operators.components import (
    connected_components,
    make_contract_kernel_arrow,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side oracle: vertex → min member of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    mins: dict[int, int] = {}
    for x in parent:
        r = find(x)
        mins[r] = min(mins.get(r, x), x)
    return {x: mins[find(x)] for x in parent}


def _batch(edges: list[tuple[int, int]]) -> pa.RecordBatch:
    """One partition as the Arrow batch ``mapInArrow`` hands the kernel."""
    return pa.record_batch(
        [
            pa.array([u for u, _ in edges], type=pa.int64()),
            pa.array([v for _, v in edges], type=pa.int64()),
        ],
        names=["src", "dst"],
    )


def _stars(*batches: pa.RecordBatch) -> list[tuple[int, int]]:
    """Run the kernel over one partition made of ``batches``."""
    out = list(make_contract_kernel_arrow("src", "dst")(iter(batches)))
    return [
        e
        for b in out
        for e in zip(b.column(0).to_pylist(), b.column(1).to_pylist())
    ]


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=60
)


@given(edges=edges_strategy, n_parts=st.integers(1, 4), seed=st.integers(0, 999))
@settings(max_examples=150, deadline=None)
def test_contraction_preserves_connectivity(edges, n_parts, seed):
    rng = random.Random(seed)
    parts: list[list[tuple[int, int]]] = [[] for _ in range(n_parts)]
    for e in edges:
        parts[rng.randrange(n_parts)].append(e)

    stars: list[tuple[int, int]] = []
    for part in parts + [[]]:  # plus one partition that is always empty
        stars.extend(_stars(_batch(part)))
    assert _stars(_batch([])) == []  # an empty partition emits nothing

    # same vertex set, same components, ≤ V star edges per partition
    assert _uf_components(stars) == _uf_components(edges)
    assert len(stars) <= sum(len({v for e in p for v in e}) for p in parts)


@given(edges=edges_strategy)
@settings(max_examples=100, deadline=None)
def test_single_partition_contraction_is_final(edges):
    """One partition sees everything → its stars ARE the final components,
    also when it arrives as several Arrow batches, some of them empty."""
    assert dict(_stars(_batch(edges))) == _uf_components(edges)
    half = len(edges) // 2
    split = _stars(_batch([]), _batch(edges[:half]), _batch([]), _batch(edges[half:]))
    assert dict(split) == _uf_components(edges)


def test_arrow_kernel_preserves_huge_ids_with_nulls():
    """The mapInArrow kernel's reason to exist (round-3 advice): nullable
    int64 edge columns must NOT round-trip through float64 — vertex ids
    above 2^53 stay bit-exact even when the column contains nulls."""
    big = 2**53  # float64 loses odd integers from here up
    a, b, c = big + 1, big + 3, big + 5
    batch = pa.record_batch(
        [
            pa.array([a, b, None, c], type=pa.int64()),
            pa.array([b, None, a, c], type=pa.int64()),
        ],
        names=["src", "dst"],
    )
    kernel = make_contract_kernel_arrow("src", "dst")
    out = list(kernel(iter([batch])))
    assert len(out) == 1
    stars = dict(zip(out[0].column(0).to_pylist(), out[0].column(1).to_pylist()))
    # {a,b} union; b's half-null edge adds b as isolated (already present);
    # a appears via the (None, a) half-null edge too; c self-loop isolates c
    assert stars == {a: a, b: a, c: c}, stars
    # the float64 path would have collapsed big+1 and big+3 onto even
    # neighbors — assert the exact odd values survived
    assert all(k % 2 == 1 for k in stars)


def test_cc_random_graphs_match_oracle(spark):
    """End-to-end: random graphs, random partition counts, exact equality
    with the driver-side union-find oracle."""
    for seed in (3, 17, 42):
        rng = random.Random(seed)
        n, m = 200, 300
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        expected = _uf_components(edges)
        df = spark.createDataFrame(edges, "src long, dst long").repartition(
            rng.choice([2, 3, 5])
        )
        res = connected_components(df, max_iterations=40)
        got = {r["id"]: r["component"] for r in res.components.collect()}
        assert res.converged
        assert got == expected, f"seed={seed}"


def _ids(edges, id_type):
    if id_type == "long":
        return edges
    # unpadded strings: lexicographic order differs from numeric order
    return [tuple(None if x is None else str(x) for x in e) for e in edges]


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_one_partition_finish_equals_loop(spark, id_type, monkeypatch):
    """Tier equivalence for the CC path choice: the one-partition union-find
    finish (the default on a small graph) and the label-propagation loop
    (forced by lowering ``_ONE_TASK_MAX_EDGES``) return identical component
    maps, both converged, on random graphs with half-null edges."""
    for seed in (5, 11):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
        # half-null edges: the non-null endpoint is an isolated vertex
        edges += [(rng.randrange(n, n + 10), None) for _ in range(4)]
        edges += [(None, rng.randrange(n + 10, n + 20)) for _ in range(4)]
        edges.append((None, None))
        rows = _ids(edges, id_type)
        expected = _uf_components(
            [e for e in rows if None not in e]
            + [(x, x) for e in rows if e.count(None) == 1 for x in e if x is not None]
        )
        df = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}").repartition(3)
        got = {}
        for max_edges, path in ((500_000, "one_partition"), (-1, "label_propagation")):
            monkeypatch.setattr(C, "_ONE_TASK_MAX_EDGES", max_edges)
            res = connected_components(df)
            assert res.converged, (path, seed)
            assert res.path == path
            assert res.round_timings["strategy"] == "label_propagation"
            assert res.round_timings["total_batches"] == res.iterations
            got[path] = sorted(
                (r["id"], r["component"]) for r in res.components.collect()
            )
        assert got["one_partition"] == got["label_propagation"], seed
        assert dict(got["one_partition"]) == expected, seed


def test_loop_leaves_session_shuffle_partitions_alone(spark, monkeypatch):
    """The label-propagation loop runs beside other stages' queries (the
    pages pipeline's canonicalize stage), so it must never change the
    session's shuffle partition count, not even for the loop's duration:
    a watcher thread reading the conf every few ms only sees the session
    value."""
    import threading

    monkeypatch.setattr(C, "_ONE_TASK_MAX_EDGES", -1)
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    seen: set[str] = set()
    stop = threading.Event()

    def watch() -> None:
        while not stop.is_set():
            seen.add(spark.conf.get(key))
            stop.wait(0.005)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "src long, dst long"
    ).repartition(3)
    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        res = connected_components(chain, max_iterations=40)
    finally:
        stop.set()
        watcher.join(timeout=10)
    assert not watcher.is_alive()
    assert res.path == "label_propagation" and res.converged
    assert res.components.select("component").distinct().collect() == [(0,)]
    assert seen == {session_value}


def test_null_endpoints_and_empty_graph(spark):
    df = spark.createDataFrame([(1, None), (None, None)], "src long, dst long")
    res = connected_components(df).components
    # the half-null edge's endpoint is a vertex; a null is not
    assert [tuple(r) for r in res.collect()] == [(1, 1)]
    empty = connected_components(spark.createDataFrame([], "src long, dst long"))
    assert (empty.path, empty.n_edges, empty.components.count()) == ("empty", 0, 0)
