"""Correctness evidence for the partition-local union-find contraction.

Two layers:
- hypothesis sweep of the pure-pandas kernel (no Spark): for ANY edge list
  split into ANY partitioning, the union of the emitted star edges must
  have exactly the same connected components as the input graph, and each
  partition's stars must point at that partition's min member per class.
- randomized Spark cross-check: `connected_components` over random graphs
  at random partition counts equals a driver-side union-find oracle.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neo4j_export_tool_spark.operators.components import (
    connected_components,
    make_contract_kernel,
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

    kernel = make_contract_kernel("src", "dst")
    stars: list[tuple[int, int]] = []
    for part in parts:
        pdf = pd.DataFrame(part, columns=["src", "dst"]) if part else pd.DataFrame(
            {"src": [], "dst": []}
        )
        for out in kernel(iter([pdf])):
            stars.extend(zip(out["src"], out["dst"]))

    # same vertex set, same components, ≤ V star edges per partition
    assert _uf_components(stars) == _uf_components(edges)
    assert len(stars) <= sum(len({v for e in p for v in e}) for p in parts)


@given(edges=edges_strategy)
@settings(max_examples=100, deadline=None)
def test_single_partition_contraction_is_final(edges):
    """One partition sees everything → its stars ARE the final components."""
    kernel = make_contract_kernel("src", "dst")
    pdf = pd.DataFrame(edges, columns=["src", "dst"]) if edges else pd.DataFrame(
        {"src": [], "dst": []}
    )
    stars = {}
    for out in kernel(iter([pdf])):
        stars.update(zip(out["src"], out["dst"]))
    assert stars == _uf_components(edges)


def test_arrow_kernel_preserves_huge_ids_with_nulls():
    """The mapInArrow kernel's reason to exist (round-3 advice): nullable
    int64 edge columns must NOT round-trip through float64 — vertex ids
    above 2^53 stay bit-exact even when the column contains nulls."""
    import pyarrow as pa

    from neo4j_export_tool_spark.operators.components import (
        make_contract_kernel_arrow,
    )

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


@pytest.mark.parametrize("use_local_checkpoint", [True, False])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_one_partition_finish_equals_loop(spark, id_type, use_local_checkpoint):
    """Tier equivalence for the CC path choice: the one-partition union-find
    finish (the default on a small graph) and the label-propagation loop
    (forced with rows_per_loop_partition=1) return identical component
    maps, both converged, on random graphs with half-null edges."""
    for seed, pre_contract in ((5, True), (11, False)):
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
        for rows_per_part, path in ((500_000, "one_partition"), (1, "label_propagation")):
            res = connected_components(
                df,
                use_local_checkpoint=use_local_checkpoint,
                # a reliable checkpoint every round keeps the persist-mode
                # loop's plans short (interval 3 takes ~8× longer here)
                checkpoint_interval=1,
                rows_per_loop_partition=rows_per_part,
                pre_contract=pre_contract,
            )
            assert res.converged, (path, seed)
            assert res.path == path
            assert (res.loop_partitions == 1) == (path == "one_partition")
            assert res.round_timings["strategy"] == "label_propagation"
            assert res.round_timings["total_batches"] == res.iterations
            got[path] = sorted(
                (r["id"], r["component"]) for r in res.components.collect()
            )
        assert got["one_partition"] == got["label_propagation"], (seed, pre_contract)
        assert dict(got["one_partition"]) == expected, (seed, pre_contract)


def test_null_endpoints_and_empty_graph(spark):
    df = spark.createDataFrame([(1, None), (None, None)], "src long, dst long")
    res = connected_components(df, pre_contract=False).components
    # the half-null edge's endpoint is a vertex; a null is not
    assert [tuple(r) for r in res.collect()] == [(1, 1)]
    empty = connected_components(spark.createDataFrame([], "src long, dst long"))
    assert (empty.path, empty.n_edges, empty.components.count()) == ("empty", 0, 0)
