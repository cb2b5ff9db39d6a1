"""Label-propagation tests: closed-form communities, tie-break and
synchronous-update semantics, an independent python replay, and
partitioning independence."""

from __future__ import annotations

from collections import Counter

import pytest

from neo4j_export_tool_spark.operators.communities import label_propagation


def _py_lpa(edges, n_iters):
    adj: dict[str, set[str]] = {}
    for a, b in set(edges):
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(n_iters):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(labels[m] for m in nbrs)
            nxt[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    return labels


def _spark_lpa(spark, edges, n_iters, n_parts=None):
    df = spark.createDataFrame(edges, "a string, b string")
    if n_parts:
        df = df.repartition(n_parts)
    rows = label_propagation(df, "a", "b", n_iters=n_iters).collect()
    return {r.node: r.community for r in rows}


def test_two_cliques_with_a_bridge(spark):
    left = ["a1", "a2", "a3", "a4"]
    right = ["b1", "b2", "b3", "b4"]
    edges = [(x, y) for i, x in enumerate(left) for y in left[i + 1:]]
    edges += [(x, y) for i, x in enumerate(right) for y in right[i + 1:]]
    edges += [("a1", "b1")]
    got = _spark_lpa(spark, edges, 5)
    assert len({got[n] for n in left}) == 1
    assert len({got[n] for n in right}) == 1
    assert got["a2"] != got["b2"]


def test_tie_breaks_to_smallest_label(spark):
    # node 'm' has one neighbor in each community → tie → smaller label
    got = _spark_lpa(spark, [("a", "m"), ("z", "m")], 1)
    assert got["m"] == "a"


def test_matches_python_replay(spark):
    edges = [
        (f"n{i:02d}", f"n{j:02d}")
        for i in range(24)
        for j in range(24)
        if i < j and (i * 19 + j * 5) % 9 < 2
    ]
    # include reversed duplicates of some edges: one undirected edge must
    # still mean ONE vote per neighbor (the python replay uses adjacency
    # sets, so a double-counting implementation diverges here)
    edges += [(b, a) for a, b in edges[::3]]
    for iters in (1, 3, 6):
        assert _spark_lpa(spark, edges, iters) == _py_lpa(edges, iters)


def test_reversed_duplicate_edge_is_one_vote(spark):
    # m's neighbors are {z, a}; the reversed duplicate (m, z) of (z, m)
    # must not give z a second vote, so the tie breaks to the smaller
    # label 'a'
    got = _spark_lpa(spark, [("a", "m"), ("z", "m"), ("m", "z")], 1)
    assert got["m"] == "a"


def test_partitioning_independent(spark):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(20)]
    edges = [(a, b) for a, b in edges if a != b]
    a = _spark_lpa(spark, edges, 4, n_parts=1)
    b = _spark_lpa(spark, edges, 4, n_parts=7)
    assert a == b


def test_zero_iters_is_identity_labeling(spark):
    got = _spark_lpa(spark, [("a", "b")], 0)
    assert got == {"a": "a", "b": "b"}


def test_validation(spark):
    df = spark.createDataFrame([("a", "b")], "a string, b string")
    with pytest.raises(ValueError):
        label_propagation(df, "a", "b", n_iters=-1)


def test_broadcast_and_shuffle_tiers_agree(spark, monkeypatch):
    """The size-adaptive label-table broadcast is a physical choice
    only: forcing the shuffle tier must reproduce the labels exactly."""
    import neo4j_export_tool_spark.functions.partitioning as P

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    base = sorted(_spark_lpa(spark, edges, 3).items())
    monkeypatch.setattr(P, "_BROADCAST_MAX_ROWS", -1)
    forced = sorted(_spark_lpa(spark, edges, 3).items())
    assert base == forced
