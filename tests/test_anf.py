"""HyperANF tests: bit-exact register twin per hop, estimate accuracy
vs exact BFS ball sizes, monotonicity, partitioning independence."""

from __future__ import annotations

import hashlib

import pytest

from neo4j_export_tool_spark.operators.anf import neighborhood_function

HASH_BITS = 60


def _h60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _balls(edges, h):
    adj: dict[str, set[str]] = {}
    nodes = set()
    for a, b in set(edges):
        adj.setdefault(a, set()).add(b)
        nodes.update((a, b))
    out = {}
    for v in nodes:
        ball = {v}
        frontier = {v}
        hops = [set(ball)]
        for _ in range(h):
            frontier = {
                w for u in frontier for w in adj.get(u, ())
            } - ball
            ball |= frontier
            hops.append(set(ball))
        out[v] = hops
    return out


def _py_registers(members, p, salt="anf"):
    m = 1 << p
    regs: dict[int, int] = {}
    for v in members:
        hh = _h60(f"{salt}:{v}")
        b, w = hh % m, hh >> p
        rho = (
            (HASH_BITS - p + 1)
            if w == 0
            else (HASH_BITS - p + 1) - w.bit_length()
        )
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def _py_estimate(members, p, salt="anf"):
    import math

    m = 1 << p
    regs = _py_registers(members, p, salt)
    # identical fold order to the Spark sorted-struct fold: bucket asc
    s = 0.0
    for b in sorted(regs):
        s += 2.0 ** (-regs[b])
    zeros = float(m - len(regs))
    alpha = (
        0.673 if m == 16 else 0.697 if m == 32
        else 0.709 if m == 64 else 0.7213 / (1.0 + 1.079 / m)
    )
    raw = alpha * m * m / (s + zeros)
    if raw <= 2.5 * m and zeros > 0:
        return float(m) * math.log(float(m) / zeros)
    return raw


def test_matches_python_register_twin(spark):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 17}") for i in range(17)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "s string, d string")
    got = {
        (r.node, r.hop): r.ball_size
        for r in neighborhood_function(df, "s", "d", h=3, p=6).collect()
    }
    for v, hops in _balls(edges, 3).items():
        for hop, ball in enumerate(hops):
            assert got[(v, hop)] == pytest.approx(
                _py_estimate(ball, 6), rel=1e-12
            ), (v, hop)


def test_estimates_and_monotonicity(spark):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 29}") for i in range(29)]
    edges += [(f"n{i}", f"n{(i * 5 + 1) % 29}") for i in range(29)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "s string, d string")
    rows = neighborhood_function(df, "s", "d", h=3, p=8).collect()
    got = {(r.node, r.hop): r.ball_size for r in rows}
    balls = _balls(edges, 3)
    for v, hops in balls.items():
        prev = 0.0
        for hop, ball in enumerate(hops):
            est = got[(v, hop)]
            # p=8 → σ≈6.5%; small balls near-exact via linear counting
            assert est == pytest.approx(len(ball), rel=0.25, abs=1.5)
            # monotonicity holds within one estimator regime; these
            # graphs (<=29 nodes, m=256) stay in linear counting, where
            # growing registers strictly grow the estimate
            assert est >= prev - 1e-9
            prev = est


def test_hop0_is_one(spark):
    df = spark.createDataFrame([("a", "b")], "s string, d string")
    rows = neighborhood_function(df, "s", "d", h=0, p=8).collect()
    assert {r.node for r in rows} == {"a", "b"}
    assert all(r.ball_size == pytest.approx(1.0, abs=0.01) for r in rows)


def test_partitioning_independent_bit_equal(spark):
    edges = [(f"n{i}", f"n{(i * 3 + 2) % 13}") for i in range(13)]
    edges = [(a, b) for a, b in edges if a != b]
    a = {
        (r.node, r.hop): r.ball_size
        for r in neighborhood_function(
            spark.createDataFrame(edges, "s string, d string"), "s", "d",
            h=2, p=6,
        ).collect()
    }
    b = {
        (r.node, r.hop): r.ball_size
        for r in neighborhood_function(
            spark.createDataFrame(edges, "s string, d string").repartition(7),
            "s", "d", h=2, p=6,
        ).collect()
    }
    assert a == b  # exact ==, float bits included


def test_validation(spark):
    df = spark.createDataFrame([("a", "b")], "s string, d string")
    with pytest.raises(ValueError):
        neighborhood_function(df, "s", "d", h=-1)
    with pytest.raises(ValueError):
        neighborhood_function(df, "s", "d", p=3)
    with pytest.raises(ValueError):
        neighborhood_function(df, "s", "d", p=13)


def test_broadcast_and_shuffle_tiers_agree(spark, monkeypatch):
    """The size-adaptive edge broadcast in the per-hop propagation join
    is a physical choice only: forcing the shuffle tier must reproduce
    every (node, hop) estimate bit-for-bit (the estimate fold is a
    sorted, order-independent reduction)."""
    import neo4j_export_tool_spark.functions.partitioning as P

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "s string, d string")
    base = sorted(
        (r.node, r.hop, r.ball_size)
        for r in neighborhood_function(df, "s", "d", h=3, p=8).collect()
    )
    monkeypatch.setattr(P, "_BROADCAST_MAX_ROWS", -1)
    forced = sorted(
        (r.node, r.hop, r.ball_size)
        for r in neighborhood_function(df, "s", "d", h=3, p=8).collect()
    )
    assert base == forced
