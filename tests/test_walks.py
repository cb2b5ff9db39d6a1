"""Random-walk corpus tests: closed-form paths, dead-end retirement,
multiplicity, an independent python replay of the md5 hash-argmin
picks, and partitioning independence."""

from __future__ import annotations

import hashlib

import pytest

from neo4j_export_tool_spark.operators.walks import (
    node2vec_walks,
    random_walks,
    skipgram_pairs,
)


def _h60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _py_walks(edges, walk_len, walks_per_node, salt="walk"):
    adj = {}
    for s, d in set(edges):
        adj.setdefault(str(s), set()).add(str(d))
    out = {}
    for start in adj:
        for i in range(walks_per_node):
            wid = f"{start}#{i}"
            path, cur = [start], start
            for step in range(1, walk_len):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                cur = min(nbrs, key=lambda d: (_h60(f"{salt}:{wid}:{step}:{d}"), d))
                path.append(cur)
            out[wid] = (start, path)
    return out


def _spark_walks(spark, edges, walk_len, walks_per_node, n_parts=None, **kw):
    df = spark.createDataFrame(edges, "s string, d string")
    if n_parts:
        df = df.repartition(n_parts)
    rows = random_walks(df, "s", "d", walk_len=walk_len, walks_per_node=walks_per_node, **kw).collect()
    return {r.walk_id: (r.start, list(r.path)) for r in rows}


def test_single_path_graph_is_followed(spark):
    got = _spark_walks(spark, [("a", "b"), ("b", "c"), ("c", "d")], 4, 1)
    assert got["a#0"] == ("a", ["a", "b", "c", "d"])
    assert got["b#0"] == ("b", ["b", "c", "d"])


def test_dead_end_retires_early(spark):
    got = _spark_walks(spark, [("a", "b")], 5, 1)
    assert got["a#0"] == ("a", ["a", "b"])
    assert set(got) == {"a#0"}  # b has no outgoing edge → no walk from b


def test_walks_per_node_multiplicity_and_divergence(spark):
    edges = [("a", f"n{i}") for i in range(8)] + [(f"n{i}", "a") for i in range(8)]
    got = _spark_walks(spark, edges, 3, 4)
    assert sum(1 for w in got if w.startswith("a#")) == 4
    # different walk ids hash differently → walks from 'a' should not all
    # pick the same first hop (8 neighbors, 4 salted picks)
    firsts = {got[f"a#{i}"][1][1] for i in range(4)}
    assert len(firsts) > 1


def test_matches_python_replay(spark):
    edges = [
        (f"n{i}", f"n{j}")
        for i in range(20)
        for j in range(20)
        if i != j and (i * 23 + j * 7) % 11 < 3
    ]
    got = _spark_walks(spark, edges, 6, 2)
    want = _py_walks(edges, 6, 2)
    assert got == want


def test_partitioning_independent(spark):
    edges = [
        (f"n{i}", f"n{(i * 3 + 1) % 15}")
        for i in range(15)
    ] + [(f"n{i}", f"n{(i * 5 + 2) % 15}") for i in range(15)]
    a = _spark_walks(spark, edges, 5, 2, n_parts=1)
    b = _spark_walks(spark, edges, 5, 2, n_parts=6)
    assert a == b


def test_validation(spark):
    df = spark.createDataFrame([("a", "b")], "s string, d string")
    with pytest.raises(ValueError):
        random_walks(df, "s", "d", walk_len=0)
    with pytest.raises(ValueError):
        random_walks(df, "s", "d", walks_per_node=0)


# ---------------------------------------------------------------- skip-gram


def _py_skipgram(paths, window):
    pairs = []
    for path in paths:
        if path is None:
            continue
        for i, cx in enumerate(path):
            for j, tx in enumerate(path):
                if j != i and abs(j - i) <= window:
                    pairs.append((cx, tx))
    return sorted(pairs)


def _spark_skipgram(spark, paths, window, **kw):
    df = spark.createDataFrame([(p,) for p in paths], "path array<string>")
    out = skipgram_pairs(df, "path", window=window, **kw)
    return out


def test_skipgram_closed_form(spark):
    got = sorted(
        (r.center, r.context)
        for r in _spark_skipgram(spark, [["a", "b", "c"]], 1).collect()
    )
    assert got == [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]


def test_skipgram_matches_python_replay(spark):
    paths = [
        [f"n{(i * k + 3) % 9}" for i in range(1 + k % 6)] for k in range(12)
    ]
    for w in (1, 2, 4):
        got = sorted(
            (r.center, r.context)
            for r in _spark_skipgram(spark, paths, w).collect()
        )
        assert got == _py_skipgram(paths, w)


def test_skipgram_counts_aggregate(spark):
    paths = [["a", "b"], ["a", "b"], ["b", "a"]]
    got = {
        (r.center, r.context): r.n
        for r in _spark_skipgram(spark, paths, 1, with_counts=True).collect()
    }
    assert got == {("a", "b"): 3, ("b", "a"): 3}


def test_skipgram_degenerate_paths(spark):
    assert _spark_skipgram(spark, [["solo"], [], None], 2).count() == 0


def test_skipgram_raw_pairs_plan_has_no_exchange(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], "path array<string>")
    plan = skipgram_pairs(df, "path", window=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_skipgram_nonidentifier_column_name(spark):
    df = spark.createDataFrame(
        [(["a", "b"],)], "path array<string>"
    ).withColumnRenamed("path", "walk path")
    got = sorted(
        (r.center, r.context)
        for r in skipgram_pairs(df, "walk path", window=1).collect()
    )
    assert got == [("a", "b"), ("b", "a")]


def test_skipgram_validation(spark):
    df = spark.createDataFrame([(["a"],)], "path array<string>")
    with pytest.raises(ValueError):
        skipgram_pairs(df, "path", window=0)


def test_skipgram_end_to_end_over_walks(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")]
    walks = random_walks(
        spark.createDataFrame(edges, "s string, d string"), "s", "d",
        walk_len=4, walks_per_node=1,
    )
    pairs = skipgram_pairs(walks, "path", window=2, with_counts=True)
    rows = pairs.collect()
    assert rows and all(r.n >= 1 and r.center != "" for r in rows)
    # every pair's nodes come from the graph's vocabulary
    vocab = {"a", "b", "c"}
    assert all(r.center in vocab and r.context in vocab for r in rows)


# ---------------------------------------------------------------- node2vec


def _py_node2vec(
    edges, walk_len, walks_per_node, w_return=1, w_near=1, w_far=1, salt="n2v"
):
    eset = {(str(s), str(d)) for s, d in set(edges)}
    adj: dict[str, list[str]] = {}
    for s, d in eset:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()
    out = {}
    for start in adj:
        for i in range(walks_per_node):
            wid = f"{start}#{i}"
            path, prev, cur = [start], None, start
            for step in range(1, walk_len):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                ws = [
                    1 if prev is None
                    else w_return if x == prev
                    else w_near if (prev, x) in eset
                    else w_far
                    for x in nbrs
                ]
                r = _h60(f"{salt}:{wid}:{step}") % sum(ws)
                cum = 0
                for x, w in zip(nbrs, ws):
                    cum += w
                    if r < cum:
                        nxt = x
                        break
                path.append(nxt)
                prev, cur = cur, nxt
            out[wid] = (start, tuple(path))
    return out


def _sym(edges):
    return list({(a, b) for a, b in edges} | {(b, a) for a, b in edges})


def _spark_n2v(spark, edges, n_parts=None, **kw):
    df = spark.createDataFrame(edges, "s string, d string")
    if n_parts:
        df = df.repartition(n_parts)
    rows = node2vec_walks(df, "s", "d", **kw).collect()
    return {r.walk_id: (r.start, tuple(r.path)) for r in rows}


def test_node2vec_matches_python_replay(spark):
    edges = _sym(
        (f"n{i}", f"n{(i * 7 + 3) % 13}") for i in range(13)
        if f"n{i}" != f"n{(i * 7 + 3) % 13}"
    )
    edges += _sym([("n1", "n5"), ("n2", "n9"), ("n4", "n11")])
    for kw in (
        dict(w_return=1, w_near=1, w_far=1),
        dict(w_return=4, w_near=2, w_far=1),
        dict(w_return=1, w_near=1, w_far=6),
    ):
        got = _spark_n2v(spark, edges, walk_len=6, walks_per_node=2, **kw)
        assert got == _py_node2vec(edges, 6, 2, **kw)


def test_node2vec_return_bias(spark):
    # path graph a-b-c-d; with an overwhelming return weight the walk
    # from 'a' must bounce a,b,a,b,... (first hop is uniform: a->b only)
    edges = _sym([("a", "b"), ("b", "c"), ("c", "d")])
    got = _spark_n2v(
        spark, edges, walk_len=5, walks_per_node=1,
        w_return=10_000, w_near=1, w_far=1,
    )
    assert got["a#0"] == ("a", ("a", "b", "a", "b", "a"))


def test_node2vec_outward_bias(spark):
    # same path graph; overwhelming w_far drives the walk outward:
    # from b (prev=a), c is distance-2 from a, so a,b,c then d
    edges = _sym([("a", "b"), ("b", "c"), ("c", "d")])
    got = _spark_n2v(
        spark, edges, walk_len=4, walks_per_node=1,
        w_return=1, w_near=1, w_far=10_000,
    )
    assert got["a#0"] == ("a", ("a", "b", "c", "d"))


def test_node2vec_dead_end_retires(spark):
    got = _spark_n2v(spark, [("a", "b")], walk_len=5, walks_per_node=1)
    assert got["a#0"] == ("a", ("a", "b"))
    assert "b#0" not in got  # b has no outgoing edge, no walk starts there


def test_node2vec_partitioning_independent(spark):
    edges = _sym((f"n{i}", f"n{(i * 5 + 2) % 11}") for i in range(11))
    edges = [(a, b) for a, b in edges if a != b]
    kw = dict(walk_len=5, walks_per_node=2, w_return=3, w_near=2, w_far=1)
    assert _spark_n2v(spark, edges, n_parts=1, **kw) == _spark_n2v(
        spark, edges, n_parts=7, **kw
    )


def test_node2vec_validation(spark):
    df = spark.createDataFrame([("a", "b")], "s string, d string")
    for kw in (
        dict(walk_len=0),
        dict(walks_per_node=0),
        dict(w_return=0),
        dict(w_near=-1),
        dict(w_far=0),
        dict(w_far=2.5),  # floats must be rejected, not truncated
    ):
        with pytest.raises(ValueError):
            node2vec_walks(df, "s", "d", **kw)


# ------------------------------------------------------------- neighbor cap


def _py_cap(edges, k, salt):
    adj: dict[str, list[str]] = {}
    for s, d in {(str(a), str(b)) for a, b in edges}:
        adj.setdefault(s, []).append(d)
    out = []
    for s, ds in adj.items():
        ranked = sorted(ds, key=lambda d: (_h60(f"{salt}:cap:{s}:{d}"), d))
        out += [(s, d) for d in ranked[:k]]
    return sorted(out)


def test_cap_neighbors_matches_python_replay(spark):
    from neo4j_export_tool_spark.operators.walks import cap_neighbors

    edges = [(f"n{i % 5}", f"m{j}") for i in range(5) for j in range(9)]
    df = spark.createDataFrame(edges, "s string, d string")
    for k in (1, 3, 9, 20):
        got = sorted(
            (r.s, r.d) for r in cap_neighbors(df, "s", "d", k, "walk").collect()
        )
        assert got == _py_cap(edges, k, "walk")


def test_capped_walks_live_on_capped_graph(spark):
    # hub with 6 neighbors, cap 2: every hop from 'hub' must land in the
    # python-replayed capped neighbor set, for both walk operators
    edges = [("hub", f"x{i}") for i in range(6)] + [
        (f"x{i}", "hub") for i in range(6)
    ]
    allowed = {d for s, d in _py_cap(edges, 2, "walk") if s == "hub"}
    got = _spark_walks(spark, edges, 4, 2, max_neighbors_per_node=2)
    for wid, (start, path) in got.items():
        for prev, nxt in zip(path, path[1:]):
            if prev == "hub":
                assert nxt in allowed
    allowed_n2v = {d for s, d in _py_cap(edges, 2, "n2v") if s == "hub"}
    got2 = _spark_n2v(
        spark, edges, walk_len=4, walks_per_node=2, max_neighbors_per_node=2
    )
    for wid, (start, path) in got2.items():
        for prev, nxt in zip(path, path[1:]):
            if prev == "hub":
                assert nxt in allowed_n2v


def test_capped_walks_partitioning_independent(spark):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(23)]
    edges += [(f"n{i}", f"n{(i * 5 + 1) % 23}") for i in range(23)]
    edges = [(a, b) for a, b in edges if a != b]
    a = _spark_walks(spark, edges, 4, 1, n_parts=1, max_neighbors_per_node=2)
    b = _spark_walks(spark, edges, 4, 1, n_parts=7, max_neighbors_per_node=2)
    assert a == b


def test_cap_validation(spark):
    from neo4j_export_tool_spark.operators.walks import cap_neighbors

    df = spark.createDataFrame([("a", "b")], "s string, d string")
    with pytest.raises(ValueError):
        cap_neighbors(df, "s", "d", 0, "walk")


def test_random_walks_broadcast_and_shuffle_tiers_agree(spark, monkeypatch):
    """The size-adaptive broadcast is a physical choice only: forcing
    the shuffle tier (ceiling below any graph) must reproduce the
    broadcast tier's walks bit-for-bit."""
    import neo4j_export_tool_spark.functions.partitioning as P

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
             ("e", "a"), ("f", "c")]
    df = spark.createDataFrame(edges, "s string, d string")
    base = sorted(
        (r.walk_id, r.start, list(r.path))
        for r in random_walks(df, "s", "d", walk_len=5, walks_per_node=2).collect()
    )
    monkeypatch.setattr(P, "_BROADCAST_MAX_ROWS", -1)
    forced = sorted(
        (r.walk_id, r.start, list(r.path))
        for r in random_walks(df, "s", "d", walk_len=5, walks_per_node=2).collect()
    )
    assert base == forced


def test_node2vec_broadcast_and_shuffle_tiers_agree(spark, monkeypatch):
    import neo4j_export_tool_spark.functions.partitioning as P

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
             ("e", "a"), ("f", "c")]
    df = spark.createDataFrame(edges, "s string, d string")
    kw = dict(walk_len=5, walks_per_node=2, w_return=1, w_near=2, w_far=4)
    base = sorted(
        (r.walk_id, r.start, list(r.path))
        for r in node2vec_walks(df, "s", "d", **kw).collect()
    )
    monkeypatch.setattr(P, "_BROADCAST_MAX_ROWS", -1)
    forced = sorted(
        (r.walk_id, r.start, list(r.path))
        for r in node2vec_walks(df, "s", "d", **kw).collect()
    )
    assert base == forced
