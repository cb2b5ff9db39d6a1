"""Product-quantization tests: deterministic training, numpy ADC twin,
planted-copy exactness vs brute force, compression shape, error paths."""

from __future__ import annotations

import numpy as np
import pytest

from neo4j_export_tool_spark.operators.ann import brute_force_topk
from neo4j_export_tool_spark.operators.pq import pq_encode, pq_topk, train_pq

DIM = 8


def _vec(i: int) -> list[float]:
    return [float((i * 31 + j * 17) % 23 - 11) for j in range(DIM)]


def _items(spark, n=120, partitions=4):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(n)], "id long, emb array<double>"
    ).repartition(partitions)


def test_training_is_partitioning_independent(spark):
    a = train_pq(_items(spark, partitions=3), "emb", "id", m=4, n_codes=8, n_iters=3)
    b = train_pq(_items(spark, partitions=11), "emb", "id", m=4, n_codes=8, n_iters=3)
    assert a == b  # bit-identical codebooks regardless of layout


def test_ivf_quantizer_is_partitioning_independent(spark):
    """IVF's coarse quantizer is the same Lloyd kernel with one subspace
    and cosine-argmax assignment: bit-identical centroids at any layout."""
    from pyspark.sql import functions as F

    from neo4j_export_tool_spark.operators.ann import _cosine_argmax, _lloyd

    def train(partitions):
        base = _items(spark, partitions=partitions).select(
            F.col("id").alias("item_id"), F.col("emb").alias("v")
        ).persist()
        try:
            return _lloyd(base, 8, 3, 1, _cosine_argmax)
        finally:
            base.unpersist()

    a = train(3)
    assert len(a) == 1 and len(a[0]) == 8
    assert a == train(11)


def test_training_stops_at_a_fixpoint(spark):
    """A round that leaves the codebooks bit-identical is a fixpoint: the
    result equals one more round's, and the loop stops there instead of
    running every requested round (jobs counted under a job group)."""
    sc = spark.sparkContext
    items = _items(spark)
    sc.setJobGroup("pq-fixpoint", "train_pq n_iters=50")
    try:
        a = train_pq(items, "emb", "id", m=4, n_codes=8, n_iters=50)
    finally:
        sc._jsc.clearJobGroup()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("pq-fixpoint"))
    assert a == train_pq(items, "emb", "id", m=4, n_codes=8, n_iters=51)
    assert n_jobs < 50, n_jobs


def test_encode_matches_numpy_twin(spark):
    items = _items(spark, n=60)
    books = train_pq(items, "emb", "id", m=4, n_codes=8, n_iters=2)
    got = {r.item_id: list(r.codes) for r in pq_encode(items, "emb", "id", books).collect()}

    sub_d = DIM // 4
    want = {}
    for i in range(60):
        v = np.asarray(_vec(i))
        codes = []
        for j in range(4):
            vj = v[j * sub_d : (j + 1) * sub_d]
            Cj = np.asarray(books[j])
            codes.append(int(((vj - Cj) ** 2).sum(axis=1).argmin()))
        want[i] = codes
    assert got == want


def test_codebook_centroid_reconstructs_exactly(spark):
    items = _items(spark, n=40)
    books = train_pq(items, "emb", "id", m=2, n_codes=4, n_iters=2)
    # a vector assembled FROM centroids quantizes to those exact codes
    probe = books[0][2] + books[1][1]
    one = spark.createDataFrame([(999, probe)], "id long, emb array<double>")
    (r,) = pq_encode(one, "emb", "id", books).collect()
    assert list(r.codes) == [2, 1]


def test_planted_copies_rank_first_and_match_brute(spark):
    # q47 construction: plant 3 exact copies of each query as items — the
    # copies share the query's codes, ADC scores them maximal, the exact
    # verify returns cosine 1.0 — so PQ top-3 must equal brute-force top-3.
    qs = [(1000 + q, _vec(200 + q)) for q in range(4)]
    rows = [(i, _vec(i)) for i in range(80)]
    rows += [(2000 + 10 * q + c, v) for q, (_, v) in enumerate(qs) for c in range(3)]
    items = spark.createDataFrame(rows, "id long, emb array<double>")
    queries = spark.createDataFrame(qs, "id long, emb array<double>")

    got = pq_topk(items, queries, "emb", "id", k=3, m=4, n_codes=16, n_iters=2)
    want = brute_force_topk(items, queries, "emb", "id", k=3)
    gl = [(r.query_id, r.rank, r.item_id, round(r.cosine, 12)) for r in got.collect()]
    wl = [(r.query_id, r.rank, r.item_id, round(r.cosine, 12)) for r in want.collect()]
    assert sorted(gl) == sorted(wl)
    assert all(abs(c - 1.0) < 1e-12 for (_, _, _, c) in gl)


def test_compression_shape(spark):
    items = _items(spark)
    books = train_pq(items, "emb", "id", m=4, n_codes=8, n_iters=1)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == DIM // 4 for b in books for c in b)
    (r,) = pq_encode(items.limit(1), "emb", "id", books).collect()
    assert len(r.codes) == 4  # 4 bytes vs 8*8 — the memory story


def test_validation_errors(spark):
    items = _items(spark, n=10)
    with pytest.raises(ValueError, match="divisible"):
        train_pq(items, "emb", "id", m=3)
    with pytest.raises(ValueError, match="256"):
        train_pq(items, "emb", "id", m=4, n_codes=300)
    empty = spark.createDataFrame([], "id long, emb array<double>")
    with pytest.raises(ValueError, match="empty"):
        train_pq(empty, "emb", "id", m=4)


def test_exclude_self_and_k(spark):
    items = _items(spark, n=50)
    queries = items.limit(3)
    out = pq_topk(items, queries, "emb", "id", k=5, m=4, n_codes=8, n_iters=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.item_id != r.query_id
    assert all(len(v) == 5 for v in by_q.values())
    assert all([x.rank for x in sorted(v, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
               for v in by_q.values())


def test_string_ids_supported(spark):
    rows = [(f"doc-{i}", [float((i * 7 + j * 3) % 5) for j in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "uri string, emb array<double>")
    out = pq_topk(df, df.limit(2), "emb", "uri", k=3, m=2, n_codes=4, n_iters=1)
    got = out.collect()
    assert got and all(isinstance(r.item_id, str) and isinstance(r.query_id, str) for r in got)
