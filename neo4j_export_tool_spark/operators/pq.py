"""Product quantization (PQ) for billion-vector ANN memory scaling.

Brute force (`ann.brute_force_topk`) is the exact baseline, LSH/IVF
(`ann.hyperplane_lsh_pairs` / `ann.ivf_topk`) cut *compute*; PQ cuts
*memory*: a D-dim float64 vector (8·D bytes) compresses to ``m`` uint8
codes — at D=128, m=8 that is 1024 → 8 bytes, the difference between a
10⁹-vector index fitting on one executor's RAM or not (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI'11).

Discipline shared with IVF (`operators/ann.py`):

- one deterministic training kernel, `ann._lloyd` (IVF runs it with one
  subspace): crc32-strided init, per-round partial sums folded INSIDE one
  Arrow pass (rows per (partition, subspace, code), not per item) and
  merged driver-side in sorted order — codebooks are independent of
  partitioning and task completion order — with an early exit at the
  first round that leaves the codebooks unchanged;
- zero corpus-wide shuffles: train and encode are single `mapInPandas`
  projections (BLAS GEMM per batch); the only windows run over the small
  pruned candidate set;
- approximate step SELECTS, exact step SCORES: ADC (asymmetric distance:
  per-query lookup table over codebook dot products, summed across
  subspaces) picks candidates; the returned cosines always come from the
  exact sequential-double `cosine_col` over the original vectors, so
  result exactness never rests on quantization or BLAS summation order.

ADC ranks by inner product of the *reconstructed* item (norms are not
corrected), so ``candidates_per_query`` defaults to a generous 8·k —
recall/cost trades like every capped candidate generator in
`operators/dedup.py`.  Measured on the sf0.01 embeddings table (6.4k
vectors, dim 64, k=5 vs `brute_force_topk`): m=4/16 codes → recall 0.38
(too coarse), m=8/64 → 0.90, m=16/64 or m=8/256 → 1.00; defaults sit at
m=8, n_codes=64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.similarity import (
    as_double_array,
    cosine_col,
)
from neo4j_export_tool_spark.operators.ann import _lloyd, _spread_vectors


def _l2_argmin(V, C):
    """Exact argmin of L2 distance from each row of ``V`` to the rows of
    ``C``, first-min on ties — the code of every PQ subspace."""
    d2 = (
        (V * V).sum(axis=1)[:, None]
        - 2.0 * (V @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    return d2.argmin(axis=1)


def train_pq(
    items: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    n_codes: int = 64,
    n_iters: int = 3,
) -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd k-means → ``codebooks[m][code]``.

    ``ann._lloyd`` with ``m`` subspaces and L2-argmin assignment: one
    Arrow pass per round computes ALL m subspaces' partial sums, merged
    driver-side in sorted (sub, code, partition, chunk) order, so the
    float accumulation order is fixed regardless of scheduling.
    """
    base = _spread_vectors(items, vec_col, id_col).persist()
    try:
        return _train(base, m, n_codes, n_iters)
    finally:
        base.unpersist()


def _train(base: DataFrame, m: int, n_codes: int, n_iters: int):
    """`train_pq` on an already prepared (item_id, v) table."""
    if not 1 <= n_codes <= 256:
        raise ValueError("n_codes must be in [1, 256] (uint8 codes)")
    books = _lloyd(base, n_codes, n_iters, m, _l2_argmin)
    if books is None:
        raise ValueError("cannot train PQ on an empty table")
    return books


def pq_encode(
    items: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(item_id, codes array<int>) — one GEMM pass, zero shuffles."""
    import numpy as np

    m = len(codebooks)
    sub_d = len(codebooks[0][0])

    def fn(batches):
        import pandas as pd

        Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            codes = np.empty((len(V), m), dtype=np.int64)
            for j in range(m):
                codes[:, j] = _l2_argmin(V[:, j * sub_d : (j + 1) * sub_d], Cs[j])
            yield pd.DataFrame(
                {"item_id": pdf["item_id"], "codes": list(codes)}
            )

    id_t = next(
        f.dataType.simpleString() for f in items.schema if f.name == id_col
    )
    base = items.select(
        F.col(id_col).alias("item_id"), as_double_array(F.col(vec_col)).alias("v")
    )
    return base.mapInPandas(fn, f"item_id {id_t}, codes array<int>")


def pq_topk(
    items: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    m: int = 8,
    n_codes: int = 64,
    n_iters: int = 3,
    candidates_per_query: int | None = None,
    exclude_self: bool = True,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """(query_id, rank, item_id, cosine) — PQ-ADC candidates, exact verify.

    Queries are expected small (collected into the UDF closure, like the
    broadcast side of `brute_force_topk`); items can be any size.  Each
    item batch scores ALL queries against its codes via the per-query ADC
    lookup table and emits only its local top-``cand`` per query, so the
    shuffled candidate stream is O(n_partitions · n_queries · cand), never
    the corpus.
    """
    import numpy as np

    cand = candidates_per_query or max(8 * k, 32)
    item_id_t = next(
        f.dataType.simpleString() for f in items.schema if f.name == id_col
    )
    query_id_t = next(
        f.dataType.simpleString() for f in queries.schema if f.name == id_col
    )
    # lazy localCheckpoint, NOT persist/unpersist-in-finally: the returned
    # DataFrame is lazy, so an unpersist on return would drop the cache
    # before the caller's action ever ran and the items scan would run
    # twice (ADC candidates + exact verify).  Training reads the same
    # checkpoint, so the items are materialized once.
    base = _spread_vectors(items, vec_col, id_col).localCheckpoint(eager=False)
    books = codebooks or _train(base, m, n_codes, n_iters)
    m = len(books)
    sub_d = len(books[0][0])
    coded = pq_encode(base, "v", "item_id", books)

    q_rows = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("q_vec")
    ).collect()
    if not q_rows:
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {query_id_t}, rank int, "
            f"item_id {item_id_t}, cosine double",
        )
    q_ids = [r.query_id for r in q_rows]
    Q = np.stack([np.asarray(r.q_vec, dtype=np.float64) for r in q_rows])
    # LUT[q, j, c] = q_j · codebook[j][c]  (dot-product ADC)
    lut = np.stack(
        [Q[:, j * sub_d : (j + 1) * sub_d] @ np.asarray(books[j]).T for j in range(m)],
        axis=1,
    )

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (n, m)
            # scores[q, n] = Σ_j LUT[q, j, codes[n, j]]
            scores = lut[:, np.arange(m)[:, None], codes.T].sum(axis=1)
            ids = pdf["item_id"].to_numpy()
            top = min(cand, scores.shape[1])
            # first-index-on-ties partial selection per query
            sel = np.argsort(-scores, axis=1, kind="stable")[:, :top]
            out = {
                "query_id": np.repeat(q_ids, top),
                "item_id": ids[sel].reshape(-1),
                "adc": np.take_along_axis(scores, sel, axis=1).reshape(-1),
            }
            yield pd.DataFrame(out)

    cands = coded.mapInPandas(
        adc, f"query_id {query_id_t}, item_id {item_id_t}, adc double"
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("item_id"))
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("item_id")
    )
    pruned = (
        cands.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= cand)
        .select("query_id", "item_id")
    )
    qdf = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(F.col(vec_col)).alias("q_vec"),
        )
    )
    exact = (
        F.broadcast(pruned)
        .join(base.withColumnRenamed("v", "i_vec"), "item_id")
        .join(qdf, "query_id")
        .withColumn("cosine", cosine_col(F.col("q_vec"), F.col("i_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("item_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cosine")
    )
