"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_force_topk``   — exact cosine top-k (baseline / verify kernel):
  broadcast the query set, score every (query, item) pair JVM-side,
  ``row_number`` window for the top-k.  Linear per query; right answer.
- ``hyperplane_lsh_pairs`` / ``ivf_topk`` — the scale paths: random-
  hyperplane sign buckets (cosine LSH) and a coarse-quantizer IVF,
  probing only the nearest ``n_probe`` cells.  The LSH pairs run on the
  similarity-join steps of `operators.dedup`: `_candidate_pairs` over
  the (table, bucket) postings, `_verified_pairs` for the exact cosine.
- ``_lloyd`` — the one deterministic Lloyd k-means (Arrow-batched
  partial sums, sorted driver-side merge, no MLlib dep): IVF trains its
  coarse quantizer with one subspace, `operators/pq.py::train_pq` its
  product codebooks with ``m``.

Rank determinism: ties broken by item id, so results are reproducible and
oracle-comparable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.similarity import (
    as_double_array,
    cosine_col,
    dot_col,
)


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, rank, item_id, cosine) — exact top-k by cosine.

    ``queries`` is expected to be small (broadcast); items can be any size.
    Norms precomputed per side; fixed-dim unrolled dot stays in codegen.
    """
    from neo4j_export_tool_spark.functions.similarity import norm_sq_col
    from neo4j_export_tool_spark.operators.dedup import _infer_dim

    dim = dim or _infer_dim(items, vec_col)
    if dim is None:  # empty / all-null items → empty result, not a crash
        id_type = next(
            f.dataType.simpleString() for f in items.schema if f.name == id_col
        )
        return queries.sparkSession.createDataFrame(
            [], f"query_id {id_type}, rank int, item_id {id_type}, cosine double"
        )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm_sq_col(F.col(vec_col), dim).alias("q_nsq"),
        )
    )
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    # the per-item unrolled dot products are the lane's whole cost — an
    # under-split items scan would run them on one core (guide §2.5)
    it = fan_out(items, key=id_col).select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).alias("i_vec"),
        norm_sq_col(F.col(vec_col), dim).alias("i_nsq"),
    )
    scored = q.crossJoin(it)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("item_id"))
    scored = scored.withColumn(
        "cosine",
        dot_col(F.col("q_vec"), F.col("i_vec"), dim)
        / F.sqrt(F.col("q_nsq") * F.col("i_nsq")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("item_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (LCG; signs only
    matter)."""
    state = seed * 2654435761 % (1 << 32)
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / (1 << 30)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def _signature_table(
    sig: DataFrame, n_planes: int, n_tables: int, dim: int, seed: int = 7
) -> DataFrame:
    """(id, v) → (id, v, bucket_0..bucket_{T-1}) via ONE Arrow-batched
    numpy GEMM: V(n×d) @ planes(d×T·P) → signs → per-table bucket ints.

    Bucket assignment only partitions the candidate space — every emitted
    pair is re-verified with the exact JVM cosine — so the GEMM's sign
    evaluation needs no bit-parity with any expression form.  Why not one
    dot expression per plane: n_tables×n_planes unrolled dot expressions
    make Catalyst optimization time (seconds per query, constant at any
    scale) dominate a trivial compute; the GEMM is microseconds per batch
    and scales linearly."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    id_type = next(
        f.dataType.simpleString() for f in sig.schema if f.name == "id"
    )
    planes = np.array(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (T, P, D)
    flat = planes.reshape(n_tables * n_planes, dim).T  # (D, T·P)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def sign_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # drop wrong-length vectors instead of letting a ragged batch
            # turn `mat` into an object array and crash the GEMM — a
            # malformed row could never survive the exact verify anyway
            # (its out-of-range dot is null under the expression form)
            ok = pdf["v"].map(lambda v: v is not None and len(v) == dim)
            pdf = pdf[ok]
            if not len(pdf):
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )  # (n, D)
            bits = (mat @ flat > 0).astype(np.int64)
            buckets = bits.reshape(len(pdf), n_tables, n_planes) @ weights
            out = {"id": pdf["id"].values, "v": pdf["v"].values}
            for t in range(n_tables):
                out[f"bucket_{t}"] = buckets[:, t]
            yield pd.DataFrame(out)

    bucket_ddl = ", ".join(f"bucket_{t} long" for t in range(n_tables))
    return sig.mapInPandas(
        sign_buckets, schema=f"id {id_type}, v array<double>, {bucket_ddl}"
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via multi-table hyperplane LSH + exact verify.

    Each table buckets on an independent sign pattern; candidates = pairs
    sharing a bucket in ANY table (union), verified with the exact cosine.
    Shuffle key is (table, bucket) — uniform for centered data.

    Plan shape: ALL tables' bucket ids plus the squared norm are computed
    in ONE pass over the vectors and localCheckpoint'd — each table's
    self-join (two sides) and the verify joins would otherwise re-evaluate
    the n_tables×n_planes×dim unrolled sign expressions per branch.  The
    verify cosine is the fixed-dim unrolled codegen form (the dim-less HOF
    ``aggregate`` falls back to interpreted eval, ~10× slower in joins).
    """
    from neo4j_export_tool_spark.functions.similarity import norm_sq_col
    from neo4j_export_tool_spark.operators.dedup import (
        _candidate_pairs,
        _infer_dim,
        _verified_pairs,
    )

    dim = dim or _infer_dim(df, vec_col)
    if dim is None:  # empty / all-null input → empty result, not a crash
        id_type = next(
            f.dataType.simpleString() for f in df.schema if f.name == id_col
        )
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    sig = fan_out(df, key=id_col).select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    ).filter(F.col("v").isNotNull())
    sig = _signature_table(sig, n_planes, n_tables, dim, seed=7)
    # nsq stays a JVM fixed-dim unrolled expression: it feeds the EXACT
    # verify cosine, which must stay bit-identical to the oracle's
    # list_dot_product formula (the GEMM is candidate-selection only)
    sig = sig.withColumn("nsq", norm_sq_col(F.col("v"), dim)).localCheckpoint(
        eager=False
    )

    # one (table, bucket) posting per row per table → ONE self-join on the
    # composite key instead of n_tables joins + union
    posting = sig.select(
        F.col("id").alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"), F.col(f"bucket_{t}").alias("key")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("doc", "tb.band", "tb.key")
    cand = _candidate_pairs(posting, ["band", "key"]).withColumnsRenamed(
        {"doc_a": "id_a", "doc_b": "id_b"}
    )
    return _verified_pairs(
        cand,
        sig.select("id", "v", "nsq"),
        "id",
        [
            (
                dot_col(F.col("v_a"), F.col("v_b"), dim)
                / F.sqrt(F.col("nsq_a") * F.col("nsq_b"))
            ).alias("cosine")
        ],
        F.col("cosine") >= min_cosine,
    )


def _lloyd(
    base: DataFrame,
    n_codes: int,
    n_iters: int,
    m: int,
    assign: Callable,
) -> list[list[list[float]]] | None:
    """Deterministic Lloyd k-means over ``m`` subspaces of ``base``'s
    ``(item_id, v)`` rows → ``codebooks[m][code]``, or ``None`` on an
    empty ``base``.  IVF's coarse quantizer is ``m == 1``; PQ trains all
    its subspaces in the same rounds.

    ``base`` must already be materialized-once (persist or lazy
    localCheckpoint): the sample and every round read it, and its
    lifetime stays with the caller.  Init: the ``n_codes`` lowest rows in
    crc32-strided id order (fewer rows → fewer codes).  Each round is ONE
    Arrow pass: ``assign(V_j, C_j)`` picks each row's code per subspace,
    and per-(partition, chunk, subspace, code) partial sums — not rows —
    are collected and merged driver-side in sorted (sub, code, partition,
    chunk) order, so the float accumulation order is fixed whatever the
    scheduling; an empty code keeps its centroid.  A round that returns
    bit-identical codebooks is a fixpoint (rounds are deterministic), so
    the loop stops there."""
    import numpy as np

    first = [
        r["v"]
        for r in base.orderBy(F.crc32(F.col("item_id").cast("string")) % 997, "item_id")
        .limit(n_codes)
        .collect()
    ]
    if not first:
        return None
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    n_codes = len(first)
    books = [[v[j * sub_d : (j + 1) * sub_d] for v in first] for j in range(m)]

    def _partials(bks):
        Cs = [np.asarray(b, dtype=np.float64) for b in bks]

        def fn(batches):
            import pandas as pd
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            seq = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(pdf["v"].to_numpy())
                rows = []
                for j in range(m):
                    Vj = V[:, j * sub_d : (j + 1) * sub_d]
                    code = assign(Vj, Cs[j])
                    for c in np.unique(code):
                        sel = Vj[code == c]
                        rows.append(
                            (pid, seq, j, int(c), len(sel), sel.sum(axis=0).tolist())
                        )
                seq += 1
                yield pd.DataFrame(
                    rows, columns=["pid", "seq", "sub", "code", "cnt", "s"]
                )

        return fn

    partial_schema = "pid int, seq int, sub int, code int, cnt long, s array<double>"
    for _ in range(n_iters):
        parts = base.mapInPandas(_partials(books), partial_schema).collect()
        acc: dict[tuple[int, int], tuple[int, np.ndarray]] = {}
        for r in sorted(parts, key=lambda r: (r.sub, r.code, r.pid, r.seq)):
            cnt, s = acc.get((r.sub, r.code), (0, np.zeros(sub_d)))
            acc[(r.sub, r.code)] = (cnt + r.cnt, s + np.asarray(r.s))
        new = [
            [
                (acc[(j, c)][1] / acc[(j, c)][0]).tolist()
                if (j, c) in acc
                else books[j][c]  # empty code keeps its centroid
                for c in range(n_codes)
            ]
            for j in range(m)
        ]
        if np.asarray(new).tobytes() == np.asarray(books).tobytes():
            break
        books = new
    return books


def _cosine_scores(V, C):
    """(rows × cells) score matrix for cell ranking.  Dividing by the row
    norm is skipped: it is a positive per-row constant, so argmax and the
    full cell ordering are unchanged; zero-norm centroids map to +inf so
    they rank first, like NaN under a desc sort."""
    import numpy as np

    Cn = np.sqrt((C * C).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        S = (V @ C.T) / Cn
    return np.where(np.isnan(S), np.inf, S)


def _spread_vectors(items: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(item_id, v double array), repartitioned to the session parallelism:
    the (often single-file) scan is spread once, up front, since the
    zero-shuffle k-means and assignment passes have no exchange of their
    own to parallelize them."""
    return items.select(
        F.col(id_col).alias("item_id"), as_double_array(F.col(vec_col)).alias("v")
    ).repartition(items.sparkSession.sparkContext.defaultParallelism)


def _cosine_argmax(V, C):
    return _cosine_scores(V, C).argmax(axis=1)


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_iters: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    Coarse quantizer: ``_lloyd`` over the items with one subspace and
    cosine-argmax assignment (centroids collected to the driver each
    round — n_cells×dim doubles, trivially small).  Items are assigned to
    their nearest cell; each query probes its ``n_probe`` nearest cells
    only.  At 100 TB the cell assignment is the partition key (write
    bucketed by cell), so a probe touches n_probe/n_cells of the data.

    Cell assignment is an Arrow-batched numpy GEMM over the whole batch:
    the centroids are a driver-side list shipped in the UDF closure, so
    per-row argmax is ``V @ C.T`` + argmax — ZERO Exchange, one
    `mapInPandas` pass, BLAS throughput.  The items are read through a
    lazy localCheckpoint (the `pq_topk` discipline): the returned frame
    is lazy, so a cache dropped on return would re-run the items scan
    and repartition for the caller's action.

    Assignment is candidate SELECTION only — the returned cosines still
    come from the exact sequential-double `cosine_col` verify below, the
    same GEMM-candidates/exact-verify split `embedding_neardup_pairs`
    uses — so engine-exactness of the scoring never rests on BLAS
    summation order.  Ties rank d desc, cell asc (argmax/stable argsort
    take the first maximum) and zero-norm centroids score as +inf.
    """
    import numpy as np

    item_id_t = next(
        f.dataType.simpleString() for f in items.schema if f.name == id_col
    )
    query_id_t = next(
        f.dataType.simpleString() for f in queries.schema if f.name == id_col
    )
    base = _spread_vectors(items, vec_col, id_col).localCheckpoint(eager=False)
    books = _lloyd(base, n_cells, n_iters, 1, _cosine_argmax)
    if books is None:
        return items.sparkSession.createDataFrame(
            [],
            f"query_id {query_id_t}, rank int, item_id {item_id_t}, cosine double",
        )
    (centroids,) = books
    # fewer items than requested cells → the quantizer shrank
    n_probe = min(n_probe, len(centroids))
    C = np.asarray(centroids, dtype=np.float64)

    def _assign_items(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            out = pdf.rename(columns={"v": "i_vec"})
            out["cell"] = _cosine_argmax(V, C).astype("int32")
            yield out

    items_cells = base.mapInPandas(
        _assign_items, f"item_id {item_id_t}, i_vec array<double>, cell int"
    )
    q = queries.select(F.col(id_col).alias("query_id"), as_double_array(F.col(vec_col)).alias("q_vec"))

    def _assign_probes(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["q_vec"].to_numpy())
            # stable argsort of -S: d desc, then cell asc on ties
            order = np.argsort(-_cosine_scores(V, C), axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy().repeat(n_probe),
                    "q_vec": pdf["q_vec"].to_numpy().repeat(n_probe),
                    "cell": order.reshape(-1).astype("int32"),
                }
            )

    q_cells = q.mapInPandas(
        _assign_probes, f"query_id {query_id_t}, q_vec array<double>, cell int"
    )
    scored = q_cells.join(items_cells, "cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("item_id"))
    scored = scored.withColumn("cosine", cosine_col(F.col("q_vec"), F.col("i_vec")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cosine")
    )
