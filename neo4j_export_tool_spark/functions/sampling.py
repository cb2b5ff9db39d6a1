"""Deterministic mixture sampling for training-corpus construction.

A training run mixes sources at chosen rates ("30% web, 80% wiki, …").
Doing that with ``rand()`` makes runs irreproducible and resumes
inconsistent; the standard fix is HASH sampling — keep a row iff a
deterministic hash of its id falls under the group's rate.  Properties a
100 TB pipeline needs, all free here:

- reproducible across runs, engines, partitionings (pure column exprs);
- consistent under resume/backfill (a row's fate never changes);
- nested rates compose (rate 30 ⊂ rate 60 for the same salt), so scaling
  a mixture up keeps every previously selected row — no churn.

The bucket is the 60-bit md5 prefix recipe that is bit-portable between
Spark (``conv(substring(md5, 1, 15), 16, 10)``) and DuckDB
(``('0x' || substr(md5, 1, 15))::BIGINT``), so oracles run it verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small
from neo4j_export_tool_spark.functions.similarity import shingle_hash_col


def portable_bucket(col: Column, n_buckets: int = 100, salt: str = "mix") -> Column:
    """Deterministic engine-portable bucket in [0, n_buckets) — the same
    60-bit md5-prefix hash the shingle joins use (`shingle_hash_col`)."""
    key = F.concat(F.lit(salt + ":"), col.cast("string"))
    return shingle_hash_col(key) % n_buckets


def hash_sample(
    df: DataFrame, id_col: str, rate_pct: int, salt: str = "mix"
) -> DataFrame:
    """Keep ~rate_pct% of rows, deterministically by id."""
    return df.filter(portable_bucket(F.col(id_col), 100, salt) < rate_pct)


def mixture_sample(
    df: DataFrame, id_col: str, rate_col: Column, salt: str = "mix"
) -> DataFrame:
    """Per-group mixture: keep each row iff its bucket < its group's rate
    percentage (``rate_col`` — any integer column expression, e.g. a CASE
    over the source column or a joined-in rates dimension)."""
    return df.filter(portable_bucket(F.col(id_col), 100, salt) < rate_col)


def indexed_pool(pool_objs: DataFrame) -> tuple[DataFrame, int]:
    """Dense global index over a candidate pool: returns ``((idx, pobj),
    n)`` where ``idx`` is the 0-based rank of ``pobj`` in the global sort
    order (Spark's binary UTF8 ordering — the same order ``sort_array``
    / DuckDB ``list_sort`` give on these strings) and ``n = |pool|``.

    Scale shape: the pool is range-repartitioned on the object, sorted
    within partitions, and the dense rank is ``partition offset + local
    row_number`` — two linear shuffles of the VOCABULARY (never the
    corpus), no global single-partition sort, no corpus-wide array.  The
    per-partition counts collected to the driver are one row per
    partition.  The index is boundary-independent: whatever split points
    range sampling picks, ``idx`` is the rank in the total order, so the
    obj→idx mapping is deterministic across runs, sessions and cluster
    sizes.  The range-partitioned plan is localCheckpoint'd because the
    offsets and the row_number pass MUST see the same materialized
    boundaries (range sampling is seeded per-RDD; a silent recompute
    could legally pick different split points).
    """
    from pyspark.sql import Window

    first = pool_objs.columns[0]
    distinct = (
        pool_objs.select(F.col(first).alias("pobj"))
        .filter(F.col("pobj").isNotNull())
        .distinct()
    )
    spark = pool_objs.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    parts = (
        distinct.repartitionByRange(n_parts, "pobj")
        .sortWithinPartitions("pobj")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r["_pid"], r["c"])
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy("pobj")
    indexed = (
        parts.withColumn("_rn", F.row_number().over(w))
        .join(off_df, "_pid")
        .select((F.col("_off") + F.col("_rn") - 1).alias("idx"), "pobj")
    )
    return indexed, acc


def negative_samples(
    triples: DataFrame,
    subj_col: str,
    pred_col: str,
    obj_col: str,
    pool_df: DataFrame,
    k: int = 2,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic corrupted-tail negatives for KG-embedding training
    (the TransE-family sampling step): for each (s, p, o) emit ``k`` rows
    (s, p, o, neg_idx, neg_obj) with
    ``neg_obj = sorted_pool[h(s,p,o,i) % |pool|]``, cyclically bumped one
    slot while it equals the true object.

    ``pool_df`` is a DataFrame of candidate objects, ONE PER ROW (first
    column; e.g. ``triples.select("obj")`` — de-duplicated internally).
    The pool is joined in as an indexed TABLE (`indexed_pool`): the
    triple side computes ``idx = h % n`` and ``(idx+1) % n`` and
    equi-joins both against ``(idx, pobj)`` — two shuffle joins on an
    int64 key, the plan shape that still works when the entity
    vocabulary of a 100 TB KG is 10⁸–10⁹ objects.  (The previous form
    carried the whole pool as a one-row ARRAY column; a twin of it in
    tests/test_chunk_spans.py pins the two bit-identical.  An array of
    10⁹ elements in a single row breaks long before any broadcast
    threshold does.)

    The hash is the same 60-bit md5 prefix as `portable_bucket`, so a
    DuckDB oracle replays the sampling verbatim; output is bit-identical
    to the array form, reproducible across runs, engines and
    partitionings, and resume-consistent like `mixture_sample`.
    Requires |pool| ≥ 2 for the bump to terminate.
    """
    pool_tbl, n = indexed_pool(pool_df)
    if n < 2:
        raise ValueError(
            "negative_samples needs a candidate pool of >= 2 objects"
        )
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    base = triples.select(s.alias("subj"), p.alias("pred"), o.alias("obj"))
    exploded = base.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("neg_idx")
    )
    key = F.concat_ws(
        ":", F.lit(salt), F.col("subj"), F.col("pred"), F.col("obj"),
        F.col("neg_idx").cast("string"),
    )
    idx = shingle_hash_col(key) % n
    cand_side = exploded.withColumn("_idx", idx).withColumn(
        "_bidx", (idx + 1) % n
    )
    cand_tbl = pool_tbl.select(
        F.col("idx").alias("_idx"), F.col("pobj").alias("_cand")
    )
    bump_tbl = pool_tbl.select(
        F.col("idx").alias("_bidx"), F.col("pobj").alias("_bump")
    )
    # broadcast the pool side when the MEASURED pool size fits (guide
    # §3.1) — the planner cannot decide this itself: the indexed pool
    # sits behind a localCheckpoint with unknown size statistics, so it
    # falls back to two sort-merge shuffles of the corpus-sized triple
    # table even against a 23-entry pool.  Above the ceiling (a 10⁸–10⁹
    # entity vocabulary) the shuffle-join shape is kept unchanged.
    _b = broadcast_if_small(n)
    joined = cand_side.join(_b(cand_tbl), "_idx").join(_b(bump_tbl), "_bidx")
    neg = F.when(
        F.col("_cand") == F.col("obj"), F.col("_bump")
    ).otherwise(F.col("_cand"))
    return joined.select(
        "subj", "pred", "obj", "neg_idx", neg.alias("neg_obj")
    )


def assign_splits(
    df: DataFrame,
    id_col: str,
    splits: dict[str, int] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic exclusive train/val/test assignment: adds
    ``out_col`` naming the split each row belongs to.  ``splits`` maps
    split name → integer per-mille weight (defaults to
    ``{"train": 980, "val": 10, "test": 10}``); weights must be
    positive and sum to 1000.  A row's bucket is the portable 60-bit
    md5 of ``salt:id`` mod 1000 (the `portable_bucket` convention), so
    the assignment is exclusive and total by construction, stable
    across runs/engines/partitionings, and — critically for a growing
    corpus — ADDING rows never moves an existing row between splits
    (no global shuffle, count, or sort participates).  Split boundaries
    follow the dict's insertion order.

    Pure column projection: zero shuffles, zero actions.
    """
    if splits is None:
        splits = {"train": 980, "val": 10, "test": 10}
    if not splits or any(
        not isinstance(w, int) or w <= 0 for w in splits.values()
    ):
        # floats like 999.5 would pass a sum check yet starve a split
        # (the bucket is integer), so integrality is part of the contract
        raise ValueError("split weights must be positive integers")
    if sum(splits.values()) != 1000:
        raise ValueError(
            f"split weights must sum to 1000 (got {sum(splits.values())})"
        )
    bucket = portable_bucket(F.col(id_col), 1000, salt)
    expr = None
    lo = 0
    for name, w in splits.items():
        cond = bucket < F.lit(lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    # a NULL id would get a NULL split and silently vanish from every
    # split filter, breaking totality — enforce in-plan, zero extra pass
    # (the range-join assert_true convention)
    chk = F.assert_true(
        F.col(id_col).isNotNull(),
        F.lit(f"assign_splits: null id in column {id_col!r}"),
    )
    return df.select("*", F.when(chk.isNull(), expr).alias(out_col))
