"""Scan-parallelism helper: conditional repartition after an under-split read.

The driver's test tables are single-row-group parquet files, so a scan
yields ONE input partition no matter the core count — every per-row-heavy
operator (shingling, fingerprinting, Arrow decode kernels) then runs on one
core of N.  This is the guide's "input skew" case (spark_optimization_guide
§2.5: one huge unsplittable input → repartition immediately after the read).

``fan_out`` is scale-adaptive by construction: it compares the input's
partition count to the session parallelism and is a NO-OP when the input is
already split at least half as wide as the core count — at 100 TB a parquet
scan arrives with thousands of splits and no repartition (or shuffle) is
added.  Only narrow inputs pay one small exchange of the raw rows, which is
then amortized by running the heavy per-row compute on every core.

Probing safety: partition counts come from ``df.rdd``, and under AQE that
MATERIALIZES every query stage of an exchange-bearing plan — real Spark
jobs at plan-construction time whose results the caller's later action
cannot reuse (no cross-query shuffle reuse).  So by default ``fan_out``
first walks the ANALYZED plan's node classes (no jobs): if any
shuffle-introducing operator is present (join/aggregate/window/sort/
repartition/distinct), the input's heavy stages already run at the
session's shuffle parallelism, fan-out could only add cost, and the
function returns the input untouched WITHOUT touching ``.rdd``.  Only
narrow scan-shaped plans — where ``.rdd`` compiles without running jobs —
are probed and repartitioned.  ``probe_rdd=True`` opts into the direct
probe for callers whose input is persisted (the probe's materialization
lands in the cache and is reused, e.g. the export serializers).

Determinism: with ``key`` given, the exchange is a plain hash partitioning
on that column (retry-safe, no sort); without it, round-robin repartition
relies on Spark's sort-before-repartition (on by default) for retry
determinism.  Every operator in this package is partitioning-independent by
contract (integer/hash-exact folds), so results are unchanged either way.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# analyzed-plan node class names containing any of these imply a shuffle
# (or a full repartition) somewhere in the input: such plans execute at the
# session's shuffle parallelism already, and probing them via .rdd would
# eagerly run their stages under AQE
_WIDE_PLAN_MARKERS = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Repartition",
    "Deduplicate",
    "Distinct",
    "Intersect",
    "Except",
    "GlobalLimit",
    "FlatMapGroups",
    "CoGroup",
)


def _plan_node_names(plan):
    """Class names of ``plan`` and every node under it, subquery plans
    included, breadth first (wide nodes tend to sit near the root, and the
    caller stops at the first one)."""
    queue = deque([plan])
    while queue:
        node = queue.popleft()
        yield node.nodeName()
        for seq in (node.children(), node.innerChildren()):
            queue.extend(seq.apply(i) for i in range(seq.size()))


def _plan_is_narrow(df: DataFrame) -> bool:
    """No shuffle-introducing node anywhere in the analyzed plan.  Matches
    node class names only, so column names, literals and file paths in the
    plan text cannot flip the decision."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return not any(
            m in name for name in _plan_node_names(plan) for m in _WIDE_PLAN_MARKERS
        )
    except Exception:
        return False


def fan_out(
    df: DataFrame, key: str | None = None, probe_rdd: bool = False
) -> DataFrame:
    """Repartition ``df`` to the session parallelism iff it is an
    under-split narrow input.

    ``key``: optional column to hash-partition on (skips the round-robin
    pre-sort); pick a high-cardinality column (a row id).
    ``probe_rdd``: probe partitioning via ``.rdd`` even for exchange-
    bearing plans — only safe when the input is persisted (see module
    docstring).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if not probe_rdd and not _plan_is_narrow(df):
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df  # unplannable here (e.g. streaming) — leave untouched
    if 2 * n >= target:
        return df
    if key is not None and key in df.columns:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def broadcast_if_small(n_rows: int, ceiling: int):
    """The size-adaptive broadcast tier shared by the count-driven
    decision sites (walks / SCC / LPA / ANF / negative sampling /
    personalized-pagerank seed marker; only pagerank's inner
    `_pagerank_loop` keeps an inline ternary, because it receives the
    decision as a bool across a function boundary, not a count): returns
    ``F.broadcast`` when the measured ``n_rows`` is at or under
    ``ceiling``, else the identity — so loop tables hidden behind
    localCheckpoint/persist barriers (whose size statistics the planner
    cannot see, guide §3.1) are broadcast exactly while they fit and
    keep the scale-safe shuffle shape above the ceiling.  Callers pass
    a count they already took (or that materializes a barrier the loop
    pays for anyway); the choice is physical only — results must be
    partitioning-independent, which each caller pins with a
    tier-equivalence test."""
    return F.broadcast if n_rows <= ceiling else (lambda df: df)
