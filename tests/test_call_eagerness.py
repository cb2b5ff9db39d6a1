"""Call-time eagerness of the loop operators, pinned by job counts.

Calling ``random_walks`` / ``node2vec_walks`` with ``walk_len > 1`` or
``neighborhood_function`` with ``h >= 1`` runs the counts that pick their
broadcast tiers; ``strongly_connected_components`` runs its per-round
counts and fixpoint checks on every input, and so do the frontier loops
(``transitive_closure``, ``bfs_distances``) and the peel loops
(``k_core``, ``core_numbers``, ``ktruss``).  ``walk_len == 1`` and
``h == 0`` run no action: with adaptive query execution off they start no
job at all, and with it on (the session default) they start only the
shuffle stages that AQE runs under each lazy ``localCheckpoint`` when it is
created — fewer jobs than the same operator with its loop.  The jobs a call
starts are read from the status tracker under a job group set around it.
"""

from __future__ import annotations

import itertools

import pytest

from neo4j_export_tool_spark.operators.anf import neighborhood_function
from neo4j_export_tool_spark.operators.closure import (
    bfs_distances,
    transitive_closure,
)
from neo4j_export_tool_spark.operators.kcore import core_numbers, k_core
from neo4j_export_tool_spark.operators.scc import strongly_connected_components
from neo4j_export_tool_spark.operators.triangles import ktruss
from neo4j_export_tool_spark.operators.walks import node2vec_walks, random_walks

_group_ids = itertools.count()

# operator -> (call without its loop, or None; call with its loop)
_CALLS = {
    "random_walks": (
        lambda e: random_walks(e, "s", "d", walk_len=1),
        lambda e: random_walks(e, "s", "d", walk_len=3),
    ),
    "node2vec_walks": (
        lambda e: node2vec_walks(e, "s", "d", walk_len=1),
        lambda e: node2vec_walks(e, "s", "d", walk_len=3),
    ),
    "neighborhood_function": (
        lambda e: neighborhood_function(e, "s", "d", h=0, p=6),
        lambda e: neighborhood_function(e, "s", "d", h=2, p=6),
    ),
    "strongly_connected_components": (
        None,
        lambda e: strongly_connected_components(e, "s", "d"),
    ),
    "transitive_closure": (None, lambda e: transitive_closure(e, "s", "d")),
    "bfs_distances": (None, lambda e: bfs_distances(e, "s", "d", ["a"])),
    "k_core": (None, lambda e: k_core(e, "s", "d", 2)),
    "core_numbers": (None, lambda e: core_numbers(e, "s", "d")),
    "ktruss": (None, lambda e: ktruss(e, "s", "d", 3)),
}


def _jobs_started(spark, call) -> int:
    sc = spark.sparkContext
    group = f"eagerness-{next(_group_ids)}"
    sc.setJobGroup(group, "call-time eagerness")
    try:
        call()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("aqe", ["false", "true"])
@pytest.mark.parametrize("op", sorted(_CALLS))
def test_call_time_jobs(spark, op, aqe):
    lazy, eager = _CALLS[op]
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "s string, d string"
        )
        n_eager = _jobs_started(spark, lambda: eager(edges))
        n_lazy = None if lazy is None else _jobs_started(spark, lambda: lazy(edges))
    finally:
        spark.conf.set(key, old)
    assert n_eager >= 1
    if n_lazy is None:
        return
    if aqe == "false":
        assert n_lazy == 0
    else:
        assert n_lazy < n_eager, (n_lazy, n_eager)
