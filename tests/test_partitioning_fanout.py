"""Focused tests for the round-7 optimization internals:

- `functions.partitioning.fan_out` — the conditional scan fan-out must
  repartition ONLY narrow under-split inputs, leave exchange-bearing
  plans untouched (probing those via .rdd would materialize their AQE
  stages eagerly), and never change results.
- `operators.mentions._make_matcher` — the word-regex fast path must be
  byte-for-byte equivalent to the Aho-Corasick automaton exactly when it
  claims to be (all-alphanumeric gazetteers), and the automaton must be
  selected whenever it is not.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import (
    _plan_is_narrow,
    fan_out,
)
from neo4j_export_tool_spark.operators.mentions import (
    AhoCorasick,
    _all_word_surfaces,
    _make_matcher,
)


# ---------------------------------------------------------------------------
# fan_out
# ---------------------------------------------------------------------------

def test_fan_out_spreads_narrow_underplit_input(spark):
    df = spark.range(0, 1000, 1, 1).select(F.col("id").alias("doc_id"))
    out = fan_out(df, key="doc_id")
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    # results unchanged (same rows, any order)
    assert sorted(r.doc_id for r in out.collect()) == list(range(1000))


def test_fan_out_noop_when_already_parallel(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, max(target, 2))
    assert fan_out(df, key="id") is df


def test_fan_out_skips_exchange_bearing_plans_without_probe(spark):
    # aggregate in the lineage → wide plan → fan_out must return the
    # input object untouched (identity), proving it never reached the
    # .rdd probe (which under AQE would materialize the shuffle stages)
    df = (
        spark.range(0, 100, 1, 1)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert not _plan_is_narrow(df)
    assert fan_out(df, key="k") is df
    # joins too
    a = spark.range(0, 50, 1, 1)
    j = a.join(a.withColumnRenamed("id", "id2"), a["id"] == F.col("id2"))
    assert not _plan_is_narrow(j)
    assert fan_out(j) is j


def test_fan_out_probe_rdd_overrides_plan_guard(spark):
    df = (
        spark.range(0, 100, 1, 1)
        .groupBy((F.col("id") % 5).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        df.count()  # materialize the cache the probe will reuse
        out = fan_out(df, key="k", probe_rdd=True)
        # 5 post-AQE rows in few partitions → fan-out fires
        assert out is not df
        assert sorted(r.k for r in out.collect()) == [0, 1, 2, 3, 4]
    finally:
        df.unpersist()


def test_fan_out_narrow_filter_projection_still_probes(spark):
    # narrow chain (filter+project over a scan-shaped input) is probed
    df = (
        spark.range(0, 500, 1, 1)
        .filter(F.col("id") % 2 == 0)
        .select((F.col("id") * 2).alias("x"))
    )
    assert _plan_is_narrow(df)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_plan_text_does_not_flip_narrowness(spark, tmp_path):
    # column names and a file path that spell wide-operator names are plan
    # TEXT, not plan nodes: the scan stays narrow and is still fanned out
    path = str(tmp_path / "JoinSortAggregate_Window.parquet")
    spark.range(0, 200, 1, 1).select(
        F.col("id").alias("Join_key"), (F.col("id") % 7).alias("SortOrder")
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path).select(
        "Join_key", (F.col("SortOrder") + 1).alias("Distinct_Repartition")
    )
    assert _plan_is_narrow(df)
    out = fan_out(df, key="Join_key")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # a real join or sort over the same scan is still wide
    assert not _plan_is_narrow(df.orderBy("Join_key"))
    assert not _plan_is_narrow(df.join(df, "Join_key"))
    # ... also when it only appears inside a subquery expression
    df.createOrReplaceTempView("join_sort_scan")
    sub = spark.sql(
        "SELECT Join_key FROM join_sort_scan "
        "WHERE Join_key > (SELECT avg(Join_key) FROM join_sort_scan)"
    )
    assert not _plan_is_narrow(sub)


# ---------------------------------------------------------------------------
# mention matcher fast path
# ---------------------------------------------------------------------------

_WORD_GAZ = ["join", "hash", "data", "row", "über", "naïve", "x9"]
_TEXTS = [
    "join the hash row",                      # plain hits
    "join,hash;row.",                         # punctuation boundaries
    "joined hashing rows",                    # no word-boundary hits
    "_join_ hash_ _hash join_",               # underscore is NOT alnum → boundary
    "über naïve ÜBER",                        # unicode words (case-sensitive match)
    "x9 x99 9x9 x9",                          # digit/letter runs
    "join" ,                                  # exact text == surface
    "",                                       # empty
    "  join  ",                               # leading/trailing spaces
    "a" * 500 + " join " + "b" * 500,         # long filler
]


def test_word_fast_path_equals_automaton_on_word_gazetteers():
    assert _all_word_surfaces(_WORD_GAZ)
    fast = _make_matcher(list(_WORD_GAZ))
    ac = AhoCorasick(_WORD_GAZ)
    for text in _TEXTS:
        assert fast(text) == ac.find(text), text


def test_multiword_gazetteer_selects_the_automaton():
    gaz = ["Acme Analytics", "Acme Analytics Inc", "join"]
    assert not _all_word_surfaces(gaz)
    find = _make_matcher(gaz)
    # longest-leftmost: the longer surface wins over its prefix
    text = "at Acme Analytics Inc we join"
    got = find(text)
    assert ("Acme Analytics Inc" in [s for _, _, s in got])
    assert ("Acme Analytics" not in [s for _, _, s in got])


def test_punctuated_surface_selects_the_automaton():
    gaz = ["c++", "join"]
    assert not _all_word_surfaces(gaz)
    find = _make_matcher(gaz)
    assert [s for _, _, s in find("use c++ to join")] == ["c++", "join"]


def test_broadcast_if_small_boundary():
    """<= ceiling broadcasts; ceiling + 1 (and any larger count) returns
    the identity — the documented tier boundary, pinned exactly."""
    from pyspark.sql import functions as F

    from neo4j_export_tool_spark.functions.partitioning import (
        broadcast_if_small,
    )

    assert broadcast_if_small(0, 10) is F.broadcast
    assert broadcast_if_small(10, 10) is F.broadcast
    ident = broadcast_if_small(11, 10)
    assert ident is not F.broadcast
    sentinel = object()
    assert ident(sentinel) is sentinel
    assert broadcast_if_small(500_000, 500_000) is F.broadcast
    assert broadcast_if_small(500_001, 500_000) is not F.broadcast
