"""Dedup family: exact, Jaccard pairs, MinHash-LSH, SimHash, embedding cosine.

The pages corpus plants near-duplicate docs (same sentences, one filler
swapped), so recall targets are known.
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.dedup import (
    _shingle_sets,
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_from_sets,
    simhash_fingerprints,
)
from neo4j_export_tool_spark.sources.synth import pages_spark_df


@pytest.fixture(scope="module")
def pages(spark):
    return pages_spark_df(spark, 250, seed=5, partitions=4).persist()


def boilerplate_docs(spark):
    """30 docs sharing only a boilerplate phrase (Jaccard ≈ 0.8 between any
    two) plus one true near-dup pair (100, 101) with a long shared body."""
    boiler = "click here to subscribe to our newsletter today and save"
    rows = [(i, f"topic{i} " + boiler) for i in range(30)]
    body = " ".join(f"w{j}" for j in range(40))
    rows += [(100, body + " ending one"), (101, body + " ending two")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def small_vocab_docs(spark):
    """60 random docs over a 2-word vocabulary (at most 8 distinct
    3-shingles): pair similarities spread over [0, 1], so many pairs sit
    just above a threshold (the borderline cases a prefix or positional
    off-by-one would lose)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, " ".join(rng.choice("ab") for _ in range(rng.randint(3, 12))))
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def jaccard_corpora(spark, pages):
    """(corpus, id column) pairs the exact-Jaccard pins run on."""
    return (
        (pages, "url"),
        (boilerplate_docs(spark), "doc_id"),
        (small_vocab_docs(spark), "doc_id"),
    )


def python_jaccard_pairs(rows, threshold_pct, n=3):
    """Independent twin of `jaccard_pairs` without a cap: distinct word
    n-gram shingles of ``text.split(" ")``, every doc pair, integer
    threshold ``100*shared >= t*(n_a+n_b-shared)``."""
    sets = {}
    for doc, text in rows:
        if text is None:
            continue
        toks = text.split(" ")
        sh = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        if sh:
            sets[doc] = sh
    out = []
    for a, b in combinations(sorted(sets), 2):
        shared = len(sets[a] & sets[b])
        n_a, n_b = len(sets[a]), len(sets[b])
        if shared and 100 * shared >= threshold_pct * (n_a + n_b - shared):
            out.append((a, b, shared, n_a, n_b))
    return out


def embedding_neardup_pairs_codegen(df, vec_col, id_col, min_cosine, dim=None):
    """Independent twin of `embedding_neardup_pairs`: the all-pairs join
    with fixed-dim unrolled JVM dots (norms precomputed per vector before
    the pair join)."""
    from neo4j_export_tool_spark.functions.similarity import dot_col, norm_sq_col
    from neo4j_export_tool_spark.operators.dedup import _infer_dim

    dim = dim or _infer_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_sq_col(F.col(vec_col), dim).alias("nsq"),
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("nsq").alias("nsq_a")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("nsq").alias("nsq_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            dot_col(F.col("v_a"), F.col("v_b"), dim)
            / F.sqrt(F.col("nsq_a") * F.col("nsq_b")),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(df, "text", "id").collect()}
    assert out[1] == 2
    assert out[3] == 1


def test_jaccard_pairs_find_planted_neardups(pages):
    pairs = jaccard_pairs(pages, "text", "url", threshold_pct=60, shingle_n=3)
    got = pairs.collect()
    assert len(got) > 0, "planted near-dups must be found"
    for r in got:
        jac = r["shared"] / (r["n_a"] + r["n_b"] - r["shared"])
        assert jac >= 0.6


def test_minhash_lsh_matches_exact(pages):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(pages, "text", "url", threshold_pct=60).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(pages, "text", "url", threshold_pct=60).collect()
    }
    # verified LSH output must equal the exact join (k=64/b=32 → recall ≈ 1)
    assert lsh == exact
    assert len(lsh) > 0


def minhash_capped(df, text_col, id_col, max_bucket_size):
    """`minhash_lsh_pairs` with an absolute bucket cap: the resolved value
    its ``max_bucket_frac`` passes to `minhash_lsh_pairs_from_sets`."""
    return minhash_lsh_pairs_from_sets(
        _shingle_sets(df, text_col, id_col, 3), max_bucket_size=max_bucket_size
    )


def test_minhash_bucket_cap_subsets_and_prunes(spark, pages):
    """``max_bucket_size`` (the q13 df-cap analog for LSH, round-4 sf1
    knee): capped output must be a SUBSET of the uncapped verified pairs
    (only candidate generation shrinks — verification is unchanged), a
    generous cap must change nothing, and on a corpus with a planted hot
    bucket (many identical docs) a tight cap must actually drop the
    quadratic group while keeping unrelated near-dup pairs."""
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(pages, "text", "url").collect()
    }
    generous = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            pages, "text", "url", max_bucket_frac=1.0
        ).collect()
    }
    assert generous == uncapped

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_capped(pages, "text", "url", max_bucket_size=5).collect()
    }
    assert capped <= uncapped

    # planted hot bucket: 40 identical docs (one 40²-pair bucket in every
    # band) + 2 near-dup docs unique in the corpus
    hot = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(40)]
    pair = [
        (100, "unique snowflake words one two three four five six seven"),
        (101, "unique snowflake words one two three four five six EIGHT"),
    ]
    df = spark.createDataFrame(hot + pair, "doc_id long, text string")
    tight = minhash_capped(df, "text", "doc_id", max_bucket_size=5)
    got = {(r["doc_a"], r["doc_b"]) for r in tight.collect()}
    assert (100, 101) in got, "pairs outside hot buckets must survive"
    assert not any(a < 40 and b < 40 for a, b in got), (
        "the hot 40-doc bucket must be skipped under the cap"
    )


def test_simhash_deterministic_and_close_for_neardups(spark, pages):
    fps = simhash_fingerprints(pages, "text", "url")
    again = simhash_fingerprints(pages, "text", "url")
    assert fps.collect() == again.collect()


def test_embedding_neardup(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    pairs = embedding_neardup_pairs(emb, "embedding", "vec_id", min_cosine=0.5)
    got = pairs.collect()
    for r in got:
        assert r["cosine"] >= 0.5
        assert r["id_a"] < r["id_b"]


def test_stop_shingle_pruning_kills_boilerplate_pairs(spark):
    """Hot-shingle skew: docs sharing ONLY a boilerplate phrase pair up
    without pruning but not with it; genuinely near-duplicate docs survive
    either way.  The pruning is a left-semi join ahead of the per-shingle
    pair enumeration (the O(df²) skew bomb at web scale)."""
    docs = boilerplate_docs(spark)

    unpruned = jaccard_pairs(docs, "text", "doc_id", threshold_pct=60)
    pruned = jaccard_pairs(docs, "text", "doc_id", threshold_pct=60,
                           max_shingle_df=10)
    up = {(r["doc_a"], r["doc_b"]) for r in unpruned.collect()}
    pr = {(r["doc_a"], r["doc_b"]) for r in pruned.collect()}
    assert (100, 101) in up and (100, 101) in pr  # true pair survives
    boiler_pairs_up = {p for p in up if p[0] < 100 and p[1] < 100}
    boiler_pairs_pr = {p for p in pr if p[0] < 100 and p[1] < 100}
    assert boiler_pairs_up, "test corpus should pair on boilerplate unpruned"
    assert not boiler_pairs_pr, "pruning must kill boilerplate-only pairs"
    # plan: pruning is a semi-join before the pair enumeration
    from tests.test_plan_quality import plan_of

    assert "LeftSemi" in plan_of(pruned)


def test_blocked_gemm_equals_codegen_bitexact(spark):
    """The GEMM filter-then-verify path must reproduce the codegen all-pairs
    join twin EXACTLY — ids and cosine doubles bit-for-bit — including
    across multiple blocks."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(120):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, [float(f"{x:.6g}") for x in base]))
        if i % 3 == 0:  # planted near-dups
            rows.append((1000 + i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def as_set(out):
        return {(r["id_a"], r["id_b"], r["cosine"]) for r in out.collect()}

    # rows_per_block=50 → 5 blocks → exercises within- AND cross-block paths
    gemm = as_set(embedding_neardup_pairs(
        df, "embedding", "vec_id", min_cosine=0.5, rows_per_block=50))
    exact = as_set(embedding_neardup_pairs_codegen(
        df, "embedding", "vec_id", min_cosine=0.5))
    assert gemm == exact
    assert len(gemm) >= 40  # planted pairs actually present


def test_fractional_caps_match_absolute_at_same_n(spark, pages):
    """The scale-safe fractional bucket cap: at matched N, frac·N
    resolving to the same integer cap must give BIT-IDENTICAL output to
    the absolute cap of `minhash_lsh_pairs_from_sets`, and the
    subset/prune semantics carry over (COVERAGE.md §sf1: an absolute cap
    is always wrong at 10^12 docs)."""
    n = pages.count()
    cap = 5
    abs_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_capped(pages, "text", "url", max_bucket_size=cap).collect()
    }
    frac_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            pages, "text", "url", max_bucket_frac=(cap + 0.7) / n
        ).collect()
    }
    assert frac_pairs == abs_pairs
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(pages, "text", "url").collect()
    }
    assert frac_pairs <= uncapped  # prune-only semantics


def test_jaccard_pairs_equals_python_twin(spark, pages):
    """Uncapped `jaccard_pairs` (the prefix-filtered join) is EXACT: row for
    row equal to a pure-Python all-pairs twin, on the pages corpus, on the
    boilerplate corpus where the df cap (by design) drops pairs, and on a
    small-vocabulary corpus full of borderline pairs."""
    for df, id_col in jaccard_corpora(spark, pages):
        rows = [tuple(r) for r in df.select(id_col, "text").collect()]
        for t in (60, 90):
            got = sorted(
                map(tuple, jaccard_pairs(df, "text", id_col, threshold_pct=t).collect())
            )
            assert got == python_jaccard_pairs(rows, t), (id_col, t)
            if t == 60:
                assert got
    # exact, not a prune: boilerplate-only pairs are kept
    up = jaccard_pairs(boilerplate_docs(spark), "text", "doc_id").collect()
    assert any(r["doc_a"] < 100 and r["doc_b"] < 100 for r in up)


def test_generous_cap_equals_uncapped_jaccard(spark, pages):
    """The one pin between the two algorithms behind `jaccard_pairs`: a
    ``max_shingle_df`` at or above the document count removes nothing, so
    the bounded-df enumeration must equal the prefix join row for row."""
    for df, id_col in jaccard_corpora(spark, pages):
        n = df.count()
        for t in (60, 90):
            capped = sorted(map(tuple, jaccard_pairs(
                df, "text", id_col, threshold_pct=t, max_shingle_df=n).collect()))
            uncapped = sorted(map(tuple, jaccard_pairs(
                df, "text", id_col, threshold_pct=t).collect()))
            assert capped == uncapped, (id_col, t)
            if t == 60:
                assert capped
