"""ANN search, connected components, entity linking."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.ann import (
    brute_force_topk,
    hyperplane_lsh_pairs,
    ivf_topk,
)
from neo4j_export_tool_spark.operators.components import connected_components
from neo4j_export_tool_spark.operators.linking import (
    _trigrams,
    kb_from_gazetteer,
    link_mentions,
)
from neo4j_export_tool_spark.sources.synth import GAZETTEER


# -- scalar twins of the linking kernels --------------------------------------

def _reduce_sorted(weights: np.ndarray) -> float:
    """THE canonical float fold for link scores: ``np.add.reduceat`` over
    weights in lexicographically-sorted trigram order.  One fixed
    reduction tree over one fixed element order → bit-identical across
    processes, hash seeds, and the batch scorer's segments (it runs the
    same reduceat per segment)."""
    if len(weights) == 0:
        return 0.0
    return float(np.add.reduceat(weights, np.array([0]))[0])


def _sorted_trigram_sum(trigrams, idf, default: float) -> float:
    """Sum of squared IDF weights in SORTED trigram order — Python set
    iteration order is hash-seed-dependent (varies across executor
    processes), and float addition is not associative, so an unsorted sum
    would make link scores differ in the last ulp between runs and could
    flip top-1 ties.  The fold itself is ``_reduce_sorted`` (numpy
    reduceat), the same reduction the vectorized batch scorer applies per
    segment — scalar and batch paths agree to the bit."""
    w = np.array([idf.get(t, default) for t in sorted(trigrams)], dtype=np.float64)
    return _reduce_sorted(w * w)


def build_idf(names: list[str]) -> dict[str, float]:
    """Single-process twin of ``kb_trigram_idf``: smoothed IDF per trigram over
    the KB name corpus, idf(t) = ln((1+N)/(1+df(t))) + 1."""
    n = len(names)
    df: dict[str, int] = {}
    for name in names:
        for t in _trigrams(name):
            df[t] = df.get(t, 0) + 1
    return {t: math.log((1 + n) / (1 + d)) + 1.0 for t, d in df.items()}


def tfidf_trigram_cosine(a: str, b: str, idf) -> float:
    """Scalar twin of ``_score_pairs_batch``: IDF-weighted character-trigram
    cosine (binary TF; surfaces are short), so shared boilerplate trigrams
    ("Inc", "Ltd", " Co") carry little weight and distinctive name trigrams
    dominate."""
    ta, tb = _trigrams(a), _trigrams(b)
    if not ta or not tb:
        return 0.0
    default = 1.0
    num = _sorted_trigram_sum(ta & tb, idf, default)
    na = math.sqrt(_sorted_trigram_sum(ta, idf, default))
    nb = math.sqrt(_sorted_trigram_sum(tb, idf, default))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return num / (na * nb)


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()


def test_brute_force_topk(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5)
    out = brute_force_topk(embeddings, queries, "embedding", "vec_id", k=5)
    rows = out.collect()
    assert len(rows) == 25
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["item_id"] != q for r in rs)


def test_ivf_topk_recall(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(embeddings, queries, "embedding", "vec_id", k=5)
    approx = ivf_topk(
        embeddings, queries, "embedding", "vec_id", k=5, n_cells=8, n_probe=4
    )
    e = {(r["query_id"], r["item_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["item_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall {recall}"


def test_hyperplane_lsh_pairs_subset_of_exact(embeddings):
    from neo4j_export_tool_spark.operators.dedup import embedding_neardup_pairs

    small = embeddings.limit(150)
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(small, "embedding", "vec_id", 0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(
            small, "embedding", "vec_id", min_cosine=0.4
        ).collect()
    }
    assert lsh <= exact  # verification guarantees precision 1


def test_connected_components_chain_and_clique(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    res = connected_components(edges, max_iterations=10)
    comp = {r["id"]: r["component"] for r in res.components.collect()}
    assert res.converged
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20
    assert comp[1] != comp[10] != comp[20]


def test_connected_components_long_chain_checkpointing(spark):
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    res = connected_components(edges, max_iterations=50)
    comp = {r["id"]: r["component"] for r in res.components.collect()}
    assert res.converged
    assert set(comp.values()) == {0}


def test_idf_weighting_prefers_distinctive_trigrams(spark):
    """IDF weighting must rank the distinctive-name match above a
    boilerplate-suffix match where binary weights would tie or flip."""
    def binary_cosine(a, b):
        ta, tb = _trigrams(a), _trigrams(b)
        return len(ta & tb) / math.sqrt(len(ta) * len(tb))

    kb_names = [f"Acme Inc", "Bolt Inc", "Crux Inc", "Dyno Inc", "Acme Labs"]
    idf = build_idf(kb_names)
    # ' In'/'Inc' trigrams appear in 4/5 names → low idf; 'Acm'/'cme' in 2/5
    surface = "Acme Incorporated"
    s_match = tfidf_trigram_cosine(surface, "Acme Inc", idf)
    s_boiler = tfidf_trigram_cosine(surface, "Bolt Inc", idf)
    assert s_match > s_boiler
    # idf widens the margin relative to binary weighting
    b_match = binary_cosine(surface, "Acme Inc")
    b_boiler = binary_cosine(surface, "Bolt Inc")
    assert (s_match - s_boiler) > (b_match - b_boiler) * 0.9
    # determinism
    assert s_match == tfidf_trigram_cosine(surface, "Acme Inc", idf)


def test_entity_linking_aliases(spark):
    kb = kb_from_gazetteer(spark, GAZETTEER)
    mentions = spark.createDataFrame(
        [
            ("m1", "Ada Lovelace"),
            ("m2", "A. Lovelace"),   # alias, different surface
            ("m3", "Acme Analytics Inc"),
            ("m4", "Nonexistent Entity Xyz"),
        ],
        "mention_id string, surface string",
    )
    out = link_mentions(mentions, kb).collect()
    by_id = {r["mention_id"]: r for r in out}
    assert by_id["m1"]["linked_name"] == "Ada Lovelace"
    assert by_id["m3"]["linked_name"] == "Acme Analytics"
    assert by_id["m4"]["kb_id"] is None
    # alias blocked on 'a.' → blocking key differs from canonical; may miss:
    # document actual behavior (alias resolution comes from canonicalization)
    assert by_id["m1"]["link_score"] == pytest.approx(1.0)


def test_distributed_idf_matches_driver_kernel(spark):
    """kb_trigram_idf (distributed, bounded collect) must equal build_idf
    (driver kernel) exactly — same trigram sets, same counts, same floats."""
    from neo4j_export_tool_spark.operators.linking import kb_trigram_idf

    names = [
        "Acme Analytics", "Acme Corp", "Claude Shannon", "Grace Hopper",
        "Rivertown", "Café München GmbH", "", "A",
    ]
    kb = spark.createDataFrame(
        [(f"kb:{i}", n) for i, n in enumerate(names)], "kb_id string, name string"
    )
    assert kb_trigram_idf(kb) == build_idf(names)


def test_link_mentions_no_broadcast_hints_no_kb_collect(spark):
    """Scale contract: the fan-back join and the candidate join carry NO
    broadcast hints (AQE decides at runtime), and the KB never collects to
    the driver (IDF comes from the distributed trigram job)."""
    from neo4j_export_tool_spark.operators.linking import kb_from_gazetteer, link_mentions
    from neo4j_export_tool_spark.sources.synth import GAZETTEER

    kb = kb_from_gazetteer(spark, GAZETTEER)
    mentions = spark.createDataFrame(
        [("u1", "Acme Analytics"), ("u2", "Rivertown")], "url string, surface string"
    )

    kb_rows_collected = []
    orig_collect = type(kb).collect

    def guarded_collect(self):
        if set(self.columns) >= {"kb_id", "name"}:
            kb_rows_collected.append(self.columns)
        return orig_collect(self)

    type(kb).collect = guarded_collect
    try:
        linked = link_mentions(mentions, kb)
        # analyzed logical plan must carry no broadcast hints
        logical = linked._jdf.queryExecution().analyzed().toString()
        assert "broadcast" not in logical.lower(), logical
        assert linked.count() == 2
    finally:
        type(kb).collect = orig_collect
    assert kb_rows_collected == [], "KB rows were collected to the driver"


def test_link_score_deterministic_across_hash_seeds():
    """Scores must not depend on Python's randomized set iteration order —
    float addition is non-associative, and executors run with different
    hash seeds."""
    import os
    import subprocess
    import sys

    code = (
        "import numpy as np;"
        "from neo4j_export_tool_spark.operators.linking import _score_pairs_batch;"
        "from test_ann_cc_linking import build_idf, tfidf_trigram_cosine;"
        "idf = build_idf(['Acme Analytics','Acme Corp','Grace Hopper',"
        "'Café München GmbH']);"
        "print(repr(tfidf_trigram_cosine('Acme Analytic', 'Acme Analytics', idf)),"
        "repr(_score_pairs_batch(np.array(['Acme Analytic'], dtype=object),"
        "np.array(['Acme Analytics'], dtype=object), idf)[0]))"
    )
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    path = os.pathsep.join([os.path.dirname(tests_dir), tests_dir])
    outs = {
        subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, check=True,
            env={"PYTHONHASHSEED": str(seed), "PATH": "/usr/bin:/bin",
                 "PYTHONPATH": path},
        ).stdout.strip()
        for seed in ("0", "1", "42")
    }
    assert len(outs) == 1, f"score varies with hash seed: {outs}"


def test_vectorized_batch_scorer_bit_exact():
    """The numpy batch scorer (round-4: last per-row Python in a join path
    removed) must equal the scalar twin BIT-exactly — same canonical
    reduceat fold over sorted trigram weights — including null/empty
    inputs."""
    import random

    import numpy as np

    from neo4j_export_tool_spark.operators.linking import _score_pairs_batch

    rng = random.Random(7)
    names = [
        "Acme Inc", "Acme Analytics", "Globex Ltd", "Bolt Inc",
        "Wayne Computing", "Ada Lovelace", "A. Lovelace", "Tyrell Data",
        "Hooli Cloud LLC", "Café München GmbH", "x", "",
    ]
    idf = build_idf(names)
    pairs = [(rng.choice(names), rng.choice(names)) for _ in range(400)]
    pairs += [(None, "Acme Inc"), ("Acme Inc", None), (None, None)]
    s = np.array([p[0] for p in pairs], dtype=object)
    n = np.array([p[1] for p in pairs], dtype=object)
    got = _score_pairs_batch(s, n, idf)
    exp = np.array([
        0.0 if a is None or b is None else tfidf_trigram_cosine(a, b, idf)
        for a, b in pairs
    ])
    assert (got == exp).all(), (
        f"first mismatch at {np.flatnonzero(got != exp)[:3]}"
    )


def test_ann_empty_and_null_inputs(spark):
    """Empty / all-null vector inputs return empty results, not crashes
    (review finding: dim inference from first row)."""
    from neo4j_export_tool_spark.operators.ann import (
        brute_force_topk,
        hyperplane_lsh_pairs,
    )
    from neo4j_export_tool_spark.operators.dedup import embedding_neardup_pairs
    from neo4j_export_tool_spark.operators.linking import kb_trigram_idf

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert hyperplane_lsh_pairs(empty, "embedding", "vec_id").count() == 0
    assert brute_force_topk(empty, empty, "embedding", "vec_id").count() == 0
    withnull = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert hyperplane_lsh_pairs(withnull, "embedding", "vec_id").count() == 0
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    for df in (empty, allnull):
        out = embedding_neardup_pairs(df, "embedding", "vec_id")
        assert out.collect() == []
        assert out.columns == ["id_a", "id_b", "cosine"]

    # null KB names carry no signal and must not crash the IDF job
    kb = spark.createDataFrame(
        [("k1", "Acme"), ("k2", None)], "kb_id string, name string"
    )
    idf = kb_trigram_idf(kb)
    assert idf and all(v > 0 for v in idf.values())


def hyperplane_signature(df, vec_col, n_planes, dim, seed=7):
    """Independent twin of `ann._signature_table` for one table: adds a
    ``bucket`` column, the sign-pattern int over the same random
    hyperplanes, built from per-plane JVM dot-product expressions."""
    from neo4j_export_tool_spark.functions.similarity import (
        as_double_array,
        dot_col,
    )
    from neo4j_export_tool_spark.operators.ann import _hyperplanes

    bucket = F.lit(0)
    v = as_double_array(F.col(vec_col))
    for i, p in enumerate(_hyperplanes(dim, n_planes, seed)):
        d = dot_col(v, F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket)


def test_hyperplane_signature_matches_gemm_table(spark):
    """The column-expression signature twin and the numpy-GEMM table used
    by hyperplane_lsh_pairs must agree on bucket assignment for
    well-separated vectors (they may only differ when a dot product sits
    within an ulp of zero, which this deterministic data avoids)."""
    from neo4j_export_tool_spark.operators.ann import _signature_table

    vecs = [
        (i, [float(((i * 7 + j * 13) % 17) - 8) for j in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    expr = hyperplane_signature(df, "v", n_planes=6, dim=8, seed=7).select(
        "id", "bucket"
    )
    gemm = _signature_table(
        df.select("id", "v"), n_planes=6, n_tables=1, dim=8, seed=7
    ).select("id", F.col("bucket_0").alias("bucket"))
    assert sorted(map(tuple, expr.collect())) == sorted(
        map(tuple, gemm.collect())
    )


def test_ivf_result_reads_the_checkpointed_items(spark):
    """The returned frame is lazy: it must read the items through the
    barrier the training read, not re-run the items scan and repartition
    when the caller acts on it (a cache dropped on return would)."""
    rows = [(i, [float((i * 5 + j) % 7) - 3.0 for j in range(6)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = ivf_topk(df, df.limit(2), "emb", "id", k=3, n_cells=4, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan
    assert out.count() == 6


def test_ivf_string_ids_supported(spark):
    rows = [(f"e-{i}", [float((i * 5 + j) % 7) for j in range(6)]) for i in range(15)]
    df = spark.createDataFrame(rows, "uri string, emb array<double>")
    out = ivf_topk(df, df.limit(2), "emb", "uri", k=3, n_cells=2, n_probe=2)
    got = out.collect()
    assert got and all(isinstance(r.item_id, str) and isinstance(r.query_id, str) for r in got)
