"""Round-5 training-data ops: duplicated n-gram spans + passage chunking."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.similarity import shingle_hash_col
from neo4j_export_tool_spark.operators.chunking import chunk_documents
from neo4j_export_tool_spark.operators.dedup import duplicated_ngram_spans


def test_dup_ngram_spans_finds_planted_span(spark):
    """A 6-token span shared verbatim by two docs is reported at every
    position it occupies in BOTH docs; unique text yields nothing."""
    shared = "one two three four five six"
    rows = [
        (1, f"prefixA {shared} tailA tailB"),
        (2, f"{shared} something else entirely here"),
        (3, "totally unrelated words that repeat nowhere at all today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_ngram_spans(df, "text", "doc_id", n=6, min_docs=2)
    got = {(r["doc"], r["pos"], r["gram"]) for r in out.collect()}
    assert (1, 1, shared) in got
    assert (2, 0, shared) in got
    assert all(d != 3 for d, _, _ in got)
    # every reported gram really does occur in >= 2 distinct docs
    by_gram = {}
    for d, _, g in got:
        by_gram.setdefault(g, set()).add(d)
    assert all(len(v) >= 2 for v in by_gram.values())


def test_chunking_layout_and_ids(spark):
    """Window layout: stride = chunk-overlap, last chunk short, single
    short doc → one chunk, empty text → no rows; adjacent chunks overlap
    by exactly `overlap` tokens; sha id is content-derived."""
    text70 = " ".join(f"w{i}" for i in range(70))
    rows = [(1, text70), (2, "a b c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=32, overlap=8)
    rows_out = {(r["doc"], r["chunk_idx"]): r for r in out.collect()}
    # 70 tokens, stride 24 -> starts 0,24,48 (48+32>70 -> short last)
    assert {k for k in rows_out if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert rows_out[(1, 0)]["tok_start"] == 0
    assert rows_out[(1, 1)]["tok_start"] == 24
    assert rows_out[(1, 2)]["n_tokens"] == 70 - 48
    # overlap: last 8 tokens of chunk 0 == first 8 of chunk 1
    c0 = rows_out[(1, 0)]["chunk_text"].split(" ")
    c1 = rows_out[(1, 1)]["chunk_text"].split(" ")
    assert c0[-8:] == c1[:8]
    # short doc: one whole-text chunk
    assert rows_out[(2, 0)]["chunk_text"] == "a b c"
    assert rows_out[(2, 0)]["n_tokens"] == 3
    # empty text yields NO rows (the string filter runs before split,
    # because split('', ' ') is [''] — a phantom 1-token chunk otherwise)
    assert all(d != 3 for d, _ in rows_out)
    assert len(rows_out[(1, 0)]["chunk_sha256"]) == 64
    # reconstruction: concatenating strides covers the doc exactly
    rebuilt = c0[:24] + c1[:24] + rows_out[(1, 2)]["chunk_text"].split(" ")
    assert rebuilt == text70.split(" ")

    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=8, overlap=8)


def test_url_canonicalization_rules(spark):
    """Rule-by-rule: case folding, www/userinfo strip, default-port drop,
    non-default port kept, trailing-slash collapse, fragment drop,
    tracking-param removal, stable query sort, non-URL -> NULL."""
    from neo4j_export_tool_spark.functions.url import canonical_url_col
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://WWW.Ex.COM:80/A/b/?b=2&a=1&utm_source=x#f",
         "http://ex.com/A/b?a=1&b=2"),
        ("https://user:pw@host.org:443/p//", "https://host.org/p"),
        ("https://h.net:8443/x?gclid=9&z=1&y=2", "https://h.net:8443/x?y=2&z=1"),
        ("http://site.com?fbclid=1", "http://site.com/"),
        ("http://site.com", "http://site.com/"),
        ("ftp://Files.example.com/Data", "ftp://files.example.com/Data"),
        ("no scheme here", None),
        ("https://a.com/?utm_campaign=z&utm_medium=y", "https://a.com/"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonical_url_col(F.col("url")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)
    # idempotent: canonical(canonical(u)) == canonical(u)
    twice = {
        r["i"]: r["c2"]
        for r in df.select(
            "i",
            canonical_url_col(
                canonical_url_col(F.col("url"))
            ).alias("c2"),
        ).collect()
    }
    assert twice == got


def test_pagerank_int_semantics(spark):
    """Closed-form 3-node chain a->b->c (+ c dangling): exact integer
    recurrence checked by hand; persist path == localCheckpoint path;
    mass never exceeds base; hub of a star outranks leaves."""
    from neo4j_export_tool_spark.operators.pagerank import (
        degree_stats,
        pagerank_int,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    base, n = 10**12, 3
    tel = 15 * base // 300
    r = {"a": base // n, "b": base // n, "c": base // n}
    for _ in range(5):
        r = {
            "a": tel,
            "b": tel + r["a"] * 85 // 100,
            "c": tel + r["b"] * 85 // 100,
        }
    got = {
        x["node"]: x["rank_int"]
        for x in pagerank_int(edges, "src", "dst", n_iters=5).collect()
    }
    assert got == r
    assert sum(got.values()) <= base  # floors + dangling only lose mass

    # star: hub receives all leaf mass
    star = spark.createDataFrame(
        [(f"l{i}", "hub") for i in range(10)], "src string, dst string"
    )
    sr = {
        x["node"]: x["rank_int"]
        for x in pagerank_int(star, "src", "dst", n_iters=3).collect()
    }
    assert sr["hub"] > max(v for k, v in sr.items() if k != "hub")

    degs = {
        x["node"]: (x["out_degree"], x["in_degree"])
        for x in degree_stats(star, "src", "dst").collect()
    }
    assert degs["hub"] == (0, 10) and degs["l0"] == (1, 0)


def test_negative_samples_semantics(spark):
    """Negatives never equal the true object, are drawn from the pool,
    give exactly k rows per triple, and are bit-stable across runs."""
    from neo4j_export_tool_spark.functions.sampling import negative_samples
    from pyspark.sql import functions as F

    triples = spark.createDataFrame(
        [("s1", "P", "a"), ("s2", "P", "b"), ("s3", "Q", "c")],
        "subj string, pred string, obj string",
    )
    out = negative_samples(
        triples, "subj", "pred", "obj", triples.select("obj"), k=3
    )
    rows = out.collect()
    assert len(rows) == 9
    for r in rows:
        assert r["neg_obj"] != r["obj"]
        assert r["neg_obj"] in {"a", "b", "c"}
    again = negative_samples(
        triples, "subj", "pred", "obj", triples.select("obj"), k=3
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # |pool| < 2 fails loud, now at plan-build time (driver-side count)
    one = spark.createDataFrame([("s", "P", "a")], "subj string, pred string, obj string")
    with pytest.raises(ValueError):
        negative_samples(one, "subj", "pred", "obj", one.select("obj"), k=1)


def negative_samples_array_pool(
    triples: DataFrame,
    subj_col: str,
    pred_col: str,
    obj_col: str,
    pool_df: DataFrame,
    k: int = 2,
    salt: str = "neg",
) -> DataFrame:
    """The original in-plan-ARRAY form of `negative_samples`, the
    bit-identity reference: ``pool_df`` is a one-row DataFrame with a
    sorted ARRAY column named ``pool`` (``triples.select(F.sort_array(
    F.collect_set(obj)).alias("pool"))``), broadcast-cross-joined in.
    Correct and driver-collect-free, but a single row holding the whole
    candidate vocabulary caps out at large |pool|."""
    s, p, o = F.col(subj_col), F.col(pred_col), F.col(obj_col)
    n = F.size("pool")
    base = triples.select(s.alias("subj"), p.alias("pred"), o.alias("obj"))
    exploded = base.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("neg_idx")
    ).crossJoin(F.broadcast(pool_df.select(F.col("pool"))))
    key = F.concat_ws(
        ":", F.lit(salt), F.col("subj"), F.col("pred"), F.col("obj"),
        F.col("neg_idx").cast("string"),
    )
    idx = shingle_hash_col(key) % n
    cand = F.element_at(F.col("pool"), (idx + 1).cast("int"))
    bumped = F.element_at(F.col("pool"), (((idx + 1) % n) + 1).cast("int"))
    # |pool| < 2 cannot yield a negative != the true object — fail loud
    # (runtime raise_error: the pool size only exists in-plan)
    neg = F.when(
        n < 2,
        F.raise_error(
            F.lit("negative_samples needs a candidate pool of >= 2 objects")
        ).cast("string"),
    ).otherwise(F.when(cand == F.col("obj"), bumped).otherwise(cand))
    return exploded.select(
        "subj", "pred", "obj", "neg_idx", neg.alias("neg_obj")
    )


def test_negative_samples_join_form_bit_identical_to_array_form(spark):
    """The round-6 indexed-pool equi-join plan must reproduce the
    one-row-array plan BIT-FOR-BIT (same sorted pool, same md5 pick,
    same bump), and its plan must contain no corpus-wide array
    construct (no collect_set) — the de-ceiling that lets the pool
    scale to 10^8+ entities."""
    from neo4j_export_tool_spark.functions.sampling import (
        indexed_pool,
        negative_samples,
    )

    # pool big enough that several triples hash to distinct slots and
    # at least one pick collides with the true object (forcing bumps)
    rows = [(f"s{i}", "P", f"obj{i % 17:02d}") for i in range(200)]
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).repartition(7)

    join_out = negative_samples(
        triples, "subj", "pred", "obj", triples.select("obj"), k=2
    )
    pool_arr = triples.select(
        F.sort_array(F.collect_set("obj")).alias("pool")
    )
    arr_out = negative_samples_array_pool(
        triples, "subj", "pred", "obj", pool_arr, k=2
    )
    j = sorted(map(tuple, join_out.collect()))
    a = sorted(map(tuple, arr_out.collect()))
    assert j == a and len(j) == 400

    plan = join_out._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan  # no corpus-wide array construct

    # the index itself is the dense rank in the global sort order
    idx_rows = {
        r["pobj"]: r["idx"]
        for r in indexed_pool(triples.select("obj"))[0].collect()
    }
    expected = {f"obj{i:02d}": i for i in range(17)}
    assert idx_rows == expected


def test_corpus_prep_end_to_end(spark):
    """The composed hygiene plan: URL-duplicate pages collapse to one,
    near-dup pairs lose their larger id, short docs drop, survivors
    chunk, and the whole flow is deterministic across runs."""
    from neo4j_export_tool_spark.plans.corpus_prep import prepare_corpus

    body_a = " ".join(f"atok{i}" for i in range(40))
    body_bc = " ".join(f"btok{i}" for i in range(40))
    rows = [
        ("http://a.com/x?utm_source=1", body_a + " alpha"),
        ("http://A.com/x/", body_a + " alpha"),        # same canonical URL
        ("http://b.com/y", body_bc + " beta"),         # near-dup of c.com/z
        ("http://c.com/z", body_bc + " gamma"),        # near-dup of b.com/y
        ("http://d.com/short", "too short"),           # quality-filtered
        ("http://e.com/u", " ".join(f"w{i}" for i in range(50))),
        ("http://e.com/u", " ".join(f"w{i}" for i in range(50))),  # raw dup
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    res = prepare_corpus(
        pages, min_tokens=8, neardup_threshold_pct=80,
        max_bucket_frac=None, span_n=10, chunk_tokens=16, overlap=4,
    )
    m = res.metrics
    assert m["input"] == 7
    # a.com canonical duplicate collapsed AND the repeated raw e.com row
    # collapsed (one row per canonical key, not a semi-join on url)
    assert m["after_url_dedup"] == 5
    assert m["after_neardup"] == 4            # larger of the b/c pair dropped
    assert m["after_quality"] == 3            # short doc out
    urls = {r["doc"] for r in res.chunks.select("doc").distinct().collect()}
    assert urls == {
        "http://A.com/x/" if "http://A.com/x/" < "http://a.com/x?utm_source=1"
        else "http://a.com/x?utm_source=1",
        "http://b.com/y",
        "http://e.com/u",
    }
    assert m["chunks"] > 3  # 41-50-token docs at 16/4 chunking → several each
    # deterministic: run twice, same chunk ids
    res2 = prepare_corpus(
        pages, min_tokens=8, neardup_threshold_pct=80,
        max_bucket_frac=None, span_n=10, chunk_tokens=16, overlap=4,
    )
    ids1 = sorted(r["chunk_sha256"] for r in res.chunks.collect())
    ids2 = sorted(r["chunk_sha256"] for r in res2.chunks.collect())
    assert ids1 == ids2
