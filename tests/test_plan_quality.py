"""Physical-plan quality gates.

These pin the scale-critical plan properties so a refactor can't silently
regress them: filter/column pushdown into the parquet scan, broadcast hash
join for the J1 node-hash lookup, no shuffle in the extraction stage, and
whole-stage codegen around the hash expressions.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_keyset_scan_pushdown(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.filter(F.col("doc_id") > 100).select("doc_id", "lang")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in plan
    # column pruning: text (the fat column) must not be read
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_j1_join_is_broadcast(spark, sf_dir):
    from neo4j_export_tool_spark.plans.flagship import documents_kg

    _, hashed = documents_kg(spark, sf_dir)
    plan = plan_of(hashed)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extract_stage_no_shuffle(spark):
    from neo4j_export_tool_spark.operators.extract import extract_text_udf
    from neo4j_export_tool_spark.sources.synth import pages_spark_df

    pages = pages_spark_df(spark, 20, seed=1)
    q = pages.select("url", extract_text_udf(F.col("html")).alias("text"))
    plan = plan_of(q)
    assert "Exchange" not in plan  # embarrassingly parallel, no shuffle


def test_hash_columns_in_codegen(spark, sf_dir):
    from neo4j_export_tool_spark.plans.flagship import document_nodes, load_documents

    nodes = document_nodes(load_documents(spark, sf_dir))
    plan = plan_of(nodes)
    assert "codegen id" in plan  # whole-stage codegen spans present
    # sha2 must be a plain projection over the scan — no Python UDF involved
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # constant labels fold at plan time — no per-row lambda comparator
    assert "lambdafunction" not in plan


def test_unrolled_dot_in_codegen(spark, sf_dir):
    from neo4j_export_tool_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(emb, "embedding", "vec_id", 0.5)
    plan = plan_of(pairs)
    # the fixed-dim expression compiles; no interpreted 'aggregate(' HOF in
    # the pair-join projection
    assert "aggregate(" not in plan.lower().split("broadcastnestedloopjoin")[-1][:2000]


def test_export_fast_lane_is_jvm_side(spark, sf_dir):
    """Simple-bag JSONL serialization must not evaluate Python per row: the
    property bags and the line assembly are JVM-side for every row, so the
    node-line plan holds no pandas UDF and no mapInPandas (the upstream
    mention detection is not part of it); never row-at-a-time Python."""
    from neo4j_export_tool_spark.operators.graph import edges_from
    from neo4j_export_tool_spark.plans.flagship import documents_kg
    from neo4j_export_tool_spark.sources.jsonl_sink import (
        _serialize_nodes,
        with_properties_json,
    )

    nodes, hashed = documents_kg(spark, sf_dir)
    lines = _serialize_nodes(
        nodes.select("element_id", "labels", "properties_json", "content_hash"),
        "EXP",
        hashed_ids=True,
    )
    plan = plan_of(lines)
    # "MapInPandas (" is the tree form of the node
    assert plan.count("MapInPandas (") == 0
    assert plan.count("ArrowEvalPython") == 0
    # never row-at-a-time Python
    assert "BatchEvalPython" not in plan

    edges = with_properties_json(hashed)
    eplan = plan_of(edges)
    assert "BatchEvalPython" not in eplan

    # a string bag shaped like the pages pipeline's entity edges
    triples = spark.createDataFrame(
        [("http://a", 3)], "url string, char_start int"
    )
    pages_edges = edges_from(
        triples,
        rel_type="LOCATED_IN",
        start_element_id=F.lit("entity:a"),
        end_element_id=F.lit("entity:b"),
        props={"source_url": F.col("url"), "char_start": F.col("char_start")},
    ).withColumns(
        {
            "start_node_content_hash": F.lit("0" * 64),
            "end_node_content_hash": F.lit("1" * 64),
        }
    )
    pplan = plan_of(with_properties_json(pages_edges))
    assert pplan.count("ArrowEvalPython") == 0
    assert "BatchEvalPython" not in pplan


def test_pii_scrub_is_pure_codegen(spark, sf_dir):
    """PII redaction must stay a JVM regexp chain: no Python of any kind
    in the plan."""
    from neo4j_export_tool_spark.functions.scrub import pii_scrub

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = pii_scrub(F.col("text"))
    plan = plan_of(docs.select(*[c.alias(n) for n, c in cols.items()]))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "codegen id" in plan  # formatted explain's codegen-span marker


def test_decontaminate_no_cartesian_no_hint(spark, sf_dir):
    """The eval-overlap join must be an equi-join on the shingle (AQE
    decides broadcast at runtime), never a cartesian product or a baked-in
    broadcast hint."""
    from neo4j_export_tool_spark.operators.decontaminate import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = decontaminate(docs, docs.filter(F.col("doc_id") % 97 == 0))
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "ResolvedHint" not in out._jdf.queryExecution().logical().toString()
