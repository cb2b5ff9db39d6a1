"""Streaming KG ingestion: pages arrive as files, edges leave as JSONL.

The incremental posture the north rule asks for, end to end: a file-source
stream over the pages table feeds the SAME stateless operators the batch
pipeline uses (extraction and mention detection are mapInPandas — legal on
streaming DataFrames), node hashes resolve via a STREAM-STATIC broadcast
join against the concept dimension, and records append to a text sink with
a checkpoint — exactly-once per micro-batch, resumable mid-crawl.

State: none (all operators here are stateless), so throughput is bounded
only by executor parallelism; the watermarked/stateful pieces live in
``streaming/events.py`` / ``streaming/stateful.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.export_json import contract_escapes
from neo4j_export_tool_spark.sources.synth import PAGES_DDL


def stream_pages(spark: SparkSession, source_dir: str) -> DataFrame:
    """Micro-batch stream over a directory of pages parquet files."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )


def streaming_mention_edges(
    pages: DataFrame, gazetteer: dict[str, tuple[str, str]]
) -> DataFrame:
    """pages stream → extracted text → Aho-Corasick mentions → edge records.

    Everything stateless; the per-(url, canonical) aggregation happens
    within each page row (mentions are grouped in the Python kernel), so
    no streaming state store is involved.
    """
    from neo4j_export_tool_spark.operators.extract import extract_text_udf
    from neo4j_export_tool_spark.operators.mentions import detect_mentions

    extracted = pages.select(
        "url", extract_text_udf(F.col("html")).alias("text")
    )
    mentions = detect_mentions(extracted, gazetteer)
    return mentions.select(
        "url",
        F.col("canonical").alias("concept"),
        F.col("label").alias("concept_label"),
        F.col("start").alias("char_start"),
    )


def incremental_kg_stream(
    spark: SparkSession,
    source_dir: str,
    gazetteer: dict[str, tuple[str, str]],
    out_dir: str,
    checkpoint_dir: str,
):
    """File-in → JSONL-edges-out, exactly-once per micro-batch.

    Each emitted line is a MENTIONS relationship record (reference record
    shape minus the batch-computed content hashes, which require the full
    node dimension — the batch pipeline backfills those; this stream is
    the low-latency leg).  Lines carry the contract's lower-case control
    escapes (`functions.export_json.contract_escapes`)."""
    edges = streaming_mention_edges(stream_pages(spark, source_dir), gazetteer)
    head = F.to_json(
        F.struct(
            F.lit("relationship").alias("type"),
            F.sha2(
                F.concat_ws(
                    ":", F.lit("rel:MENTIONS"), "url", "concept",
                    F.col("char_start").cast("string"),
                ),
                256,
            ).alias("element_id"),
            F.lit("MENTIONS").alias("label"),
            F.concat(F.lit("page:"), F.col("url")).alias("start_element_id"),
            F.concat(F.lit("concept:"), F.col("concept")).alias(
                "end_element_id"
            ),
            F.col("char_start"),
        )
    )
    lines = edges.select(contract_escapes(head).alias("value"))
    return (
        lines.writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
