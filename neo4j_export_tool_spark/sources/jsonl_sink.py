"""JSONL export sink — round-trips the reference tool's file format.

File layout (reference ``Core/Types.fs:347-370``, ``docs/Metadata.md:42-49``):
line 1 = metadata object, then node records, then relationship records, then
error/warning records; the metadata's ``export_metadata.format`` carries the
start line of each section.

Record schemas (reference ``Core/RecordTypes.fs:29-60``):
- node: ``{type, element_id, NET_node_content_hash?, export_id, labels,
  properties}``
- relationship: ``{type, element_id, NET_rel_identity_hash?, export_id,
  label, start_element_id, end_element_id, start_node_content_hash?,
  end_node_content_hash?, properties}``
- error/warning: ``{type, timestamp, message, [line, details, element_id]}``

Where the reference reserves a padded metadata placeholder and seeks back
(``Workflow/Workflow.fs:100-152``, ``Workflow/MetadataWriter.fs:32-224``),
the sink serializes once and knows every counter before it writes:

1. Both serializers feed one line table ``(sec, line, labels)``, persisted
   ``MEMORY_AND_DISK`` so a lost executor's blocks recompute from lineage.
2. One aggregation over that table — the job that materializes it — gives
   the node/relationship counts, the per-label record/byte stats (reference
   A2, ``Export/Core.fs:277-313``; multi-label nodes split bytes evenly
   across labels, unlabeled nodes count under ``_unlabeled``), the
   ``_invalid_label`` tally and the exact line bytes.
3. The write reads the cached table.  A sorted export whose line bytes fit
   one AQE advisory partition (``spark.sql.adaptive.
   advisoryPartitionSizeInBytes``) is sorted in one task; a larger one is
   range-sorted, so its part files in name order are globally ordered.
   Either way the lines come out in the same order, byte for byte.

The metadata line is then written once, up front — no seek, no padding,
same bytes-on-disk contract.

Two write modes:
- ``single_file=True`` — exact reference layout in one file; executors write
  the sections' part files and the driver bulk-concatenates the file
  streams — constant driver memory, no per-row Py4J traffic.
- ``single_file=False`` — the 100 TB path: per-section line files written by
  executors (``df.write.text``) + a ``_metadata.json``; assembly into one
  file is a concat any object store can do server-side.

Record serialization is JVM-side whole-stage codegen for the common case:
when the properties arrive as contract-final ``properties_json`` bytes (see
``functions.export_json``), the full record line is assembled with
``to_json(struct(...))`` + concat — no Python in the hot path.  Rows whose
head strings contain hazard characters (divergent control-char escapes) and
typed struct-properties inputs (real datetimes/bytes needing the §1.3
contract) run through the Arrow-vectorized ``mapInPandas`` lane instead.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field
from fractions import Fraction
from typing import Any

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark import FORMAT_VERSION, PRODUCER_NAME, __version__
from neo4j_export_tool_spark.functions.encoding import (
    MAX_LABELS_PER_NODE,
    dumps,
    encode_properties,
    validate_label,
)
from neo4j_export_tool_spark.functions.export_json import string_hazard


# ---------------------------------------------------------------------------
# record serialization (JVM fast path + Arrow-vectorized fallback)
# ---------------------------------------------------------------------------

def _props_from_row(row: Any) -> dict[str, Any]:
    """Decode one properties cell: either a pre-serialized JSON string
    (heterogeneous union path) or an Arrow-decoded struct dict (TYPED path —
    keeps real datetimes/bytes/NaN so the §1.3 encoding contract applies to
    the actual values, not their to_json stringification)."""
    if row is None:
        return {}
    if isinstance(row, str):
        return json.loads(row) if row else {}
    if isinstance(row, dict):
        return {k: v for k, v in row.items() if k != "_empty"}
    # pyspark Row / namedtuple-ish
    return {k: v for k, v in row.asDict(recursive=True).items() if k != "_empty"}


def _validated_labels_py(labels: Any) -> list[str] | None:
    """Python twin of `_validated_labels_col`: reference label validation
    (``GraphElements.fs:146-153``) + MaxLabelsPerNode cap
    (``Core/Constants.fs:191``)."""
    if labels is None:
        return None
    return [validate_label(x) for x in list(labels)[:MAX_LABELS_PER_NODE]]


def _validated_labels_col() -> Column:
    """null / over-long labels → ``_invalid_label``; cap at 100 labels."""
    from neo4j_export_tool_spark.functions.encoding import MAX_LABEL_LENGTH

    checked = F.transform(
        F.col("labels"),
        lambda x: F.when(
            x.isNull() | (F.length(x) > MAX_LABEL_LENGTH), F.lit("_invalid_label")
        ).otherwise(x),
    )
    return F.slice(checked, 1, MAX_LABELS_PER_NODE)


def _splice_props(head: Column, props_json: Column) -> Column:
    """``head`` is a to_json(...) object; splice the pre-rendered properties
    object in as the final field.  Pure string ops — whole-stage codegen."""
    props = F.when(
        props_json.isNull() | (props_json == ""), F.lit("{}")
    ).otherwise(props_json)
    return F.concat(
        head.substr(F.lit(1), F.length(head) - F.lit(1)),
        F.lit(',"properties":'),
        props,
        F.lit("}"),
    )


def _serialize_nodes(nodes: DataFrame, export_id: str, hashed_ids: bool) -> DataFrame:
    """nodes(element_id, labels, properties_json | properties, content_hash)
    → (line, labels).

    ``properties_json`` inputs carry contract-final bytes (see
    ``functions.export_json``), so the whole record line assembles JVM-side;
    only rows whose head strings contain hazard characters fall back to the
    Python writer.  Typed ``properties`` struct inputs keep the Arrow lane.

    The input is fanned out first (guide §2.5): AQE coalesces the tiny
    upstream aggregates of a local-sized graph to ONE partition, which
    left the whole line assembly (to_json + hazard regex per record)
    single-threaded; at scale the input is already wide and fan-out is a
    no-op.
    """
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    # probe_rdd: the inputs are persisted by export_jsonl, so the probe's
    # materialization lands in the cache and is reused by the stats job
    nodes = fan_out(nodes, key="element_id", probe_rdd=True)
    if "properties_json" in nodes.columns:
        labels = _validated_labels_col()
        head_fields = [
            F.lit("node").alias("type"),
            F.col("element_id").alias("element_id"),
        ]
        if hashed_ids:
            head_fields.append(F.col("content_hash").alias("NET_node_content_hash"))
        head_fields += [
            F.lit(export_id).alias("export_id"),
            labels.alias("labels"),
        ]
        head = F.to_json(F.struct(*head_fields), {"ignoreNullFields": "false"})
        line = _splice_props(head, F.col("properties_json"))
        hazard_cols = [F.col("element_id"), F.array_join(labels, "")]
        if hashed_ids:
            hazard_cols.append(F.col("content_hash"))
        hazard = string_hazard(hazard_cols)
        fast = nodes.filter(~hazard).select(
            line.alias("line"), labels.alias("labels")
        )

        def run_heads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                lines, out_labels = [], []
                for eid, lbls, props, chash in zip(
                    pdf["element_id"], pdf["labels"],
                    pdf["properties_json"], pdf["content_hash"],
                ):
                    vl = _validated_labels_py(lbls)
                    rec: dict[str, Any] = {"type": "node", "element_id": eid}
                    if hashed_ids:
                        rec["NET_node_content_hash"] = chash
                    rec["export_id"] = export_id
                    rec["labels"] = vl
                    head_js = dumps(rec)
                    lines.append(
                        head_js[:-1] + ',"properties":' + (props or "{}") + "}"
                    )
                    out_labels.append(vl)
                yield pd.DataFrame({"line": lines, "labels": out_labels})

        # hazard rows are pathological (control chars in IDs/labels) — a
        # handful at most, so collapse the Python branch to a few partitions
        # instead of paying an empty Arrow task per input partition
        slow = nodes.filter(hazard).coalesce(8).mapInPandas(
            run_heads, schema="line string, labels array<string>"
        )
        return fast.unionByName(slow)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines, out_labels = [], []
            for eid, lbls, props, chash in zip(
                pdf["element_id"], pdf["labels"], pdf["properties"], pdf["content_hash"]
            ):
                vl = _validated_labels_py(lbls)
                rec: dict[str, Any] = {"type": "node", "element_id": eid}
                if hashed_ids:
                    rec["NET_node_content_hash"] = chash
                rec["export_id"] = export_id
                rec["labels"] = vl
                rec["properties"] = encode_properties(_props_from_row(props))
                lines.append(dumps(rec))
                out_labels.append(vl)
            yield pd.DataFrame({"line": lines, "labels": out_labels})

    return nodes.select(
        "element_id", "labels", "properties", "content_hash"
    ).mapInPandas(run, schema="line string, labels array<string>")


def _serialize_rels(edges: DataFrame, export_id: str, hashed_ids: bool) -> DataFrame:
    """edges(element_id, label, start/end ids, start/end hashes,
    properties_json | properties) → (line, label).  Fanned out like
    `_serialize_nodes` (AQE-coalesced local inputs serialize one-core)."""
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    edges = fan_out(edges, key="element_id", probe_rdd=True)
    if "properties_json" in edges.columns:
        head_fields = [
            F.lit("relationship").alias("type"),
            F.col("element_id").alias("element_id"),
        ]
        if hashed_ids:
            head_fields.append(F.col("element_id").alias("NET_rel_identity_hash"))
        head_fields += [
            F.lit(export_id).alias("export_id"),
            F.col("label").alias("label"),
            F.col("start_element_id").alias("start_element_id"),
            F.col("end_element_id").alias("end_element_id"),
        ]
        if hashed_ids:
            head_fields += [
                F.col("start_node_content_hash").alias("start_node_content_hash"),
                F.col("end_node_content_hash").alias("end_node_content_hash"),
            ]
        head = F.to_json(F.struct(*head_fields), {"ignoreNullFields": "false"})
        line = _splice_props(head, F.col("properties_json"))
        hazard_cols = [
            F.col("element_id"),
            F.col("label"),
            F.col("start_element_id"),
            F.col("end_element_id"),
        ]
        if hashed_ids:
            hazard_cols += [
                F.col("start_node_content_hash"),
                F.col("end_node_content_hash"),
            ]
        hazard = string_hazard(hazard_cols)
        fast = edges.filter(~hazard).select(line.alias("line"), "label")

        def run_heads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                lines = []
                for row in pdf.itertuples(index=False):
                    rec: dict[str, Any] = {
                        "type": "relationship",
                        "element_id": row.element_id,
                    }
                    if hashed_ids:
                        rec["NET_rel_identity_hash"] = row.element_id
                    rec["export_id"] = export_id
                    rec["label"] = row.label
                    rec["start_element_id"] = row.start_element_id
                    rec["end_element_id"] = row.end_element_id
                    if hashed_ids:
                        rec["start_node_content_hash"] = row.start_node_content_hash
                        rec["end_node_content_hash"] = row.end_node_content_hash
                    head_js = dumps(rec)
                    lines.append(
                        head_js[:-1]
                        + ',"properties":'
                        + (row.properties_json or "{}")
                        + "}"
                    )
                yield pd.DataFrame({"line": lines, "label": pdf["label"]})

        slow = edges.filter(hazard).coalesce(8).mapInPandas(
            run_heads, schema="line string, label string"
        )
        return fast.unionByName(slow)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = []
            for row in pdf.itertuples(index=False):
                rec: dict[str, Any] = {
                    "type": "relationship",
                    "element_id": row.element_id,
                }
                if hashed_ids:
                    rec["NET_rel_identity_hash"] = row.element_id
                rec["export_id"] = export_id
                rec["label"] = row.label
                rec["start_element_id"] = row.start_element_id
                rec["end_element_id"] = row.end_element_id
                if hashed_ids:
                    rec["start_node_content_hash"] = row.start_node_content_hash
                    rec["end_node_content_hash"] = row.end_node_content_hash
                rec["properties"] = encode_properties(
                    _props_from_row(row.properties)
                )
                lines.append(dumps(rec))
            yield pd.DataFrame({"line": lines, "label": pdf["label"]})

    return edges.mapInPandas(run, schema="line string, label string")


def _normalized_labels(labels_col: Column) -> Column:
    """Null/empty label arrays count under ``_unlabeled`` (A2)."""
    return F.when(
        labels_col.isNull() | (F.size(labels_col) == 0),
        F.array(F.lit("_unlabeled")),
    ).otherwise(labels_col)


def _line_table(node_lines: DataFrame, rel_lines: DataFrame) -> DataFrame:
    """(sec, line, labels): both sections' serialized lines in one table,
    ``sec`` 0 for nodes and 1 for relationships (the section order), and
    ``labels`` the record's stats labels — a node's validated labels
    normalized by `_normalized_labels`, a relationship's single type."""
    return node_lines.select(
        F.lit(0).alias("sec"),
        "line",
        _normalized_labels(F.col("labels")).alias("labels"),
    ).unionByName(
        rel_lines.select(
            F.lit(1).alias("sec"), "line", F.array(F.col("label")).alias("labels")
        )
    )


def _label_shares(table: DataFrame) -> DataFrame:
    """(kind, label, n_labels, line_bytes): one row per (record, label).
    Bytes are UTF-8 on-disk bytes (octet_length + newline), not chars."""
    return table.select(
        F.when(F.col("sec") == 0, F.lit("node"))
        .otherwise(F.lit("relationship"))
        .alias("kind"),
        F.explode("labels").alias("label"),
        F.size("labels").alias("n_labels"),
        (F.octet_length("line") + 1).alias("line_bytes"),
    )


def _shares_agg(shares: DataFrame) -> DataFrame:
    """Grouped by label count too, so every sum stays an exact integer:
    a record with ``n`` labels adds its bytes to each of its ``n`` label
    groups, and the driver divides by ``n`` with exact fractions."""
    return shares.groupBy("kind", "label", "n_labels").agg(
        F.count(F.lit(1)).alias("label_rows"),
        F.sum("line_bytes").alias("label_bytes"),
    )


def _fmt_stats_row(r) -> dict[str, Any]:
    return {
        "label": r["label"] if r["label"] is not None else "_unlabeled",
        "record_count": r["record_count"],
        "bytes_written": int(r["bytes_written"]),
    }


def _split_stats_rows(rows) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    ordered = sorted(
        rows, key=lambda r: (r["kind"], r["label"] if r["label"] is not None else "")
    )
    node_stats = [_fmt_stats_row(r) for r in ordered if r["kind"] == "node"]
    rel_stats = [
        _fmt_stats_row(r) for r in ordered if r["kind"] == "relationship"
    ]
    return node_stats, rel_stats


@dataclass
class _TableStats:
    node_stats: list[dict[str, Any]]
    rel_stats: list[dict[str, Any]]
    node_count: int
    rel_count: int
    invalid_labels: int
    line_bytes: int


def _table_stats(table: DataFrame) -> _TableStats:
    """Per-label record/byte stats (reference A2, ``Export/Core.fs:277-313``:
    multi-label nodes split bytes evenly across labels), per-kind record
    and byte totals and the invalid-label tally, from ONE aggregation job
    over the line table.  The driver folds the few grouped rows with exact
    fractions, so the totals do not depend on summation order."""
    per_label: dict[tuple[str, Any], list] = {}
    records = {"node": Fraction(0), "relationship": Fraction(0)}
    total_bytes = Fraction(0)
    invalid = 0
    for r in _shares_agg(_label_shares(table)).collect():
        kind, label, n = r["kind"], r["label"], r["n_labels"]
        share = Fraction(r["label_bytes"], n)
        acc = per_label.setdefault((kind, label), [0, Fraction(0)])
        acc[0] += r["label_rows"]
        acc[1] += share
        records[kind] += Fraction(r["label_rows"], n)
        total_bytes += share
        if kind == "node" and label == "_invalid_label":
            invalid += r["label_rows"]
    node_stats, rel_stats = _split_stats_rows(
        [
            {"kind": k, "label": lbl, "record_count": c, "bytes_written": b}
            for (k, lbl), (c, b) in per_label.items()
        ]
    )
    return _TableStats(
        node_stats=node_stats,
        rel_stats=rel_stats,
        node_count=int(records["node"]),
        rel_count=int(records["relationship"]),
        invalid_labels=invalid,
        line_bytes=int(total_bytes),
    )


def _advisory_partition_bytes(spark) -> int:
    """The session's AQE advisory partition size, resolved the way AQE
    resolves it (byte-string syntax, fallback key included)."""
    sql_conf = spark.sparkContext._jvm.org.apache.spark.sql.internal.SQLConf
    return spark._jsparkSession.sessionState().conf().getConf(
        sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )


def _sorted_by(df: DataFrame, one_partition: bool, *cols: str) -> DataFrame:
    """Globally sorted by ``cols``: one partition sorted in place when the
    lines fit one partition (one job, no sampling, no shuffle), else a
    range sort whose part files in name order are globally ordered."""
    if one_partition:
        return df.coalesce(1).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


# ---------------------------------------------------------------------------
# metadata line
# ---------------------------------------------------------------------------

def generate_filename(
    db_name: str, node_count: int, rel_count: int, export_id: str, ts: time.struct_time
) -> str:
    """``{db(≤20 alnum)}_{yyyyMMddTHHmmssZ}_{N}n_{M}r_{exportId[:8]}.jsonl``
    (reference ``Configuration/Configuration.fs:35-72``)."""
    safe_db = re.sub(r"[^A-Za-z0-9]", "", db_name)[:20] or "db"
    stamp = time.strftime("%Y%m%dT%H%M%SZ", ts)
    return f"{safe_db}_{stamp}_{node_count}n_{rel_count}r_{export_id[:8]}.jsonl"


def build_metadata(
    *,
    export_id: str,
    db_name: str,
    node_count: int,
    rel_count: int,
    labels: list[str],
    rel_types: list[str],
    node_stats: list[dict[str, Any]],
    rel_stats: list[dict[str, Any]],
    error_count: int,
    warning_count: int,
    duration_seconds: float,
    timestamp_utc: str,
    compression: str = "none",
) -> dict[str, Any]:
    # reference CompressionHints (Database/Metadata.fs:348-352) are HINTS
    # about what a consumer could compress with; when the sink itself
    # compresses, the hints describe the actual encoding.  The recommended
    # value is always one the engine can produce (zstd via the JVM codec,
    # gzip via Hadoop parts) — a reader following the hint gets the format
    # it names.
    if compression == "gzip":
        compression_hints = {
            "recommended": "gzip",
            "compatible": ["gzip", "none"],
            "expected_ratio": 0.3,
            "suffix": ".jsonl.gz",
        }
    else:
        compression_hints = {
            "recommended": "zstd",
            "compatible": ["zstd", "gzip", "brotli", "none"],
            "expected_ratio": 0.3,
            "suffix": ".jsonl.zst",
        }
    node_start = 2
    rel_start = node_start + node_count
    error_start = rel_start + rel_count
    warning_start = error_start + error_count
    return {
        "format_version": FORMAT_VERSION,
        "export_metadata": {
            "export_id": export_id,
            "export_timestamp_utc": timestamp_utc,
            "export_mode": "spark_dataframe_parallel",
            "format": {
                "type": "jsonl",
                "metadata_line": 1,
                "node_start_line": node_start,
                "relationship_start_line": rel_start,
                "error_start_line": error_start,
                "warning_start_line": warning_start,
            },
        },
        "producer": {
            "name": PRODUCER_NAME,
            "version": __version__,
            "runtime": "pyspark",
        },
        "source_system": {
            "type": "spark_kg_pipeline",
            "database": {"name": db_name},
        },
        "database_statistics": {
            "nodeCount": node_count,
            "relCount": rel_count,
            "labelCount": len(labels),
            "relTypeCount": len(rel_types),
        },
        "database_schema": {
            "labels": sorted(labels),
            "relationshipTypes": sorted(rel_types),
        },
        "environment": {"spark": True},
        "security": {"auth": "n/a"},
        "export_manifest": {
            "total_export_duration_seconds": round(duration_seconds, 6),
            "file_statistics": node_stats + rel_stats,
        },
        "error_summary": {
            "total_errors": error_count,
            "total_warnings": warning_count,
        },
        "supported_record_types": ["node", "relationship", "error", "warning"],
        # reference CompatibilityInfo / CompressionHints shapes
        # (Core/Types.fs:310-330, Database/Metadata.fs:343-352)
        "compatibility": {
            "minimum_reader_version": "1.0.0",
            "deprecated_fields": [],
            "breaking_change_version": "2.0.0",
        },
        "compression": compression_hints,
        "pagination_performance": {
            "strategy": "partition_parallel",
            "note": "keyset pagination replaced by partition-parallel scan",
        },
        "_reserved": "",
    }


@dataclass
class ExportResult:
    path: str
    export_id: str
    node_count: int
    rel_count: int
    metadata: dict[str, Any]
    error_count: int = 0
    warning_count: int = 0
    files: list[str] = field(default_factory=list)
    # how the lines were ordered: "one_partition" (the export's line bytes
    # fit one AQE advisory partition), "range" (range sort) or "unsorted"
    sort_path: str = "unsorted"
    line_bytes: int = 0  # serialized node + relationship bytes, newlines included


# ---------------------------------------------------------------------------
# export driver
# ---------------------------------------------------------------------------

def export_jsonl(
    nodes: DataFrame,
    edges: DataFrame,
    out_dir: str,
    db_name: str = "graph",
    export_id: str | None = None,
    hashed_ids: bool = True,
    errors: list[dict[str, Any]] | None = None,
    warnings: list[dict[str, Any]] | None = None,
    single_file: bool = True,
    sort_lines: bool = True,
    compression: str = "none",
) -> ExportResult:
    """Export nodes/edges DataFrames to the reference JSONL format.

    ``nodes``: (element_id, labels, properties_json, content_hash) — the
    `nodes_union` projection.  ``edges``: the `attach_node_hashes` output
    with ``properties_json`` (use `with_properties_json`).

    ``hashed_ids=False`` omits every hash field (reference
    ``N4JET_ENABLE_HASHED_IDS=false``, ``GraphElements.fs:140-141,179-197``).

    ``compression="gzip"``: executors write gzip text parts; the
    single-file concat of gzip members is itself a valid gzip stream
    (multi-member, per RFC 1952), so the layout contract holds with a
    ``.gz`` suffix — the practical choice at 100 TB.

    ``compression="zstd"``: the format the reference's CompressionHints
    recommend (``Database/Metadata.fs:344-352``).  On sessions created by
    ``get_spark`` the write tasks emit per-part ``.zst`` frames directly
    (custom zstd-jni Hadoop codec, ``sources/zstd_codec.py``) — executor-
    parallel compression, valid for both layouts since zstd frames
    concatenate like gzip members (RFC 8878).  Externally created sessions
    (no classpath jar) fall back to compressing the plain parts through a
    pool of JVM streams on the driver; either way the bytes on disk are
    identical-format multi-frame zstd.
    """
    if compression not in ("none", "gzip", "zstd"):
        raise ValueError(f"unsupported compression: {compression!r}")
    use_zstd_codec = False
    if compression == "zstd":
        from neo4j_export_tool_spark.sources.zstd_codec import codec_loadable

        use_zstd_codec = codec_loadable(nodes.sparkSession)
    t0 = time.perf_counter()
    export_id = export_id or str(uuid.uuid4())
    started = time.gmtime()
    timestamp_utc = time.strftime("%Y-%m-%dT%H:%M:%SZ", started)

    # The serializers split each table into a JVM fast lane and a Python
    # hazard lane (two branches of a union); persist the projected inputs
    # so the upstream plan (e.g. pandas-UDF mention detection) materializes
    # once, not once per branch.  Callers that already persisted their
    # inputs keep their cache — re-persisting a projection would
    # materialize a second copy.
    def _is_cached(df: DataFrame) -> bool:
        try:
            lvl = df.storageLevel
            return lvl.useMemory or lvl.useDisk
        except Exception:
            return False

    node_props = (
        "properties_json" if "properties_json" in nodes.columns else "properties"
    )
    edge_props = (
        "properties_json" if "properties_json" in edges.columns else "properties"
    )
    edge_cols = ["element_id", "label", "start_element_id", "end_element_id"]
    if hashed_ids:
        edge_cols += ["start_node_content_hash", "end_node_content_hash"]
    we_persisted: list[DataFrame] = []
    if not _is_cached(nodes):
        nodes = nodes.select("element_id", "labels", node_props, "content_hash").persist()
        we_persisted.append(nodes)
    if not _is_cached(edges):
        edges = edges.select(*edge_cols, edge_props).persist()
        we_persisted.append(edges)

    # Serialize-once flow: both serializers feed ONE line table, persisted
    # MEMORY_AND_DISK (a lost executor's blocks recompute from lineage).
    # The stats aggregation is the job that materializes it; the write
    # (and, for a range sort, its sampling pass) then reads the cache, so
    # no serializer lane runs twice and nothing written is parsed back.
    # The reference computes the same statistics while streaming, then
    # seeks back into a padded metadata line (Workflow/MetadataWriter.fs:
    # 32-224); here the metadata line is composed before the data lands.
    table = None
    try:
        table = _line_table(
            _serialize_nodes(nodes, export_id, hashed_ids),
            _serialize_rels(edges, export_id, hashed_ids),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        stats = _table_stats(table)
        for df in we_persisted:
            df.unpersist()
        we_persisted.clear()
        node_count, rel_count = stats.node_count, stats.rel_count
        node_stats, rel_stats = stats.node_stats, stats.rel_stats
        labels = [s["label"] for s in node_stats]
        rel_types = [s["label"] for s in rel_stats]

        spark = nodes.sparkSession
        os.makedirs(out_dir, exist_ok=True)
        # Spark's own size rule for one post-shuffle partition decides the
        # sort: an export that fits one advisory partition is sorted in
        # one task instead of range-sampled and shuffled
        if not sort_lines:
            sort_path = "unsorted"
        elif stats.line_bytes <= _advisory_partition_bytes(spark):
            sort_path = "one_partition"
        else:
            sort_path = "range"
        one_partition = sort_path == "one_partition"
        if compression == "gzip":
            _wopt = {"compression": "gzip"}
        elif use_zstd_codec:
            # executor-parallel zstd: parts land as ready .zst frames
            from neo4j_export_tool_spark.sources.zstd_codec import CODEC_CLASS

            _wopt = {"compression": CODEC_CLASS}
        else:
            # zstd without the codec: plain parts, compressed after the
            # write by a driver-side pool of JVM streams
            _wopt = {}

        if single_file:
            import glob as _glob

            sections_dir = os.path.join(out_dir, f"tmp-sections-{export_id[:8]}")
            all_lines = table.select("sec", "line")
            if sort_lines:
                # ONE write job; part files in name order ARE globally ordered
                _sorted_by(all_lines, one_partition, "sec", "line").select(
                    "line"
                ).write.mode("overwrite").options(**_wopt).text(sections_dir)
                part_files = sorted(
                    _glob.glob(os.path.join(sections_dir, "part-*"))
                )
            else:
                # unsorted: partitionBy keeps full write parallelism per
                # section (an orderBy on the 2-valued section key would
                # funnel the export through ~2 tasks); section order is
                # restored by concatenating sec=0 parts before sec=1
                all_lines.write.partitionBy("sec").mode("overwrite").options(
                    **_wopt
                ).text(sections_dir)
                part_files = sorted(
                    _glob.glob(os.path.join(sections_dir, "sec=0", "part-*"))
                ) + sorted(
                    _glob.glob(os.path.join(sections_dir, "sec=1", "part-*"))
                )
        else:
            # scale path: executor-written line files per section
            nodes_dir = os.path.join(out_dir, "nodes")
            rels_dir = os.path.join(out_dir, "relationships")
            if sort_lines:
                # per-section global order: one sorted write per section
                for sec, dest in ((0, nodes_dir), (1, rels_dir)):
                    _sorted_by(
                        table.filter(F.col("sec") == sec).select("line"),
                        one_partition,
                        "line",
                    ).write.mode("overwrite").options(**_wopt).text(dest)
            else:
                # unsorted: both sections land in ONE partitionBy write job,
                # then the partition dirs move to their contract names
                import shutil

                scratch = os.path.join(out_dir, f"tmp-write-{export_id[:8]}")
                table.select(
                    F.when(F.col("sec") == 0, F.lit("nodes"))
                    .otherwise(F.lit("relationships"))
                    .alias("section"),
                    "line",
                ).write.partitionBy("section").mode("overwrite").options(
                    **_wopt
                ).text(scratch)
                for sec, dest in (("nodes", nodes_dir), ("relationships", rels_dir)):
                    src_dir = os.path.join(scratch, f"section={sec}")
                    shutil.rmtree(dest, ignore_errors=True)
                    if os.path.isdir(src_dir):
                        os.replace(src_dir, dest)
                    else:
                        os.makedirs(dest, exist_ok=True)  # empty section
                shutil.rmtree(scratch, ignore_errors=True)

        err_records = [
            {"type": "error", **e} for e in (errors or [])
        ]
        warn_records = [
            {"type": "warning", **w} for w in (warnings or [])
        ]
        # label-validation warnings (reference GraphElements.fs:146-153
        # tracks a warning per invalid label, summarized here like the A6
        # warning dedup — one record with a count; the >100-labels cap is
        # silent in the reference, Seq.truncate, and silent here too)
        n_invalid = stats.invalid_labels
        if n_invalid:
            warn_records.append({
                "type": "warning",
                "timestamp": timestamp_utc,
                "message": f"invalid_label: {n_invalid} label(s) replaced "
                           "with _invalid_label",
            })

        metadata = build_metadata(
            export_id=export_id,
            db_name=db_name,
            node_count=node_count,
            rel_count=rel_count,
            labels=labels,
            rel_types=rel_types,
            node_stats=node_stats,
            rel_stats=rel_stats,
            error_count=len(err_records),
            warning_count=len(warn_records),
            duration_seconds=0.0,  # patched below
            timestamp_utc=timestamp_utc,
            compression=compression,
        )

        filename = generate_filename(db_name, node_count, rel_count, export_id, started)
        if compression == "gzip":
            filename += ".gz"
        elif compression == "zstd":
            filename += ".zst"
        final_path = os.path.join(out_dir, filename)

        if single_file:
            # the driver bulk-concatenates file streams — constant memory,
            # no per-row Py4J traffic — and atomically renames
            # (reference Export/Core.fs:437-462)
            import shutil

            tmp_path = final_path + ".tmp"
            metadata["export_manifest"]["total_export_duration_seconds"] = round(
                time.perf_counter() - t0, 6
            )
            if compression == "zstd":
                # multi-frame assembly (RFC 8878: concatenated frames are
                # one valid stream): the bulk parts are ALREADY compressed —
                # by the write tasks (codec path) or by a driver-side pool
                # of JVM streams (fallback) — so assembly is a raw byte
                # concat of (metadata frame, part frames, tail frame), all
                # JVM-side; the driver never recompresses the data
                from neo4j_export_tool_spark.sources.zstd_codec import (
                    concat_files_jvm,
                    parallel_compress_parts,
                    write_bytes_frame,
                )

                if not use_zstd_codec:
                    part_files = parallel_compress_parts(spark, part_files)
                meta_frame = os.path.join(sections_dir, "zmeta.zst.frame")
                write_bytes_frame(
                    spark, (dumps(metadata) + "\n").encode("utf-8"), meta_frame
                )
                frames = [meta_frame] + part_files
                tail = "".join(
                    dumps(rec) + "\n" for rec in err_records + warn_records
                )
                if tail:
                    tail_frame = os.path.join(sections_dir, "ztail.zst.frame")
                    write_bytes_frame(spark, tail.encode("utf-8"), tail_frame)
                    frames.append(tail_frame)
                concat_files_jvm(spark, frames, tmp_path)
            elif compression == "gzip":
                # gzip members concatenate into one valid stream (RFC 1952)
                import gzip as _gzip

                with open(tmp_path, "wb") as f:
                    f.write(_gzip.compress((dumps(metadata) + "\n").encode()))
                    for part in part_files:
                        with open(part, "rb") as pf:
                            shutil.copyfileobj(pf, f, 1 << 20)
                    tail = "".join(
                        dumps(rec) + "\n" for rec in err_records + warn_records
                    )
                    if tail:
                        f.write(_gzip.compress(tail.encode()))
            else:
                with open(tmp_path, "w", encoding="utf-8") as f:
                    f.write(dumps(metadata) + "\n")
                    for part in part_files:
                        with open(part, encoding="utf-8") as pf:
                            shutil.copyfileobj(pf, f, 1 << 20)
                    for rec in err_records + warn_records:
                        f.write(dumps(rec) + "\n")
            os.replace(tmp_path, final_path)
            shutil.rmtree(sections_dir, ignore_errors=True)
            files = [final_path]
        else:
            if compression == "zstd" and not use_zstd_codec:
                # fallback lane: the plain parts become one .zst frame each
                # via the driver's JVM-stream pool — same on-disk format
                # the codec path writes
                import glob as _glob

                from neo4j_export_tool_spark.sources.zstd_codec import (
                    parallel_compress_parts,
                )

                parallel_compress_parts(
                    spark,
                    sorted(_glob.glob(os.path.join(nodes_dir, "part-*")))
                    + sorted(_glob.glob(os.path.join(rels_dir, "part-*"))),
                )
            metadata["export_manifest"]["total_export_duration_seconds"] = round(
                time.perf_counter() - t0, 6
            )
            meta_path = os.path.join(out_dir, "_metadata.json")
            with open(meta_path, "w", encoding="utf-8") as f:
                f.write(dumps(metadata) + "\n")
            final_path = out_dir
            files = [meta_path, nodes_dir, rels_dir]

        return ExportResult(
            path=final_path,
            export_id=export_id,
            node_count=node_count,
            rel_count=rel_count,
            metadata=metadata,
            error_count=len(err_records),
            warning_count=len(warn_records),
            files=files,
            sort_path=sort_path,
            line_bytes=stats.line_bytes,
        )
    finally:
        for df in we_persisted:
            df.unpersist()
        if table is not None:
            table.unpersist()


def with_properties_json(edges: DataFrame) -> DataFrame:
    """Edge projection for the sink: struct properties → contract-final JSON
    bytes (JVM fast path for simple bags; §1.3 UDF otherwise), enabling the
    sink's all-JVM record assembly."""
    from neo4j_export_tool_spark.functions.export_json import export_props_json_col

    return edges.select(
        "element_id",
        "label",
        "start_element_id",
        "end_element_id",
        "start_node_content_hash",
        "end_node_content_hash",
        export_props_json_col(edges).alias("properties_json"),
    )
