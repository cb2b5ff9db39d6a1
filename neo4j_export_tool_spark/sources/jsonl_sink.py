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

1. Both serializers feed one line table ``(sec, line, labels)``, the
   sink's one persisted table, ``MEMORY_AND_DISK`` so a lost executor's
   blocks recompute from lineage.
2. One aggregation over that table — the job that materializes it — gives
   the node/relationship counts, the per-label record/byte stats (reference
   A2, ``Export/Core.fs:277-313``; multi-label nodes split bytes evenly
   across labels, unlabeled nodes count under ``_unlabeled``), the
   ``_invalid_label`` tally and the exact line bytes.
3. ONE write job reads the cached table, for every layout: the
   ``(sec, line)`` rows, sorted when ``sort_lines`` asks, written with
   ``partitionBy("sec")`` into one scratch dir.  A sorted export whose
   line bytes fit one AQE advisory partition (``spark.sql.adaptive.
   advisoryPartitionSizeInBytes``) is sorted in one task; a larger one is
   range-sorted.  Either way each ``sec=<n>`` dir's part files in name
   order hold that section's lines in the same order, byte for byte.

The metadata line is then written once, up front — no seek, no padding,
same bytes-on-disk contract.

The layout only decides how the written sections are finished:
- ``single_file=True`` — exact reference layout in one file: one binary
  concat of the metadata line, the ``sec=0`` then ``sec=1`` parts and the
  error/warning tail — constant driver memory, no per-row Py4J traffic.
- ``single_file=False`` — the 100 TB path: ``sec=0`` and ``sec=1`` are
  renamed to ``nodes/`` and ``relationships/`` beside a ``_metadata.json``;
  assembly into one file is a concat any object store can do server-side.

Record assembly has one path.  Every properties column is contract-final
JSON before serialization: ``properties_json`` inputs carry it already (see
``functions.export_json``), and a typed ``properties`` struct is encoded by
`export_props_json_col` in the sink's input projection — a null property is
omitted, as ``to_json`` and the content hash omit it.  One line writer then
builds node and relationship lines from an ordered head-field list:
``to_json(struct(head))`` + the properties splice, whole-stage codegen, for
every row.  Jackson's one escape that differs from the contract's writer
(upper-case hex in ``\\u001F``-style control escapes) is lower-cased in
place by `functions.export_json.contract_escapes`, a regex chain that runs
only on rows whose head JSON holds such an escape.  Head strings are never
truncated (the contract writes them in full, as ``to_json`` does), so no
row needs a Python writer.
"""

from __future__ import annotations

import glob
import gzip
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field
from fractions import Fraction
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark import FORMAT_VERSION, PRODUCER_NAME, __version__
from neo4j_export_tool_spark.functions.encoding import (
    MAX_LABEL_LENGTH,
    MAX_LABELS_PER_NODE,
    dumps,
)
from neo4j_export_tool_spark.functions.export_json import (
    contract_escapes,
    export_props_json_col,
)


# ---------------------------------------------------------------------------
# record serialization (JVM line assembly)
# ---------------------------------------------------------------------------

def _validated_labels_col() -> Column:
    """null / over-long labels → ``_invalid_label`` (reference
    ``GraphElements.fs:146-153``); cap at 100 labels (``MaxLabelsPerNode``,
    ``Core/Constants.fs:191``)."""
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


def _record_lines(df: DataFrame, head: list[tuple[str, Column]], key: str) -> DataFrame:
    """(line, ``key``): one record line per row of ``df``, whose
    ``properties_json`` holds contract-final bytes.

    ``head`` is the record's ordered ``(field, Column)`` list before
    ``properties``; ``key`` names the head field carried out beside the
    line (the stats labels).  Every row is assembled JVM-side in one
    projection: ``to_json`` of the head with the contract's escapes
    (`contract_escapes`), then `_splice_props`.
    """
    head_json = F.to_json(
        F.struct(*[c.alias(name) for name, c in head]), {"ignoreNullFields": "false"}
    )
    line = _splice_props(contract_escapes(head_json), F.col("properties_json"))
    return df.select(line.alias("line"), dict(head)[key].alias(key))


def _serialize_nodes(nodes: DataFrame, export_id: str, hashed_ids: bool) -> DataFrame:
    """nodes(element_id, labels, properties_json, content_hash)
    → (line, labels), the labels validated by `_validated_labels_col`.

    A narrow under-split input is fanned out first (guide §2.5), so the
    line assembly of a one-partition scan does not run on one core; a
    wide input already runs at the session's shuffle parallelism.
    """
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    nodes = fan_out(nodes, key="element_id")
    head = [("type", F.lit("node")), ("element_id", F.col("element_id"))]
    if hashed_ids:
        head.append(("NET_node_content_hash", F.col("content_hash")))
    head += [("export_id", F.lit(export_id)), ("labels", _validated_labels_col())]
    return _record_lines(nodes, head, "labels")


def _serialize_rels(edges: DataFrame, export_id: str, hashed_ids: bool) -> DataFrame:
    """edges(element_id, label, start/end ids, start/end hashes,
    properties_json) → (line, label).  Fanned out like `_serialize_nodes`."""
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    edges = fan_out(edges, key="element_id")
    tail = ["label", "start_element_id", "end_element_id"]
    if hashed_ids:
        tail += ["start_node_content_hash", "end_node_content_hash"]
    head = [("type", F.lit("relationship")), ("element_id", F.col("element_id"))]
    if hashed_ids:
        head.append(("NET_rel_identity_hash", F.col("element_id")))
    head.append(("export_id", F.lit(export_id)))
    head += [(name, F.col(name)) for name in tail]
    return _record_lines(edges, head, "label")


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

def _parts(section_dir: str) -> list[str]:
    """A written section's part files in name order, which is line order."""
    return sorted(glob.glob(os.path.join(section_dir, "part-*")))


def _framed(spark, text: str, compression: str) -> bytes:
    """``text`` (the metadata line or the error/warning tail) as the single
    file holds it: plain UTF-8, one gzip member or one zstd frame.  Members
    and frames concatenate into one valid stream (RFC 1952, RFC 8878), so
    the file is these bytes around the parts, byte for byte."""
    data = text.encode("utf-8")
    if not data or compression == "none":
        return data
    if compression == "gzip":
        return gzip.compress(data)
    from neo4j_export_tool_spark.sources.zstd_codec import zstd_frame

    return zstd_frame(spark, data)


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
    `nodes_union` projection.  ``edges``: the `attach_node_hashes` output.
    Either may carry a typed ``properties`` struct instead of
    ``properties_json``; the sink encodes it with `export_props_json_col`
    and writes the same bytes.

    ``hashed_ids=False`` omits every hash field (reference
    ``N4JET_ENABLE_HASHED_IDS=false``, ``GraphElements.fs:140-141,179-197``).

    ``compression="gzip"``: executors write gzip text parts; the
    single-file concat of gzip members (the metadata line and the tail are
    one member each) is itself a valid gzip stream (multi-member, per
    RFC 1952), so the layout contract holds with a ``.gz`` suffix — the
    practical choice at 100 TB.

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

    def _sink_input(df: DataFrame, cols: list[str]) -> DataFrame:
        """``cols`` + contract-final ``properties_json``; a typed
        ``properties`` struct is encoded here (`export_props_json_col`)."""
        if "properties_json" in df.columns:
            props = F.col("properties_json")
        else:
            props = export_props_json_col(df)
        return df.select(*cols, props.alias("properties_json"))

    edge_cols = ["element_id", "label", "start_element_id", "end_element_id"]
    if hashed_ids:
        edge_cols += ["start_node_content_hash", "end_node_content_hash"]
    nodes = _sink_input(nodes, ["element_id", "labels", "content_hash"])
    edges = _sink_input(edges, edge_cols)

    # Serialize-once flow: both serializers feed ONE line table, persisted
    # MEMORY_AND_DISK (a lost executor's blocks recompute from lineage).
    # The stats aggregation is the job that materializes it; the write
    # (and, for a range sort, its sampling pass) then reads the cache, so
    # no serializer lane runs twice and nothing written is parsed back.
    # The reference computes the same statistics while streaming, then
    # seeks back into a padded metadata line (Workflow/MetadataWriter.fs:
    # 32-224); here the metadata line is composed before the data lands.
    table = _line_table(
        _serialize_nodes(nodes, export_id, hashed_ids),
        _serialize_rels(edges, export_id, hashed_ids),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sections_dir = os.path.join(out_dir, f"tmp-sections-{export_id[:8]}")
    tmp_path = ""
    try:
        stats = _table_stats(table)
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

        # one write job for every layout; a sort on (sec, line) already
        # satisfies the ordering partitionBy asks for, so the write adds no
        # sort of its own
        lines = table.select("sec", "line")
        if sort_lines:
            lines = _sorted_by(lines, sort_path == "one_partition", "sec", "line")
        lines.write.partitionBy("sec").mode("overwrite").options(**_wopt).text(
            sections_dir
        )
        sec_dirs = [os.path.join(sections_dir, f"sec={sec}") for sec in (0, 1)]
        if compression == "zstd" and not use_zstd_codec:
            # fallback lane: the plain parts become one .zst frame each via
            # the driver's JVM-stream pool — the format the codec writes
            from neo4j_export_tool_spark.sources.zstd_codec import (
                parallel_compress_parts,
            )

            parallel_compress_parts(spark, [p for d in sec_dirs for p in _parts(d)])

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
            duration_seconds=time.perf_counter() - t0,
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
            # one binary concat of the head, the sections' parts in order
            # and the tail, then an atomic rename (reference
            # Export/Core.fs:437-462)
            tail = "".join(dumps(rec) + "\n" for rec in err_records + warn_records)
            tmp_path = final_path + ".tmp"
            with open(tmp_path, "wb") as f:
                f.write(_framed(spark, dumps(metadata) + "\n", compression))
                for part in _parts(sec_dirs[0]) + _parts(sec_dirs[1]):
                    with open(part, "rb") as pf:
                        shutil.copyfileobj(pf, f, 1 << 20)
                f.write(_framed(spark, tail, compression))
            os.replace(tmp_path, final_path)
            files = [final_path]
        else:
            # the section dirs move to their contract names; a section with
            # no lines has no sec=<n> dir and gets an empty one
            meta_path = os.path.join(out_dir, "_metadata.json")
            files = [meta_path]
            for src, name in zip(sec_dirs, ("nodes", "relationships")):
                dest = os.path.join(out_dir, name)
                shutil.rmtree(dest, ignore_errors=True)
                if os.path.isdir(src):
                    os.replace(src, dest)
                else:
                    os.makedirs(dest, exist_ok=True)
                files.append(dest)
            with open(meta_path, "w", encoding="utf-8") as f:
                f.write(dumps(metadata) + "\n")
            final_path = out_dir

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
        # a failed write or assembly leaves no scratch behind either
        table.unpersist()
        shutil.rmtree(sections_dir, ignore_errors=True)
        if tmp_path and os.path.exists(tmp_path):
            os.remove(tmp_path)


def with_properties_json(edges: DataFrame) -> DataFrame:
    """Edge projection for the sink: struct properties → contract-final JSON
    bytes (`export_props_json_col`), the form `export_jsonl` serializes."""
    return edges.select(
        "element_id",
        "label",
        "start_element_id",
        "end_element_id",
        "start_node_content_hash",
        "end_node_content_hash",
        export_props_json_col(edges).alias("properties_json"),
    )
