"""JSONL export READER — loads a reference-format export back into
nodes/edges DataFrames (the import half of the round trip).

Accepts both layouts the sink produces (and the reference tool's own
output, which is the single-file layout):

- single file: line 1 metadata, then node / relationship / error / warning
  records (``Core/Types.fs:347-370``);
- dir mode: ``_metadata.json`` + ``nodes/`` + ``relationships/`` line files.

Parsing is JVM-side (``from_json`` with explicit record schemas; the
open-ended ``properties`` object stays a JSON string — the same
heterogeneous-bag representation ``nodes_union`` uses), so imports scale
like any text scan: no Python in the row path, predicate pushdown on the
record ``type`` discriminator.
"""

from __future__ import annotations

import atexit
import glob
import json
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NODE_SCHEMA = (
    "type string, element_id string, NET_node_content_hash string, "
    "export_id string, labels array<string>"
)
REL_SCHEMA = (
    "type string, element_id string, NET_rel_identity_hash string, "
    "export_id string, label string, start_element_id string, "
    "end_element_id string, start_node_content_hash string, "
    "end_node_content_hash string"
)


@dataclass
class ImportedExport:
    metadata: dict[str, Any]
    nodes: DataFrame  # (element_id, labels, properties_json, content_hash)
    edges: DataFrame  # (element_id, label, start/end ids+hashes, properties_json)
    errors: DataFrame  # raw error/warning records (line string)


# decompressed .zst scratch dirs: must outlive the lazy DataFrames built
# over them, so they are reclaimed at interpreter exit, not per-call.
# _ZST_SCRATCH_CACHE keys a scratch dir by its source (path plus mtime and
# size) so a long-lived session re-importing the same export reuses one
# decompressed copy instead of growing disk without bound; a changed
# mtime/size invalidates the stale entry eagerly.
_ZST_SCRATCH_DIRS: list[str] = []
_ZST_SCRATCH_CACHE: dict[str, tuple[Any, str, str]] = {}


def _cleanup_zst_scratch() -> None:
    _ZST_SCRATCH_CACHE.clear()
    while _ZST_SCRATCH_DIRS:
        shutil.rmtree(_ZST_SCRATCH_DIRS.pop(), ignore_errors=True)


def _cached_scratch(
    key: str, stamp: Any, prefix: str, fill: Callable[[str], str]
) -> str:
    """The decompressed copy of source ``key`` at ``stamp``: the cached one
    while it still exists, else ``fill(scratch)`` run on a fresh scratch
    dir (a stale copy of ``key`` is evicted first).  ``fill`` returns the
    path the caller reads; the dir is removed at interpreter exit."""
    hit = _ZST_SCRATCH_CACHE.get(key)
    if hit is not None:
        old_stamp, scratch, out = hit
        if old_stamp == stamp and os.path.exists(out):
            return out
        # source changed under the same path: evict the stale copy now
        if scratch in _ZST_SCRATCH_DIRS:
            _ZST_SCRATCH_DIRS.remove(scratch)
        shutil.rmtree(scratch, ignore_errors=True)
        del _ZST_SCRATCH_CACHE[key]
    scratch = tempfile.mkdtemp(prefix=prefix)
    if not _ZST_SCRATCH_DIRS:
        atexit.register(_cleanup_zst_scratch)
    _ZST_SCRATCH_DIRS.append(scratch)
    out = fill(scratch)
    _ZST_SCRATCH_CACHE[key] = (stamp, scratch, out)
    return out


def _materialize_zst(spark: SparkSession, path: str) -> str:
    """Decompress a ``.zst`` export to a plain temp file the text reader
    can scan.  Decompression runs JVM-side (zstd-jni ``ZstdInputStream`` →
    ``Files.copy``), no Py4J byte traffic; repeated imports of the same
    unchanged file reuse one cached copy (`_cached_scratch`)."""
    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    def fill(scratch: str) -> str:
        out = os.path.join(scratch, os.path.basename(path)[: -len(".zst")])
        decompress_file_jvm(spark, path, out)
        return out

    st = os.stat(path)
    return _cached_scratch(
        os.path.abspath(path), (st.st_mtime, st.st_size), "jsonl-zst-", fill
    )


def _materialize_zst_section(spark: SparkSession, section_dir: str) -> str:
    """Fallback for sessions without the zstd codec on the classpath:
    decompress a section directory's ``.zst`` parts into a cached scratch
    dir (`_cached_scratch`, keyed like single-file imports),
    parallelized across JVM streams."""
    import concurrent.futures as fut

    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    parts = sorted(glob.glob(os.path.join(section_dir, "*.zst")))
    # external exports may mix plain and .zst parts in one section; the
    # scratch dir must carry BOTH or the plain parts' rows silently vanish
    plain_parts = sorted(
        p
        for p in glob.glob(os.path.join(section_dir, "*"))
        if os.path.isfile(p)
        and not p.endswith(".zst")
        and not os.path.basename(p).startswith(("_", "."))
    )
    stamp = tuple(
        (os.path.basename(p), os.path.getmtime(p), os.path.getsize(p))
        for p in parts + plain_parts
    )

    def fill(scratch: str) -> str:
        def _one(p: str) -> None:
            decompress_file_jvm(
                spark, p, os.path.join(scratch, os.path.basename(p)[: -len(".zst")])
            )

        with fut.ThreadPoolExecutor(max_workers=min(8, max(1, len(parts)))) as pool:
            list(pool.map(_one, parts))
        for p in plain_parts:
            dst = os.path.join(scratch, os.path.basename(p))
            if os.path.exists(dst):
                # a plain part whose name equals a .zst part's decompressed
                # name — ambiguous external input; clobbering would silently
                # drop one side's rows (the bug class this path exists to fix)
                raise ValueError(
                    "section mixes a plain part and a .zst part that "
                    f"decompress to the same name: {os.path.basename(p)}"
                )
            try:
                os.symlink(os.path.abspath(p), dst)
            except OSError:  # e.g. filesystem without symlink support
                shutil.copy2(p, dst)
        return scratch

    return _cached_scratch(
        os.path.abspath(section_dir), stamp, "jsonl-zst-dir-", fill
    )


def _lines_df(spark: SparkSession, path: str) -> DataFrame:
    if os.path.isdir(path):
        from neo4j_export_tool_spark.sources.zstd_codec import (
            codec_loadable,
            register_read_codecs,
        )

        sections = [
            os.path.join(path, d)
            for d in ("nodes", "relationships")
            if os.path.isdir(os.path.join(path, d))
        ]
        zst_sections = [
            s for s in sections if glob.glob(os.path.join(s, "*.zst"))
        ]
        if zst_sections:
            if codec_loadable(spark):
                # transparent decompression in the read tasks
                register_read_codecs(spark)
            else:
                sections = [
                    _materialize_zst_section(spark, s) if s in zst_sections else s
                    for s in sections
                ]
        return spark.read.text(sections)
    # the metadata line stays in: it has no top-level ``type``, so the
    # record filters of `read_jsonl_export` drop it without a parse of its own
    return spark.read.text(path)


def _read_metadata(path: str) -> dict[str, Any]:
    meta_path = (
        os.path.join(path, "_metadata.json") if os.path.isdir(path) else path
    )
    if meta_path.endswith(".gz"):
        import gzip

        with gzip.open(meta_path, "rt", encoding="utf-8") as f:
            return json.loads(f.readline())
    with open(meta_path, encoding="utf-8") as f:
        return json.loads(f.readline())


def read_jsonl_export(spark: SparkSession, path: str) -> ImportedExport:
    """Load an export (file or directory) back into DataFrames.

    ``properties`` is re-emitted as the raw JSON object string
    (``properties_json``) — byte-identical to what the sink wrote, so a
    re-export round-trips exactly.
    """
    if path.endswith(".zst"):
        path = _materialize_zst(spark, path)
    metadata = _read_metadata(path)
    lines = _lines_df(spark, path)
    kind = F.get_json_object("value", "$.type")

    node_lines = lines.filter(kind == "node")
    nodes = node_lines.select(
        F.from_json("value", NODE_SCHEMA).alias("r"),
        F.get_json_object("value", "$.properties").alias("properties_json"),
    ).select(
        F.col("r.element_id").alias("element_id"),
        F.col("r.labels").alias("labels"),
        "properties_json",
        F.col("r.NET_node_content_hash").alias("content_hash"),
    )

    rel_lines = lines.filter(kind == "relationship")
    edges = rel_lines.select(
        F.from_json("value", REL_SCHEMA).alias("r"),
        F.get_json_object("value", "$.properties").alias("properties_json"),
    ).select(
        F.col("r.element_id").alias("element_id"),
        F.col("r.label").alias("label"),
        F.col("r.start_element_id").alias("start_element_id"),
        F.col("r.end_element_id").alias("end_element_id"),
        F.col("r.start_node_content_hash").alias("start_node_content_hash"),
        F.col("r.end_node_content_hash").alias("end_node_content_hash"),
        "properties_json",
    )

    errors = lines.filter(kind.isin("error", "warning")).select(
        F.col("value").alias("line")
    )
    return ImportedExport(metadata=metadata, nodes=nodes, edges=edges, errors=errors)
