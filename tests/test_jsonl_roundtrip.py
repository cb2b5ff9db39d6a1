"""Round-trip: export → read back → re-export must be byte-stable.

The import half (`sources/jsonl_source.py`) loads a reference-format file
or dir back into the same DataFrame shapes the sink consumes, so
export(read(export(g))) == export(g) up to the export_id/timestamp lines.
"""

from __future__ import annotations

import json

import pytest

from neo4j_export_tool_spark.plans.flagship import documents_kg
from neo4j_export_tool_spark.sources.jsonl_sink import (
    export_jsonl,
    with_properties_json,
)
from neo4j_export_tool_spark.sources.jsonl_source import read_jsonl_export


@pytest.fixture(scope="module")
def exported(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("rt")
    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(out), db_name="rt",
        export_id="11111111-2222-3333-4444-555555555555",
    )
    return res


def test_roundtrip_counts_and_hashes(spark, exported):
    imp = read_jsonl_export(spark, exported.path)
    assert imp.metadata["database_statistics"]["nodeCount"] == exported.node_count
    assert imp.nodes.count() == exported.node_count
    assert imp.edges.count() == exported.rel_count
    # identity hashes survive the round trip
    bad = imp.nodes.filter(~imp.nodes.content_hash.rlike("^[a-f0-9]{64}$")).count()
    assert bad == 0


def test_reexport_is_byte_stable(spark, exported, tmp_path):
    """export(read(export)) reproduces every node/relationship line."""
    imp = read_jsonl_export(spark, exported.path)
    res2 = export_jsonl(
        imp.nodes, imp.edges, str(tmp_path), db_name="rt",
        export_id="11111111-2222-3333-4444-555555555555",
    )
    def data_lines(p):
        with open(p, encoding="utf-8") as f:
            return sorted(
                ln for ln in f.read().splitlines()[1:]
                if json.loads(ln)["type"] in ("node", "relationship")
            )
    assert data_lines(res2.path) == data_lines(exported.path)
    assert res2.node_count == exported.node_count
    assert res2.rel_count == exported.rel_count


def test_single_file_read_keeps_metadata_out_of_every_table(spark, tmp_path):
    """The metadata line has no top-level ``type``: a single-file export
    with errors and warnings reads back with the metadata in
    ``metadata`` only, never as a row of ``nodes``, ``edges`` or
    ``errors``."""
    nodes = spark.createDataFrame(
        [("n:1", ["A"], '{"k":1}', "h1"), ("n:2", ["B"], "{}", "h2")],
        "element_id string, labels array<string>, properties_json string, "
        "content_hash string",
    )
    edges = spark.createDataFrame(
        [("r:1", "R", "n:1", "n:2", "h1", "h2", "{}")],
        "element_id string, label string, start_element_id string, "
        "end_element_id string, start_node_content_hash string, "
        "end_node_content_hash string, properties_json string",
    )
    res = export_jsonl(
        nodes, edges, str(tmp_path), db_name="meta",
        errors=[{"timestamp": "t", "message": "boom"}],
        warnings=[{"timestamp": "t", "message": "careful"}],
    )
    imp = read_jsonl_export(spark, res.path)
    assert imp.metadata["export_metadata"]["export_id"] == res.export_id
    assert sorted(r.element_id for r in imp.nodes.collect()) == ["n:1", "n:2"]
    assert [r.element_id for r in imp.edges.collect()] == ["r:1"]
    assert sorted(json.loads(r.line)["type"] for r in imp.errors.collect()) == [
        "error", "warning",
    ]


def test_dir_mode_import(spark, sf_dir, tmp_path):
    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(tmp_path), db_name="rt",
        single_file=False, sort_lines=False,
    )
    imp = read_jsonl_export(spark, str(tmp_path))
    assert imp.nodes.count() == res.node_count
    assert imp.edges.count() == res.rel_count
    assert imp.metadata["database_statistics"]["relCount"] == res.rel_count


def test_gzip_export_roundtrip(spark, sf_dir, tmp_path):
    """compression='gzip': multi-member gzip single file is valid gzip,
    carries the gzip compression hints, and round-trips through the
    importer (spark.read.text decodes .gz transparently)."""
    import gzip

    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(tmp_path), db_name="gz",
        compression="gzip", sort_lines=False,
    )
    assert res.path.endswith(".jsonl.gz")
    with gzip.open(res.path, "rt", encoding="utf-8") as f:
        first = json.loads(f.readline())
        n_lines = sum(1 for _ in f)
    assert first["compression"]["recommended"] == "gzip"
    assert first["compression"]["suffix"] == ".jsonl.gz"
    assert first["compatibility"]["minimum_reader_version"] == "1.0.0"
    assert n_lines == res.node_count + res.rel_count

    imp = read_jsonl_export(spark, res.path)
    assert imp.nodes.count() == res.node_count
    assert imp.edges.count() == res.rel_count


def test_zstd_export_roundtrip(spark, sf_dir, tmp_path):
    """compression='zstd': the format the reference's CompressionHints
    recommend — written via the JVM's zstd-jni stream, read back through
    the importer's transparent .zst materialization.  A reader following
    the metadata hint gets exactly what it names."""
    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(tmp_path), db_name="zs",
        compression="zstd", sort_lines=False,
    )
    assert res.path.endswith(".jsonl.zst")
    assert res.metadata["compression"]["recommended"] == "zstd"
    assert res.metadata["compression"]["suffix"] == ".jsonl.zst"

    imp = read_jsonl_export(spark, res.path)
    assert imp.metadata["compression"]["recommended"] == "zstd"
    assert imp.nodes.count() == res.node_count
    assert imp.edges.count() == res.rel_count
    bad = imp.nodes.filter(~imp.nodes.content_hash.rlike("^[a-f0-9]{64}$")).count()
    assert bad == 0


def test_zst_scratch_reuse_and_invalidation(spark, sf_dir, tmp_path):
    """Re-importing the same unchanged .zst reuses one decompressed scratch
    copy (long-lived sessions must not grow disk per import); changing the
    source under the same path evicts the stale copy."""
    import os
    import time as _time

    from neo4j_export_tool_spark.sources import jsonl_source as src_mod

    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(tmp_path), db_name="zs",
        compression="zstd", sort_lines=False,
    )
    p1 = src_mod._materialize_zst(spark, res.path)
    p2 = src_mod._materialize_zst(spark, res.path)
    assert p1 == p2, "unchanged source must reuse the cached scratch copy"

    os.utime(res.path, (_time.time() + 5, _time.time() + 5))
    p3 = src_mod._materialize_zst(spark, res.path)
    assert p3 != p1, "mtime change must invalidate the cache"
    assert not os.path.exists(p1), "stale scratch copy must be evicted"


def test_zstd_dir_mode_roundtrip(spark, sf_dir, tmp_path):
    """Executor-parallel zstd: the write tasks compress their parts through
    the stock zstd-jni Hadoop codec, dir mode names them ``.zst``, and the
    import decodes them in the read tasks.  The 100 TB compression path."""
    import os

    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(tmp_path), db_name="zs",
        compression="zstd", single_file=False, sort_lines=False,
    )
    for sec in ("nodes", "relationships"):
        names = os.listdir(os.path.join(str(tmp_path), sec))
        parts = [n for n in names if n.startswith("part-")]
        assert parts and all(n.endswith(".zst") for n in parts), (
            "write tasks must produce .zst parts directly"
        )
        assert not [n for n in names if ".zstd" in n]
    imp = read_jsonl_export(spark, res.path)
    assert imp.nodes.count() == res.node_count
    assert imp.edges.count() == res.rel_count


def _zstd_jni_frames(spark, src: str, dst: str) -> None:
    """``src`` as two concatenated zstd-jni frames (split mid-file) in
    ``dst``: the multi-frame parts earlier releases of the sink wrote."""
    jvm = spark.sparkContext._jvm
    data = open(src, "rb").read()
    out = b""
    for chunk in (data[: len(data) // 2], data[len(data) // 2 :]):
        buf = jvm.java.io.ByteArrayOutputStream()
        zos = jvm.com.github.luben.zstd.ZstdOutputStream(buf)
        zos.write(bytearray(chunk))
        zos.close()
        out += bytes(buf.toByteArray())
    with open(dst, "wb") as f:
        f.write(out)


def test_zstd_jni_frame_dir_export_imports_same_rows(spark, sf_dir, tmp_path):
    """A dir export whose ``.zst`` parts are zstd-jni frames (the on-disk
    format of earlier releases, written by their own codec) imports to the
    same node and edge rows as the plain export of the same graph."""
    import glob
    import os

    nodes, hashed = documents_kg(spark, sf_dir)
    out = str(tmp_path / "frames")
    res = export_jsonl(
        nodes, with_properties_json(hashed), out, db_name="fr",
        single_file=False, sort_lines=False,
    )
    plain = read_jsonl_export(spark, res.path)
    want_nodes = sorted(plain.nodes.collect())
    want_edges = sorted(plain.edges.collect())
    for sec in ("nodes", "relationships"):
        for part in glob.glob(os.path.join(out, sec, "part-*")):
            _zstd_jni_frames(spark, part, part + ".zst")
            os.remove(part)
    assert glob.glob(os.path.join(out, "nodes", "part-*.zst"))

    imp = read_jsonl_export(spark, res.path)
    assert sorted(imp.nodes.collect()) == want_nodes
    assert sorted(imp.edges.collect()) == want_edges


def test_mixed_plain_and_zst_section_fallback(spark, sf_dir, tmp_path):
    """Import of a section mixing plain and .zst parts (an external export
    could produce this) must surface the plain parts' rows too: the read
    tasks decode the .zst parts and read the plain ones as they are."""
    import glob
    import os

    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    nodes, hashed = documents_kg(spark, sf_dir)
    dir_out = str(tmp_path / "mixed")
    res = export_jsonl(
        nodes, with_properties_json(hashed), dir_out, db_name="mx",
        compression="zstd", single_file=False, sort_lines=False,
    )
    # fabricate a plain part alongside the .zst ones by decompressing one
    part = sorted(glob.glob(os.path.join(dir_out, "nodes", "part-*.zst")))[0]
    plain = os.path.join(dir_out, "nodes", "part-99999-plain.txt")
    decompress_file_jvm(spark, part, plain)
    extra_rows = sum(1 for _ in open(plain, "rb"))
    assert extra_rows > 0

    imp = read_jsonl_export(spark, res.path)
    assert imp.nodes.count() == res.node_count + extra_rows
    assert imp.edges.count() == res.rel_count


def test_mixed_section_same_name_reads_both_parts(spark, sf_dir, tmp_path):
    """A plain part named like a .zst part minus its suffix is a file of
    its own: the import reads the rows of both."""
    import glob
    import os

    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    nodes, hashed = documents_kg(spark, sf_dir)
    dir_out = str(tmp_path / "clash")
    res = export_jsonl(
        nodes, with_properties_json(hashed), dir_out, db_name="cl",
        compression="zstd", single_file=False, sort_lines=False,
    )
    part = sorted(glob.glob(os.path.join(dir_out, "nodes", "part-*.zst")))[0]
    # plain sibling named exactly like the decompressed .zst part
    decompress_file_jvm(spark, part, part[: -len(".zst")])
    extra_rows = sum(1 for _ in open(part[: -len(".zst")], "rb"))
    assert extra_rows > 0

    imp = read_jsonl_export(spark, res.path)
    assert imp.nodes.count() == res.node_count + extra_rows
    assert imp.edges.count() == res.rel_count
