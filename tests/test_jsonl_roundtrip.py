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
    """Executor-parallel zstd (round-4): write tasks emit per-part .zst
    frames through the custom zstd-jni Hadoop codec; the import reads them
    back transparently.  The 100 TB compression path."""
    import glob
    import os

    from neo4j_export_tool_spark.sources.zstd_codec import codec_loadable

    assert codec_loadable(spark), "get_spark session must carry the codec jar"
    nodes, hashed = documents_kg(spark, sf_dir)
    res = export_jsonl(
        nodes, with_properties_json(hashed), str(tmp_path), db_name="zs",
        compression="zstd", single_file=False, sort_lines=False,
    )
    parts = glob.glob(os.path.join(str(tmp_path), "nodes", "part-*"))
    assert parts and all(p.endswith(".zst") for p in parts), (
        "write tasks must produce .zst parts directly"
    )
    imp = read_jsonl_export(spark, res.path)
    assert imp.nodes.count() == res.node_count
    assert imp.edges.count() == res.rel_count


def test_zstd_fallback_lane_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    """Sessions without the codec jar (e.g. the driver harness's own
    SparkSession) compress parts through the driver's JVM-stream pool and
    import via scratch decompression — same multi-frame bytes on disk."""
    import glob
    import os

    monkeypatch.setattr(
        "neo4j_export_tool_spark.sources.zstd_codec.codec_loadable",
        lambda _s: False,
    )
    nodes, hashed = documents_kg(spark, sf_dir)
    # dir mode
    dir_out = str(tmp_path / "dir")
    res = export_jsonl(
        nodes, with_properties_json(hashed), dir_out, db_name="zs",
        compression="zstd", single_file=False, sort_lines=False,
    )
    parts = glob.glob(os.path.join(dir_out, "nodes", "part-*"))
    assert parts and all(p.endswith(".zst") for p in parts)
    imp = read_jsonl_export(spark, res.path)
    assert imp.nodes.count() == res.node_count
    assert imp.edges.count() == res.rel_count
    # single file
    sf_out = str(tmp_path / "single")
    res2 = export_jsonl(
        nodes, with_properties_json(hashed), sf_out, db_name="zs",
        compression="zstd", sort_lines=False,
    )
    assert res2.path.endswith(".jsonl.zst")
    imp2 = read_jsonl_export(spark, res2.path)
    assert imp2.nodes.count() == res2.node_count
    assert imp2.edges.count() == res2.rel_count


def test_codec_finish_ends_frame(spark, tmp_path):
    """CompressionOutputStream.finish() must end the zstd frame WITHOUT
    closing the underlying stream (the Hadoop contract): a consumer that
    calls finish() and then reads the file back gets complete data, and
    later writes start a fresh frame that concatenates per RFC 8878."""
    from neo4j_export_tool_spark.sources.zstd_codec import (
        CODEC_CLASS,
        codec_loadable,
        decompress_file_jvm,
    )

    assert codec_loadable(spark)
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    klass = (
        jvm.Thread.currentThread().getContextClassLoader().loadClass(CODEC_CLASS)
    )
    codec = klass.getDeclaredConstructor(
        gw.new_array(jvm.java.lang.Class, 0)
    ).newInstance(gw.new_array(jvm.java.lang.Object, 0))

    src = str(tmp_path / "f.zst")
    fos = jvm.java.io.FileOutputStream(src)
    out = codec.createOutputStream(fos)
    first = b"hello frame one\n" * 100
    out.write(first, 0, len(first))
    out.finish()

    # the frame is complete on disk before close(): read it back now
    mid = str(tmp_path / "mid.txt")
    decompress_file_jvm(spark, src, mid)
    assert open(mid, "rb").read() == first

    # the underlying stream is still open: writes continue in a new frame
    second = b"frame two\n" * 50
    out.write(second, 0, len(second))
    out.close()
    full = str(tmp_path / "full.txt")
    decompress_file_jvm(spark, src, full)
    assert open(full, "rb").read() == first + second


def test_mixed_plain_and_zst_section_fallback(spark, sf_dir, tmp_path, monkeypatch):
    """Codec-less import of a section mixing plain and .zst parts (an
    external export could produce this) must surface the plain parts'
    rows too — the scratch dir carries both kinds."""
    import glob
    import os

    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    monkeypatch.setattr(
        "neo4j_export_tool_spark.sources.zstd_codec.codec_loadable",
        lambda _s: False,
    )
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


def test_mixed_section_name_collision_raises(spark, sf_dir, tmp_path, monkeypatch):
    """A plain part whose name equals a .zst part's decompressed name is
    ambiguous — the codec-less import must refuse, not clobber."""
    import glob
    import os

    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    monkeypatch.setattr(
        "neo4j_export_tool_spark.sources.zstd_codec.codec_loadable",
        lambda _s: False,
    )
    nodes, hashed = documents_kg(spark, sf_dir)
    dir_out = str(tmp_path / "clash")
    res = export_jsonl(
        nodes, with_properties_json(hashed), dir_out, db_name="cl",
        compression="zstd", single_file=False, sort_lines=False,
    )
    part = sorted(glob.glob(os.path.join(dir_out, "nodes", "part-*.zst")))[0]
    # plain sibling named exactly like the decompressed .zst part
    decompress_file_jvm(spark, part, part[: -len(".zst")])
    with pytest.raises(Exception, match="same name"):
        read_jsonl_export(spark, res.path)
