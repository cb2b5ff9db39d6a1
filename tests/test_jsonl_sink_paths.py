"""The JSONL sink's serialize-once flow: sort-path equivalence and manifest
stats.

- Tier equivalence: an export whose line bytes fit one AQE advisory
  partition is sorted in one task (``sort_path == "one_partition"``); a
  scoped 1-byte advisory size forces the range sort (with AQE's partition
  coalescing off, so the small test sections still land in several
  parts in all).  Both paths must write the same bytes — single file, dir mode,
  and gzip/zstd after decompression.
- Layouts: all four ``single_file`` x ``sort_lines`` layouts write the
  same lines from one write job, and a failed export leaves no scratch.
- Stats: the manifest's ``file_statistics``, ``nodeCount`` / ``relCount``
  and the invalid-label warning must equal a Python recount of the
  written file.
"""

from __future__ import annotations

import contextlib
import glob
import gzip
import json
import os
from fractions import Fraction

import pytest

from neo4j_export_tool_spark.plans.flagship import documents_kg
from neo4j_export_tool_spark.sources.jsonl_sink import (
    _advisory_partition_bytes,
    export_jsonl,
    with_properties_json,
)

EXPORT_ID = "0f0f0f0f-1111-2222-3333-444444444444"
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


@contextlib.contextmanager
def _conf(spark, settings: dict[str, str]):
    """Session conf settings scoped to the block."""
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _advisory(spark, value):
    return _conf(spark, {ADVISORY: value})


@pytest.fixture(scope="module")
def docs_graph(spark, sf_dir):
    nodes, hashed = documents_kg(spark, sf_dir)
    nodes = nodes.persist()
    edges = with_properties_json(hashed).persist()
    yield nodes, edges
    nodes.unpersist()
    edges.unpersist()


def _export_both_paths(spark, graph, tmp_path, **kw):
    """(one-partition result, range result), same graph and export_id."""
    nodes, edges = graph
    one = export_jsonl(
        nodes, edges, str(tmp_path / "one"), export_id=EXPORT_ID, **kw
    )
    with _conf(spark, {ADVISORY: "1b", COALESCE: "false"}):
        rng = export_jsonl(
            nodes, edges, str(tmp_path / "range"), export_id=EXPORT_ID, **kw
        )
    assert one.sort_path == "one_partition"
    assert rng.sort_path == "range"
    assert one.line_bytes == rng.line_bytes > 0
    return one, rng


def _split_meta(data: bytes) -> tuple[dict, bytes]:
    """(metadata without its run-dependent fields, remaining bytes)."""
    head, _, body = data.partition(b"\n")
    meta = json.loads(head)
    meta["export_metadata"].pop("export_timestamp_utc")
    meta["export_manifest"].pop("total_export_duration_seconds")
    return meta, body


def _assert_same_file(a: bytes, b: bytes) -> None:
    meta_a, body_a = _split_meta(a)
    meta_b, body_b = _split_meta(b)
    assert body_a == body_b
    assert meta_a == meta_b


def test_advisory_size_follows_session_conf(spark):
    with _advisory(spark, "1b"):
        assert _advisory_partition_bytes(spark) == 1
    with _advisory(spark, "1"):
        assert _advisory_partition_bytes(spark) == 1
    with _advisory(spark, "3m"):
        assert _advisory_partition_bytes(spark) == 3 << 20
    with _advisory(spark, "64MB"):
        assert _advisory_partition_bytes(spark) == 64 << 20


def test_single_file_sort_paths_write_identical_bytes(spark, docs_graph, tmp_path):
    one, rng = _export_both_paths(spark, docs_graph, tmp_path)
    with open(one.path, "rb") as f1, open(rng.path, "rb") as f2:
        a, b = f1.read(), f2.read()
    _assert_same_file(a, b)
    # the body is the sorted node section, then the sorted relationship one
    lines = a.decode("utf-8").splitlines()[1:]
    kinds = [json.loads(x)["type"] for x in lines]
    n = one.node_count
    assert kinds == ["node"] * n + ["relationship"] * one.rel_count
    assert lines[:n] == sorted(lines[:n]) and lines[n:] == sorted(lines[n:])
    assert len(a) - len(a.partition(b"\n")[0]) - 1 == one.line_bytes


def test_unsorted_export_reports_its_path(spark, docs_graph, tmp_path):
    nodes, edges = docs_graph
    res = export_jsonl(nodes, edges, str(tmp_path), sort_lines=False)
    assert res.sort_path == "unsorted"
    assert res.line_bytes > 0


def _dir_bytes(section_dir: str) -> bytes:
    """A section's part files concatenated in name order."""
    out = b""
    for part in sorted(glob.glob(os.path.join(section_dir, "part-*"))):
        with open(part, "rb") as f:
            out += f.read()
    return out


def test_dir_mode_sort_paths_write_identical_sections(spark, docs_graph, tmp_path):
    one, rng = _export_both_paths(spark, docs_graph, tmp_path, single_file=False)
    rng_parts = 0
    for sec in ("nodes", "relationships"):
        one_parts = glob.glob(os.path.join(one.path, sec, "part-*"))
        rng_parts += len(glob.glob(os.path.join(rng.path, sec, "part-*")))
        assert len(one_parts) == 1
        assert _dir_bytes(os.path.join(one.path, sec)) == _dir_bytes(
            os.path.join(rng.path, sec)
        )
    # the range sort really ran; one range spans both sections, so a small
    # section may still land in one part
    assert rng_parts > 1
    meta = []
    for res in (one, rng):
        with open(os.path.join(res.path, "_metadata.json"), "rb") as f:
            meta.append(f.read())
    _assert_same_file(*meta)


def test_gzip_sort_paths_decompress_identically(spark, docs_graph, tmp_path):
    one, rng = _export_both_paths(spark, docs_graph, tmp_path, compression="gzip")
    with gzip.open(one.path, "rb") as f1, gzip.open(rng.path, "rb") as f2:
        _assert_same_file(f1.read(), f2.read())


def test_zstd_sort_paths_decompress_identically(spark, docs_graph, tmp_path):
    from neo4j_export_tool_spark.sources.zstd_codec import decompress_file_jvm

    one, rng = _export_both_paths(spark, docs_graph, tmp_path, compression="zstd")
    plain = []
    for res in (one, rng):
        dst = res.path[: -len(".zst")]
        decompress_file_jvm(spark, res.path, dst)
        with open(dst, "rb") as f:
            plain.append(f.read())
    _assert_same_file(*plain)


# ---------------------------------------------------------------------------
# the four layouts (single_file x sort_lines) share one write
# ---------------------------------------------------------------------------

LAYOUTS = [(single, srt) for single in (True, False) for srt in (True, False)]


def _layout_lines(res, single_file: bool) -> tuple[list[str], list[str]]:
    """(node lines, relationship lines) of an export, in written order."""
    if single_file:
        with open(res.path, encoding="utf-8") as f:
            lines = f.read().splitlines()[1:]
        n = res.node_count
        return lines[:n], lines[n : n + res.rel_count]
    return tuple(
        _dir_bytes(os.path.join(res.path, sec)).decode("utf-8").splitlines()
        for sec in ("nodes", "relationships")
    )


def test_all_layouts_write_the_same_lines(spark, docs_graph, tmp_path):
    nodes, edges = docs_graph
    written = {}
    for single, srt in LAYOUTS:
        res = export_jsonl(
            nodes, edges, str(tmp_path / f"{single}-{srt}"),
            export_id=EXPORT_ID, single_file=single, sort_lines=srt,
        )
        written[single, srt] = _layout_lines(res, single)
        assert not glob.glob(str(tmp_path / f"{single}-{srt}" / "tmp-*"))
    node_lines, rel_lines = written[True, True]
    assert node_lines and rel_lines
    for layout, (n, r) in written.items():
        assert sorted(n) == node_lines, layout
        assert sorted(r) == rel_lines, layout
    # the sorted single-file body is sorted dir mode's nodes/ parts followed
    # by its relationships/ parts
    assert written[True, True] == written[False, True]


def _write_jobs(spark, monkeypatch, call):
    """(``call()``, the jobs started inside ``DataFrameWriter.text`` during
    it), read from the status tracker under a job group set around each
    write."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = "jsonl-sink-write"
    text = DataFrameWriter.text

    def grouped(self, *args, **kwargs):
        sc.setJobGroup(group, "export write")
        try:
            return text(self, *args, **kwargs)
        finally:
            sc._jsc.clearJobGroup()

    monkeypatch.setattr(DataFrameWriter, "text", grouped)
    result = call()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_sorted_dir_mode_starts_one_write_job(spark, docs_graph, tmp_path, monkeypatch):
    nodes, edges = docs_graph
    res, jobs = _write_jobs(
        spark,
        monkeypatch,
        lambda: export_jsonl(
            nodes, edges, str(tmp_path), export_id=EXPORT_ID, single_file=False
        ),
    )
    assert res.sort_path == "one_partition"
    assert jobs == 1


@pytest.mark.parametrize(
    "fail_at, single_file",
    [("build_metadata", True), ("build_metadata", False), ("concat", True)],
)
def test_failed_export_leaves_no_scratch(
    spark, tmp_path, monkeypatch, fail_at, single_file
):
    """An export that raises after its write leaves neither the sections
    scratch dir nor a half-written ``.tmp`` file in ``out_dir``."""
    from neo4j_export_tool_spark.sources import jsonl_sink

    def boom(*args, **kwargs):
        raise RuntimeError("injected failure")

    if fail_at == "build_metadata":
        monkeypatch.setattr(jsonl_sink, "build_metadata", boom)
    else:  # the single file's part concat, after its .tmp file is opened
        monkeypatch.setattr(jsonl_sink.shutil, "copyfileobj", boom)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="injected failure"):
        export_jsonl(
            _nodes(spark), _edges(spark), str(out), export_id=EXPORT_ID,
            single_file=single_file,
        )
    left = os.listdir(out)
    assert not [x for x in left if x.startswith("tmp-") or x.endswith(".tmp")], left


# ---------------------------------------------------------------------------
# manifest stats equal a recount of the written file
# ---------------------------------------------------------------------------

NODE_SCHEMA = (
    "element_id string, labels array<string>, properties_json string, "
    "content_hash string"
)
EDGE_SCHEMA = (
    "element_id string, label string, start_element_id string, "
    "end_element_id string, start_node_content_hash string, "
    "end_node_content_hash string, properties_json string"
)
H = "a" * 64


def _nodes(spark):
    return spark.createDataFrame(
        [
            ("n1", ["Person"], '{"name":"ann"}', H),
            ("n2", ["Person", "Author", "Émigré"], '{"name":"bo"}', H),
            ("n3", ["A", "B", "C"], '{"x":1}', H),
            ("n4", ["Dup", "Dup"], "{}", H),
            ("n5", None, '{"k":"v"}', H),
            ("n6", [], "{}", H),
            ("n7", [None, "Person"], "{}", H),
            ("n8", ["L" * 1001], '{"long":true}', H),
            ("n9\x0bctrl", ["Person"], '{"hazard":"id"}', H),
            ("n10", ["Ctl\x1fLabel", "A"], "{}", H),
        ],
        NODE_SCHEMA,
    )


def _edges(spark):
    return spark.createDataFrame(
        [
            ("r1", "KNOWS", "n1", "n2", H, H, '{"since":2020}'),
            ("r2", "KNOWS", "n2", "n3", H, H, "{}"),
            ("r3", "CITES", "n3", "n1", H, H, '{"w":"ü"}'),
            ("r4\x0bctrl", "KNOWS", "n1", "n3", H, H, "{}"),
            ("r5", "CTL\x1fTYPE", "n4", "n5", H, H, "{}"),
            ("r6", None, "n5", "n6", H, H, "{}"),
        ],
        EDGE_SCHEMA,
    )


def _recount(lines: list[str]):
    """(file_statistics, node_count, rel_count, invalid labels) of the
    record lines, by the manifest's rules: bytes are UTF-8 bytes plus the
    newline, a node's bytes split evenly across its labels, null or empty
    label arrays count under ``_unlabeled``."""
    acc: dict[tuple[str, str | None], list] = {}
    n_nodes = n_rels = invalid = 0
    for line in lines:
        rec = json.loads(line)
        size = len(line.encode("utf-8")) + 1
        if rec["type"] == "node":
            n_nodes += 1
            labels = rec["labels"] or ["_unlabeled"]
            invalid += labels.count("_invalid_label")
        elif rec["type"] == "relationship":
            n_rels += 1
            labels = [rec["label"]]
        else:
            continue
        for label in labels:
            slot = acc.setdefault((rec["type"], label), [0, Fraction(0)])
            slot[0] += 1
            slot[1] += Fraction(size, len(labels))
    ordered = sorted(acc, key=lambda k: (k[0], k[1] if k[1] is not None else ""))
    stats = [
        {
            "label": label if label is not None else "_unlabeled",
            "record_count": acc[(kind, label)][0],
            "bytes_written": int(acc[(kind, label)][1]),
        }
        for kind, label in ordered
    ]
    return stats, n_nodes, n_rels, invalid


@pytest.mark.parametrize("graph", ["full", "no_relationships", "empty"])
def test_manifest_stats_equal_recount_of_file(spark, tmp_path, graph):
    nodes, edges = _nodes(spark), _edges(spark)
    if graph != "full":
        edges = edges.limit(0)
    if graph == "empty":
        nodes = nodes.limit(0)
    res = export_jsonl(nodes, edges, str(tmp_path), export_id=EXPORT_ID)
    with open(res.path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    meta = json.loads(lines[0])
    stats, n_nodes, n_rels, invalid = _recount(lines[1:])

    assert meta["export_manifest"]["file_statistics"] == stats
    assert meta["database_statistics"]["nodeCount"] == n_nodes == res.node_count
    assert meta["database_statistics"]["relCount"] == n_rels == res.rel_count
    assert res.line_bytes == sum(
        len(x.encode("utf-8")) + 1
        for x in lines[1:]
        if json.loads(x)["type"] in ("node", "relationship")
    )
    warnings = [
        json.loads(x)["message"]
        for x in lines[1:]
        if json.loads(x)["type"] == "warning"
    ]
    if invalid:
        assert warnings == [
            f"invalid_label: {invalid} label(s) replaced with _invalid_label"
        ]
    else:
        assert warnings == []
    assert meta["error_summary"]["total_warnings"] == len(warnings)
    if graph == "full":
        # the fixture really exercises every case the manifest rules name
        assert invalid == 2
        labels = {s["label"] for s in stats}
        assert {"_unlabeled", "_invalid_label", "Dup", "Émigré"} <= labels
        assert n_nodes == 10 and n_rels == 6
    elif graph == "empty":
        assert lines == lines[:1] and stats == []


def test_export_persists_only_the_line_table(spark, tmp_path, monkeypatch):
    """The line table is the sink's one cache: neither input is persisted,
    a typed ``properties`` struct included, and nothing stays cached after
    the export."""
    from pyspark.sql import functions as F

    nodes = _nodes(spark)
    edges = _edges(spark).drop("properties_json").withColumn(
        "properties", F.struct(F.col("element_id").alias("id"))
    )
    persisted = []
    frame_type = type(nodes)
    persist = frame_type.persist

    def spy(self, *args, **kwargs):
        persisted.append(self.columns)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_type, "persist", spy)
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = export_jsonl(nodes, edges, str(tmp_path), export_id=EXPORT_ID)
    assert persisted == [["sec", "line", "labels"]]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
    assert (res.node_count, res.rel_count) == (10, 6)
