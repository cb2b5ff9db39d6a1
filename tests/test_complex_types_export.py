"""ComplexTypes fixture export — the §1.3 encoding contract through the REAL
sink with typed (not pre-stringified) property values.

Mirrors the reference's ComplexTypes fixture + DataTypeTests
(``TestDataManagement.fs:171-379``, ``DataTypeTests.fs``): special floats,
binaries, temporals, collections, unicode — asserted on the exported JSONL
bytes.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.graph import nodes_from
from neo4j_export_tool_spark.sources.jsonl_sink import export_jsonl


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    rows = [
        (
            "v1",
            float("nan"),
            float("inf"),
            b"\x00\x01binary",
            dt.datetime(2024, 2, 29, 12, 30, 45, 123456),
            [1, 2, 3],
            "héllo ☕ <&> 'quoted'",
            3.14159,
            None,
        )
    ]
    df = spark.createDataFrame(
        rows,
        "id string, f_nan double, f_inf double, blob binary, ts timestamp_ntz, "
        "nums array<int>, uni string, pi double, missing string",
    )
    nodes = nodes_from(
        df,
        labels=["ComplexTypes"],
        element_id=F.col("id"),
        props={
            "f_nan": F.col("f_nan"),
            "f_inf": F.col("f_inf"),
            "blob": F.col("blob"),
            "ts": F.col("ts"),
            "nums": F.col("nums"),
            "uni": F.col("uni"),
            "pi": F.col("pi"),
            "missing": F.col("missing"),
        },
    )
    # TYPED path: pass the struct column straight through (no to_json)
    typed = nodes.select("element_id", "labels", "properties", "content_hash")
    edges = spark.createDataFrame(
        [],
        "element_id string, label string, start_element_id string, "
        "end_element_id string, start_node_content_hash string, "
        "end_node_content_hash string, properties_json string",
    )
    out = tmp_path_factory.mktemp("complex")
    res = export_jsonl(typed, edges, str(out), db_name="complex")
    with open(res.path, encoding="utf-8") as f:
        raw = f.read()
    lines = [json.loads(line) for line in raw.splitlines()]
    return raw, lines


def test_special_floats_as_strings(exported):
    _, lines = exported
    props = lines[1]["properties"]
    assert props["f_nan"] == "NaN"
    assert props["f_inf"] == "Infinity"


def test_binary_base64(exported):
    import base64

    _, lines = exported
    assert lines[1]["properties"]["blob"] == base64.b64encode(b"\x00\x01binary").decode()


def test_temporal_iso(exported):
    # reference LocalDateTime.ToString(): 9-digit nanosecond field
    # (docs/Types.md:128-130); Spark µs → nanos = µs·1000
    _, lines = exported
    assert lines[1]["properties"]["ts"] == "2024-02-29T12:30:45.123456000"


def test_collections_and_null(exported):
    _, lines = exported
    props = lines[1]["properties"]
    assert props["nums"] == [1, 2, 3]
    # a null property is omitted, as in every other lane and the content
    # hash (Neo4j stores no null-valued properties)
    assert "missing" not in props
    assert props["pi"] == 3.14159


def test_unicode_unescaped_bytes(exported):
    raw, _ = exported
    # UnsafeRelaxedJsonEscaping parity: raw unicode + no HTML escaping
    assert "héllo ☕ <&> 'quoted'" in raw
    assert "\\u00e9" not in raw and "\\u003c" not in raw
