"""Byte-parity tests for the JVM record-serialization fast path.

The sink assembles every record line JVM-side (to_json + concat) from
contract-final ``properties_json`` bytes, lower-casing Jackson's upper-hex
control escapes in place; simple property bags are rendered JVM-side the
same way, with strings over ``MAX_STRING_LENGTH`` as the contract's
truncation marker.  Every line must equal the pure-Python reference
rendering: ``dumps({...head..., "properties": encode_properties(bag)})``.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.encoding import (
    MAX_LABELS_PER_NODE,
    MAX_STRING_LENGTH,
    dumps,
    encode_properties,
)
from neo4j_export_tool_spark.functions.export_json import (
    bag_is_export_fast,
    export_props_json_col,
)
from neo4j_export_tool_spark.operators.graph import nodes_from, nodes_union
from neo4j_export_tool_spark.sources.jsonl_sink import (
    _serialize_nodes,
    _serialize_rels,
)

TRICKY = [
    "plain ascii",
    'quote " and \\ backslash',
    "shorthand \n\t\r\b\f escapes",
    "unicode café über \U0001f600  sep",
    "hazard ctrl \x01\x0b\x1f\x7f chars",
    "",
]
# a bag key the sink's escape fix must reach: control, non-ASCII, quote and
# backslash characters
CTRL_KEY = 'k\x1fé\x0bq"\\'


def _py_node_line(eid, labels, bag, chash, export_id):
    rec = {
        "type": "node",
        "element_id": eid,
        "NET_node_content_hash": chash,
        "export_id": export_id,
        "labels": labels,
        "properties": encode_properties(bag),
    }
    return dumps(rec)


def test_node_lines_byte_exact_vs_python(spark):
    df = spark.createDataFrame(
        [(f"doc:{i}", s, i) for i, s in enumerate(TRICKY)],
        "eid string, text string, num long",
    )
    nodes = nodes_from(
        df,
        labels=["Doc"],
        element_id=F.col("eid"),
        props={"text": F.col("text"), "num": F.col("num"), CTRL_KEY: F.col("text")},
    )
    union = nodes_union(nodes)
    out = {
        json.loads(r["line"])["element_id"]: r["line"]
        for r in _serialize_nodes(union, "EXP", hashed_ids=True).collect()
    }
    hashes = {
        r["element_id"]: r["content_hash"] for r in union.collect()
    }
    for i, s in enumerate(TRICKY):
        eid = f"doc:{i}"
        expected = _py_node_line(
            eid, ["Doc"], {"text": s, "num": i, CTRL_KEY: s}, hashes[eid], "EXP"
        )
        assert out[eid] == expected, f"line {i} diverges: {out[eid]!r}"


def test_control_chars_in_head_strings_render_contract_escapes(spark):
    """element_id with a control char must still render contract bytes."""
    df = spark.createDataFrame(
        [("id\x0bwith\x1fctrl", "v")], "eid string, val string"
    )
    nodes = nodes_union(
        nodes_from(
            df,
            labels=["X"],
            element_id=F.col("eid"),
            props={"val": F.col("val")},
        )
    )
    [row] = _serialize_nodes(nodes, "EXP", hashed_ids=False).collect()
    assert "\\u000b" in row["line"] and "\\u000B" not in row["line"]
    assert json.loads(row["line"])["element_id"] == "id\x0bwith\x1fctrl"


# the control characters whose \uXXXX escape Jackson writes in upper-case hex
UPPER_HEX_CTRL = "\x0b\x0e\x0f\x1a\x1b\x1c\x1d\x1e\x1f"


def test_content_hashes_of_control_chars_match_python_kernel(spark):
    """``nodes_from`` / ``edges_from`` hash the bytes the Python kernel
    hashes.  Two inputs: every control character whose escape case differs
    between Jackson and the contract's writer, in values and in keys (the
    JVM canonical-JSON lane); and a bag of ``timestamp_ntz`` with
    microseconds, date, ``decimal(10,2)``, binary, a double holding NaN
    and null, an ``array<int>`` and a ``map<string,int>`` holding nulls
    (the Python lane, where Jackson's timestamp and decimal strings are not
    the kernel's)."""
    import datetime as dt
    from decimal import Decimal

    from neo4j_export_tool_spark.functions.canonical import (
        node_content_hash,
        rel_identity_hash,
    )
    from neo4j_export_tool_spark.operators.graph import edges_from

    key = "k\x1f"
    values = [f"a{c}b" for c in UPPER_HEX_CTRL]
    ctrl = spark.createDataFrame(
        [(v, i, v) for i, v in enumerate(values)], "eid string, i long, name string"
    )
    ctrl_props = {"id": F.col("i"), "name": F.col("name"), key: F.col("name")}
    ctrl_bags = {v: {"id": i, "name": v, key: v} for i, v in enumerate(values)}

    typed_rows = [
        (
            "t0", dt.datetime(2024, 1, 2, 3, 4, 5, 120000), dt.date(2024, 1, 2),
            Decimal("1.50"), b"\x00\xff", float("nan"), [1, None], {"p": 1, "q": None},
        ),
        (
            "t1", dt.datetime(2024, 1, 2, 3, 4, 5), dt.date(1999, 12, 31),
            Decimal("-0.07"), b"", None, [None], {"q": None},
        ),
    ]
    typed = spark.createDataFrame(
        typed_rows,
        "eid string, ts timestamp_ntz, d date, dec decimal(10,2), bin binary, "
        "x double, arr array<int>, m map<string,int>",
    )
    typed_props = {c: F.col(c) for c in typed.columns[1:]}
    typed_bags = {r[0]: dict(zip(typed.columns[1:], r[1:])) for r in typed_rows}

    for df, props, bags in (
        (ctrl, ctrl_props, ctrl_bags),
        (typed, typed_props, typed_bags),
    ):
        nodes = nodes_from(df, labels=["N"], element_id=F.col("eid"), props=props)
        edges = edges_from(
            df,
            rel_type="R",
            start_element_id=F.lit("s"),
            end_element_id=F.col("eid"),
            props=props,
        )
        node_hash = {r["element_id"]: r["content_hash"] for r in nodes.collect()}
        rel_hash = {r["end_element_id"]: r["identity_hash"] for r in edges.collect()}
        assert node_hash.keys() == rel_hash.keys() == bags.keys()
        for eid, bag in bags.items():
            assert node_hash[eid] == node_content_hash(["N"], bag), repr(eid)
            assert rel_hash[eid] == rel_identity_hash("R", "s", eid, bag), repr(eid)


def test_label_validation_and_cap(spark):
    """Each label case runs twice: with a plain element_id, and with the
    same id plus a control char whose escape the sink lower-cases.  The two
    records must agree on everything but the id."""
    long_label = "L" * 1001
    many = [f"l{i:03d}" for i in range(120)]
    cases = {"big": [None, long_label, *many], "null": None, "empty": []}
    df = spark.createDataFrame(
        [
            (case + tail, labels)
            for case, labels in cases.items()
            for tail in ("", "\x0b")
        ],
        "eid string, labels array<string>",
    )
    nodes = nodes_union(
        nodes_from(
            df,
            labels=F.col("labels"),
            element_id=F.col("eid"),
            props={"k": F.lit(1)},
        )
    )
    rows = _serialize_nodes(nodes, "EXP", hashed_ids=True).collect()
    recs = {}
    for row in rows:
        rec = json.loads(row["line"])
        assert row["labels"] == rec["labels"]
        recs[rec.pop("element_id")] = rec
    assert len(recs) == 6
    for case in cases:
        hazard_row = next(r["line"] for r in rows if f'"{case}\\u000b"' in r["line"])
        assert "\\u000B" not in hazard_row  # the contract's escape
        assert recs[case] == recs[case + "\x0b"], case
    # cap is silent (reference Seq.truncate, GraphElements.fs:146-148)
    assert len(recs["big"]["labels"]) == MAX_LABELS_PER_NODE
    assert recs["big"]["labels"][0] == "_invalid_label"  # null label
    assert recs["big"]["labels"][1] == "_invalid_label"  # over-long label
    assert recs["big"]["labels"][2:] == many[: MAX_LABELS_PER_NODE - 2]
    assert recs["null"]["labels"] is None
    assert recs["empty"]["labels"] == []


def test_rel_lines_byte_exact_vs_python(spark):
    df = spark.createDataFrame(
        [(s, i) for i, s in enumerate(TRICKY)], "text string, num long"
    )
    from neo4j_export_tool_spark.operators.graph import edges_from
    from neo4j_export_tool_spark.sources.jsonl_sink import with_properties_json

    edges = edges_from(
        df,
        rel_type="REL",
        start_element_id=F.concat(F.lit("a:"), F.col("num")),
        end_element_id=F.concat(F.lit("b:"), F.col("num")),
        props={"text": F.col("text"), "num": F.col("num")},
    ).withColumns(
        {
            "start_node_content_hash": F.lit("0" * 64),
            "end_node_content_hash": F.lit("1" * 64),
        }
    )
    rows = _serialize_rels(
        with_properties_json(edges), "EXP", hashed_ids=True
    ).collect()
    by_start = {json.loads(r["line"])["start_element_id"]: r["line"] for r in rows}
    eids = {
        r["start_element_id"]: r["element_id"] for r in edges.collect()
    }
    for i, s in enumerate(TRICKY):
        start = f"a:{i}"
        rec = {
            "type": "relationship",
            "element_id": eids[start],
            "NET_rel_identity_hash": eids[start],
            "export_id": "EXP",
            "label": "REL",
            "start_element_id": start,
            "end_element_id": f"b:{i}",
            "start_node_content_hash": "0" * 64,
            "end_node_content_hash": "1" * 64,
            "properties": encode_properties({"text": s, "num": i}),
        }
        assert by_start[start] == dumps(rec), f"rel {i} diverges"


# the nine controls Jackson escapes with an upper-case hex letter, then the
# digit-only escapes both writers share
UPPER_HEX_CTRL = ["\x0b", "\x0e", "\x0f", *map(chr, range(0x1A, 0x20))]
DIGIT_CTRL = list(map(chr, range(0x00, 0x08)))
ESCAPE_CASES = [
    *(f"a{c}b" for c in UPPER_HEX_CTRL + DIGIT_CTRL),
    "".join(UPPER_HEX_CTRL),
    "literal \\u001F and \\u000b text",
    "\\u001F\x1f",
    "\\\\u001F",
    *("\\" * n + c for n in (1, 2, 3) for c in ("\x1f", "\x0b", "\x01")),
    *("\\" * n + "u001F" for n in (1, 2, 3)),
    "plain",
]


@pytest.mark.parametrize("hashed_ids", [True, False])
def test_head_escapes_byte_exact_vs_dumps(spark, hashed_ids):
    """Control characters in element ids, labels, relationship ids and
    types: every serialized line equals `dumps` of the same head, for each
    upper-hex escape, the digit-only ones, literal ``\\u001F`` text and
    backslash runs of length 1-3 before a control character."""
    rows = [(i, s) for i, s in enumerate(ESCAPE_CASES)]
    base = spark.createDataFrame(rows, "i int, s string")
    nodes = base.select(
        F.concat(F.col("s"), F.col("i").cast("string")).alias("element_id"),
        F.array(F.col("s"), F.lit("L")).alias("labels"),
        F.lit('{"k":1}').alias("properties_json"),
        F.concat(F.lit("h"), F.col("s")).alias("content_hash"),
    )
    edges = base.select(
        F.concat(F.lit("r"), F.col("s"), F.col("i").cast("string")).alias(
            "element_id"
        ),
        F.col("s").alias("label"),
        F.concat(F.col("s"), F.lit("<")).alias("start_element_id"),
        F.concat(F.lit(">"), F.col("s")).alias("end_element_id"),
        F.concat(F.lit("hs"), F.col("s")).alias("start_node_content_hash"),
        F.concat(F.lit("he"), F.col("s")).alias("end_node_content_hash"),
        F.lit("{}").alias("properties_json"),
    )
    expected_nodes, expected_rels = set(), set()
    for i, s in rows:
        eid = f"{s}{i}"
        rec = {"type": "node", "element_id": eid}
        if hashed_ids:
            rec["NET_node_content_hash"] = f"h{s}"
        rec |= {"export_id": "EXP", "labels": [s, "L"], "properties": {"k": 1}}
        expected_nodes.add(dumps(rec))
        rid = f"r{s}{i}"
        rec = {"type": "relationship", "element_id": rid}
        if hashed_ids:
            rec["NET_rel_identity_hash"] = rid
        rec |= {
            "export_id": "EXP",
            "label": s,
            "start_element_id": f"{s}<",
            "end_element_id": f">{s}",
        }
        if hashed_ids:
            rec |= {
                "start_node_content_hash": f"hs{s}",
                "end_node_content_hash": f"he{s}",
            }
        rec["properties"] = {}
        expected_rels.add(dumps(rec))
    node_lines = _serialize_nodes(nodes, "EXP", hashed_ids).collect()
    rel_lines = _serialize_rels(edges, "EXP", hashed_ids).collect()
    assert {r["line"] for r in node_lines} == expected_nodes
    assert {r["line"] for r in rel_lines} == expected_rels
    assert len(node_lines) == len(rel_lines) == len(rows)
    assert {r["label"] for r in rel_lines} == set(ESCAPE_CASES)


def test_fractional_bags_route_through_contract_udf(spark):
    """Float property formatting must match the contract (1e-07, not 1.0E-7)."""
    df = spark.createDataFrame([(1e-7, 1.5, float("nan"))], "a double, b double, c double")
    col = export_props_json_col(
        df.select(
            F.struct(
                F.col("a").alias("a"), F.col("b").alias("b"), F.col("c").alias("c")
            ).alias("properties")
        )
    )
    [row] = (
        df.select(
            F.struct(
                F.col("a").alias("a"), F.col("b").alias("b"), F.col("c").alias("c")
            ).alias("properties")
        )
        .select(col.alias("pj"))
        .collect()
    )
    obj = json.loads(row["pj"])
    assert row["pj"] == dumps({"a": 1e-07, "b": 1.5, "c": "NaN"})
    assert obj["c"] == "NaN"


def test_over_limit_strings_render_contract_marker(spark):
    """A simple-bag string over ``MAX_STRING_LENGTH`` renders as the
    contract's ``string_too_large`` marker, byte-equal to
    ``dumps(encode_properties(bag))``: control and astral characters in the
    997-character prefix (an astral character at code point 996, the
    surrogate pair that spans UTF-16 units 996-997), a multi-byte body for
    the SHA-256, two long fields beside a null one, and a string of exactly
    the limit, which stays plain."""
    n = MAX_STRING_LENGTH
    astral = "\U0001f600"
    straddle = "\x01\x1f\x0b" + "p" * 993 + astral + "q" + "z" * n
    rows = [
        (0, straddle, 1, "é" * (n + 1), None),
        (1, "x" * n, 2, "\x0b" + astral * 3 + "\\u001F" + "\x1f" * n, "s\x1f"),
        (2, "plain", None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id int, text string, num long, other string, note string"
    )
    bag = df.select(
        "id",
        F.struct(*[F.col(c).alias(c) for c in df.columns[1:]]).alias("properties"),
    )
    got = dict(bag.select("id", export_props_json_col(bag)).collect())
    assert len(got) == len(rows)
    for i, *vals in rows:
        props = {
            k: v for k, v in zip(df.columns[1:], vals, strict=True) if v is not None
        }
        assert got[i] == dumps(encode_properties(props)), f"row {i}"
    assert got[0].count('"_truncated":"string_too_large"') == 2
    assert got[1].count('"_truncated":"string_too_large"') == 1
    assert json.loads(got[1])["text"] == "x" * n


def test_bag_fast_detection(spark):
    from pyspark.sql import types as T

    simple = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("i", T.LongType()),
            T.StructField("b", T.BooleanType()),
        ]
    )
    assert bag_is_export_fast(simple)
    with_float = T.StructType([T.StructField("f", T.DoubleType())])
    assert not bag_is_export_fast(with_float)
    nested = T.StructType(
        [T.StructField("a", T.ArrayType(T.StringType()))]
    )
    assert not bag_is_export_fast(nested)
    with_ts = T.StructType([T.StructField("t", T.TimestampType())])
    assert not bag_is_export_fast(with_ts)
    long_key = T.StructType([T.StructField("k" * 1001, T.StringType())])
    assert not bag_is_export_fast(long_key)
    ctrl_key = T.StructType([T.StructField(CTRL_KEY, T.StringType())])
    assert bag_is_export_fast(ctrl_key)


def test_typed_bag_via_union_lane_matches_contract(spark):
    """Bags with temporal fields routed through nodes_union must render the
    contract's temporal format (9-digit nanos), not Jackson's timestamp
    string (review finding: to_json stringification lost typed semantics)."""
    import datetime as dt

    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 2, 29, 12, 30, 45, 123456), b"\x00\x01")],
        "id string, ts timestamp_ntz, blob binary",
    )
    nodes = nodes_union(
        nodes_from(
            df,
            labels=["T"],
            element_id=F.col("id"),
            props={"ts": F.col("ts"), "blob": F.col("blob")},
        )
    )
    [row] = nodes.select("properties_json").collect()
    obj = json.loads(row["properties_json"])
    assert obj["ts"] == "2024-02-29T12:30:45.123456000"
    import base64

    assert obj["blob"] == base64.b64encode(b"\x00\x01").decode()


def test_duplicate_struct_field_names_not_fast(spark):
    from pyspark.sql import types as T

    dup = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("k", T.StringType())]
    )
    assert not bag_is_export_fast(dup)


def test_single_file_unsorted_parallel_write(spark, tmp_path):
    """sort_lines=False single-file must not funnel through an orderBy on
    the 2-valued section key; sections still land in order."""
    from neo4j_export_tool_spark.operators.graph import edges_from
    from neo4j_export_tool_spark.sources.jsonl_sink import (
        export_jsonl,
        with_properties_json,
    )

    df = spark.createDataFrame([(i, f"t{i}") for i in range(50)], "k long, t string")
    nodes = nodes_union(
        nodes_from(df, labels=["N"], element_id=F.concat(F.lit("n:"), F.col("k")),
                   props={"t": F.col("t")})
    )
    edges = with_properties_json(
        edges_from(df, rel_type="R", start_element_id=F.concat(F.lit("n:"), F.col("k")),
                   end_element_id=F.concat(F.lit("n:"), F.col("k")),
                   props={}).withColumns(
            {"start_node_content_hash": F.lit("0" * 64),
             "end_node_content_hash": F.lit("1" * 64)})
    )
    res = export_jsonl(nodes, edges, str(tmp_path), db_name="p",
                       sort_lines=False)
    lines = open(res.path).read().splitlines()[1:]  # skip metadata line
    kinds = [json.loads(x)["type"] for x in lines]
    # nodes strictly before relationships
    assert kinds == sorted(kinds, key=lambda k: 0 if k == "node" else 1)
    assert res.node_count == 50 and res.rel_count == 50


def test_typed_bag_int_column_with_nulls_stays_integral(spark):
    """Fields beside a timestamp render as they do in a bag without one:
    an int column with nulls stays integral with its nulls omitted (not
    ``{'n':5.0}`` / ``{'n':'NaN'}``), and so do a null double, an
    ``array<int>`` holding a null, a float 0.1 and a struct with a null
    field, where an Arrow-decoded value would give ``"NaN"``,
    ``[1.0,"NaN"]``, ``0.10000000149011612`` and ``"p":null``."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), 5, 1.5, [1, 2], 0.25, (1, 2)),
            ("b", dt.datetime(2024, 1, 2), None, None, [1, None], 0.1, (None, 2)),
        ],
        "id string, ts timestamp_ntz, n long, x double, arr array<int>, "
        "f float, st struct<p:int,q:int>",
    )
    rest = {c: F.col(c) for c in df.columns[2:]}

    def bags(props):
        nodes = nodes_union(
            nodes_from(df, labels=["T"], element_id=F.col("id"), props=props)
        )
        return dict(nodes.select("element_id", "properties_json").collect())

    with_ts = bags({"ts": F.col("ts"), **rest})
    without_ts = bags(rest)
    assert without_ts["b"] == '{"arr":[1,null],"f":0.1,"st":{"q":2}}'
    for eid, day in (("a", "01"), ("b", "02")):
        ts = f'"ts":"2024-01-{day}T00:00:00"'
        assert with_ts[eid] == "{" + ts + "," + without_ts[eid][1:], eid
    got = {eid: json.loads(js) for eid, js in with_ts.items()}
    assert got["a"]["n"] == 5 and isinstance(got["a"]["n"], int)
    assert "n" not in got["b"]  # null dropped, not "NaN"


def test_null_timestamp_elements_match_python_kernel(spark):
    """A null element of an ``array<timestamp_ntz>`` (nested arrays too):
    through ``nodes_from`` → ``nodes_union`` the export writes it as the
    kernel's ``null`` and the content hash hashes what
    ``node_content_hash`` hashes."""
    import datetime as dt

    from neo4j_export_tool_spark.functions.canonical import node_content_hash

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    rows = [("a", [ts, None], [[None, ts]]), ("b", [None], [[None]])]
    df = spark.createDataFrame(
        rows,
        "eid string, arr array<timestamp_ntz>, "
        "nested array<array<timestamp_ntz>>",
    )
    nodes = nodes_from(
        df,
        labels=["N"],
        element_id=F.col("eid"),
        props={"arr": F.col("arr"), "nested": F.col("nested")},
    )
    got = {
        r["element_id"]: (r["properties_json"], r["content_hash"])
        for r in nodes_union(nodes).collect()
    }
    assert got.keys() == {"a", "b"}
    for eid, arr, nested in rows:
        bag = {"arr": arr, "nested": nested}
        assert got[eid][0] == dumps(encode_properties(bag)), eid
        assert got[eid][1] == node_content_hash(["N"], bag), eid


def test_ragged_nested_timestamp_arrays_match_python_kernel(spark):
    """Inner arrays of different lengths, and a null inner array, of an
    ``array<array<timestamp_ntz>>``: the export writes the kernel's bytes
    and the content hash hashes what ``node_content_hash`` hashes."""
    import datetime as dt

    from neo4j_export_tool_spark.functions.canonical import node_content_hash

    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 120000)
    rows = [("a", [[ts], [ts, ts]]), ("b", [[ts], None]), ("c", [None, []])]
    df = spark.createDataFrame(
        rows, "eid string, nested array<array<timestamp_ntz>>"
    )
    nodes = nodes_from(
        df, labels=["N"], element_id=F.col("eid"),
        props={"nested": F.col("nested")},
    )
    got = {
        r["element_id"]: (r["properties_json"], r["content_hash"])
        for r in nodes_union(nodes).collect()
    }
    assert got.keys() == {"a", "b", "c"}
    for eid, nested in rows:
        bag = {"nested": nested}
        assert got[eid][0] == dumps(encode_properties(bag)), eid
        assert got[eid][1] == node_content_hash(["N"], bag), eid


def test_duplicate_struct_fields_raise_at_plan_time(spark):
    """Silent last-key-wins data loss is rejected with a clear error."""
    df = spark.createDataFrame([(1, "x")], "a long, b string").select(
        F.struct(F.col("a").alias("k"), F.col("b").alias("k")).alias("properties")
    )
    with pytest.raises(ValueError, match="duplicate struct field names"):
        export_props_json_col(df)


def test_fuzz_byte_parity_over_exotic_strings(spark):
    """300 seeded random strings spanning control chars, all escape
    classes, astral planes, and bidi/zero-width marks — every exported
    line must equal the pure-Python contract rendering."""
    import random

    rng = random.Random(20260816)
    pools = [
        lambda: chr(rng.randrange(0x00, 0x20)),          # C0 controls
        lambda: chr(rng.randrange(0x20, 0x7F)),          # ASCII
        lambda: chr(rng.randrange(0x80, 0x2500)),        # BMP
        lambda: chr(rng.randrange(0x1F300, 0x1F700)),    # astral emoji
        lambda: rng.choice('"\\/​  ‮\x7f'),
    ]
    strings = [
        "".join(rng.choice(pools)() for _ in range(rng.randrange(0, 24)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "num long, text string"
    )
    nodes = nodes_union(
        nodes_from(df, labels=["F"], element_id=F.concat(F.lit("f:"), F.col("num")),
                   props={"text": F.col("text"), "num": F.col("num")})
    )
    rows = _serialize_nodes(nodes, "EXP", hashed_ids=True).collect()
    hashes = {r["element_id"]: r["content_hash"] for r in nodes.collect()}
    got = {json.loads(r["line"])["element_id"]: r["line"] for r in rows}
    assert len(got) == 300
    for i, s in enumerate(strings):
        eid = f"f:{i}"
        expected = _py_node_line(eid, ["F"], {"text": s, "num": i}, hashes[eid], "EXP")
        assert got[eid] == expected, f"fuzz {i}: {s!r}"


def _export_body(nodes, edges, out_dir):
    """(metadata without its clock fields, record lines) of one export
    with a fixed export_id."""
    from neo4j_export_tool_spark.sources.jsonl_sink import export_jsonl

    res = export_jsonl(nodes, edges, str(out_dir), db_name="p", export_id="EXP")
    with open(res.path, encoding="utf-8") as f:
        meta, *body = f.read().splitlines()
    meta = json.loads(meta)
    del meta["export_metadata"]["export_timestamp_utc"]
    del meta["export_manifest"]["total_export_duration_seconds"]
    return meta, body


def test_typed_edges_export_same_bytes_as_properties_json(spark, tmp_path):
    """The documents graph's MENTIONS edges arrive with a typed
    ``properties`` struct; the sink must write the bytes that the
    ``with_properties_json`` projection of the same edges writes."""
    from conftest import SF_CORRECT

    from neo4j_export_tool_spark.plans.flagship import documents_kg
    from neo4j_export_tool_spark.sources.jsonl_sink import with_properties_json

    nodes, hashed = documents_kg(spark, SF_CORRECT)
    assert "properties" in hashed.columns and "properties_json" not in hashed.columns
    typed = _export_body(nodes, hashed, tmp_path / "typed")
    contract = _export_body(nodes, with_properties_json(hashed), tmp_path / "json")
    assert typed[1] and typed == contract


def test_wide_typed_bag_exports_same_bytes_as_properties_json(spark, tmp_path):
    """A node class and a relationship type whose typed bag spans the §1.3
    contract's special cases export byte-identically through both input
    forms; a null property is omitted and a long above 2⁵³ stays exact
    beside a null in the same column."""
    import base64
    import datetime as dt

    from neo4j_export_tool_spark.operators.graph import edges_from
    from neo4j_export_tool_spark.sources.jsonl_sink import with_properties_json

    big = 2**53 + 1
    row = (
        float("nan"), float("inf"), float("-inf"), -0.0, b"\x00\xff",
        dt.datetime(2024, 2, 29, 12, 30, 45, 123456), dt.date(2024, 2, 29),
        [1, 2, 3], {"k": 1}, "a\x01b\x1fc", 1e-7, 1e21, None,
    )
    df = spark.createDataFrame(
        [("a", *row, big), ("b", *row, None)],
        "id string, nan double, pinf double, ninf double, negz double, "
        "blob binary, ts timestamp_ntz, d date, nums array<int>, "
        "m map<string,int>, ctrl string, tiny double, huge double, "
        "missing string, big long",
    )
    bag = {c: F.col(c) for c in df.columns[1:]}
    nodes = nodes_from(df, labels=["Wide"], element_id=F.col("id"), props=bag)
    edges = edges_from(
        df, rel_type="WIDE", start_element_id=F.col("id"),
        end_element_id=F.col("id"), props=bag,
    ).withColumns(
        {
            "start_node_content_hash": F.lit("0" * 64),
            "end_node_content_hash": F.lit("1" * 64),
        }
    )
    edge_cols = [
        "element_id", "label", "start_element_id", "end_element_id",
        "start_node_content_hash", "end_node_content_hash",
    ]
    typed = _export_body(
        nodes.select("element_id", "labels", "properties", "content_hash"),
        edges.select(*edge_cols, "properties"),
        tmp_path / "typed",
    )
    contract = _export_body(
        nodes_union(nodes), with_properties_json(edges), tmp_path / "json"
    )
    assert typed == contract
    props = {}
    for rec in map(json.loads, typed[1]):
        eid = rec["element_id"] if rec["type"] == "node" else rec["start_element_id"]
        props[rec["type"], eid] = rec["properties"]
    assert len(props) == 4
    for kind in ("node", "relationship"):
        a, b = props[kind, "a"], props[kind, "b"]
        assert a["big"] == big and "big" not in b
        assert "missing" not in a
        assert a["nan"] == "NaN" and a["pinf"] == "Infinity"
        assert a["ninf"] == "-Infinity"
        assert a["blob"] == base64.b64encode(b"\x00\xff").decode()
        assert a["ts"] == "2024-02-29T12:30:45.123456000"
        assert a["nums"] == [1, 2, 3] and a["m"] == {"k": 1}
        assert a["ctrl"] == "a\x01b\x1fc"
    for line in typed[1]:
        assert '"negz":-0.0' in line and '"tiny":1e-07' in line
        assert '"huge":1e+21' in line
