"""Golden tests for the JSON value-encoding contract (SURVEY.md §1.3).

Modeled on the reference's unit suites (``Neo4jExport.Tests/Unit/
PrimitivesTests.fs``, ``CollectionsTests.fs``, ``TruncationTests.fs:49-306``,
``SpatialTests.fs``, ``DepthLimitTests.fs``): build value → encode → assert
exact JSON.
"""

from __future__ import annotations

import base64
import hashlib
import json

from neo4j_export_tool_spark.functions.encoding import (
    MAX_BINARY_LENGTH,
    MAX_COLLECTION_ITEMS,
    MAX_STRING_LENGTH,
    Duration,
    Point,
    dumps,
    encode_properties,
    encode_value,
    ensure_unique_keys,
    truncate_with_ellipsis,
)


def test_primitives():
    assert encode_value(None) is None
    assert encode_value(True) is True
    assert encode_value(42) == 42
    assert encode_value(3.14) == 3.14
    assert encode_value("hello") == "hello"


def test_special_floats_as_strings():
    assert encode_value(float("nan")) == "NaN"
    assert encode_value(float("inf")) == "Infinity"
    assert encode_value(float("-inf")) == "-Infinity"
    # nested inside collections too (dispatch order: special floats first)
    assert encode_value([1.0, float("nan")]) == [1.0, "NaN"]


def test_string_truncation_marker():
    s = "x" * (MAX_STRING_LENGTH + 1)
    out = encode_value(s)
    assert out["_truncated"] == "string_too_large"
    assert out["_length"] == MAX_STRING_LENGTH + 1
    assert out["_prefix"] == "x" * 997 + "..."
    assert len(out["_prefix"]) == 1000
    assert out["_sha256"] == base64.b64encode(
        hashlib.sha256(s.encode()).digest()
    ).decode()
    # at exactly the limit: no truncation
    assert encode_value("x" * MAX_STRING_LENGTH) == "x" * MAX_STRING_LENGTH


def test_binary_base64_and_truncation():
    assert encode_value(b"ab") == "YWI="
    big = b"\0" * (MAX_BINARY_LENGTH + 1)
    out = encode_value(big)
    assert out["_truncated"] == "binary_too_large"
    assert out["_length"] == MAX_BINARY_LENGTH + 1
    assert "_prefix" not in out


def test_list_truncation_marker():
    lst = list(range(MAX_COLLECTION_ITEMS + 5))
    out = encode_value(lst)
    assert len(out) == MAX_COLLECTION_ITEMS + 1
    marker = out[-1]
    assert marker == {
        "_truncated": "list_too_large",
        "_total_items": MAX_COLLECTION_ITEMS + 5,
        "_shown_items": MAX_COLLECTION_ITEMS,
    }
    # at exactly the limit: untouched
    exact = list(range(MAX_COLLECTION_ITEMS))
    assert encode_value(exact) == exact


def test_point_encoding():
    assert encode_value(Point(srid=4326, x=12.5, y=-7.25)) == {
        "type": "Point",
        "srid": 4326,
        "x": 12.5,
        "y": -7.25,
    }
    out3d = encode_value(Point(srid=4979, x=1.0, y=2.0, z=3.0))
    assert out3d["z"] == 3.0


def test_duration_iso():
    assert Duration(months=14, days=3, seconds=4 * 3600 + 5 * 60 + 6).iso() == "P1Y2M3DT4H5M6S"
    assert Duration().iso() == "PT0S"
    assert Duration(seconds=1, nanos=500000000).iso() == "PT1.5S"


def test_duplicate_key_rename():
    assert ensure_unique_keys(["k", "k", "k"]) == ["k", "k_1", "k_2"]
    long_key = "a" * 2000
    out = ensure_unique_keys([long_key])
    # reference truncateSpan 997 → 994 chars + "..." (Export/Utils.fs:53-58)
    assert len(out[0]) == 997 and out[0].endswith("...")
    assert out[0][:994] == "a" * 994
    # keys at exactly the limit pass through untouched
    assert ensure_unique_keys(["b" * 1000]) == ["b" * 1000]


def test_depth_limit_marker():
    v: object = 1
    for _ in range(15):
        v = [v]
    flat = encode_value(v)
    s = dumps(flat)
    assert "depth_limit_exceeded" in s


def test_depth_limit_boundary_exactly_ten():
    """exceedsLimit is `d >= limit` (Core/Types.fs:51): a value at depth
    exactly 10 serializes as the marker, not its contents."""
    v: object = "leaf"
    for _ in range(10):
        v = [v]
    flat = encode_value(v)  # outer list at depth 0 → leaf at depth 10
    inner = flat
    for _ in range(9):
        assert isinstance(inner, list) and len(inner) == 1
        inner = inner[0]
    assert isinstance(inner, list)
    marker = inner[0]
    assert marker["_truncated"] == "depth_limit_exceeded"
    assert marker["_depth"] == 10
    # one level shallower serializes fully
    v9: object = "leaf"
    for _ in range(9):
        v9 = [v9]
    assert "depth_limit_exceeded" not in dumps(encode_value(v9))


def test_property_bag_cap():
    props = {f"k{i:05d}": i for i in range(MAX_COLLECTION_ITEMS + 3)}
    out = encode_properties(props)
    assert out["_truncated"] == f"too_many_properties: {MAX_COLLECTION_ITEMS + 3} total"


def test_truncate_with_ellipsis():
    assert truncate_with_ellipsis("abcdef", 6) == "abcdef"
    assert truncate_with_ellipsis("abcdefg", 6) == "abc..."


def test_no_html_escaping():
    assert dumps({"s": "<a>&\"'"}) == '{"s":"<a>&\\"\'"}'


def test_unknown_type_marker():
    class Weird:  # noqa: B903
        pass

    out = encode_value(Weird())
    assert out["_note"] == "unserializable_type"
    assert out["_type"] == "Weird"


def test_encode_always_json_serializable():
    """Property: whatever the input bag, the encoded output dumps to valid
    JSON and parses back (hypothesis port of the reference's serializer
    robustness properties)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalar = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(),
        st.floats(),  # includes nan/inf
        st.text(max_size=30),
        st.binary(max_size=30),
        st.datetimes(),
    )
    value = st.recursive(
        scalar,
        lambda children: st.one_of(
            st.lists(children, max_size=4),
            st.dictionaries(st.text(max_size=8), children, max_size=4),
        ),
        max_leaves=12,
    )

    @settings(max_examples=150, deadline=None)
    @given(bag=st.dictionaries(st.text(min_size=1, max_size=10), value, max_size=5))
    def run(bag):
        out = encode_properties(bag)
        parsed = json.loads(dumps(out))
        assert isinstance(parsed, dict)

    run()


def test_json_roundtrip_compact():
    # the OUTPUT serializer keeps nulls (reference Primitives.fs:38 writes
    # null values); only the HASH canonicalization drops them
    obj = encode_properties({"a": 1, "b": [1, 2], "c": {"d": None, "e": "x"}})
    s = dumps(obj)
    assert " " not in s.replace('"a"', "").replace('"b"', "")
    assert json.loads(s) == {"a": 1, "b": [1, 2], "c": {"d": None, "e": "x"}}


def test_zoned_datetime_format_parity():
    """Reference ZonedDateTime.ToString() vectors (Temporal.fs:29-40,
    docs/Types.md:121-126): offset + optional [zone-id] suffix, 9-digit
    nanosecond field truncated to 100 ns."""
    from neo4j_export_tool_spark.functions.encoding import ZonedDateTime

    zdt = ZonedDateTime(2024, 1, 15, 14, 30, 15, nanos=123456789,
                        offset_seconds=7200, zone_id="Europe/Berlin")
    assert encode_value(zdt) == "2024-01-15T14:30:15.123456700+02:00[Europe/Berlin]"
    # offset-only (no named zone)
    no_zone = ZonedDateTime(2024, 1, 15, 14, 30, 15, nanos=123456700,
                            offset_seconds=7200)
    assert encode_value(no_zone) == "2024-01-15T14:30:15.123456700+02:00"
    # zero nanos → no fractional part; negative offset
    ny = ZonedDateTime(2024, 3, 15, 9, 0, 0, offset_seconds=-5 * 3600,
                       zone_id="America/New_York")
    assert encode_value(ny) == "2024-03-15T09:00:00-05:00[America/New_York]"


def test_offset_time_and_local_temporals():
    from neo4j_export_tool_spark.functions.encoding import (
        LocalDateTimeNs,
        LocalTimeNs,
        OffsetTime,
    )

    assert encode_value(OffsetTime(14, 30, 15, nanos=123456700, offset_seconds=7200)) \
        == "14:30:15.123456700+02:00"
    assert encode_value(LocalTimeNs(14, 30, 15, nanos=123456789)) \
        == "14:30:15.123456700"  # 100ns truncation
    assert encode_value(LocalDateTimeNs(2024, 1, 15, 14, 30, 15)) \
        == "2024-01-15T14:30:15"
    assert encode_value(OffsetTime(9, 0, 0, offset_seconds=-7 * 3600)) \
        == "09:00:00-07:00"


def test_stdlib_datetime_uses_reference_format():
    import datetime as dt
    from zoneinfo import ZoneInfo

    # zoneinfo tzinfo → zone-id suffix
    berlin = dt.datetime(2024, 1, 15, 14, 30, 15, 123456,
                         tzinfo=ZoneInfo("Europe/Berlin"))
    assert encode_value(berlin) == "2024-01-15T14:30:15.123456000+01:00[Europe/Berlin]"
    # fixed offset → offset only
    fixed = dt.datetime(2024, 1, 15, 14, 30, 15,
                        tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert encode_value(fixed) == "2024-01-15T14:30:15+02:00"
    # naive → LocalDateTime
    assert encode_value(dt.datetime(2024, 1, 15, 14, 30, 15)) == "2024-01-15T14:30:15"
    # aware time → OffsetTime; naive time → LocalTime; date unchanged
    t = dt.time(14, 30, 15, 123456, tzinfo=dt.timezone(dt.timedelta(hours=2)))
    assert encode_value(t) == "14:30:15.123456000+02:00"
    assert encode_value(dt.time(12, 0, 0)) == "12:00:00"
    assert encode_value(dt.date(2024, 1, 15)) == "2024-01-15"


def test_tz_aware_time_with_zoneinfo_does_not_crash():
    """zoneinfo.ZoneInfo on a bare time has no resolvable offset
    (utcoffset() is None) — encode as LocalTime, never raise."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    out = encode_value(dt.time(14, 30, 15, tzinfo=ZoneInfo("Europe/Berlin")))
    assert out == "14:30:15"


def test_decimal_encodes_as_number():
    from decimal import Decimal

    assert encode_value(Decimal("3.5")) == 3.5
    assert dumps(encode_properties({"d": Decimal("1.25")})) == '{"d":1.25}'
