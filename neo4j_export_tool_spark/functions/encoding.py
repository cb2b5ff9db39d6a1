"""JSON value-encoding contract for export records.

Reproduces the reference serializer's type → JSON mapping
(``Export/Serialization/Engine.fs:40-62`` dispatch; per-type encoders in
``Primitives.fs`` / ``Collections.fs`` / ``Spatial.fs`` / ``Temporal.fs``):

- NaN / ±Infinity  → JSON strings "NaN", "Infinity", "-Infinity"
  (``Primitives.fs:77-91``; checked before numeric, ``Engine.fs:51-52``)
- string > 10,000,000 chars → ``{_truncated:"string_too_large", _length,
  _prefix (997 chars + "..."), _sha256 (base64)}`` (``Primitives.fs:42-59``;
  prefix via ``Export/Utils.fs:35-42``)
- bytes ≤ 50,000,000 → base64 string; larger → ``{_truncated:
  "binary_too_large", _length, _sha256}`` (``Primitives.fs:93-110``)
- list over MaxCollectionItems (10,000; ``Core/Constants.fs:196``) →
  truncated + trailing marker ``{_truncated:"list_too_large", _total_items,
  _shown_items}`` (``Collections.fs:41-63``)
- map: duplicate keys renamed ``key_1, key_2…``, keys > 1000 chars truncated
  (``Collections.fs:65-102``; ``Export/Utils.fs:53-75``); over-limit marker
  ``_truncated:"map_too_large"`` with ``_total_entries``/``_shown_entries``
- property bag over limit → ``"_truncated": "too_many_properties: N total"``
  (``Collections.fs:104-128``)
- Point → ``{type:"Point", srid, x, y[, z]}``, z omitted when NaN
  (``Spatial.fs:29-39``)
- temporals → ISO-8601-ish strings (``Temporal.fs:29-46``); Spark timestamps
  are µs-precision, vs the reference's 100 ns truncation
  (``BatchProcessing.fs:104-149``) — documented delta.
- depth > 10 → ``{_truncated:"depth_limit_exceeded", _depth, _type}``
  (``Engine.fs:41-42``, ``Context.fs:54-67``)
- unknown type → ``{_type, _note:"unserializable_type"}`` (``Context.fs:69-89``)

Simple property bags (int/string/bool fields) get the same bytes JVM-side
(``functions.export_json.export_props_json_col``, string marker included);
every other bag is encoded here inside one Arrow-vectorized pandas UDF
(``functions.export_json.python_bag_col``), never on the per-row Python
path of Spark proper.
"""

from __future__ import annotations

import base64
import dataclasses
import datetime as dt
import decimal as _decimal
import hashlib
import json
import math
from collections.abc import Mapping, Sequence
from typing import Any

# Limits: reference Core/Constants.fs:186-199
MAX_STRING_LENGTH = 10_000_000
# a longer string encodes as the STRING_TOO_LARGE marker, whose `_prefix` is
# the string cut to STRING_PREFIX_LENGTH chars by `truncate_with_ellipsis`
STRING_TOO_LARGE = "string_too_large"
STRING_PREFIX_LENGTH = 1_000
ELLIPSIS = "..."
MAX_BINARY_LENGTH = 50_000_000
MAX_COLLECTION_ITEMS = 10_000
MAX_NESTED_DEPTH = 10
MAX_KEY_LENGTH = 1_000
MAX_LABEL_LENGTH = 1_000
MAX_LABELS_PER_NODE = 100  # Core/Constants.fs:191
# nested graph elements switch serialization mode by depth (Context.fs:38-43)
NESTED_SHALLOW_MODE_DEPTH = 5  # Core/Constants.fs:187
NESTED_REFERENCE_MODE_DEPTH = 8  # Core/Constants.fs:188
MAX_LABELS_IN_REFERENCE_MODE = 10  # Core/Constants.fs:192
MAX_LABELS_IN_PATH_COMPACT = 5  # Core/Constants.fs:193
PATH_FULL_MODE_LIMIT = 1_000  # Core/Constants.fs:181
PATH_COMPACT_MODE_LIMIT = 10_000  # Core/Constants.fs:182
MAX_PATH_LENGTH = 100_000  # Core/Constants.fs:180


def _truncate_100ns(nanos: int) -> int:
    """Neo4j stores ns; .NET keeps 100-ns ticks — the reference truncates
    (``BatchProcessing.fs:94-138``, ``docs/Types.md:104``)."""
    return nanos - (nanos % 100)


def _fmt_frac(nanos: int) -> str:
    """Fractional-second suffix: empty at 0, else 9 digits (the reference
    driver prints full nanosecond fields, e.g. ``.123456700``)."""
    return "" if nanos == 0 else f".{nanos:09d}"


def _fmt_offset(offset_seconds: int) -> str:
    sign = "-" if offset_seconds < 0 else "+"
    s = abs(offset_seconds)
    h, rem = divmod(s, 3600)
    m, sec = divmod(rem, 60)
    out = f"{sign}{h:02d}:{m:02d}"
    if sec:
        out += f":{sec:02d}"
    return out


@dataclasses.dataclass(frozen=True)
class ZonedDateTime:
    """Neo4j DateTime with nanosecond field and optional zone id — formats
    as the reference's ``ZonedDateTime.ToString()``:
    ``2024-01-15T14:30:15.123456700+02:00[Europe/Berlin]``
    (``Temporal.fs:29-40``, ``docs/Types.md:121-126``)."""

    year: int
    month: int
    day: int
    hour: int = 0
    minute: int = 0
    second: int = 0
    nanos: int = 0
    offset_seconds: int = 0
    zone_id: str | None = None

    def __str__(self) -> str:
        n = _truncate_100ns(self.nanos)
        out = (
            f"{self.year:04d}-{self.month:02d}-{self.day:02d}"
            f"T{self.hour:02d}:{self.minute:02d}:{self.second:02d}"
            f"{_fmt_frac(n)}{_fmt_offset(self.offset_seconds)}"
        )
        if self.zone_id:
            out += f"[{self.zone_id}]"
        return out


@dataclasses.dataclass(frozen=True)
class OffsetTime:
    """Neo4j Time (``14:30:15.123456700+02:00``, ``docs/Types.md:112-114``)."""

    hour: int
    minute: int = 0
    second: int = 0
    nanos: int = 0
    offset_seconds: int = 0

    def __str__(self) -> str:
        n = _truncate_100ns(self.nanos)
        return (
            f"{self.hour:02d}:{self.minute:02d}:{self.second:02d}"
            f"{_fmt_frac(n)}{_fmt_offset(self.offset_seconds)}"
        )


@dataclasses.dataclass(frozen=True)
class LocalTimeNs:
    """Neo4j LocalTime with nanosecond field (``docs/Types.md:116-118``)."""

    hour: int
    minute: int = 0
    second: int = 0
    nanos: int = 0

    def __str__(self) -> str:
        n = _truncate_100ns(self.nanos)
        return f"{self.hour:02d}:{self.minute:02d}:{self.second:02d}{_fmt_frac(n)}"


@dataclasses.dataclass(frozen=True)
class LocalDateTimeNs:
    """Neo4j LocalDateTime with nanosecond field (``docs/Types.md:128-130``)."""

    year: int
    month: int
    day: int
    hour: int = 0
    minute: int = 0
    second: int = 0
    nanos: int = 0

    def __str__(self) -> str:
        n = _truncate_100ns(self.nanos)
        return (
            f"{self.year:04d}-{self.month:02d}-{self.day:02d}"
            f"T{self.hour:02d}:{self.minute:02d}:{self.second:02d}{_fmt_frac(n)}"
        )


def _zone_id_of(tz: dt.tzinfo | None) -> str | None:
    """IANA zone id when the tzinfo carries one (zoneinfo.ZoneInfo.key);
    fixed-offset tzinfo (dt.timezone) has none → offset-only format."""
    return getattr(tz, "key", None)


def format_temporal(value: dt.datetime | dt.date | dt.time) -> str:
    """Reference temporal string for stdlib datetime values (µs precision →
    nanos = µs·1000): naive datetime → LocalDateTime, aware → ZonedDateTime
    with zone-id suffix when the tzinfo is a zoneinfo.ZoneInfo."""
    if isinstance(value, dt.datetime):
        nanos = value.microsecond * 1000
        off = value.utcoffset() if value.tzinfo is not None else None
        if off is None:
            # naive, or a tzinfo that cannot resolve an offset → LocalDateTime
            return str(
                LocalDateTimeNs(
                    value.year, value.month, value.day,
                    value.hour, value.minute, value.second, nanos,
                )
            )
        return str(
            ZonedDateTime(
                value.year, value.month, value.day,
                value.hour, value.minute, value.second, nanos,
                int(off.total_seconds()), _zone_id_of(value.tzinfo),
            )
        )
    if isinstance(value, dt.time):
        nanos = value.microsecond * 1000
        # NB: a zoneinfo.ZoneInfo on a bare time returns utcoffset()=None
        # (no date to resolve DST) — encode as LocalTime rather than crash
        off = value.utcoffset() if value.tzinfo is not None else None
        if off is None:
            return str(LocalTimeNs(value.hour, value.minute, value.second, nanos))
        return str(
            OffsetTime(
                value.hour, value.minute, value.second, nanos,
                int(off.total_seconds()),
            )
        )
    return value.isoformat()  # Date: "2024-01-15"


@dataclasses.dataclass(frozen=True)
class Node:
    """A graph node appearing as a property VALUE (nested element).

    Serialization is depth-adaptive per reference ``GraphElements.fs:40-83``:
    Deep (< 5), Shallow (5-7, ``embedded_node_shallow`` with a property
    count), Reference (≥ 8, ``node_reference`` with ≤ 10 labels)."""

    element_id: str
    labels: tuple[str, ...] = ()
    properties: Mapping[str, Any] | None = None


@dataclasses.dataclass(frozen=True)
class Relationship:
    """A graph relationship appearing as a property VALUE (nested element);
    depth-adaptive per reference ``GraphElements.fs:86-125``."""

    element_id: str
    type: str
    start_element_id: str
    end_element_id: str
    properties: Mapping[str, Any] | None = None


@dataclasses.dataclass(frozen=True)
class Path:
    """A graph path value; serialization level by node count (reference
    ``Path.fs:161-210``): Full (≤ 1000), Compact (≤ 10000, ids+capped
    labels), IdsOnly above; > 100000 nodes is a tracked error marker."""

    nodes: tuple[Node, ...] = ()
    relationships: tuple[Relationship, ...] = ()


@dataclasses.dataclass(frozen=True)
class Point:
    """Neo4j spatial point (SRID 4326/4979 WGS84, 7203/9157 cartesian)."""

    srid: int
    x: float
    y: float
    z: float = float("nan")


@dataclasses.dataclass(frozen=True)
class Duration:
    """Neo4j duration (months/days/seconds/nanos), ISO-8601 formatted.

    Format parity target: reference ``Temporal.fs:29-40`` serializes via
    ``.ToString()`` → e.g. "P1Y2M3DT4H5M6S".
    """

    months: int = 0
    days: int = 0
    seconds: int = 0
    nanos: int = 0

    def iso(self) -> str:
        years, months = divmod(self.months, 12)
        total_ns = self.seconds * 1_000_000_000 + self.nanos
        sign = "-" if total_ns < 0 else ""
        total_ns = abs(total_ns)
        hours, rem = divmod(total_ns, 3_600 * 1_000_000_000)
        minutes, rem = divmod(rem, 60 * 1_000_000_000)
        secs, ns = divmod(rem, 1_000_000_000)
        out = "P"
        if years:
            out += f"{years}Y"
        if months:
            out += f"{months}M"
        if self.days:
            out += f"{self.days}D"
        time_part = ""
        if hours:
            time_part += f"{sign}{hours}H"
        if minutes:
            time_part += f"{sign}{minutes}M"
        if secs or ns or not (years or months or self.days or hours or minutes):
            if ns:
                frac = f"{ns:09d}".rstrip("0")
                time_part += f"{sign}{secs}.{frac}S"
            else:
                time_part += f"{sign}{secs}S"
        if time_part:
            out += "T" + time_part
        return out


def _sha256_b64(data: bytes) -> str:
    """SHA-256 → base64 — the `_sha256` field of truncation markers
    (reference ``Export/Utils.fs:44-49``, distinct from the lowercase-hex
    content hashes)."""
    return base64.b64encode(hashlib.sha256(data).digest()).decode("ascii")


def truncate_with_ellipsis(s: str, max_len: int) -> str:
    """Span-slice to ``max_len - 3`` + "..." (reference ``Export/Utils.fs:35-42``)."""
    if len(s) <= max_len:
        return s
    return s[: max_len - len(ELLIPSIS)] + ELLIPSIS


def ensure_unique_keys(keys: Sequence[str]) -> list[str]:
    """Rename duplicate map keys ``key_1``, ``key_2``… and truncate over-long
    keys (reference ``Export/Utils.fs:53-75``)."""
    seen: set[str] = set()
    out: list[str] = []
    for key in keys:
        # reference ensureUniqueKey (Export/Utils.fs:53-58): keys over 1000
        # chars truncate via truncateSpan 997 → 994 chars + "..." (997 total)
        k = truncate_with_ellipsis(key, 997) if len(key) > MAX_KEY_LENGTH else key
        if k in seen:
            i = 1
            while f"{k}_{i}" in seen:
                i += 1
            k = f"{k}_{i}"
        seen.add(k)
        out.append(k)
    return out


def _encode_bag(props: Mapping[str, Any] | None, value_depth: int) -> dict[str, Any]:
    """Property-bag body shared by records, nested elements, and paths —
    mirrors reference ``serializeProperties`` (Collections.fs:104-128):
    values encode at ``value_depth``, keys dedup/truncate, item cap with
    the too-many-properties marker."""
    if not props:
        return {}
    keys = list(props.keys())[:MAX_COLLECTION_ITEMS]
    safe = ensure_unique_keys([str(k) for k in keys])
    out = {sk: encode_value(props[k], value_depth) for sk, k in zip(safe, keys)}
    if len(props) > MAX_COLLECTION_ITEMS:
        out["_truncated"] = f"too_many_properties: {len(props)} total"
    return out


def _nested_level(depth: int) -> str:
    """Deep/Shallow/Reference by depth (reference ``Context.fs:38-43``)."""
    if depth >= NESTED_REFERENCE_MODE_DEPTH:
        return "Reference"
    if depth >= NESTED_SHALLOW_MODE_DEPTH:
        return "Shallow"
    return "Deep"


def _encode_node(node: Node, depth: int) -> dict[str, Any]:
    """Depth-adaptive nested node (reference ``GraphElements.fs:40-83``)."""
    level = _nested_level(depth)
    if level == "Reference":
        return {
            "_type": "node_reference",
            "element_id": node.element_id,
            "_labels": list(node.labels)[:MAX_LABELS_IN_REFERENCE_MODE],
        }
    if level == "Shallow":
        return {
            "_type": "embedded_node_shallow",
            "element_id": node.element_id,
            "labels": list(node.labels),
            "_property_count": len(node.properties or {}),
        }
    return {
        "_type": "embedded_node",
        "element_id": node.element_id,
        "labels": list(node.labels),
        "properties": _encode_bag(node.properties, depth + 1),
    }


def _encode_relationship(rel: Relationship, depth: int) -> dict[str, Any]:
    """Depth-adaptive nested relationship (``GraphElements.fs:86-125``)."""
    level = _nested_level(depth)
    if level == "Reference":
        return {
            "_type": "relationship_reference",
            "element_id": rel.element_id,
            "_type_name": rel.type,
        }
    if level == "Shallow":
        return {
            "_type": "embedded_relationship_shallow",
            "element_id": rel.element_id,
            "type": rel.type,
            "start_element_id": rel.start_element_id,
            "end_element_id": rel.end_element_id,
            "_property_count": len(rel.properties or {}),
        }
    return {
        "_type": "embedded_relationship",
        "element_id": rel.element_id,
        "type": rel.type,
        "start_element_id": rel.start_element_id,
        "end_element_id": rel.end_element_id,
        "properties": _encode_bag(rel.properties, depth + 1),
    }


def _path_sequence(node_count: int, rel_count: int) -> list[dict[str, Any]]:
    """Alternating node/relationship index pattern (``Path.fs:38-72``)."""
    total = node_count + rel_count
    out = []
    for i in range(total):
        kind = "node" if i % 2 == 0 else "relationship"
        idx = i // 2
        if (kind == "node" and idx < node_count) or (
            kind == "relationship" and idx < rel_count
        ):
            out.append({"type": kind, "index": idx})
    return out


def _encode_path(path: Path, depth: int = 0) -> dict[str, Any]:
    """Path value with Full/Compact/IdsOnly levels (``Path.fs:161-210``;
    thresholds ``Core/Constants.fs:180-182``).

    Deviation from the reference's zero-reset (``serializePathFull`` passes
    ``SerializationDepth.zero``): property bags encode at ``depth + 1`` so
    a cyclic Python object graph (Path → node properties → Path…, which
    cannot occur with acyclic driver records but can with hand-built
    values) terminates at the depth-limit marker instead of recursing
    unboundedly."""
    n = len(path.nodes)
    if n > MAX_PATH_LENGTH:
        return {"_type": "path", "_error": "path_too_long"}
    if n > PATH_COMPACT_MODE_LIMIT:
        level = "IdsOnly"
    elif n > PATH_FULL_MODE_LIMIT:
        level = "Compact"
    else:
        level = "Full"
    out: dict[str, Any] = {
        "_type": "path",
        "length": n,
        "_serialization_level": level,
    }
    if level == "Full":
        out["nodes"] = [
            {
                "element_id": nd.element_id,
                "labels": list(nd.labels),
                "properties": _encode_bag(nd.properties, depth + 1),
            }
            for nd in path.nodes
        ]
        out["relationships"] = [
            {
                "element_id": r.element_id,
                "type": r.type,
                "start_element_id": r.start_element_id,
                "end_element_id": r.end_element_id,
                "properties": _encode_bag(r.properties, depth + 1),
            }
            for r in path.relationships
        ]
    elif level == "Compact":
        out["nodes"] = [
            {
                "element_id": nd.element_id,
                "labels": list(nd.labels)[:MAX_LABELS_IN_PATH_COMPACT],
            }
            for nd in path.nodes
        ]
        out["relationships"] = [
            {"element_id": r.element_id, "type": r.type}
            for r in path.relationships
        ]
    else:
        out["node_element_ids"] = [nd.element_id for nd in path.nodes]
        out["relationship_element_ids"] = [
            r.element_id for r in path.relationships
        ]
    out["sequence"] = _path_sequence(n, len(path.relationships))
    return out


def encode_value(value: Any, depth: int = 0) -> Any:
    """Encode one property value into its JSON-ready shape per the contract."""
    # Arrow→pandas struct decoding hands back numpy scalars/arrays; normalize
    # to Python natives so the type dispatch below stays exact
    mod = type(value).__module__
    if mod == "numpy":
        value = value.tolist() if hasattr(value, "tolist") else value.item()
    # reference SerializationDepth.exceedsLimit (Core/Types.fs:51) is
    # `d >= limit`: a value nested exactly MAX_NESTED_DEPTH deep already
    # serializes as the depth marker
    if depth >= MAX_NESTED_DEPTH:
        return {
            "_truncated": "depth_limit_exceeded",
            "_depth": depth,
            "_type": type(value).__name__,
        }
    if value is None or isinstance(value, bool):
        return value
    if isinstance(value, int):
        return value
    if isinstance(value, _decimal.Decimal):
        # reference NumericType → JSON number (Engine.fs:50); Python's json
        # cannot emit Decimal, so encode through the double path
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if math.isinf(value):
            return "Infinity" if value > 0 else "-Infinity"
        return value
    if isinstance(value, str):
        if len(value) > MAX_STRING_LENGTH:
            return {
                "_truncated": STRING_TOO_LARGE,
                "_length": len(value),
                "_prefix": truncate_with_ellipsis(value, STRING_PREFIX_LENGTH),
                "_sha256": _sha256_b64(value.encode("utf-8")),
            }
        return value
    if isinstance(value, (bytes, bytearray)):
        raw = bytes(value)
        if len(raw) > MAX_BINARY_LENGTH:
            return {
                "_truncated": "binary_too_large",
                "_length": len(raw),
                "_sha256": _sha256_b64(raw),
            }
        return base64.b64encode(raw).decode("ascii")
    if isinstance(value, Node):
        return _encode_node(value, depth)
    if isinstance(value, Relationship):
        return _encode_relationship(value, depth)
    if isinstance(value, Path):
        return _encode_path(value, depth)
    if isinstance(value, Point):
        out: dict[str, Any] = {
            "type": "Point",
            "srid": value.srid,
            "x": value.x,
            "y": value.y,
        }
        if not math.isnan(value.z):
            out["z"] = value.z
        return out
    if isinstance(value, Duration):
        return value.iso()
    if isinstance(value, (ZonedDateTime, OffsetTime, LocalTimeNs, LocalDateTimeNs)):
        # nanosecond-field temporals: reference ToString() formats with the
        # 100-ns truncation and zone-id suffix (Temporal.fs:29-40)
        return str(value)
    if isinstance(value, (dt.datetime, dt.time)):
        # stdlib datetimes are µs; same reference format, nanos = µs·1000,
        # zone-id suffix when tzinfo is a zoneinfo.ZoneInfo
        return format_temporal(value)
    if isinstance(value, dt.date):
        return value.isoformat()
    if isinstance(value, Mapping):
        keys = list(value.keys())[:MAX_COLLECTION_ITEMS]
        safe = ensure_unique_keys([str(k) if k is not None else "null" for k in keys])
        out = {
            sk: encode_value(value[k], depth + 1)
            for sk, k in zip(safe, keys)
        }
        if len(value) > MAX_COLLECTION_ITEMS:
            out["_truncated"] = "map_too_large"
            out["_total_entries"] = len(value)
            out["_shown_entries"] = MAX_COLLECTION_ITEMS
        return out
    if isinstance(value, Sequence):
        items = [encode_value(v, depth + 1) for v in value[:MAX_COLLECTION_ITEMS]]
        if len(value) > MAX_COLLECTION_ITEMS:
            items.append(
                {
                    "_truncated": "list_too_large",
                    "_total_items": len(value),
                    "_shown_items": MAX_COLLECTION_ITEMS,
                }
            )
        return items
    return {"_type": type(value).__name__, "_note": "unserializable_type"}


def encode_properties(props: Mapping[str, Any] | None) -> dict[str, Any]:
    """Record-level property-bag encoding (reference record properties
    serialize at depth zero, ``GraphElements.fs:156-159``)."""
    return _encode_bag(props, 0)


def dumps(obj: Any) -> str:
    """Compact JSON, no HTML escaping (reference ``Json/JsonConfig.fs:33-48``
    uses UnsafeRelaxedJsonEscaping; Python's non-ASCII-escaping dumps matches)."""
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)
