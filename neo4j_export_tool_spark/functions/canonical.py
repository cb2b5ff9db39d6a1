"""Canonical-JSON + content-hash ID algebra.

Reproduces the reference's deterministic entity identifiers
(`NET_node_content_hash` / `NET_rel_identity_hash`):

- hash input composition: reference ``Export/Neo4jExportToolId.fs:126-141``
  (node) and ``:159-173`` (relationship); spec ``docs/Neo4JExportToolID.md:36-106``.
- canonicalization rules: keys sorted ordinally, compact JSON (no whitespace),
  null-valued properties omitted, integers without a decimal point —
  ``Neo4jExportToolId.fs:37-41,101-124``; ``docs/Neo4JExportToolID.md:127-139``.
- empty labels → empty string; empty properties → empty string (NOT "{}") —
  ``Neo4jExportToolId.fs:102-104,128-133``.

Two implementations, byte-identical by construction and by golden test:

1. Pure-Python (`canonical_properties`, `node_content_hash`, ...).
2. Spark Column builders (`node_hash_col`, `rel_hash_col`) over a
   canonical-JSON string column, so the SHA-256 runs JVM-side inside
   whole-stage codegen (``sha2`` is the hot path; no Python involved).

``operators.graph.canonical_props_col`` builds that string column by the
route the export takes for the same bag
(``functions.export_json.bag_is_export_fast``).  A simple bag
(int/string/bool fields) is Spark's ``to_json`` over its name-sorted
struct, with Jackson's upper-hex control escapes lower-cased: for those
types that is the kernel's output.  Every other bag runs
`canonical_properties` in an Arrow-vectorized pandas UDF, because
``to_json`` matches neither .NET float formatting nor the kernel's
temporal and decimal strings (SURVEY.md §1.4).
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Pure-Python kernel
# ---------------------------------------------------------------------------

def canonical_json_value(value: Any) -> Any:
    """Normalize a Python value into the JSON shape the hash contract expects.

    Integers stay integers (no decimal point), floats keep Python's shortest
    round-trip repr (matches .NET minimal representation for the fixtures'
    value range), special floats become their string forms (same encoding the
    serializer uses: reference ``Primitives.fs:77-91``).
    """
    if type(value).__module__ == "numpy":
        # an array field of a bag crosses Arrow as a numpy array
        value = value.tolist()
    if value is None or isinstance(value, (bool, int, str)):
        return value
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if math.isinf(value):
            return "Infinity" if value > 0 else "-Infinity"
        return value
    if isinstance(value, (bytes, bytearray)):
        import base64

        return base64.b64encode(bytes(value)).decode("ascii")
    if isinstance(value, Mapping):
        return {
            str(k): canonical_json_value(v)
            for k, v in value.items()
            if v is not None
        }
    if isinstance(value, Sequence):
        return [canonical_json_value(v) for v in value]
    return str(value)


def canonical_properties(props: Mapping[str, Any] | None) -> str:
    """Compact JSON with ordinally-sorted keys and nulls dropped.

    Empty (or all-null) property bags canonicalize to the EMPTY STRING, not
    "{}" (reference ``Neo4jExportToolId.fs:102-104``).
    """
    if not props:
        return ""
    kept = {k: canonical_json_value(v) for k, v in props.items() if v is not None}
    if not kept:
        return ""
    return json.dumps(kept, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def node_hash_input(labels: Sequence[str] | None, props: Mapping[str, Any] | None) -> str:
    """``"node:" + sorted_labels_joined("+") + ":" + canonical_properties``."""
    sorted_labels = "+".join(sorted(labels)) if labels else ""
    return f"node:{sorted_labels}:{canonical_properties(props)}"


def rel_hash_input(
    rel_type: str,
    start_element_id: str,
    end_element_id: str,
    props: Mapping[str, Any] | None,
) -> str:
    """``"rel:" + type + ":" + start + ":" + end + ":" + canonical_properties``."""
    return (
        f"rel:{rel_type}:{start_element_id}:{end_element_id}:"
        f"{canonical_properties(props)}"
    )


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def node_content_hash(labels: Sequence[str] | None, props: Mapping[str, Any] | None) -> str:
    return sha256_hex(node_hash_input(labels, props))


def rel_identity_hash(
    rel_type: str, start: str, end: str, props: Mapping[str, Any] | None
) -> str:
    return sha256_hex(rel_hash_input(rel_type, start, end, props))


HEX64 = "^[a-f0-9]{64}$"


# ---------------------------------------------------------------------------
# Spark column builders (JVM-side hot path)
# ---------------------------------------------------------------------------

def node_hash_col(labels: Column, canonical_props: Column) -> Column:
    """NET_node_content_hash as a codegen'd column expression.

    ``labels``: array<string>; ``canonical_props``: the already-canonical JSON
    string ('' for empty).  ``sha2`` returns lowercase hex, matching the
    reference's manual nibble formatting (``Neo4jExportToolId.fs:46-79``).
    """
    return F.sha2(
        F.concat(
            F.lit("node:"),
            F.array_join(F.array_sort(labels), "+"),
            F.lit(":"),
            F.coalesce(canonical_props, F.lit("")),
        ),
        256,
    )


def rel_hash_col(
    rel_type: Column, start_id: Column, end_id: Column, canonical_props: Column
) -> Column:
    """NET_rel_identity_hash as a codegen'd column expression."""
    return F.sha2(
        F.concat(
            F.lit("rel:"),
            rel_type,
            F.lit(":"),
            start_id,
            F.lit(":"),
            end_id,
            F.lit(":"),
            F.coalesce(canonical_props, F.lit("")),
        ),
        256,
    )
