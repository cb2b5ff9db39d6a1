"""Contract-canonical export JSON, produced JVM-side wherever possible.

The JSONL record contract (reference ``Export/Serialization/Engine.fs:40-62``
dispatch + ``Json/JsonConfig.fs:33-48`` compact/unescaped writer) is, for flat
property bags of int/string/bool, byte-identical to Spark's ``to_json`` over
the struct — both emit compact, insertion-ordered, non-ASCII-unescaped JSON
with identical escape tables.  Measured divergences (this sandbox, Spark
4.1.2 Jackson vs CPython ``json``):

- control characters whose ``\\uXXXX`` escape contains a hex LETTER render
  uppercase in Jackson (``\\u001F``) vs lowercase in Python (``\\u001f``) —
  the only escape-table difference; shorthands (``\\n \\t \\r \\b \\f``),
  quote, backslash, DEL, and raw non-ASCII all match;
- fractional numbers format differently (Jackson ``1.0E-7`` vs contract
  ``1e-07``);
- contract truncation markers (string > 10M chars, list > 10k items, …)
  have no ``to_json`` analog.

So the JVM fast path applies when the bag *schema* rules out fractional /
nested / temporal / binary values and the *row* contains no hazard strings
(rare control chars, over-limit lengths).  Hazard rows and non-simple bags
re-canonicalize through an Arrow-vectorized pandas UDF running the §1.3
encoding contract — the same normalization the sink previously applied to
every row in Python.
"""

from __future__ import annotations

import json
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

from neo4j_export_tool_spark.functions.encoding import (
    MAX_COLLECTION_ITEMS,
    MAX_KEY_LENGTH,
    MAX_STRING_LENGTH,
    dumps,
    encode_properties,
)

# Control characters whose JSON escape differs between Jackson (uppercase
# hex) and the contract's Python writer (lowercase hex).  Conservative
# superset: everything below 0x20 except the shared shorthand escapes
# \b \t \n \f \r (0x08, 0x09, 0x0a, 0x0c, 0x0d).
CTRL_HAZARD_RE = "[\\x00-\\x07\\x0b\\x0e-\\x1f]"

_FAST_FIELD_TYPES = (
    T.StringType,
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.BooleanType,
    T.NullType,
)


def bag_is_export_fast(dtype: T.DataType) -> bool:
    """True when a property-bag struct schema guarantees ``to_json`` output
    equals the §1.3 contract encoding, up to per-row string hazards."""
    if not isinstance(dtype, T.StructType):
        return False
    if len(dtype.fields) > MAX_COLLECTION_ITEMS:
        return False
    names = [f.name for f in dtype.fields]
    # duplicate struct field names are legal in Spark but the contract
    # renames the second to key_1 — schema-level, so not a row hazard
    if len(set(names)) != len(names):
        return False
    for f in dtype.fields:
        if not isinstance(f.dataType, _FAST_FIELD_TYPES):
            return False
        if len(f.name) > MAX_KEY_LENGTH:
            return False
        if any(ord(c) < 0x20 for c in f.name):
            return False
    return True


def string_hazard(cols: list[Column]) -> Column:
    """Row predicate: any of the string columns needs the Python JSON writer
    (divergent control-char escapes or contract truncation markers).

    The control-char scan runs ONCE over the concatenation of all columns
    (``concat_ws`` skips nulls, and a null column carries no hazard, so
    the predicate is unchanged): per-column ``rlike`` paid one regex pass
    per column per row and was the single hottest expression of the
    export serializer (measured ~6× the combined form).  Length checks
    stay per-column (the contract truncates per STRING, not per row)."""
    if not cols:
        return F.lit(False)
    ctrl = F.concat_ws("", *cols).rlike(CTRL_HAZARD_RE)
    checks = [
        F.coalesce(F.length(c) > MAX_STRING_LENGTH, F.lit(False))
        for c in cols
    ]
    return reduce(lambda a, b: a | b, checks, F.coalesce(ctrl, F.lit(False)))


_TYPED_FIELD_TYPES = (
    T.TimestampType,
    T.TimestampNTZType,
    T.DateType,
    T.BinaryType,
    T.DecimalType,
)


def _bag_has_typed_fields(dtype: T.DataType) -> bool:
    """Fields whose to_json stringification loses the §1.3 contract format
    (temporals → Jackson timestamps instead of 9-digit-nanos strings,
    binary/decimal typing) — route the STRUCT through the typed encoder."""

    def walk(t: T.DataType) -> bool:
        if isinstance(t, _TYPED_FIELD_TYPES):
            return True
        if isinstance(t, T.ArrayType):
            return walk(t.elementType)
        if isinstance(t, T.MapType):
            return walk(t.keyType) or walk(t.valueType)
        if isinstance(t, T.StructType):
            return any(walk(f.dataType) for f in t.fields)
        return False

    return isinstance(dtype, T.StructType) and any(
        walk(f.dataType) for f in dtype.fields
    )


def make_typed_bag_udf(dtype: T.StructType):
    """Scalar pandas UDF over a STRUCT column: Arrow hands back typed values
    (pd.Timestamp/date/bytes/Decimal), so temporals render per the contract
    formatter instead of Jackson's timestamp string.

    Null handling matches the JSON-string lane (nulls dropped, like
    to_json).  Arrow→pandas COERCES integer columns containing nulls to
    float64, so integral fields are restored from the schema: NaN → drop
    (it was a null), finite → int.  A null DoubleType value arrives as NaN,
    indistinguishable from a genuine NaN — encoded as the contract's
    "NaN" string (contract-leaning resolution)."""
    integral = {
        f.name
        for f in dtype.fields
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType))
    }
    fractional = {
        f.name for f in dtype.fields if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    }

    def encode(bag: pd.DataFrame) -> pd.Series:
        import math as _math

        out = []
        for rec in bag.to_dict("records"):
            clean = {}
            for k, v in rec.items():
                if v is None or v is pd.NaT:
                    continue
                if k in integral and isinstance(v, float):
                    if _math.isnan(v):
                        continue  # Arrow null coerced to NaN
                    v = int(v)
                elif k not in fractional and isinstance(v, float) and _math.isnan(v):
                    # NaN in a non-float field can only be a coerced null
                    continue
                clean[k] = v
            out.append(dumps(encode_properties(clean)))
        return pd.Series(out)

    return pandas_udf(encode, StringType())


@pandas_udf(StringType())
def export_json_canon_udf(json_props: pd.Series) -> pd.Series:
    """Re-encode a JSON-object string column per the §1.3 export contract
    (insertion-ordered keys — NOT the sorted order of the hash-canonical
    kernel), Arrow-vectorized."""

    def canon(s: str | None) -> str | None:
        if s is None:
            # null-gated input: the caller feeds NULL for rows that do not
            # need Python (Catalyst hoists pandas UDFs out of CASE WHEN and
            # evaluates them on EVERY row — gating the INPUT keeps the
            # per-row Python work at a None check)
            return None
        if s == "":
            return "{}"
        obj = json.loads(s)
        if not isinstance(obj, dict):
            obj = {"value": obj}
        return dumps(encode_properties(obj))

    return json_props.map(canon)


def export_props_json_col(df: DataFrame, struct_col: str = "properties") -> Column:
    """Final contract bytes for the record's ``properties`` object.

    Simple bags render fully JVM-side (``to_json``; codegen) with hazard rows
    routed through the contract UDF; bags with temporal/binary/decimal
    fields go through the TYPED struct encoder (Arrow keeps real
    datetimes/bytes, so the contract's temporal formats apply); remaining
    non-simple bags (fractional/nested) re-canonicalize through the
    JSON-string UDF (normalizes Jackson float formatting, applies
    truncation markers).  Nulls are dropped in every lane, like ``to_json``.
    """
    dtype = df.schema[struct_col].dataType
    if isinstance(dtype, T.StructType):
        names = [f.name for f in dtype.fields]
        if len(set(names)) != len(names):
            # every JSON-string lane (to_json → loads) silently keeps only
            # the LAST duplicate — explicit failure beats silent data loss;
            # the contract's key_1 rename applies to runtime MAP keys, not
            # schema-level duplicate struct fields
            raise ValueError(
                f"duplicate struct field names in {struct_col}: {names} — "
                "rename the fields (duplicate JSON keys would be dropped)"
            )
    if _bag_has_typed_fields(dtype):
        return make_typed_bag_udf(dtype)(F.col(struct_col))
    js = F.to_json(struct_col)
    if not bag_is_export_fast(dtype):
        return export_json_canon_udf(js)
    assert isinstance(dtype, T.StructType)
    str_cols = [
        F.col(struct_col)[f.name]
        for f in dtype.fields
        if isinstance(f.dataType, T.StringType)
    ]
    hazard = string_hazard(str_cols)
    # all-null / _empty-only bags: to_json drops null fields → "{}" already
    safe = F.coalesce(js, F.lit("{}"))
    if not str_cols:
        return safe
    # NB: Catalyst hoists pandas UDFs out of CASE WHEN into an
    # ArrowEvalPython node that runs on EVERY row — so gate the INPUT:
    # safe rows feed NULL (the UDF returns None at a None-check's cost)
    # and coalesce falls back to the JVM bytes
    return F.coalesce(export_json_canon_udf(F.when(hazard, js)), safe)
