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

So simple bags (int/string/bool fields) render fully JVM-side: the object
is assembled from per-field ``to_json`` fragments, an over-limit string as
the contract's ``string_too_large`` marker, and the upper-hex escapes are
lower-cased in place (`contract_escapes`, the one home of that rule; the
sink's record heads and the content-hash lane of
``operators.graph.canonical_props_col`` use it too).  Bags with
fractional / nested fields re-canonicalize through an Arrow-vectorized
pandas UDF running the §1.3 encoding contract, and bags with temporal /
binary / decimal fields through the typed struct encoder.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

from neo4j_export_tool_spark.functions.encoding import (
    ELLIPSIS,
    MAX_COLLECTION_ITEMS,
    MAX_KEY_LENGTH,
    MAX_STRING_LENGTH,
    STRING_PREFIX_LENGTH,
    STRING_TOO_LARGE,
    dumps,
    encode_properties,
)

# Jackson (``to_json``) writes the ``\uXXXX`` escape of these control
# characters with an upper-case hex letter, the contract's writer (`dumps`)
# with a lower-case one; every other escape is the same in both.
_UPPER_HEX_ESCAPES = (
    "000B", "000E", "000F", "001A", "001B", "001C", "001D", "001E", "001F",
)


def contract_escapes(js: Column) -> Column:
    """``js``, a ``to_json`` object, with the `_UPPER_HEX_ESCAPES`
    lower-cased.  An escape counts only where its backslash follows an even
    run of backslashes, so literal ``\\u001F`` text (JSON ``\\\\u001F``)
    and backslash runs are left alone.  Only rows whose JSON holds a
    ``\\u00`` escape at all run the regexes."""
    fixed = js
    for esc in _UPPER_HEX_ESCAPES:
        fixed = F.regexp_replace(
            fixed, rf"(?<!\\)((?:\\\\)*)\\u{esc}", rf"$1\\u{esc.lower()}"
        )
    return F.when(js.contains("\\u00"), fixed).otherwise(js)


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
    equals the §1.3 contract encoding, up to the escape case and the
    over-limit strings that `export_props_json_col` handles JVM-side."""
    if not isinstance(dtype, T.StructType):
        return False
    if len(dtype.fields) > MAX_COLLECTION_ITEMS:
        return False
    names = [f.name for f in dtype.fields]
    # duplicate struct field names are legal in Spark but the contract
    # renames the second to key_1 — schema-level, so checked here
    if len(set(names)) != len(names):
        return False
    for f in dtype.fields:
        if not isinstance(f.dataType, _FAST_FIELD_TYPES):
            return False
        if len(f.name) > MAX_KEY_LENGTH:
            return False
    return True


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
            # a null bag: the sink splices "{}" for it
            return None
        if s == "":
            return "{}"
        obj = json.loads(s)
        if not isinstance(obj, dict):
            obj = {"value": obj}
        return dumps(encode_properties(obj))

    return json_props.map(canon)


def _field_fragment(bag: Column, f: T.StructField) -> Column:
    """``"name":value`` of one field of a simple bag, NULL when the value is
    null; a string over ``MAX_STRING_LENGTH`` renders as the contract's
    ``string_too_large`` marker (`encoding.encode_value`).  Spark's
    ``length`` and ``substring`` count code points, as Python's ``len`` and
    slicing do."""
    v = bag[f.name]
    obj = F.to_json(F.struct(v.alias(f.name)))
    plain = F.when(v.isNotNull(), obj.substr(F.lit(2), F.length(obj) - 2))
    if not isinstance(f.dataType, T.StringType):
        return plain
    n = F.length(v)
    marker = F.to_json(
        F.struct(
            F.lit(STRING_TOO_LARGE).alias("_truncated"),
            n.alias("_length"),
            F.concat(
                F.substring(v, 1, STRING_PREFIX_LENGTH - len(ELLIPSIS)),
                F.lit(ELLIPSIS),
            ).alias("_prefix"),
            F.base64(F.unhex(F.sha2(v, 256))).alias("_sha256"),
        )
    )
    return F.when(
        n > MAX_STRING_LENGTH, F.concat(F.lit(dumps(f.name) + ":"), marker)
    ).otherwise(plain)


def export_props_json_col(df: DataFrame, struct_col: str = "properties") -> Column:
    """Final contract bytes for the record's ``properties`` object.

    Simple bags render fully JVM-side: ``{`` + the comma-joined
    `_field_fragment`s + ``}``, through `contract_escapes`.  Bags with
    temporal/binary/decimal fields go through the TYPED struct encoder
    (Arrow keeps real datetimes/bytes, so the contract's temporal formats
    apply); remaining non-simple bags (fractional/nested)
    re-canonicalize through the JSON-string UDF (normalizes Jackson float
    formatting, applies truncation markers).  Nulls are dropped in every
    lane, like ``to_json``.
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
    if not bag_is_export_fast(dtype):
        return export_json_canon_udf(F.to_json(struct_col))
    assert isinstance(dtype, T.StructType)
    bag = F.col(struct_col)
    # concat_ws skips NULL fragments, so a null or all-null bag gives "{}"
    frags = F.concat_ws(",", *[_field_fragment(bag, f) for f in dtype.fields])
    return contract_escapes(F.concat(F.lit("{"), frags, F.lit("}")))
