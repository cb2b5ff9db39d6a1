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

Each property bag takes one of two routes, decided here once
(`bag_is_export_fast`) for the export and for the content hash
(``operators.graph.canonical_props_col``) alike:

- simple bags (int/string/bool fields) render fully JVM-side: the object
  is assembled from per-field ``to_json`` fragments, an over-limit string
  as the contract's ``string_too_large`` marker, and the upper-hex escapes
  are lower-cased in place (`contract_escapes`, the one home of that rule;
  the sink's record heads and the content hash's JVM lane use it too);
- every other bag runs one Arrow-vectorized pandas UDF (`python_bag_col`):
  temporal, decimal and binary fields cross as Arrow values, the rest as
  the ``to_json`` text of their struct, and one Python encoder writes the
  bytes — the §1.3 contract for the export, the kernel's
  ``canonical_properties`` for the hash.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import Any

import numpy as np
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


# A top-level field whose type holds one of these crosses to Python as its
# Arrow value: ``to_json`` would stringify it in Jackson's format, which is
# neither the contract's temporal format nor the hash kernel's ``str``.
_ARROW_FIELD_TYPES = (
    T.TimestampType,
    T.TimestampNTZType,
    T.DateType,
    T.BinaryType,
    T.DecimalType,
)


def _holds_arrow_type(t: T.DataType) -> bool:
    if isinstance(t, _ARROW_FIELD_TYPES):
        return True
    if isinstance(t, T.ArrayType):
        return _holds_arrow_type(t.elementType)
    if isinstance(t, T.MapType):
        return _holds_arrow_type(t.keyType) or _holds_arrow_type(t.valueType)
    if isinstance(t, T.StructType):
        return any(_holds_arrow_type(f.dataType) for f in t.fields)
    return False


def _nat_to_none(v: Any) -> Any:
    """``v`` with every ``pd.NaT`` in it made ``None``: Arrow hands a null
    timestamp over as ``NaT``, a ``datetime`` subclass, at the top level
    and inside (nested) arrays, which come as object arrays and become
    lists here.  Inside a struct or map a null is already ``None``."""
    if v is pd.NaT:
        return None
    if isinstance(v, np.ndarray) and v.dtype == object:
        return [_nat_to_none(x) for x in v]
    return v


def python_bag_col(
    bag: Column, dtype: T.StructType, encode: Callable[[dict[str, Any]], str]
) -> Column:
    """``encode(props)`` of each row of the struct column ``bag`` (schema
    ``dtype``), through one Arrow-vectorized pandas UDF: the lane of every
    bag that `bag_is_export_fast` rejects, for the export
    (``dumps(encode_properties(...))``) and the content hash
    (``canonical_properties``) alike.

    A field whose type holds a timestamp, date, decimal or binary crosses
    as its Arrow value; every other field crosses inside the ``to_json``
    text of one struct of those fields, so ints stay exact, a null stays
    absent and floats parse back from Jackson's shortest form.  ``props``
    holds the non-null fields of both, in schema field order."""
    order = [f.name for f in dtype.fields]
    typed = [f.name for f in dtype.fields if _holds_arrow_type(f.dataType)]
    rest = [n for n in order if n not in typed]
    js = F.to_json(F.struct(*[bag[n].alias(n) for n in rest]))
    # positional names: a field may be called anything, "_json" included
    arg = F.struct(
        js.alias("_0"), *[bag[n].alias(f"_{i}") for i, n in enumerate(typed, 1)]
    )

    def run(cols: pd.DataFrame) -> pd.Series:
        out = []
        for text, *vals in cols.itertuples(index=False, name=None):
            got = json.loads(text)
            vals = [_nat_to_none(v) for v in vals]
            got.update((k, v) for k, v in zip(typed, vals) if v is not None)
            out.append(encode({k: got[k] for k in order if k in got}))
        return pd.Series(out, dtype=object)

    return pandas_udf(run, StringType())(arg)


def _export_encode(props: dict[str, Any]) -> str:
    return dumps(encode_properties(props))


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
    `_field_fragment`s + ``}``, through `contract_escapes`.  Every other bag
    goes through `python_bag_col` with ``dumps(encode_properties(...))``.
    Nulls are dropped in both lanes, like ``to_json``.
    """
    dtype = df.schema[struct_col].dataType
    if not isinstance(dtype, T.StructType):
        raise TypeError(f"{struct_col} must be a struct, not {dtype.simpleString()}")
    names = [f.name for f in dtype.fields]
    if len(set(names)) != len(names):
        # a JSON object keeps only the LAST duplicate — explicit failure
        # beats silent data loss; the contract's key_1 rename applies to
        # runtime MAP keys, not schema-level duplicate struct fields
        raise ValueError(
            f"duplicate struct field names in {struct_col}: {names} — "
            "rename the fields (duplicate JSON keys would be dropped)"
        )
    bag = F.col(struct_col)
    if not bag_is_export_fast(dtype):
        return python_bag_col(bag, dtype, _export_encode)
    # concat_ws skips NULL fragments, so a null or all-null bag gives "{}"
    frags = F.concat_ws(",", *[_field_fragment(bag, f) for f in dtype.fields])
    return contract_escapes(F.concat(F.lit("{"), frags, F.lit("}")))
