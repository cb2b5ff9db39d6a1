"""Graph materialization: nodes/edges DataFrames with content-hash identities.

Replaces the reference's two-pass export with an in-memory ``elementId →
content_hash`` dictionary (``Export/Types.fs:62``; ~1 GB per 10M nodes,
its scalability ceiling per ``docs/Improvements.md:122-130``) with the J1
**equi-join** (SURVEY.md §2.3): edges join the nodes projection on
start/end element_id.  Broadcast when the node side is small; AQE picks
sort-merge + skew-split otherwise.  The reference's warn-and-fallback on a
missing node becomes ``coalesce(content_hash, element_id)`` plus a counted
``_hash_fallback`` flag (observable metric instead of a log line).

A property bag is canonicalized by the route the export takes for it
(`functions.export_json.bag_is_export_fast`).  A simple bag
(int/string/bool fields) is built JVM-side: ``to_json(struct(cols sorted
by name))`` already satisfies the contract — ordinally-sorted keys (we
sort the struct fields), compact output, null fields dropped (Spark's
default ``ignoreNullFields``), integers without a decimal point — once
Jackson's upper-hex control escapes are lower-cased
(`functions.export_json.contract_escapes`).  The empty bag canonicalizes
to ``''`` (reference ``Neo4jExportToolId.fs:102-104``), patched with one
``when``.  Every other bag runs the kernel's `canonical_properties` in the
export's pandas-UDF lane (`functions.export_json.python_bag_col`).  The
hash itself is whole-stage-codegen'd ``sha2`` in both routes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.canonical import (
    canonical_properties,
    node_hash_col,
    rel_hash_col,
)
from neo4j_export_tool_spark.functions.export_json import (
    bag_is_export_fast,
    contract_escapes,
    export_props_json_col,
    python_bag_col,
)


def canonical_props_col(props: dict[str, Column], df: DataFrame) -> Column:
    """Canonical-JSON string column for the property bag ``props`` over
    ``df``, routed as the export routes it.

    A simple bag (`bag_is_export_fast`) canonicalizes fully JVM-side:
    ``to_json`` over the name-sorted struct, with Jackson's upper-hex
    control escapes lower-cased by `contract_escapes` as the Python kernel
    writes them.  Every other bag runs the kernel's `canonical_properties`
    in `python_bag_col`, so fractional, temporal, decimal and binary values
    hash the bytes the pure-Python ID kernel (``functions.canonical``)
    hashes — the cross-implementation guarantee the hash algebra depends
    on.
    """
    if not props:
        return F.lit("")
    fields = [props[k].alias(k) for k in sorted(props)]
    struct = F.struct(*fields)
    dtype = df.select(*fields).schema
    if not bag_is_export_fast(dtype):
        return python_bag_col(struct, dtype, canonical_properties)
    js = F.to_json(struct)
    # all-null bag → '{}' from to_json; the contract wants ''
    return F.when(js == "{}", F.lit("")).otherwise(contract_escapes(js))


def nodes_from(
    df: DataFrame,
    labels: list[str] | Column,
    element_id: Column,
    props: dict[str, Column],
) -> DataFrame:
    """Build a nodes table: (element_id, labels, properties, canonical_props,
    content_hash).

    ``element_id`` must be deterministic (content- or key-derived) — the
    analog of Neo4j's elementId, and the join key for `attach_node_hashes`.
    """
    labels_col = (
        F.array(*[F.lit(x) for x in labels]) if isinstance(labels, list) else labels
    )
    canon = canonical_props_col(props, df)
    out = df.select(
        element_id.alias("element_id"),
        labels_col.alias("labels"),
        F.struct(*[c.alias(k) for k, c in props.items()]).alias("properties")
        if props
        else F.struct(F.lit(None).alias("_empty")).alias("properties"),
        canon.alias("canonical_props"),
    )
    if isinstance(labels, list):
        # constant labels: fold the sorted '+'-join at plan time (array_sort's
        # lambda comparator is CodegenFallback and would run per row)
        prefix = "node:" + "+".join(sorted(labels)) + ":"
        hash_col = F.sha2(
            F.concat(F.lit(prefix), F.coalesce(F.col("canonical_props"), F.lit(""))),
            256,
        )
    else:
        hash_col = node_hash_col(F.col("labels"), F.col("canonical_props"))
    return out.withColumn("content_hash", hash_col)


def edges_from(
    df: DataFrame,
    rel_type: Column | str,
    start_element_id: Column,
    end_element_id: Column,
    props: dict[str, Column],
) -> DataFrame:
    """Build an edges table: (element_id, label, start_element_id,
    end_element_id, properties, canonical_props, identity_hash).

    The deterministic ``element_id`` of an edge IS its identity hash
    (reference rel element_ids are source-assigned; ours are content-derived,
    per SURVEY.md §1.4 'deterministic per-entity ID').
    """
    type_col = F.lit(rel_type) if isinstance(rel_type, str) else rel_type
    canon = canonical_props_col(props, df)
    out = df.select(
        type_col.alias("label"),
        start_element_id.alias("start_element_id"),
        end_element_id.alias("end_element_id"),
        F.struct(*[c.alias(k) for k, c in props.items()]).alias("properties")
        if props
        else F.struct(F.lit(None).alias("_empty")).alias("properties"),
        canon.alias("canonical_props"),
    )
    out = out.withColumn(
        "identity_hash",
        rel_hash_col(
            F.col("label"),
            F.col("start_element_id"),
            F.col("end_element_id"),
            F.col("canonical_props"),
        ),
    )
    return out.withColumn("element_id", F.col("identity_hash"))


def hash_fallback_warnings(hashed_edges: DataFrame) -> list[dict]:
    """Summarized warning records for unresolved node-hash lookups (the Spark
    analog of the reference's warn-and-fallback on NodeIdMapping misses,
    ``BatchProcessing.fs:316-341``, and its warning dedup A6: one summarized
    record per relationship type instead of one log line per miss)."""
    import time as _time

    rows = (
        hashed_edges.filter(F.col("_hash_fallback"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("element_id").alias("first_element_id"),
        )
        .collect()
    )
    ts = _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime())
    return [
        {
            "timestamp": ts,
            "message": (
                f"node content hash unresolved for {r['n']} relationship(s) of "
                f"type {r['label']}; element_id used as fallback"
            ),
            "element_id": r["first_element_id"],
            "details": {"relationship_type": r["label"], "occurrences": r["n"]},
        }
        for r in rows
    ]


def nodes_union(*node_dfs: DataFrame) -> DataFrame:
    """Union node classes with heterogeneous property schemas.

    Spark requires one type per column, so the open-ended property bag is
    carried as pre-serialized JSON (SURVEY.md §1.2) once classes mix:
    (element_id, labels, properties_json, canonical_props, content_hash).
    ``properties_json`` is contract-final bytes (simple bags JVM-side for
    every row; one pandas UDF only for non-simple bags), so the JSONL sink
    can splice it into record lines without touching Python.
    """
    projected = [
        df.select(
            "element_id",
            "labels",
            export_props_json_col(df).alias("properties_json"),
            "canonical_props",
            "content_hash",
        )
        for df in node_dfs
    ]
    out = projected[0]
    for df in projected[1:]:
        out = out.unionByName(df)
    return out


def attach_node_hashes(
    edges: DataFrame,
    nodes: DataFrame,
    broadcast_nodes: bool | None = None,
) -> DataFrame:
    """J1: resolve start/end node content hashes by joining the nodes table.

    ``broadcast_nodes``: True forces a broadcast hash join (small dims);
    None lets AQE decide (sort-merge with runtime skew split at scale).
    Misses fall back to the element_id (reference ``BatchProcessing.fs:
    316-341`` warns and falls back the same way) and are flagged in
    ``_hash_fallback`` so callers can count them via ``observe``/``agg``
    instead of log-scraping.
    """
    lookup = nodes.select(
        F.col("element_id").alias("_nid"), F.col("content_hash").alias("_nhash")
    )
    if broadcast_nodes:
        lookup = F.broadcast(lookup)

    out = (
        edges.join(lookup, edges["start_element_id"] == lookup["_nid"], "left")
        .withColumn("start_node_content_hash", F.coalesce("_nhash", "start_element_id"))
        .withColumn("_start_fallback", F.col("_nhash").isNull())
        .drop("_nid", "_nhash")
    )
    out = (
        out.join(lookup, out["end_element_id"] == lookup["_nid"], "left")
        .withColumn("end_node_content_hash", F.coalesce("_nhash", "end_element_id"))
        .withColumn(
            "_hash_fallback", F.col("_start_fallback") | F.col("_nhash").isNull()
        )
        .drop("_nid", "_nhash", "_start_fallback")
    )
    return out
