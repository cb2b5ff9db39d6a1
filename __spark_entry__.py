"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG construction (documents → Aho-Corasick
mention detection → MENTIONS edges → content-hash identities → J1 hash join)
at sf0.001.  ``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extras); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for each.

Exactness conventions (so the driver's value-hash compare is bit-stable):
- money aggregates use integer-cent math (``round(x*100)`` → bigint sums)
  and a single final division — identical in Spark and DuckDB;
- timestamps are emitted as formatted strings;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCAN_KEYS = {"documents": "doc_id", "events": "event_id",
              "embeddings": "vec_id", "lineitem": "l_orderkey"}


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`_t` + conditional fan-out (guide §2.5): the driver tables are
    single-row-group parquet, so a scan is ONE partition and per-row-heavy
    lanes would run on one core.  Used only by lanes whose per-row compute
    dominates; `fan_out` is a no-op on an already-parallel scan."""
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    return fan_out(_t(spark, sf_dir, name), key=_SCAN_KEYS.get(name))


def _ensure_shipped(spark: SparkSession) -> None:
    """The driver passes its OWN SparkSession; ship the package to its
    executors once so pandas-UDF closures resolve regardless of the worker
    PYTHONPATH."""
    from neo4j_export_tool_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)





# ---------------------------------------------------------------------------
# entry: flagship KG construction
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hashed MENTIONS edges of the documents knowledge graph."""
    from neo4j_export_tool_spark.plans.flagship import flagship_edges

    _ensure_shipped(spark)
    return flagship_edges(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation (SURVEY §2.4 A1/A2 analog), integer-cent math."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_price_c"
            ),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("sum_disc_price_c4"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q02_keyset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-paginated scan (SURVEY §2.1 S1 / §2.2 P3): WHERE id > cursor
    ORDER BY id LIMIT batch."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") > 100)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
        .limit(50)
    )


def _q03_per_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label stats fold (SURVEY §2.4 A2): record_count + bytes per label."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.sum("n_chars").alias("bytes_written"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "source")
    )


def _q04_error_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error dedup aggregation (SURVEY §2.4 A4): group by (type, message
    prefix), keep count + first occurrence."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("error_type"),
            F.substring(F.col("props"), 1, 20).alias("message_prefix"),
        )
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.min("event_id").alias("first_event_id"),
        )
        .orderBy("error_type", "message_prefix")
    )


def _q05_truncate_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate-with-ellipsis (SURVEY §2.6 F6): span-slice to maxLen-3 + '...'."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(
            F.length("text") > 100,
            F.concat(F.substring("text", 1, 97), F.lit("...")),
        )
        .otherwise(F.col("text"))
        .alias("text_truncated"),
        (F.length("text") > 100).alias("was_truncated"),
    ).orderBy("doc_id")


def _q06_node_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NET_node_content_hash (SURVEY §1.4/F4): sha256 over 'node:' + sorted
    labels + ':' + canonical JSON — computed JVM-side."""
    from neo4j_export_tool_spark.plans.flagship import document_nodes, load_documents

    nodes = document_nodes(load_documents(spark, sf_dir))
    return nodes.select("element_id", "canonical_props", "content_hash").orderBy(
        "element_id"
    )


def _q07_rel_identity_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NET_rel_identity_hash + J1 node-hash lookup join (SURVEY §2.3 J1):
    MENTIONS edges with identity hash and start/end node content hashes."""
    from neo4j_export_tool_spark.plans.flagship import documents_kg

    _, hashed = documents_kg(spark, sf_dir)
    return hashed.select(
        F.col("start_element_id"),
        F.col("end_element_id"),
        F.col("element_id").alias("rel_identity_hash"),
        "start_node_content_hash",
        "end_node_content_hash",
    ).localCheckpoint(eager=False).orderBy("start_element_id", "end_element_id")


def _q08_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mention detection (SURVEY §2.8, mapInPandas Aho-Corasick):
    per-(doc, concept) occurrence counts + first char offset."""
    from neo4j_export_tool_spark.plans.flagship import doc_mentions, load_documents

    m = doc_mentions(load_documents(spark, sf_dir))
    return m.select("doc_id", "concept", "n_occurrences", "first_offset").localCheckpoint(eager=False).orderBy("doc_id", "concept")


def _q09_counts_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global count source (SURVEY §2.1 S4 / §2.4 A1) + distinct label
    collection (SURVEY §2.4 A3 / §2.5 D2, the sorted '+'-joined label set
    that feeds the hash composition) — one single-row gate pinning both
    aggregation operators (round-6 board consolidation: the driver's
    correctness file caps at 50 entries, so single-row lanes over the
    same tables share one key)."""
    docs = _t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_documents"),
        F.array_join(F.array_sort(F.collect_set("lang")), "+").alias("labels_joined"),
        F.countDistinct("lang").alias("label_count"),
    )
    ev = _t(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("n_events"))
    li = _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_lineitems"))
    return docs.crossJoin(ev).crossJoin(li).select(
        "n_documents", "n_events", "n_lineitems", "labels_joined", "label_count"
    )


def _q11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (training-pipeline op): canonical doc per
    sha256(text) group — the `operators.dedup.exact_dedup` operator."""
    from neo4j_export_tool_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return (
        exact_dedup(docs, "text", "doc_id")
        .withColumnsRenamed(
            {"content_sha256": "text_sha256", "canonical_id": "canonical_doc_id"}
        )
        .orderBy("text_sha256")
    )


def _q12_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (training-pipeline op): whitespace tokens, distinct
    tokens, and the BPE-ish pre-tokenizer regex count (round-6 board
    consolidation: absorbs the former q21 lane — same table, same per-doc
    shape, both token operators stay gate-pinned)."""
    from neo4j_export_tool_spark.functions.text import token_count_bpe, token_count_ws

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    ).localCheckpoint(eager=False).orderBy("doc_id")


def _q13_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs (integer-exact threshold)
    with stop-shingle pruning ON (max_shingle_df=20) — the scale knob that
    bounds per-shingle pair enumeration; the oracle prunes identically."""
    from neo4j_export_tool_spark.operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(
        docs, "text", "doc_id", threshold_pct=60, shingle_n=3, max_shingle_df=20
    ).localCheckpoint(eager=False).orderBy("doc_a", "doc_b")


def _q14_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified (k=64/b=32 → recall ≈ 1, so
    the result equals the exact Jaccard join and shares its oracle)."""
    from neo4j_export_tool_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", threshold_pct=60, shingle_n=3
    ).localCheckpoint(eager=False).orderBy("doc_a", "doc_b")


def _q55_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered EXACT Jaccard: `jaccard_pairs` with
    no df cap (`operators/dedup.py`) takes candidates only from each
    set's rare-first prefix (positional prefix principle — any pair at
    the threshold must collide inside the prefixes), then an exact
    array_intersect verify.  Output provably equals the unpruned exact
    join, so it shares q14's oracle."""
    from neo4j_export_tool_spark.operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(
        docs, "text", "doc_id", threshold_pct=60, shingle_n=3
    ).localCheckpoint(eager=False).orderBy("doc_a", "doc_b")


def _q15_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (md5-derived bit votes, engine-portable)."""
    from neo4j_export_tool_spark.operators.dedup import simhash_fingerprints

    docs = _tp(spark, sf_dir, "documents")
    return (
        simhash_fingerprints(docs, "text", "doc_id")
        .withColumnRenamed("doc", "doc_id")
        .localCheckpoint(eager=False).orderBy("doc_id")
    )


def _q16_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sequential-double math, exact)."""
    from neo4j_export_tool_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, "embedding", "vec_id", min_cosine=0.5).localCheckpoint(eager=False).orderBy("id_a", "id_b")


def _q17_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (query set = vec_id < 10)."""
    from neo4j_export_tool_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries_df, "embedding", "vec_id", k=5).localCheckpoint(eager=False).orderBy("query_id", "rank")


def _q18_video_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 container demux (round-6 de-stub of the video tier,
    `operators/mp4.py`): each doc carries a deterministic single-track
    ISO BMFF container (2-8 samples of constant-value bytes, varied
    per-sample durations, every-3rd keyframe, multi-chunk stsc layout);
    the demuxer walks ftyp/moov/stbl, interprets stts/stsc/stsz/stco/stss
    for real, slices each sample out of mdat, and emits one row per
    sample with timing, keyframe flag, and byte evidence (length +
    byte-sum).  The oracle replays the generator's closed form — any
    offset, timing, or table-interpretation error shifts a sample into
    its differently-valued neighbor and breaks byte_sum.  Bit-level
    sample equality and the spec corners (RLE stts, co64, ctts, v1
    headers, truncation) are pinned by tests/test_mp4.py.  The
    entropy-coded bitstream INSIDE samples stays honestly stubbed
    (multimodal.require_codec)."""
    from collections.abc import Iterator

    import pandas as pd

    from neo4j_export_tool_spark.operators.mp4 import (
        encode_mp4,
        extract_video_samples,
    )

    docs = _tp(spark, sf_dir, "documents").select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = d % 7 + 2
                samples = [
                    bytes([(d + 37 * i) % 256]) * (50 + (d * 31 + i * 17) % 100)
                    for i in range(n)
                ]
                deltas = [3000 + 100 * ((d + k) % 5) for k in range(n)]
                mids.append(str(d))
                payloads.append(
                    encode_mp4(
                        samples,
                        deltas,
                        width=16 * (d % 40 + 1),
                        height=16 * (d % 30 + 1),
                        keyframes=[i for i in range(n) if i % 3 == 0],
                        chunk_pattern=(2, 3),
                    )
                )
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return (
        extract_video_samples(media)
        .select(
            F.col("media_id").cast("long").alias("doc_id"),
            "sample_idx", "dts_ticks", "keyframe_flag", "n_bytes",
            "byte_sum", "width", "height", "duration_ms",
        )
        .localCheckpoint(eager=False)  # sort sampling must not re-demux
        .orderBy("doc_id", "sample_idx")
    )


def _q19_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: language ID (stopword-hit argmax with
    deterministic tie-break), integer-exact quality metrics
    (token/char/stopword/TTR), and the rolling polynomial fingerprint —
    one per-doc lane pinning all three text operators (round-6 board
    consolidation: absorbs the former q20/q22 lanes; every column is a
    pure JVM expression over the same documents scan, so one gate checks
    the same three operators the three old gates did)."""
    from neo4j_export_tool_spark.functions.text import (
        fingerprint_col,
        lang_id_col,
        quality_metrics,
    )

    docs = _tp(spark, sf_dir, "documents")
    qm = quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        lang_id_col(F.col("text")).alias("lang_pred"),
        *[c.alias(k) for k, c in qm.items()],
        fingerprint_col(F.col("text")).alias("fingerprint"),
    ).localCheckpoint(eager=False).orderBy("doc_id")


def _q23_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (SURVEY §2.5 W analogs): row_number, lag, running sum
    per user in integer cents."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.lag(cents).over(w).alias("prev_value_c"),
            F.sum(cents).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("running_c"),
        )
        .localCheckpoint(eager=False).orderBy("event_id")
    )


def _q24_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: new session when the per-user gap exceeds 1 hour."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    is_new = F.when(gap.isNull() | (gap > 3_600_000_000), 1).otherwise(0)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(is_new)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("session_seq"),
        )
        .localCheckpoint(eager=False).orderBy("event_id")
    )


def _q25_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative label-propagation CC over doc chains within (source, lang);
    oracle = group minimum (same answer, closed form)."""
    from pyspark.sql import Window

    from neo4j_export_tool_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy("doc_id")
    edges = (
        docs.select("doc_id", "source", "lang")
        .withColumn("next_id", F.lead("doc_id").over(w))
        .filter(F.col("next_id").isNotNull())
        .select(F.col("doc_id").alias("src"), F.col("next_id").alias("dst"))
    )
    res = connected_components(edges, max_iterations=30)
    return (
        docs.select("doc_id")
        .join(res.components, docs["doc_id"] == res.components["id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .localCheckpoint(eager=False).orderBy("doc_id")
    )


def _q26_event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (streaming twin verified in pytest)."""
    from neo4j_export_tool_spark.streaming.events import batch_event_stats

    ev = _t(spark, sf_dir, "events")
    out = batch_event_stats(ev, window="1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value_c",
    ).orderBy("window_start", "event_type")


def _q27_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH cosine pairs over a planted-twin set — hash-exact.

    The input plants an exact twin (vec_id + 100000, identical vector) for
    each of the first 200 embeddings.  An identical pair shares every sign
    bucket in every table, so LSH recall on the planted pairs is 1 BY
    CONSTRUCTION, and the exact-cosine verify keeps precision exact; with
    ``min_cosine=0.99`` (max natural pairwise cosine in the testdata is
    ~0.48 at every sf) the output is exactly the all-pairs exact answer,
    so the q16-style DuckDB oracle applies.  General-recall behaviour is
    covered by the pytest subset/recall tests."""
    from neo4j_export_tool_spark.operators.ann import hyperplane_lsh_pairs

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    aug = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    return hyperplane_lsh_pairs(
        aug, "embedding", "vec_id", min_cosine=0.99, dim=64
    ).localCheckpoint(eager=False).orderBy("id_a", "id_b")


def _q28_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking — hash-exact against a closed-form oracle.

    The full J2 machinery runs (blocking equi-join, distributed trigram-IDF,
    Arrow-batched TF-IDF cosine scorer, top-1 window, fan-back join), but
    the gate emits only the deterministic (doc_id, surface, kb_id) top-1
    mapping: surfaces are single tokens and each KB name is its own blocking
    key, so the sole candidate per linkable surface is its identical-name
    entry (score ≈ 1.0 ≥ min_score) — i.e. kb_id = 'kb:' || surface for the
    six KB terms, a DuckDB-expressible oracle.  Float link_score exactness
    stays in pytest (tests/test_ann_cc_linking.py)."""
    from neo4j_export_tool_spark.operators.linking import link_mentions
    from neo4j_export_tool_spark.plans.flagship import doc_mentions, load_documents

    docs = load_documents(spark, sf_dir)
    mentions = doc_mentions(docs).select(
        "doc_id", F.col("concept").alias("surface"), "n_occurrences"
    )
    kb = spark.createDataFrame(
        [(f"kb:{t}", t) for t in ("join", "hash", "merge", "sort", "scan", "filter")],
        "kb_id string, name string",
    )
    linked = link_mentions(mentions, kb)
    return (
        linked.filter(F.col("kb_id").isNotNull())
        .select("doc_id", "surface", "kb_id")
        .localCheckpoint(eager=False).orderBy("doc_id", "surface")
    )


def _q29_canonicalize_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-form canonicalization (MinHash-LSH similarity join + iterative
    connected components, SURVEY §2.3 J3/J4).  The concept vocabulary has no
    alias pairs above the threshold (max pairwise trigram Jaccard < 0.30),
    so the correct output is all-singleton clusters — a closed-form oracle
    that still exercises the full LSH + CC machinery."""
    from neo4j_export_tool_spark.operators.canonicalize import canonicalize_surfaces
    from neo4j_export_tool_spark.plans.flagship import doc_mentions, load_documents

    mentions = doc_mentions(load_documents(spark, sf_dir))
    out = canonicalize_surfaces(
        mentions.select(F.col("concept").alias("surface")), threshold_pct=45
    )
    return out.select("surface", "canonical_surface", "cluster_size").localCheckpoint(eager=False).orderBy("surface")


def _q30_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation (beyond the reference's operator set:
    it has no grouping sets — SURVEY §2.4 note)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


def _q31_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip: even doc_ids carry deterministic P6
    PPM payloads (2×2, pixel RGB derived from doc_id), odd doc_ids carry
    REAL baseline JPEG payloads (round-6 de-stub,
    `operators/jpeg.py`: solid 8×8 color at quality 100 — every
    quantizer 1, so the decode reproduces the integer YCbCr round trip
    exactly), both decoded back through the Arrow-batched
    container-sniffing codec.  The oracle is the closed form of the same
    arithmetic (the JPEG branch replays the YCbCr↔RGB floor(x+0.5)
    integer math in SQL verbatim); Huffman/EXTEND/IDCT conventions are
    additionally pinned by a hand-assembled T.81 fixture in
    tests/test_jpeg.py."""
    from collections.abc import Iterator

    import pandas as pd

    from neo4j_export_tool_spark.operators.jpeg import encode_jpeg
    from neo4j_export_tool_spark.operators.multimodal import (
        encode_ppm,
        extract_image_features,
    )

    docs = _tp(spark, sf_dir, "documents").select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # every payload field is a pure function of (doc_id % 2,
        # doc_id % 251) — memoize the encoder per task (recomputed every
        # run; this is within-query pure-function memoization, not a
        # result cache).  The decode side stays per-payload.
        memo: dict[tuple[int, int], bytes] = {}
        for pdf in batches:
            mids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                key = (d % 2, d % 251)
                p = memo.get(key)
                if p is None:
                    rgb = bytes([d % 251, (d * 7) % 251, (d * 13) % 251])
                    p = memo[key] = (
                        encode_jpeg(8, 8, rgb * 64, quality=100)
                        if d % 2
                        else encode_ppm(2, 2, rgb * 4)
                    )
                mids.append(str(d))
                payloads.append(p)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return (
        extract_image_features(media)
        .select(
            F.col("media_id").cast("long").alias("doc_id"),
            "width", "height", "mean_r", "mean_g", "mean_b",
        )
        # tiny result; materialize so the sort's range-sampling pass does
        # not re-run the Python decode stage (one eval instead of two)
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


def _q32_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode round-trip: deterministic 16-bit PCM WAV payloads
    per doc (stdlib wave), decoded back through the Arrow-batched codec."""
    from collections.abc import Iterator

    import pandas as pd

    from neo4j_export_tool_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    docs = _tp(spark, sf_dir, "documents").select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # payload is a pure function of (doc_id % 5, doc_id % 100) —
        # per-task memo of the encoder (within-query, recomputed each run)
        memo: dict[tuple[int, int], bytes] = {}
        for pdf in batches:
            mids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                key = (d % 5, d % 100)
                p = memo.get(key)
                if p is None:
                    n = 800 * (d % 5 + 1)
                    p = memo[key] = encode_wav([d % 100] * n, sample_rate=8000)
                mids.append(str(d))
                payloads.append(p)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return (
        extract_audio_features(media, sample_every=1000)
        .select(
            F.col("media_id").cast("long").alias("doc_id"),
            "sample_rate", "n_channels", "n_frames", "duration_ms",
        )
        .localCheckpoint(eager=False)  # sort sampling must not re-decode
        .orderBy("doc_id")
    )


def _q33_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew machinery, SURVEY §4.2): the
    salted count+sum must equal the plain group-by exactly — integer math,
    so bit-stable regardless of salt partitioning; single pass, so NULL
    group keys survive like a plain GROUP BY."""
    from neo4j_export_tool_spark.functions.salting import salted_count_sum

    docs = _t(spark, sf_dir, "documents")
    return (
        salted_count_sum(
            docs, ["lang", "source"], F.col("n_chars").cast("long"),
            salt_buckets=16,
        )
        .select("lang", "source", "n", "total")
        .orderBy("lang", "source")
    )


def _q34_streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run (availableNow drain of the events table
    through the watermarked tumbling-window aggregation, memory sink,
    complete mode) — the final result must equal the batch q26 oracle."""
    import uuid as _uuid

    from neo4j_export_tool_spark.streaming.events import (
        stream_events,
        windowed_event_stats,
    )

    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from neo4j_export_tool_spark.streaming.events import run_stream_to_memory

    _ensure_shipped(spark)
    sink = f"q34_sink_{_uuid.uuid4().hex[:8]}"
    # the file stream source requires a DIRECTORY; expose the single
    # events.parquet file through a scratch dir symlink
    stream_dir = _tf.mkdtemp(prefix="q34-events-")
    # abspath: a relative sf_dir would make the link target resolve
    # relative to the scratch dir → dangling symlink, empty stream
    _os.symlink(
        _os.path.abspath(f"{sf_dir}/events.parquet"),
        _os.path.join(stream_dir, "events.parquet"),
    )
    try:
        stats = windowed_event_stats(stream_events(spark, stream_dir))
        result = (
            run_stream_to_memory(spark, stats, sink)
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n_events",
                "sum_value_c",
            )
            .orderBy("window_start", "event_type")
            # materialize so the memory sink + scratch dir can be released
            # before the caller collects
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(stream_dir, ignore_errors=True)
    spark.catalog.dropTempView(sink)
    return result


def _q35_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full export→import round trip: write the flagship graph to the
    reference JSONL format, read it BACK with the JSONL source, and return
    the imported document-node identity hashes — the oracle recomputes
    them in closed form, so any byte drift in either direction of the
    round trip breaks the gate."""
    import shutil as _shutil
    import tempfile as _tf

    from neo4j_export_tool_spark.plans.flagship import documents_kg
    from neo4j_export_tool_spark.sources.jsonl_sink import (
        export_jsonl,
        with_properties_json,
    )
    from neo4j_export_tool_spark.sources.jsonl_source import read_jsonl_export

    _ensure_shipped(spark)
    nodes, hashed = documents_kg(spark, sf_dir)
    out = _tf.mkdtemp(prefix="q35-roundtrip-")
    try:
        res = export_jsonl(
            nodes, with_properties_json(hashed), out, db_name="roundtrip",
            sort_lines=False,  # gate orders at the end; skip the range sort
        )
        imp = read_jsonl_export(spark, res.path)
        return (
            imp.nodes.filter(F.col("element_id").startswith("doc:"))
            .select("element_id", "content_hash")
            .orderBy("element_id")
            .localCheckpoint(eager=True)  # scratch dir removed below
        )
    finally:
        _shutil.rmtree(out, ignore_errors=True)


def _drain_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    build: "Callable[[DataFrame], DataFrame]",
    finish: "Callable[[DataFrame], DataFrame]",
    sink_prefix: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Shared scaffolding for streaming gates over the documents table:
    symlink scratch dir (file sources need a DIRECTORY), scoped
    ``spark.sql.shuffle.partitions`` (the stateful agg spins one
    state-store instance per shuffle partition — pure fixed cost at ≤5k
    keys; measured 8.7s → 2.8s at 8), availableNow drain into a memory
    sink, eager localCheckpoint, and leak-proof cleanup: the memory-sink
    temp view (which buffers the whole result on the driver) is dropped
    in the SAME finally as the conf restore and scratch-dir removal."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tf
    import uuid as _uuid

    from neo4j_export_tool_spark.streaming.events import run_stream_to_memory

    _ensure_shipped(spark)
    stream_dir = _tf.mkdtemp(prefix=f"{sink_prefix}-docs-")
    _os.symlink(
        _os.path.abspath(f"{sf_dir}/documents.parquet"),
        _os.path.join(stream_dir, "documents.parquet"),
    )
    sink = f"{sink_prefix}_sink_{_uuid.uuid4().hex[:8]}"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        docs = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, "
                "source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return finish(
            run_stream_to_memory(
                spark, build(docs), sink, output_mode=output_mode
            )
        ).localCheckpoint(eager=True)  # scratch dir/view released below
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        _shutil.rmtree(stream_dir, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass  # stream failed before the sink view materialized


def _q36_streaming_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming twin of the flagship mention stage (q08):
    the documents table drained availableNow through the SAME stateless
    Aho-Corasick mapInPandas kernel and per-(doc, concept) aggregation in
    complete mode — the streaming KG-ingestion leg (``streaming/pages.py``
    posture), driver-visible.  Must equal the batch mention set exactly,
    so the q08 oracle applies."""
    from neo4j_export_tool_spark.plans.flagship import doc_mentions

    return _drain_documents_stream(
        spark,
        sf_dir,
        build=doc_mentions,
        finish=lambda df: df.select(
            "doc_id", "concept", "n_occurrences", "first_offset"
        ).orderBy("doc_id", "concept"),
        sink_prefix="q36",
    )


def _q37_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-pipeline op): typed-placeholder redaction of
    emails / IPv4s / phone numbers, JVM regex chain.  Deterministic PII
    spans are planted in-query (q31-style) so the gate verifies real
    redactions — an all-natural corpus would pass vacuously at zero
    matches.  Oracle runs the SAME patterns (Java-regex ∩ RE2 subset)."""
    from neo4j_export_tool_spark.functions.scrub import pii_scrub

    docs = _tp(spark, sf_dir, "documents")
    # F.concat, not concat_ws: concat_ws SKIPS nulls while the oracle's
    # `||` nulls the whole string — a null text must diverge identically
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    cols = pii_scrub(F.col("text"))
    return seeded.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    ).localCheckpoint(eager=False).orderBy("doc_id")


def _q38_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: 2-gram repeat percentage
    (pure column exprs) + most-frequent-token count (explode → two keyed
    aggs, no per-doc quadratic scan)."""
    from neo4j_export_tool_spark.functions.text import (
        repetition_2gram_metrics,
        top_token_counts,
    )

    docs = _tp(spark, sf_dir, "documents")
    m = repetition_2gram_metrics(F.col("text"))
    per_doc = docs.select("doc_id", *[c.alias(n) for n, c in m.items()])
    top = top_token_counts(docs, "text", "doc_id")
    return (
        per_doc.join(top, per_doc["doc_id"] == top["doc"])
        .drop("doc")
        .localCheckpoint(eager=False).orderBy("doc_id")
    )


def _q39_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary builder: global top-100 tokens by frequency,
    ties broken by token — the tokenizer-training precursor."""
    from neo4j_export_tool_spark.functions.text import corpus_vocab

    return corpus_vocab(_t(spark, sf_dir, "documents"), "text", k=100)


def _q40_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing distinct word 5-gram
    shingles with the eval subset (doc_id % 97 == 0), with per-doc hit
    counts — the overlap join every training corpus needs before a model
    sees a benchmark."""
    from neo4j_export_tool_spark.operators.decontaminate import decontaminate

    docs = _tp(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, eval_docs, shingle_n=5).localCheckpoint(eager=False).orderBy("doc_id")


def _q41_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming exact dedup: the documents table drained availableNow
    through ``dropDuplicatesWithinWatermark`` (state bounded by the
    watermark horizon — the property that keeps a perpetual-crawl dedup
    from OOMing).  Which duplicate survives depends on task arrival order,
    so the gate emits only the kept rows' content hashes — that SET is
    order-independent and must equal the distinct-hash oracle exactly."""
    from neo4j_export_tool_spark.streaming.dedup import dedup_stream_exact

    def build(docs: DataFrame) -> DataFrame:
        # synthetic deterministic event time (the table has none), FOLDED
        # INTO the 1-hour span so every duplicate pair sits inside the
        # 2-hour watermark horizon even if the source ever arrives as
        # multiple micro-batches — otherwise state eviction between
        # batches could re-emit a duplicate hash and break the oracle
        docs = docs.withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 3600),
        )
        kept = dedup_stream_exact(docs, "text", ts_col="ts")
        return kept.select(F.sha2(F.col("text"), 256).alias("text_sha256"))

    return _drain_documents_stream(
        spark,
        sf_dir,
        build=build,
        finish=lambda df: df.orderBy("text_sha256"),
        sink_prefix="q41",
        output_mode="append",
    )


def _q42_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling (training-corpus
    construction): keep a doc iff its engine-portable md5 bucket falls
    under its source's rate — reproducible across runs/engines/resumes,
    unlike rand() sampling.  Rates derive from the source suffix so the
    oracle states them in closed form."""
    from neo4j_export_tool_spark.functions.sampling import (
        mixture_sample,
        portable_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    rate = 10 + (F.substring("source", 4, 10).cast("int") * 4) % 80
    return (
        mixture_sample(docs.withColumn("rate_pct", rate), "doc_id", F.col("rate_pct"))
        .select(
            "doc_id",
            "source",
            "rate_pct",
            portable_bucket(F.col("doc_id")).alias("bucket"),
        )
        .localCheckpoint(eager=False).orderBy("doc_id")
    )


def _q43_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: diff an OLD document snapshot (derived
    deterministically in-query: docs %97 missing → "added", docs %10 with
    different text → "changed", synthetic retired docs → "removed")
    against the current table, re-extract mentions ONLY for the delta,
    and emit upsert/tombstone operations.  Cost scales with |delta|, not
    corpus size — the incremental posture the north rule asks for,
    driver-visible with a closed-form oracle."""
    from neo4j_export_tool_spark.plans.incremental import (
        incremental_mention_delta,
    )

    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.select("doc_id", "text")
    old_docs = (
        docs.filter(F.col("doc_id") % 97 != 0)  # %97 docs become "added"
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(F.col("text"), F.lit(" legacy")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(  # retired docs present only in the old snapshot —
            # negative ids can never collide with live doc_ids at ANY sf
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (-(F.col("doc_id") + 1)).alias("doc_id"),
                F.concat(F.lit("retired "), F.col("text")).alias("text"),
            )
        )
    )
    return incremental_mention_delta(old_docs, new_docs).localCheckpoint(eager=False).orderBy("doc_id", "concept", "op")


def _q44_graph_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph materialization as bucketed managed tables (SURVEY §2.1 S11,
    parquet half): nodes bucketed by element_id, edges bucketed by
    start_element_id and partitioned by relationship type, then the J1
    hash-lookup join re-run OVER THE TABLES (equal bucket counts → no
    exchange on the join key).  The read-back join must reproduce the
    closed-form node-hash oracle, making the table round trip
    driver-visible; the shuffle-free plan property is pinned in
    tests/test_tables.py."""
    from neo4j_export_tool_spark.operators.graph import nodes_union
    from neo4j_export_tool_spark.plans.flagship import (
        concept_nodes,
        doc_mentions,
        document_nodes,
        load_documents,
        mention_edges,
    )
    from neo4j_export_tool_spark.sources.tables import (
        colocated_hash_join,
        save_graph_tables,
    )

    _ensure_shipped(spark)
    # managed tables default to $PWD/spark-warehouse — pin the gate's
    # database to a tmp location so a read-only caller cwd can't fail it
    # (mkdtemp only when the database doesn't exist yet: CREATE ... IF NOT
    # EXISTS ignores the LOCATION on later calls and the dir would leak).
    # The dir must outlive the session's table reads, so cleanup is
    # deferred to interpreter exit (round-3 verdict item #6 — same atexit
    # pattern as jsonl_source._ZST_SCRATCH_DIRS).
    if not spark.catalog.databaseExists("q44db"):
        import atexit as _atexit
        import shutil as _sh
        import tempfile as _tf

        db_loc = _tf.mkdtemp(prefix="q44-warehouse-")
        _atexit.register(_sh.rmtree, db_loc, ignore_errors=True)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS q44db LOCATION '{db_loc}'")
    # build nodes and RAW edges directly — the hash-attach join happens
    # over the TABLES below; running documents_kg's attach first would
    # execute the same join twice per gate run
    docs = load_documents(spark, sf_dir)
    nodes = nodes_union(document_nodes(docs), concept_nodes(spark))
    edges = mention_edges(doc_mentions(docs)).select(
        "start_element_id", "end_element_id", "label"
    )
    nt, et = save_graph_tables(
        spark,
        nodes.select("element_id", "content_hash"),
        edges,
        prefix="q44db.q44kg",
        n_buckets=8,
    )
    return (
        colocated_hash_join(spark, nt, et)
        .select(
            "start_element_id", "end_element_id", "start_node_content_hash"
        )
        .localCheckpoint(eager=False).orderBy("start_element_id", "end_element_id")
    )


def _q45_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization of the embeddings table (int8-ranged codes,
    fixed global scale) — the memory lever under ANN at corpus scale.
    Pure column exprs; integer-exact across engines, so the oracle
    recomputes every code.  Restricted to vec_id < 100: the gate checks
    the ARITHMETIC, not 64 rows per vector times the corpus."""
    from neo4j_export_tool_spark.functions.quantize import scalar_quantize

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return scalar_quantize(emb, "embedding", "vec_id", levels=64).localCheckpoint(eager=False).orderBy("vec_id", "pos")


def _q46_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE (round-4): merge table learned by the DISTRIBUTED
    learner (``functions/bpe.py::learn_bpe`` — split → explode → groupBy →
    driver-bounded greedy merges) over the fixed seed vocabulary, then the
    whole documents table encoded distributed (vocabulary-bounded Arrow
    encode kernel + broadcast join; corpus side is pure column exprs).
    The seed corpus is scale-independent so the oracle can embed the
    word→token map as closed-form literals computed by the pure-Python
    twin; corpus-dependent learning equality is pytest-pinned
    (tests/test_bpe.py)."""
    from neo4j_export_tool_spark.functions.bpe import (
        encode_bpe,
        learn_bpe,
        seed_corpus_lines,
    )

    seed = spark.createDataFrame(
        [(line,) for line in seed_corpus_lines()], "text string"
    )
    merges = learn_bpe(seed, n_merges=24)
    # no fan-out: the encode kernel is vocabulary-bounded and the corpus
    # side is pure column exprs — the exchange measured a net loss (r7)
    docs = _t(spark, sf_dir, "documents")
    return encode_bpe(docs, merges).localCheckpoint(eager=False).orderBy("doc_id")


def _q47_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k — hash-exact via planted cells.

    The q27 construction adapted to IVF (`operators/ann.py::ivf_topk`):
    for each of 8 query vectors, plant k=3 IDENTICAL copies of the query
    vector as items (ids 100000+3q+j).  Identical vectors rank every
    centroid identically, so the copies are assigned to exactly the cell
    the query probes FIRST (rn=1 under the shared d-desc/cell-asc
    ordering) — n_probe≥1 guarantees they are candidates regardless of
    how k-means placed the centroids.  Their cosine is exactly
    dot/sqrt(dot·dot) of identical vectors (≈1.0) while the max natural
    pairwise cosine in the testdata is ~0.48 at every sf, so the planted
    copies ARE the true top-3 and the IVF output provably equals the
    exact brute-force answer — the q17-style DuckDB oracle applies, same
    float semantics (sequential dot-product fold).  General recall on
    unplanted data stays pytest-pinned (tests/test_ann_cc_linking.py)."""
    from neo4j_export_tool_spark.operators.ann import ivf_topk

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 160)
        .select("vec_id", "embedding")
    )
    qs = emb.filter(F.col("vec_id") < 8)
    copies = qs.select(
        F.explode(F.array(*[F.lit(j) for j in range(3)])).alias("j"),
        "vec_id",
        "embedding",
    ).select(
        (F.lit(100000) + F.col("vec_id") * 3 + F.col("j")).alias("vec_id"),
        "embedding",
    )
    items = emb.unionByName(copies)
    return ivf_topk(
        items, qs, "embedding", "vec_id", k=3, n_cells=8, n_probe=2, n_iters=2
    ).localCheckpoint(eager=False).orderBy("query_id", "rank")


def _q48_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stdlib PNG decode (round-5 de-stub): deterministic PNG
    payloads built per doc — color type cycles gray/RGB/RGBA by
    doc_id%3, pixel values derived from doc_id — decoded back through
    the Arrow-batched container-sniffing codec
    (`operators/multimodal.py::decode_png`: chunk CRCs, zlib inflate,
    filter reconstruction).  The oracle is the closed form of the same
    pixel arithmetic; filter types 1-4 and mixed-filter scanlines are
    pytest-pinned (tests/test_streaming_multimodal_text.py)."""
    from collections.abc import Iterator

    import pandas as pd

    from neo4j_export_tool_spark.operators.multimodal import (
        encode_png,
        extract_image_features,
    )

    # NB: no fan-out here — the PNG encode/decode python cost is small
    # enough that the extra exchange + 32-task python stages cost more
    # than the spread saves (measured 0.74 s → 1.14 s with fan-out)
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # payload is a pure function of (doc_id % 3, doc_id % 251) —
        # per-task memo of the encoder (within-query, recomputed each run)
        memo: dict[tuple[int, int], bytes] = {}
        for pdf in batches:
            mids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                key = (d % 3, d % 251)
                p = memo.get(key)
                if p is None:
                    r, g, b = d % 251, (d * 7) % 251, (d * 13) % 251
                    ct = (0, 2, 6)[d % 3]
                    px = {0: bytes([r]), 2: bytes([r, g, b]),
                          6: bytes([r, g, b, 255])}[ct]
                    p = memo[key] = encode_png(3, 2, px * 6, ct)
                mids.append(str(d))
                payloads.append(p)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return (
        extract_image_features(media)
        .select(
            F.col("media_id").cast("long").alias("doc_id"),
            "width", "height", "mean_r", "mean_g", "mean_b",
        )
        .localCheckpoint(eager=False)  # sort sampling must not re-decode
        .orderBy("doc_id")
    )


def _q49_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (round-5, Lee et al.-style): every
    position of every word 12-gram occurring in ≥2 distinct documents —
    the actionable cut-these-spans list.  Pure column exprs (split →
    window transform → posexplode) + one count-distinct agg + a semi-join
    fan-back; integer/string exact, so the DuckDB twin is the oracle."""
    from neo4j_export_tool_spark.operators.dedup import duplicated_ngram_spans

    docs = _tp(spark, sf_dir, "documents")
    return (
        duplicated_ngram_spans(docs, "text", "doc_id", n=12, min_docs=2)
        .withColumnRenamed("doc", "doc_id")
        .localCheckpoint(eager=False).orderBy("doc_id", "pos")
    )


def _q50_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage chunking (round-5): 32-token windows, 8-token overlap,
    integer layout arithmetic + sha256 stable chunk ids — shuffle-free
    linear map (`operators/chunking.py`)."""
    from neo4j_export_tool_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return (
        chunk_documents(docs, "text", "doc_id", chunk_tokens=32, overlap=8)
        .withColumnRenamed("doc", "doc_id")
        .localCheckpoint(eager=False).orderBy("doc_id", "chunk_idx")
    )


def _q52_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer PageRank over the doc→concept mention graph
    (round-5, `operators/pagerank.py`): 5 exact-int64 rounds, damping
    85/100, base 10^12 total mass.  Every transfer is an integer `div`
    and every inbound sum an associative int64 sum, so the ranks are
    independent of partitioning and shuffle order — the DuckDB oracle
    replays the identical recurrence and must match bit-for-bit.
    Round-6 board consolidation: the per-node out/in degree profile
    (`degree_stats`, the former q53 lane) joins onto the same node set,
    so one gate pins both graph operators."""
    from neo4j_export_tool_spark.operators.pagerank import degree_stats, pagerank_int
    from neo4j_export_tool_spark.plans.flagship import doc_mentions, load_documents

    m = doc_mentions(load_documents(spark, sf_dir))
    edges = m.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("src"),
        F.concat(F.lit("concept:"), F.col("concept")).alias("dst"),
    )
    ranks = pagerank_int(edges, "src", "dst", n_iters=5)
    degrees = degree_stats(edges, "src", "dst")
    # same node universe on both sides (src ∪ dst), so the equi-join is
    # 1:1; AQE picks the strategy
    return ranks.join(degrees, "node").select(
        "node", "rank_int", "out_degree", "in_degree"
    ).localCheckpoint(eager=False).orderBy("node")


def _q52_oracle(n_iters: int = 5, damping_pct: int = 85,
                base: int = 10**12) -> str:
    rounds = []
    for k in range(1, n_iters + 1):
        rounds.append(f"""r{k} AS (
          SELECT n.node,
                 (SELECT ({100 - damping_pct} * {base}) // (100 * n) FROM params)
                 + coalesce(c.inbound, 0) AS rank_int
          FROM nodes n LEFT JOIN (
            SELECT ed.dst AS node,
                   sum(r.rank_int * {damping_pct} // (100 * ed.outdeg))
                     AS inbound
            FROM ed JOIN r{k - 1} r ON ed.src = r.node
            GROUP BY ed.dst
          ) c USING (node)
        )""")
    return f"""
        {_MENTIONS_CTE.rstrip()},
        edges AS (
          SELECT 'doc:' || doc_id AS src, 'concept:' || concept AS dst
          FROM mentions
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        ed AS (SELECT e.src, e.dst, d.outdeg
               FROM edges e JOIN deg d USING (src)),
        params AS (SELECT count(*) AS n FROM nodes),
        r0 AS (
          SELECT node, (SELECT {base} // n FROM params) AS rank_int
          FROM nodes
        ),
        {",".join(rounds)},
        outd AS (SELECT src AS node, count(*) AS out_degree
                 FROM edges GROUP BY src),
        ind AS (SELECT dst AS node, count(*) AS in_degree
                FROM edges GROUP BY dst)
        SELECT r.node, CAST(r.rank_int AS BIGINT) AS rank_int,
               coalesce(outd.out_degree, 0) AS out_degree,
               coalesce(ind.in_degree, 0) AS in_degree
        FROM r{n_iters} r
        LEFT JOIN outd ON r.node = outd.node
        LEFT JOIN ind ON r.node = ind.node
        ORDER BY r.node
    """


def _q54_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding negative sampling (round-5,
    `functions/sampling.py::negative_samples`): k=2 deterministic
    corrupted-tail negatives per mention triple.  Round 6: the pool is
    an indexed TABLE equi-joined on ``h % n`` (two int64 joins), not a
    one-row array — the plan shape that survives a 10⁸–10⁹ entity
    vocabulary; output is bit-identical (pytest-pinned vs the array
    form).  The 60-bit md5-prefix pick is the q42 recipe, so the oracle
    replays the sampling verbatim."""
    from neo4j_export_tool_spark.functions.sampling import negative_samples
    from neo4j_export_tool_spark.plans.flagship import doc_mentions, load_documents

    m = doc_mentions(load_documents(spark, sf_dir))
    triples = m.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subj"),
        F.lit("MENTIONS").alias("pred"),
        F.col("concept").alias("obj"),
    )
    return negative_samples(
        triples, "subj", "pred", "obj", triples.select("obj"), k=2
    ).localCheckpoint(eager=False).orderBy("subj", "obj", "neg_idx")


def _q51_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (round-5, `functions/url.py`): deterministic
    per-doc URL variants (case/port/www/fragment/tracking-param/query-
    order differences plus one non-URL row) canonicalized by the pure
    column-expression chain; the oracle builds the SAME strings and runs
    the DuckDB twin of the same regex chain (Java-regex ∩ RE2
    discipline, like q37)."""
    from neo4j_export_tool_spark.functions.url import canonical_url_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    m7 = (d % 7).cast("string")
    ds = d.cast("string")
    url = (
        F.when(d % 5 == 0,
               F.concat(F.lit("HTTP://WWW.Site"), m7,
                        F.lit(".com:80/a/b/?b=2&a=1&utm_source=x#frag")))
        .when(d % 5 == 1,
              F.concat(F.lit("https://user:pw@Example.org:443/path"), ds,
                       F.lit("//")))
        .when(d % 5 == 2,
              F.concat(F.lit("https://cdn.site"), m7,
                       F.lit(".net:8443/x?gclid=99&z=1&y=2")))
        .when(d % 5 == 3,
              F.concat(F.lit("http://site"), m7, F.lit(".com?fbclid=1")))
        .otherwise(F.concat(F.lit("not a url "), ds))
    )
    return (
        docs.select("doc_id", url.alias("url"))
        .withColumn("canonical_url", canonical_url_col(F.col("url")))
        .localCheckpoint(eager=False).orderBy("doc_id")
    )


def _q51_oracle() -> str:
    from neo4j_export_tool_spark.functions.url import canonical_url_oracle_sql

    url_sql = """
        (CASE
          WHEN doc_id % 5 = 0 THEN 'HTTP://WWW.Site' || (doc_id % 7)
               || '.com:80/a/b/?b=2&a=1&utm_source=x#frag'
          WHEN doc_id % 5 = 1 THEN 'https://user:pw@Example.org:443/path'
               || doc_id || '//'
          WHEN doc_id % 5 = 2 THEN 'https://cdn.site' || (doc_id % 7)
               || '.net:8443/x?gclid=99&z=1&y=2'
          WHEN doc_id % 5 = 3 THEN 'http://site' || (doc_id % 7)
               || '.com?fbclid=1'
          ELSE 'not a url ' || doc_id
        END)
    """
    return f"""
        WITH u AS (SELECT doc_id, {url_sql} AS url FROM documents)
        SELECT doc_id, url,
               {canonical_url_oracle_sql('url')} AS canonical_url
        FROM u ORDER BY doc_id
    """


def _q46_oracle() -> str:
    """Closed-form q46 oracle: the pure-Python BPE twin (independent of
    Spark) learns the same seed merges and encodes the 31-word closed
    vocabulary of the documents tables; the SQL joins that literal map."""
    from neo4j_export_tool_spark.functions.bpe import (
        BPE_SEED_VOCAB,
        encode_word_reference,
        learn_bpe_reference,
        seed_word_counts,
    )

    merges = learn_bpe_reference(seed_word_counts(), 24)
    ranks = {p: i for i, p in enumerate(merges)}
    values = ",".join(
        "('{w}', {n}, '{t}')".format(
            w=w,
            n=len(encode_word_reference(w, ranks)),
            t="|".join(encode_word_reference(w, ranks)),
        )
        for w in BPE_SEED_VOCAB
    )
    return f"""
        WITH m(word, n_tok, toks) AS (VALUES {values}),
        words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents
        ),
        agg AS (
          SELECT w.doc_id,
                 CAST(SUM(m.n_tok) AS BIGINT) AS n_tokens,
                 CAST(MAX(m.n_tok) AS INT) AS max_word_tokens
          FROM words w JOIN m USING (word)
          WHERE w.word <> ''
          GROUP BY w.doc_id
        ),
        heads AS (
          SELECT d.doc_id, m.toks AS head_tokens
          FROM (SELECT doc_id, string_split(text, ' ')[1] AS word
                FROM documents) d
          JOIN m USING (word)
        )
        SELECT agg.doc_id, agg.n_tokens, agg.max_word_tokens,
               heads.head_tokens
        FROM agg JOIN heads USING (doc_id)
        ORDER BY doc_id
    """


def _with_package(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Every gate ships the package to the caller's executors first
    (idempotent, one-time per session): the driver passes its OWN bare
    SparkSession, and from a cwd outside the repo the Python workers
    cannot otherwise import the pandas-UDF kernels."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _with_package(fn)
        for name, fn in _QUERIES.items()
    }


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "q01_pricing_summary": _q01_pricing_summary,
        "q02_keyset_scan": _q02_keyset_scan,
        "q03_per_label_stats": _q03_per_label_stats,
        "q04_error_dedup": _q04_error_dedup,
        "q05_truncate_marker": _q05_truncate_marker,
        "q06_node_content_hash": _q06_node_content_hash,
        "q07_rel_identity_hash": _q07_rel_identity_hash,
        "q08_kg_mentions": _q08_kg_mentions,
        "q09_counts_labels": _q09_counts_labels,
        "q11_dedup_exact": _q11_dedup_exact,
        "q12_token_stats": _q12_token_stats,
        "q13_dedup_jaccard": _q13_dedup_jaccard,
        "q14_dedup_minhash_lsh": _q14_dedup_minhash_lsh,
        "q15_simhash": _q15_simhash,
        "q16_embedding_neardup": _q16_embedding_neardup,
        "q17_ann_topk": _q17_ann_topk,
        "q18_video_demux": _q18_video_demux,
        "q19_text_profile": _q19_text_profile,
        "q23_events_window": _q23_events_window,
        "q24_sessionize": _q24_sessionize,
        "q25_connected_components": _q25_connected_components,
        "q26_event_time_windows": _q26_event_time_windows,
        "q27_ann_lsh_pairs": _q27_ann_lsh_pairs,
        "q28_entity_linking": _q28_entity_linking,
        "q29_canonicalize_surfaces": _q29_canonicalize_surfaces,
        "q30_rollup_stats": _q30_rollup_stats,
        "q31_image_decode": _q31_image_decode,
        "q32_audio_decode": _q32_audio_decode,
        "q33_salted_rollup": _q33_salted_rollup,
        "q34_streaming_windows": _q34_streaming_windows,
        "q35_jsonl_roundtrip": _q35_jsonl_roundtrip,
        "q36_streaming_kg_mentions": _q36_streaming_kg_mentions,
        "q37_pii_scrub": _q37_pii_scrub,
        "q38_repetition": _q38_repetition,
        "q39_vocab_topk": _q39_vocab_topk,
        "q40_decontaminate": _q40_decontaminate,
        "q41_streaming_dedup": _q41_streaming_dedup,
        "q42_mixture_sample": _q42_mixture_sample,
        "q43_incremental_delta": _q43_incremental_delta,
        "q44_graph_tables": _q44_graph_tables,
        "q45_embedding_quantize": _q45_embedding_quantize,
        "q46_bpe_encode": _q46_bpe_encode,
        "q47_ann_ivf": _q47_ann_ivf,
        "q48_png_decode": _q48_png_decode,
        "q49_dup_ngram_spans": _q49_dup_ngram_spans,
        "q50_chunking": _q50_chunking,
        "q51_url_canonical": _q51_url_canonical,
        "q52_pagerank_degrees": _q52_pagerank,
        "q54_negative_samples": _q54_negative_samples,
        "q55_jaccard_prefix": _q55_jaccard_prefix,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)
# ---------------------------------------------------------------------------

_CONCEPT_LIST = (
    "'agg','batch','column','data','filter','group','hash','join','key',"
    "'line','merge','order','part','query','row','scan','sort','spark',"
    "'stream','table','value','vector','window'"
)

_MENTIONS_CTE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), m AS (
  SELECT doc_id, tok AS concept, count(*) AS n_occurrences
  FROM toks WHERE tok IN ({_CONCEPT_LIST})
  GROUP BY doc_id, tok
), mentions AS (
  SELECT m.doc_id, m.concept, m.n_occurrences,
         instr(' ' || d.text || ' ', ' ' || m.concept || ' ') - 1 AS first_offset
  FROM m JOIN documents d USING (doc_id)
)
"""

_DOC_NODE_HASH = (
    "sha256('node:Document:{\"doc_id\":' || doc_id || ',\"lang\":\"' || lang"
    " || '\",\"n_chars\":' || n_chars || ',\"source\":\"' || source || '\"}')"
)

_CONCEPT_NODE_HASH = "sha256('node:Concept:{\"name\":\"' || concept || '\"}')"


def _shingle_jaccard_sql(max_shingle_df: int | None = None) -> str:
    """Exact shingle-Jaccard oracle; with ``max_shingle_df`` it prunes
    stop-shingles from the posting list exactly like the engine
    (sizes stay unpruned; shared counts shrink)."""
    prune = (
        f"""
  SELECT p.doc, p.shingle FROM posting0 p
  JOIN (SELECT shingle FROM posting0 GROUP BY shingle
        HAVING count(*) <= {max_shingle_df}) k USING (shingle)
"""
        if max_shingle_df is not None
        else "\n  SELECT doc, shingle FROM posting0\n"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         )) AS shingles
  FROM tok
), posting0 AS (
  SELECT doc_id AS doc, unnest(shingles) AS shingle FROM sets WHERE len(shingles) > 0
), posting AS ({prune}), sizes AS (
  SELECT doc_id AS doc, len(shingles) AS n FROM sets WHERE len(shingles) > 0
), shared AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS shared
  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b
FROM shared
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE 100 * shared >= 60 * (sa.n + sb.n - shared)
ORDER BY doc_a, doc_b
"""


_SHINGLE_JACCARD_SQL = _shingle_jaccard_sql()

_SIMHASH_VOTES = ",\n         ".join(
    f"sum(CASE WHEN ((hv >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(32)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32)
)
_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
), votes AS (
  SELECT doc_id, {_SIMHASH_VOTES}
  FROM h GROUP BY doc_id
)
SELECT doc_id, ({_SIMHASH_FP})::BIGINT AS simhash FROM votes ORDER BY doc_id
"""

_LANG_LISTS = {
    "de": "'der','die','das','und','ist','für','ein','nicht'",
    "en": "'the','a','of','and','is','was','for','in'",
    "es": "'el','los','las','es','para','en','una','del'",
    "fr": "'le','la','les','et','est','pour','dans','une'",
}
_LANG_SCORES = ",\n       ".join(
    f"len(list_filter(string_split(lower(text), ' '), x -> x IN ({words}))) AS s_{lang}"
    for lang, words in _LANG_LISTS.items()
)
# q19 text profile: lang-ID argmax + integer quality metrics + rolling
# polynomial fingerprint, one row per doc (the merged q19/q20/q22 lane)
_TEXT_PROFILE_SQL = f"""
WITH scored AS (
  SELECT doc_id,
       {_LANG_SCORES}
  FROM documents
),
lang AS (
  SELECT doc_id,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM scored
),
qm AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         len(list_filter(string_split(text, ' '),
             t -> lower(t) IN ('the','a','of','and','is','was','for','in'))) AS n_stop
  FROM documents
),
fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(string_split(text, ' '),
               t -> (CASE WHEN t = '' THEN 0 ELSE ord(t) END + length(t))::BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007
         ) AS fingerprint
  FROM documents
)
SELECT lang.doc_id, lang.lang_pred,
       qm.n_tokens, qm.n_distinct_tokens, qm.n_chars,
       CAST(FLOOR(100 * qm.n_distinct_tokens / greatest(qm.n_tokens, 1)) AS BIGINT) AS ttr_pct,
       CAST(FLOOR(100 * qm.n_stop / greatest(qm.n_tokens, 1)) AS BIGINT) AS stopword_pct,
       CAST(FLOOR(100 * qm.n_alpha / greatest(qm.n_chars, 1)) AS BIGINT) AS alpha_pct,
       CAST(FLOOR(100 * (qm.n_chars - (qm.n_tokens - 1)) / greatest(qm.n_tokens, 1)) AS BIGINT) AS mean_token_len_x100,
       fp.fingerprint
FROM lang
JOIN qm ON lang.doc_id = qm.doc_id
JOIN fp ON lang.doc_id = fp.doc_id
ORDER BY lang.doc_id
"""


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS sum_qty_c,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_base_price_c,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                        AS BIGINT) AS sum_disc_price_c4,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_keyset_scan": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id > 100 ORDER BY doc_id LIMIT 50
        """,
        "q03_per_label_stats": """
            SELECT lang, source, count(*) AS record_count,
                   CAST(sum(n_chars) AS BIGINT) AS bytes_written,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM documents GROUP BY lang, source ORDER BY lang, source
        """,
        "q04_error_dedup": """
            SELECT event_type AS error_type,
                   substring(props, 1, 20) AS message_prefix,
                   count(*) AS occurrences,
                   min(event_id) AS first_event_id
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q05_truncate_marker": """
            SELECT doc_id,
                   CASE WHEN length(text) > 100
                        THEN substring(text, 1, 97) || '...'
                        ELSE text END AS text_truncated,
                   length(text) > 100 AS was_truncated
            FROM documents ORDER BY doc_id
        """,
        "q06_node_content_hash": f"""
            SELECT 'doc:' || doc_id AS element_id,
                   '{{"doc_id":' || doc_id || ',"lang":"' || lang ||
                   '","n_chars":' || n_chars || ',"source":"' || source ||
                   '"}}' AS canonical_props,
                   {_DOC_NODE_HASH} AS content_hash
            FROM documents ORDER BY element_id
        """,
        "q07_rel_identity_hash": f"""
            {_MENTIONS_CTE}
            SELECT 'doc:' || mentions.doc_id AS start_element_id,
                   'concept:' || concept AS end_element_id,
                   sha256('rel:MENTIONS:doc:' || mentions.doc_id || ':concept:' || concept ||
                          ':{{"first_offset":' || first_offset ||
                          ',"n_occurrences":' || n_occurrences || '}}') AS rel_identity_hash,
                   {_DOC_NODE_HASH} AS start_node_content_hash,
                   {_CONCEPT_NODE_HASH} AS end_node_content_hash
            FROM mentions JOIN documents USING (doc_id)
            ORDER BY start_element_id, end_element_id
        """,
        "q08_kg_mentions": f"""
            {_MENTIONS_CTE}
            SELECT doc_id, concept, n_occurrences, first_offset
            FROM mentions ORDER BY doc_id, concept
        """,
        "q09_counts_labels": """
            SELECT (SELECT count(*) FROM documents) AS n_documents,
                   (SELECT count(*) FROM events) AS n_events,
                   (SELECT count(*) FROM lineitem) AS n_lineitems,
                   (SELECT string_agg(DISTINCT lang, '+' ORDER BY lang)
                    FROM documents) AS labels_joined,
                   (SELECT count(DISTINCT lang) FROM documents) AS label_count
        """,
        "q11_dedup_exact": """
            SELECT sha256(text) AS text_sha256,
                   min(doc_id) AS canonical_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "q12_token_stats": r"""
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        # q13 runs with stop-shingle pruning ON (engine max_shingle_df=20);
        # the oracle prunes the posting list identically
        "q13_dedup_jaccard": _shingle_jaccard_sql(max_shingle_df=20),
        # verified LSH output equals the exact unpruned join at the threshold
        "q14_dedup_minhash_lsh": _SHINGLE_JACCARD_SQL,
        # q55: prefix-filtered exact jaccard == the unpruned exact join
        "q55_jaccard_prefix": _SHINGLE_JACCARD_SQL,
        "q15_simhash": _SIMHASH_SQL,
        # cosine built from list_dot_product with the engine's exact formula
        # (dot / sqrt(nsq_a * nsq_b)); list_cosine_similarity differs in the
        # last ulp on some pairs
        "q16_embedding_neardup": """
            SELECT id_a, id_b, cosine FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
                            * list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) AS cosine
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            ) WHERE cosine >= 0.5 ORDER BY id_a, id_b
        """,
        "q17_ann_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, i.vec_id AS item_id,
                     list_dot_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[])
                     / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
                            * list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])) AS cosine
              FROM embeddings q JOIN embeddings i
                ON q.vec_id < 10 AND q.vec_id != i.vec_id
            ), ranked AS (
              SELECT query_id, item_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, item_id) AS "rank"
              FROM scored
            )
            SELECT query_id, "rank", item_id, cosine FROM ranked
            WHERE "rank" <= 5 ORDER BY query_id, "rank"
        """,
        # q18: the engine builds deterministic MP4 containers and demuxes
        # them for real (box walk + stts/stsc/stsz/stco/stss); the oracle
        # is the closed form of the generator — dts replayed as a window
        # sum of the per-sample deltas, byte_sum as length × value.
        "q18_video_demux": """
            WITH nums AS (SELECT unnest(range(0, 8)) AS i),
            s AS (
              SELECT d.doc_id AS doc_id, n.i AS sample_idx,
                     3000 + 100 * ((d.doc_id + n.i) % 5) AS delta,
                     50 + ((d.doc_id * 31 + n.i * 17) % 100) AS n_bytes,
                     (50 + ((d.doc_id * 31 + n.i * 17) % 100))
                       * ((d.doc_id + 37 * n.i) % 256) AS byte_sum,
                     CASE WHEN n.i % 3 = 0 THEN 1 ELSE 0 END AS keyframe_flag,
                     16 * ((d.doc_id % 40) + 1) AS width,
                     16 * ((d.doc_id % 30) + 1) AS height
              FROM documents d JOIN nums n ON n.i < (d.doc_id % 7) + 2
            )
            SELECT doc_id, sample_idx,
                   CAST(coalesce(sum(delta) OVER (
                     PARTITION BY doc_id ORDER BY sample_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS dts_ticks,
                   CAST(keyframe_flag AS BIGINT) AS keyframe_flag,
                   CAST(n_bytes AS BIGINT) AS n_bytes,
                   CAST(byte_sum AS BIGINT) AS byte_sum,
                   CAST(width AS BIGINT) AS width,
                   CAST(height AS BIGINT) AS height,
                   CAST((1000 * sum(delta) OVER (PARTITION BY doc_id))
                        // 90000 AS BIGINT) AS duration_ms
            FROM s
            ORDER BY doc_id, sample_idx
        """,
        "q19_text_profile": _TEXT_PROFILE_SQL,
        "q23_events_window": """
            SELECT event_id, user_id,
                   row_number() OVER w AS rn,
                   lag(CAST(round(value * 100) AS BIGINT)) OVER w AS prev_value_c,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY event_id
        """,
        "q24_sessionize": """
            WITH g AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
            FROM g ORDER BY event_id
        """,
        "q25_connected_components": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY source, lang) AS component
            FROM documents ORDER BY doc_id
        """,
        "q26_event_time_windows": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS sum_value_c
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q29_canonicalize_surfaces": f"""
            SELECT DISTINCT tok AS surface, tok AS canonical_surface,
                   1::BIGINT AS cluster_size
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            WHERE tok IN ({_CONCEPT_LIST})
            ORDER BY surface
        """,
        "q30_rollup_stats": """
            SELECT lang, source, count(*) AS record_count,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY ROLLUP (lang, source)
            ORDER BY lang NULLS FIRST, source NULLS FIRST
        """,
        # q31/q32: the engine round-trips deterministic PPM/WAV payloads
        # through real Arrow-batched decoders; the oracle is the closed
        # form of the payload-generation arithmetic
        # q31: even docs = lossless PPM round trip; odd docs = baseline
        # JPEG at quality 100 — solid blocks make the decode equal the
        # integer YCbCr round trip, replayed here with the codec's exact
        # floor(x+0.5) double arithmetic (same constants, same term order)
        "q31_image_decode": """
            WITH px AS (
              SELECT doc_id,
                     (doc_id % 251)::DOUBLE AS r,
                     ((doc_id * 7) % 251)::DOUBLE AS g,
                     ((doc_id * 13) % 251)::DOUBLE AS b
              FROM documents
            ), ycc AS (
              SELECT doc_id, r, g, b,
                     floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5) AS y,
                     greatest(0.0, least(255.0,
                       floor(128 - 0.168735892 * r - 0.331264108 * g + 0.5 * b + 0.5))) AS cb,
                     greatest(0.0, least(255.0,
                       floor(128 + 0.5 * r - 0.418687589 * g - 0.081312411 * b + 0.5))) AS cr
              FROM px
            ), dec AS (
              SELECT doc_id, r, g, b,
                     greatest(0.0, least(255.0,
                       floor(y + 1.402 * (cr - 128) + 0.5))) AS jr,
                     greatest(0.0, least(255.0,
                       floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))) AS jg,
                     greatest(0.0, least(255.0,
                       floor(y + 1.772 * (cb - 128) + 0.5))) AS jb
              FROM ycc
            )
            SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 2 END)::INT AS width,
                   (CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 2 END)::INT AS height,
                   (CASE WHEN doc_id % 2 = 1 THEN jr ELSE r END)::INT AS mean_r,
                   (CASE WHEN doc_id % 2 = 1 THEN jg ELSE g END)::INT AS mean_g,
                   (CASE WHEN doc_id % 2 = 1 THEN jb ELSE b END)::INT AS mean_b
            FROM dec ORDER BY doc_id
        """,
        "q32_audio_decode": """
            SELECT doc_id,
                   8000::INT AS sample_rate, 1::INT AS n_channels,
                   (800 * (doc_id % 5 + 1))::INT AS n_frames,
                   (100 * (doc_id % 5 + 1))::INT AS duration_ms
            FROM documents ORDER BY doc_id
        """,
        # salted two-phase agg must equal the plain group-by exactly
        "q33_salted_rollup": """
            SELECT lang, source, count(*) AS n,
                   CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total
            FROM documents GROUP BY lang, source ORDER BY lang, source
        """,
        # export→import round trip must reproduce the closed-form hashes
        "q35_jsonl_roundtrip": f"""
            SELECT 'doc:' || doc_id AS element_id,
                   {_DOC_NODE_HASH} AS content_hash
            FROM documents ORDER BY element_id
        """,
        # the availableNow streaming drain must converge to the batch answer
        "q34_streaming_windows": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS sum_value_c
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # q27: the gate plants exact twins (vec_id+100000) for vec_id < 200;
        # identical vectors share every LSH bucket → recall 1 by construction,
        # so the exact all-pairs cosine at the same threshold IS the answer
        "q27_ann_lsh_pairs": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 200
            ), aug AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 100000 AS vec_id, v FROM base
            )
            SELECT id_a, id_b, cosine FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_dot_product(a.v, b.v)
                     / sqrt(list_dot_product(a.v, a.v)
                            * list_dot_product(b.v, b.v)) AS cosine
              FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            ) WHERE cosine >= 0.99 ORDER BY id_a, id_b
        """,
        # q28: single-token surfaces × single-token KB names ⇒ the blocking
        # key is the surface itself and the only candidate is the
        # identical-name entry (score ≈ 1.0) — the top-1 map in closed form
        "q28_entity_linking": f"""
            {_MENTIONS_CTE}
            SELECT doc_id, concept AS surface, 'kb:' || concept AS kb_id
            FROM mentions
            WHERE concept IN ('join','hash','merge','sort','scan','filter')
            ORDER BY doc_id, surface
        """,
        # q36: the streaming drain must converge to the batch mention set —
        # same oracle as q08
        "q36_streaming_kg_mentions": f"""
            {_MENTIONS_CTE}
            SELECT doc_id, concept, n_occurrences, first_offset
            FROM mentions ORDER BY doc_id, concept
        """,
        # q37: same seeded text, same patterns (Java-regex ∩ RE2 subset),
        # same sequential replace order; 'g' flag = Spark's replace-all
        "q37_pii_scrub": r"""
            WITH seeded AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR ||
                     '@example.com from 10.0.' || (doc_id % 256)::VARCHAR ||
                     '.1 call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
                     '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
              FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                       '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text_redacted,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(text,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                   len(regexp_extract_all(text,
                       '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone
            FROM seeded ORDER BY doc_id
        """,
        "q38_repetition": """
            WITH tok AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), m AS (
              SELECT doc_id, len(toks) AS n_tokens,
                     greatest(len(toks) - 1, 0) AS total_2grams,
                     len(list_distinct(list_transform(
                       range(1, greatest(len(toks), 1)),
                       i -> toks[i] || ' ' || toks[i+1]
                     ))) AS distinct_2grams
              FROM tok
            ), counts AS (
              SELECT doc_id, tok, count(*) AS c FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
              ) GROUP BY doc_id, tok
            ), tt AS (
              SELECT doc_id, max(c) AS top_token_count FROM counts GROUP BY doc_id
            )
            SELECT m.doc_id, n_tokens, total_2grams, distinct_2grams,
                   CAST(FLOOR(100 * (total_2grams - distinct_2grams)
                              / greatest(total_2grams, 1)) AS BIGINT) AS rep2_pct,
                   top_token_count
            FROM m JOIN tt USING (doc_id) ORDER BY m.doc_id
        """,
        "q39_vocab_topk": """
            SELECT token, n FROM (
              SELECT tok AS token, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS tok FROM documents
              ) GROUP BY 1
            ) ORDER BY n DESC, token LIMIT 100
        """,
        "q40_decontaminate": """
            WITH tok AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(toks) - 3, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] ||
                     ' ' || toks[i+3] || ' ' || toks[i+4]
              ))) AS shingle
              FROM tok
            ), ev AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
            )
            SELECT doc_id, count(*) AS n_eval_shingles
            FROM sh JOIN ev USING (shingle)
            GROUP BY doc_id ORDER BY doc_id
        """,
        # q41: whichever duplicate the stream keeps, the kept-set's hashes
        # equal the distinct content-hash set — order-independent oracle
        "q41_streaming_dedup": """
            SELECT DISTINCT sha256(text) AS text_sha256
            FROM documents ORDER BY text_sha256
        """,
        # q42: the 60-bit md5-prefix bucket is bit-portable between engines
        # (same recipe as the shingle-hash oracles)
        "q42_mixture_sample": """
            WITH b AS (
              SELECT doc_id, source,
                     10 + (substr(source, 4)::INT * 4) % 80 AS rate_pct,
                     ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 100 AS bucket
              FROM documents
            )
            SELECT doc_id, source, rate_pct, bucket
            FROM b WHERE bucket < rate_pct ORDER BY doc_id
        """,
        # q43: upserts = full mention set of added (%97) ∪ changed (%10)
        # docs; tombstones = removed (retired, negative ids) ∪ changed
        # docs (changed docs are cleared before their upserts re-land —
        # a changed doc with zero mentions must still drop its old edges)
        "q43_incremental_delta": f"""
            {_MENTIONS_CTE}
            SELECT doc_id, concept, n_occurrences, first_offset,
                   'upsert' AS op
            FROM mentions WHERE doc_id % 97 = 0 OR doc_id % 10 = 0
            UNION ALL
            SELECT doc_id, NULL AS concept, NULL AS n_occurrences,
                   NULL AS first_offset, 'delete_doc' AS op
            FROM documents WHERE doc_id % 10 = 0 AND doc_id % 97 != 0
            UNION ALL
            SELECT -(doc_id + 1) AS doc_id, NULL AS concept,
                   NULL AS n_occurrences, NULL AS first_offset,
                   'delete_doc' AS op
            FROM documents WHERE doc_id % 13 = 0
            ORDER BY doc_id, concept, op
        """,
        # q45: IEEE double product + FLOOR + value-preserving int cast —
        # bit-identical in any engine
        "q45_embedding_quantize": """
            SELECT vec_id, u.pos AS pos, u.code AS code FROM (
              SELECT vec_id, unnest(list_transform(
                range(1, len(v) + 1),
                i -> {'pos': i - 1,
                      'code': CAST(greatest(least(FLOOR(v[i] * 64), 63), -64)
                                   AS INT)}
              )) AS u
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings WHERE vec_id < 100)
            ) ORDER BY vec_id, pos
        """,
        # q46: learned-BPE encode — merge table is closed-form (fixed seed
        # corpus), so the oracle embeds the pure-twin word→token map
        "q46_bpe_encode": _q46_oracle(),
        # q47: IVF with planted identical copies — the copies land in the
        # query's first-probed cell by construction, so IVF output == the
        # exact brute-force top-3 (same oracle machinery as q17/q27)
        "q47_ann_ivf": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 160
            ), q AS (
              SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 8
            ), copies AS (
              SELECT 100000 + b.vec_id * 3 + j.j AS vec_id, b.v
              FROM base b CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
              WHERE b.vec_id < 8
            ), items AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id, v FROM copies
            ), scored AS (
              SELECT q.query_id, i.vec_id AS item_id,
                     list_dot_product(q.qv, i.v)
                     / sqrt(list_dot_product(q.qv, q.qv)
                            * list_dot_product(i.v, i.v)) AS cosine
              FROM q JOIN items i ON q.query_id != i.vec_id
            ), ranked AS (
              SELECT query_id, item_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, item_id) AS "rank"
              FROM scored
            )
            SELECT query_id, "rank", item_id, cosine FROM ranked
            WHERE "rank" <= 3 ORDER BY query_id, "rank"
        """,
        # q48: stdlib PNG decode — gray rows replicate the gray value into
        # all three channels, RGBA drops alpha; means are the closed form
        # of the builder's pixel arithmetic
        "q48_png_decode": """
            SELECT doc_id,
                   3::INT AS width, 2::INT AS height,
                   (doc_id % 251)::INT AS mean_r,
                   (CASE WHEN doc_id % 3 = 0 THEN doc_id % 251
                         ELSE (doc_id * 7) % 251 END)::INT AS mean_g,
                   (CASE WHEN doc_id % 3 = 0 THEN doc_id % 251
                         ELSE (doc_id * 13) % 251 END)::INT AS mean_b
            FROM documents ORDER BY doc_id
        """,
        # q49: duplicated 12-gram spans — same split/window/df-count
        # arithmetic, integer/string exact
        "q49_dup_ngram_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), grams AS (
              SELECT doc_id, k - 1 AS pos,
                     array_to_string(t[k:k+11], ' ') AS gram
              FROM toks, unnest(generate_series(1, len(t) - 11)) AS g(k)
              WHERE len(t) >= 12
            ), hot AS (
              SELECT gram FROM grams
              GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            )
            SELECT doc_id, pos::INT AS pos, gram FROM grams
            WHERE gram IN (SELECT gram FROM hot)
            ORDER BY doc_id, pos
        """,
        # q50: 32/8 token chunking — integer layout arithmetic
        # (n_chunks = 1 + max(0, floor((n-32+23)/24))) and sha256 stable ids
        "q50_chunking": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t,
                     len(string_split(text, ' ')) AS n
              FROM documents
              WHERE text IS NOT NULL AND text != ''
            ), meta AS (
              SELECT doc_id, t, n,
                     1 + greatest(0, (n - 32 + 23) // 24) AS n_chunks
              FROM toks
            ), c AS (
              SELECT doc_id, k AS chunk_idx, (k * 24)::INT AS tok_start,
                     least(32, n - k * 24)::INT AS n_tokens,
                     array_to_string(t[k*24+1 : k*24+32], ' ') AS chunk_text
              FROM meta, unnest(generate_series(0, n_chunks - 1)) AS g(k)
            )
            SELECT doc_id, chunk_idx::INT AS chunk_idx, tok_start, n_tokens,
                   chunk_text,
                   sha256(concat_ws(':', doc_id, chunk_idx, chunk_text))
                     AS chunk_sha256
            FROM c ORDER BY doc_id, chunk_idx
        """,
        # q51: URL canonicalization — oracle builds the same URL variants
        # and runs the DuckDB twin of the same regex chain
        "q51_url_canonical": _q51_oracle(),
        # q52: integer PageRank + degree profile — the oracle replays the
        # identical int64 recurrence (5 chained CTE rounds, bit-exact by
        # design) and joins the out/in degree counts onto the same nodes
        "q52_pagerank_degrees": _q52_oracle(),
        # q54: corrupted-tail negatives — same md5-prefix pick (q42
        # recipe) over the same sorted pool, replayed verbatim
        "q54_negative_samples": f"""
            {_MENTIONS_CTE},
            t AS (
              SELECT 'doc:' || doc_id AS subj, 'MENTIONS' AS pred,
                     concept AS obj
              FROM mentions
            ),
            p AS (SELECT list_sort(list(DISTINCT obj)) AS pool FROM t),
            e AS (
              SELECT subj, pred, obj, i.i AS neg_idx
              FROM t CROSS JOIN (SELECT unnest([1, 2]) AS i) i
            ),
            x AS (
              SELECT e.*, p.pool,
                     ('0x' || substr(md5('neg:' || subj || ':' || pred
                        || ':' || obj || ':' || neg_idx), 1, 15))::BIGINT
                       % len(p.pool) AS idx
              FROM e CROSS JOIN p
            )
            SELECT subj, pred, obj, neg_idx::INT AS neg_idx,
                   CASE WHEN pool[(idx + 1)::INT] = obj
                        THEN pool[(((idx + 1) % len(pool)) + 1)::INT]
                        ELSE pool[(idx + 1)::INT] END AS neg_obj
            FROM x ORDER BY subj, obj, neg_idx
        """,
        # q44: the bucketed-table round trip must reproduce the same
        # closed-form node hashes q07 pins
        "q44_graph_tables": f"""
            {_MENTIONS_CTE}
            SELECT 'doc:' || mentions.doc_id AS start_element_id,
                   'concept:' || concept AS end_element_id,
                   {_DOC_NODE_HASH} AS start_node_content_hash
            FROM mentions JOIN documents USING (doc_id)
            ORDER BY start_element_id, end_element_id
        """,
    }
