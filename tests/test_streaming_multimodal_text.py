"""Structured Streaming equivalence, multimodal plumbing, text functions."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.text import (
    fingerprint_col,
    lang_id_col,
    quality_metrics,
    token_count_bpe,
    token_count_ws,
)
from neo4j_export_tool_spark.operators.multimodal import (
    extract_media_features,
    fake_decode_meta,
    require_codec,
)
from neo4j_export_tool_spark.streaming.events import (
    batch_event_stats,
    incremental_export_stream,
    run_stream_to_memory,
    stream_events,
    windowed_event_stats,
)


# --- streaming ------------------------------------------------------------

@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events parquet split into several files to get multiple micro-batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_windowed_stream_equals_batch(spark, events_dir):
    stream = stream_events(spark, events_dir)
    streamed = run_stream_to_memory(
        spark, windowed_event_stats(stream), "win_stats", output_mode="complete"
    )
    batch = batch_event_stats(spark.read.parquet(events_dir))
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert len(s) > 0


def test_incremental_export_stream(spark, events_dir, tmp_path):
    out = str(tmp_path / "jsonl")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_export_stream(stream_events(spark, events_dir), out, ckpt)
    q.awaitTermination()
    n_lines = spark.read.text(out).count()
    n_events = spark.read.parquet(events_dir).count()
    assert n_lines == n_events
    # exactly-once: re-running with the same checkpoint adds nothing
    q2 = incremental_export_stream(stream_events(spark, events_dir), out, ckpt)
    q2.awaitTermination()
    assert spark.read.text(out).count() == n_events


def user_totals_batch(events):
    """Batch twin of ``user_totals_stream``'s final state."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"),
    )


def test_stateful_user_totals_matches_batch(spark, events_dir):
    from neo4j_export_tool_spark.streaming.stateful import user_totals_stream

    stream = stream_events(spark, events_dir)
    streamed = run_stream_to_memory(
        spark, user_totals_stream(stream), "user_totals", output_mode="update"
    )
    # update mode emits one row per user per micro-batch; the LAST row per
    # user is the final state
    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W

    final = (
        streamed.withColumn("_rn", SF.monotonically_increasing_id())
        .withColumn(
            "rk",
            SF.row_number().over(W.partitionBy("user_id").orderBy(SF.col("_rn").desc())),
        )
        .filter(SF.col("rk") == 1)
        .select("user_id", "n_events", "sum_value_c")
    )
    batch = user_totals_batch(spark.read.parquet(events_dir))
    s = {tuple(r) for r in final.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_streaming_mention_detection_matches_batch(spark, tmp_path):
    """mapInPandas operators run unchanged on streams: mention detection
    over a page stream equals the batch result."""
    from neo4j_export_tool_spark.operators.mentions import detect_mentions
    from neo4j_export_tool_spark.sources.synth import GAZETTEER, PAGES_DDL, pages_spark_df

    src = str(tmp_path / "pages_stream")
    pages_spark_df(spark, 60, seed=11, partitions=3).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(PAGES_DDL).option("maxFilesPerTrigger", 1).parquet(src)
    streamed = run_stream_to_memory(
        spark, detect_mentions(stream, GAZETTEER), "stream_mentions", output_mode="append"
    )
    batch = detect_mentions(spark.read.parquet(src), GAZETTEER)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicate payloads within the watermark horizon are dropped."""
    import datetime as dt

    from neo4j_export_tool_spark.streaming.dedup import dedup_stream_exact

    base = dt.datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1, "dup-A", 1.0, "{}"),
        (2, base, 2, "dup-A", 1.0, "{}"),      # duplicate content
        (3, base, 3, "uniq-B", 1.0, "{}"),
        (4, base, 4, "dup-A", 1.0, "{}"),      # another duplicate
        (5, base, 5, "uniq-C", 1.0, "{}"),
    ]
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = stream_events(spark, src)
    deduped = dedup_stream_exact(stream, content_col="event_type")
    out = run_stream_to_memory(spark, deduped, "dedup_out", output_mode="append")
    kinds = sorted(r["event_type"] for r in out.collect())
    assert kinds == ["dup-A", "uniq-B", "uniq-C"]


# --- multimodal -----------------------------------------------------------

def test_codec_stub_raises():
    with pytest.raises(NotImplementedError, match="media codec"):
        require_codec("image")


def test_media_feature_plumbing(spark):
    rows = [
        ("m1", "image", b"\x89PNG fake bytes", ("image/png", 15, "u1")),
        ("m2", "audio", b"RIFF fake", ("audio/wav", 9, "u2")),
        ("m3", "image", None, ("image/png", 0, "u3")),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, "
        "meta struct<content_type:string, n_bytes:long, source_url:string>",
    )
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert feats["m1"]["n_bytes"] == 15
    w, h = fake_decode_meta(b"\x89PNG fake bytes")
    assert (feats["m1"]["fake_width"], feats["m1"]["fake_height"]) == (w, h)
    assert feats["m3"]["n_bytes"] == 0
    assert len(feats["m1"]["payload_sha256"]) == 64


# --- text functions ---------------------------------------------------------

def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in a house"),
            (2, "le chat est dans la maison pour une nuit"),
            (3, "el perro es para las casas en una calle"),
            (4, "xyzzy qwerty plugh"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["lang"] for r in df.select("id", lang_id_col(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "es"
    assert out[4] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello world, it's 42 degrees!")], "id long, text string")
    r = df.select(
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 5
    # Hello|world|,|it|'|s|42|degrees|! → 9
    assert r["bpe"] == 9


def test_quality_metrics_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "the quick fox the quick fox"), (2, "the quick fox the quick fox"), (3, "other words here")],
        "id long, text string",
    )
    qm = quality_metrics(F.col("text"))
    out = df.select("id", *[c.alias(k) for k, c in qm.items()],
                    fingerprint_col(F.col("text")).alias("fp")).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["n_tokens"] == 6
    assert by_id[1]["n_distinct_tokens"] == 3
    assert by_id[1]["ttr_pct"] == 50
    assert by_id[1]["fp"] == by_id[2]["fp"]  # identical text → identical fp
    assert by_id[1]["fp"] != by_id[3]["fp"]
    assert 0 <= by_id[1]["fp"] < 1_000_000_007


def test_real_ppm_decode_features_and_resize(spark):
    """REAL image decode end-to-end: P6 PPM payloads through Arrow batches —
    exact dims + mean RGB, and decode(resize(x)) round-trips."""
    from neo4j_export_tool_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        extract_image_features,
        resize_images,
    )

    def img(w, h, rgb):
        return encode_ppm(w, h, bytes(rgb) * (w * h))

    rows = [
        ("i1", img(4, 2, [10, 20, 30])),
        ("i2", img(3, 3, [255, 0, 128])),
        ("bad", b"not a ppm"),
    ]
    media = spark.createDataFrame(rows, "media_id string, payload binary")
    feats = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert (feats["i1"]["width"], feats["i1"]["height"]) == (4, 2)
    assert (feats["i1"]["mean_r"], feats["i1"]["mean_g"], feats["i1"]["mean_b"]) == (10, 20, 30)
    assert (feats["i2"]["mean_r"], feats["i2"]["mean_g"], feats["i2"]["mean_b"]) == (255, 0, 128)
    assert feats["bad"]["width"] is None  # decode failure is data

    resized = {r["media_id"]: r["payload"] for r in
               resize_images(media, 2, 1).collect()}
    w, h, px = decode_ppm(bytes(resized["i1"]))
    assert (w, h) == (2, 1) and bytes(px) == bytes([10, 20, 30] * 2)
    assert resized["bad"] is None


def test_real_wav_decode_and_frame_sampling(spark):
    """REAL audio decode end-to-end: RIFF WAV via stdlib wave — format
    fields, duration, every-Nth frame sampling."""
    from neo4j_export_tool_spark.operators.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    samples = [(i % 100) - 50 for i in range(8000)]  # 1s at 8kHz
    rows = [("a1", encode_wav(samples, sample_rate=8000)),
            ("bad", b"\x00\x01")]
    media = spark.createDataFrame(rows, "media_id string, payload binary")
    feats = {r["media_id"]: r for r in
             extract_audio_features(media, sample_every=1000).collect()}
    a1 = feats["a1"]
    assert (a1["sample_rate"], a1["n_channels"], a1["n_frames"]) == (8000, 1, 8000)
    assert a1["duration_ms"] == 1000
    assert list(a1["sampled_head"]) == [samples[i] for i in range(0, 8000, 1000)]
    assert feats["bad"]["sample_rate"] is None


def test_incremental_kg_stream_matches_batch_and_resumes(spark, tmp_path):
    """Streaming pages → mention-edge JSONL: the drained stream must emit
    exactly the batch twin's mention set, and a SECOND availableNow run
    over the same checkpoint must emit nothing new (exactly-once), while
    newly arrived files produce only their own records (resume).  The
    first batch's urls end in a control character, which the lines carry
    as the contract's lower-case escape (``\\u001f``), as the batch JSONL
    writer writes it, not as Jackson's ``\\u001F``."""
    import json as _json

    from neo4j_export_tool_spark.operators.extract import extract_text_udf
    from neo4j_export_tool_spark.operators.mentions import detect_mentions
    from neo4j_export_tool_spark.sources.synth import GAZETTEER, pages_spark_df
    from neo4j_export_tool_spark.streaming.pages import incremental_kg_stream

    src_dir, out_dir, ckpt = (
        str(tmp_path / "pages"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    batch1 = pages_spark_df(spark, 40, seed=21, partitions=2).withColumn(
        "url", F.concat(F.col("url"), F.lit("\x1f"))
    )
    batch1.write.mode("overwrite").parquet(src_dir)

    q = incremental_kg_stream(spark, src_dir, GAZETTEER, out_dir, ckpt)
    q.awaitTermination()

    def emitted():
        lines = spark.read.text(out_dir).collect()
        return {
            (r["start_element_id"], r["end_element_id"], r["char_start"])
            for r in (_json.loads(x["value"]) for x in lines)
        }

    got1 = emitted()
    batch_mentions = detect_mentions(
        batch1.select("url", extract_text_udf(F.col("html")).alias("text")),
        GAZETTEER,
    )
    want = {
        (f"page:{r['url']}", f"concept:{r['canonical']}", r["start"])
        for r in batch_mentions.collect()
    }
    assert got1 == want and len(got1) > 0
    lines = [x["value"] for x in spark.read.text(out_dir).collect()]
    assert all("\\u001f" in x and "\\u001F" not in x for x in lines)

    # re-run with no new files: exactly-once, nothing re-emitted
    q2 = incremental_kg_stream(spark, src_dir, GAZETTEER, out_dir, ckpt)
    q2.awaitTermination()
    assert emitted() == got1

    # new files arrive: only their records are appended
    pages_spark_df(spark, 10, seed=77, partitions=1).write.mode(
        "append"
    ).parquet(src_dir)
    q3 = incremental_kg_stream(spark, src_dir, GAZETTEER, out_dir, ckpt)
    q3.awaitTermination()
    got3 = emitted()
    assert got1 < got3  # strictly grew, previous records intact


def _png_with_filters(w, h, pixels, color_type, ftypes):
    """Build a PNG whose scanlines use the given filter types, applying
    the RFC 2083 FORWARD filters here (the module implements only the
    inverse) — round-tripping proves the reconstruction is the true
    mathematical inverse, not a shared implementation."""
    import struct
    import zlib

    from neo4j_export_tool_spark.operators.multimodal import (
        PNG_SIGNATURE,
        _PNG_CHANNELS,
        _png_chunk,
    )

    bpp = _PNG_CHANNELS[color_type]
    stride = w * bpp
    raw = bytearray()

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    prev = bytes(stride)
    for y in range(h):
        row = pixels[y * stride : (y + 1) * stride]
        f = ftypes[y % len(ftypes)]
        raw.append(f)
        for x in range(stride):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = (row[x] - left) % 256
            elif f == 2:
                v = (row[x] - up) % 256
            elif f == 3:
                v = (row[x] - (left + up) // 2) % 256
            else:
                v = (row[x] - paeth(left, up, ul)) % 256
            raw.append(v)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_all_filters_and_color_types_roundtrip():
    """decode_png reconstructs every filter type (None/Sub/Up/Average/
    Paeth) for gray / gray-alpha / RGB / RGBA at bit depth 8."""
    import random

    from neo4j_export_tool_spark.operators.multimodal import (
        _PNG_CHANNELS,
        decode_png,
        encode_png,
    )

    rng = random.Random(7)
    for color_type in (0, 2, 4, 6):
        bpp = _PNG_CHANNELS[color_type]
        w, h = 9, 7
        pixels = bytes(rng.randrange(256) for _ in range(w * h * bpp))
        for ftypes in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            payload = _png_with_filters(w, h, pixels, color_type, ftypes)
            dw, dh, dct, dpx = decode_png(payload)
            assert (dw, dh, dct) == (w, h, color_type)
            assert dpx == pixels, (color_type, ftypes)
        # the module's own encoder (filter 0) round-trips too
        dw, dh, dct, dpx = decode_png(encode_png(w, h, pixels, color_type))
        assert (dw, dh, dct, dpx) == (w, h, color_type, pixels)


def test_png_crc_and_shape_validation():
    import pytest as _pytest

    from neo4j_export_tool_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    good = encode_png(2, 2, bytes(range(12)), 2)
    bad = bytearray(good)
    bad[-17] ^= 0xFF  # flip a byte inside IDAT → CRC mismatch
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))
    with _pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\njunk")


def test_real_png_decode_features_and_resize(spark):
    """PNG payloads through the same Arrow-batched operators as PPM:
    container sniffed by magic, identical features for identical pixels,
    resize preserves the container format."""
    from neo4j_export_tool_spark.operators.multimodal import (
        decode_png,
        encode_png,
        encode_ppm,
        extract_image_features,
        png_to_rgb,
        resize_images,
    )

    rgb = bytes([10, 20, 30]) * 8
    rows = [
        ("png_rgb", encode_png(4, 2, rgb, 2)),
        ("png_rgba", encode_png(2, 2, bytes([50, 60, 70, 255]) * 4, 6)),
        ("png_gray", encode_png(2, 2, bytes([9, 9, 9, 9]), 0)),
        ("ppm_twin", encode_ppm(4, 2, rgb)),
        ("bad", b"\x89PNG\r\n\x1a\ntruncated"),
    ]
    media = spark.createDataFrame(rows, "media_id string, payload binary")
    feats = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert (feats["png_rgb"]["width"], feats["png_rgb"]["height"]) == (4, 2)
    # identical pixels ⇒ identical features regardless of container
    for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
        assert feats["png_rgb"][k] == feats["ppm_twin"][k]
    assert (feats["png_rgba"]["mean_r"], feats["png_rgba"]["mean_b"]) == (50, 70)
    assert (feats["png_gray"]["mean_r"], feats["png_gray"]["mean_g"]) == (9, 9)
    assert feats["bad"]["width"] is None

    resized = {r["media_id"]: r["payload"] for r in
               resize_images(media, 2, 1).collect()}
    out = bytes(resized["png_rgb"])
    dw, dh, dct, dpx = decode_png(out)  # still a PNG after resize
    assert (dw, dh, dct) == (2, 1, 2) and dpx == bytes([10, 20, 30] * 2)
    w, h, flat = png_to_rgb(bytes(resized["png_gray"]))
    assert (w, h) == (2, 1) and flat == bytes([9, 9, 9] * 2)
    assert resized["bad"] is None
