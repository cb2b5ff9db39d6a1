"""WARC source: spec-shaped archives → pages table → pipeline parity."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from neo4j_export_tool_spark.operators.extract import extract_text_udf
from neo4j_export_tool_spark.sources.synth import generate_pages
from neo4j_export_tool_spark.sources.warc import parse_warc, read_warc, write_warc


def test_parse_warc_plain_and_gzip():
    recs = [
        ("https://a.example/x", datetime(2024, 5, 1, 12, 0, 0), b"<html>A</html>"),
        ("https://b.example/y", datetime(2024, 5, 2, 6, 30, 0), b"<html>B\xc3\xa9</html>"),
    ]
    for compress in (False, True):
        buf = write_warc(recs, compress=compress)
        got = list(parse_warc(buf))
        assert [(u, t) for u, t, _ in got] == [(u, t) for u, t, _ in recs]
        assert got[0][2] == b"<html>A</html>"
        assert got[1][2] == b"<html>B\xc3\xa9</html>"


def test_warc_non_response_records_skipped():
    body = b"software: test"
    rec = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
    )
    page = write_warc([("https://x", datetime(2024, 1, 1), b"<html>ok</html>")])
    got = list(parse_warc(rec + page))
    assert len(got) == 1 and got[0][0] == "https://x"


def test_read_warc_to_pipeline_byte_identical(spark, tmp_path):
    """WARC file(s) → read_warc → extract_text must yield byte-identical
    text to extraction over the directly-built pages table (the north
    star's per-row invariant, through the archive container format)."""
    pages, _ = generate_pages(40, seed=9)
    recs = [
        (u, datetime(2024, 3, 1, 0, 0, 0), h)
        for u, h in zip(pages["url"], pages["html"])
    ]
    half = len(recs) // 2
    (tmp_path / "part1.warc").write_bytes(write_warc(recs[:half]))
    (tmp_path / "part2.warc.gz").write_bytes(write_warc(recs[half:], compress=True))

    loaded = read_warc(spark, str(tmp_path / "*.warc*"))
    assert loaded.count() == len(recs)

    via_warc = {
        r["url"]: r["text"]
        for r in loaded.select(
            "url", extract_text_udf(F.col("html")).alias("text")
        ).collect()
    }
    direct = spark.createDataFrame(
        list(zip(pages["url"], pages["html"])), "url string, html binary"
    )
    via_direct = {
        r["url"]: r["text"]
        for r in direct.select(
            "url", extract_text_udf(F.col("html")).alias("text")
        ).collect()
    }
    assert via_warc == via_direct


def test_warc_pages_feed_the_full_pipeline(spark, tmp_path):
    """WARC → pages shape → PagesPipeline end-to-end (the north-star input
    path: archive files in, resumable KG stages out)."""
    from neo4j_export_tool_spark.plans.pages_pipeline import PagesPipeline
    from neo4j_export_tool_spark.sources.synth import (
        GAZETTEER,
        ORGS,
        PERSONS,
        PLACES,
        RELATION_TEMPLATES,
    )

    pages, _ = generate_pages(60, seed=11)
    recs = [
        (u, datetime(2024, 3, 1), h) for u, h in zip(pages["url"], pages["html"])
    ]
    (tmp_path / "crawl.warc.gz").write_bytes(write_warc(recs, compress=True))
    loaded = read_warc(spark, str(tmp_path / "crawl.warc.gz"))
    surfaces = {
        "Person": [s for a in PERSONS.values() for s in a],
        "Organization": [s for a in ORGS.values() for s in a],
        "Place": [s for a in PLACES.values() for s in a],
    }
    pipe = PagesPipeline(
        spark, str(tmp_path / "work"), GAZETTEER, RELATION_TEMPLATES, surfaces
    )
    res = pipe.run(loaded, fingerprint="warc-crawl-test")
    assert "export" in res.stages_run
    assert res.metrics["triples"]["rows"] > 0


def test_warc_parser_never_hangs_on_garbage():
    """Truncated/malformed buffers must terminate quickly with whatever
    records are recoverable — never spin or raise."""
    import random

    good = write_warc([("https://ok", datetime(2024, 1, 1), b"<html>x</html>")])
    rng = random.Random(13)
    cases = [
        b"", b"WARC/1.0", b"WARC/1.0\r\n\r\n", good[: len(good) // 2],
        b"garbage before " + good, good + b"trailing junk WARC/1.",
        good.replace(b"Content-Length: ", b"Content-Length: 99999 #"),
    ]
    cases += [bytes(rng.randrange(256) for _ in range(200)) for _ in range(20)]
    for buf in cases:
        list(parse_warc(buf))  # must return, not hang/raise
    # the 'garbage before' case still recovers the good record
    assert [u for u, _, _ in parse_warc(b"junk " + good)] == ["https://ok"]
