"""WARC source: read Common-Crawl-style web archives into the pages table.

Real Common-Crawl data ships as WARC (ISO 28500) — concatenated records,
usually one gzip member per record (``.warc.gz``).  This reader turns
``response`` records into the pipeline's input shape
``(url, warc_ts, html)`` (the input_hint pages table minus derived cols):

- files are the parallelism unit (`spark.read.format("binaryFile")` +
  Arrow-batched parsing) — the standard layout for CC processing, where a
  crawl is ~64k files of ~1 GB and per-file parallelism saturates any
  cluster;
- parsing is pure stdlib: WARC headers are RFC-822-ish ``\\r\\n`` blocks,
  payloads are length-delimited (``Content-Length``); HTTP response
  headers inside the payload are stripped to yield the HTML body;
- gzip (including the multi-member per-record variant) is handled
  transparently.

Scale note: ``binaryFile`` materializes a whole file per row — bound input
file sizes (CC's 1 GB convention) and Arrow batch memory accordingly
(``spark.sql.execution.arrow.maxRecordsPerBatch`` is rows=files here).
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from neo4j_export_tool_spark.sources.synth import PAGES_DDL


def _split_records(raw: bytes) -> Iterator[bytes]:
    """Yield one WARC record (headers+payload) at a time from a plain
    concatenated-record buffer."""
    i, n = 0, len(raw)
    while i < n:
        head_end = raw.find(b"\r\n\r\n", i)
        if head_end < 0:
            return
        headers = raw[i:head_end]
        if not headers.startswith(b"WARC/"):
            # skip garbage until the next record marker
            nxt = raw.find(b"WARC/1.", i + 1)
            if nxt < 0:
                return
            i = nxt
            continue
        length = 0
        for line in headers.split(b"\r\n"):
            if line.lower().startswith(b"content-length:"):
                try:
                    length = int(line.split(b":", 1)[1].strip())
                except ValueError:
                    length = 0  # malformed length: treat payload as empty
                break
        body_start = head_end + 4
        yield raw[i : body_start + length]
        # records are separated by two CRLFs after the payload
        i = body_start + length + 4


def parse_warc(payload: bytes) -> Iterator[tuple[str, datetime, bytes]]:
    """(url, warc_ts, html) for every ``response`` record in one WARC file
    (plain or gzip; multi-member per-record gzip handled by gzip itself)."""
    if payload[:2] == b"\x1f\x8b":
        payload = gzip.GzipFile(fileobj=io.BytesIO(payload)).read()
    for rec in _split_records(payload):
        head_end = rec.find(b"\r\n\r\n")
        headers = {}
        for line in rec[:head_end].split(b"\r\n")[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().lower()] = v.strip()
        if headers.get(b"warc-type") != b"response":
            continue
        url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        ts_raw = headers.get(b"warc-date", b"1970-01-01T00:00:00Z").decode()
        ts = datetime.fromisoformat(ts_raw.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
        body = rec[head_end + 4 :]
        # payload may be an HTTP response: strip its header block
        if body.startswith((b"HTTP/1.", b"HTTP/2")):
            http_end = body.find(b"\r\n\r\n")
            if http_end >= 0:
                body = body[http_end + 4 :]
        yield url, ts, body


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """pages(url, warc_ts, html) from WARC file(s) at ``path`` (glob ok)."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for content in pdf["content"]:
                for url, ts, html in parse_warc(bytes(content)):
                    urls.append(url)
                    tss.append(ts)
                    htmls.append(html)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": tss,
                    "html": htmls,
                    "text": [None] * len(urls),
                    "lang": [None] * len(urls),
                }
            )

    # the pages table shape: text/lang are null here — filled downstream
    # by extraction (byte-deterministic) and language ID
    return files.mapInPandas(run, schema=PAGES_DDL)


def write_warc(records: list[tuple[str, datetime, bytes]], compress: bool = False) -> bytes:
    """Build a spec-shaped WARC buffer (test/synthesis helper)."""
    out = bytearray()
    for url, ts, html in records:
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        )
        headers = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        )
        out += headers + b"\r\n" + body + b"\r\n\r\n"
    raw = bytes(out)
    return gzip.compress(raw) if compress else raw
