"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` UDFs.

Two codec tiers:

- REAL stdlib/numpy decoders for formats expressible without external
  entropy-coder libraries: binary PPM (P6) images, PNG (full zlib
  inflate + all five filter-type reconstructions, gray/RGB/RGBA/
  gray-alpha at bit depth 8), baseline JFIF JPEG (Huffman + 8×8 DCT,
  4:4:4/4:2:0, restart intervals — `operators/jpeg.py`, round-6
  de-stub) — parse / mean-RGB / nearest-neighbor resize — and RIFF WAV
  audio (stdlib ``wave``) — sample rate / channels / duration /
  every-Nth frame sampling.  These exercise the full
  decode→feature→re-encode dataflow end-to-end with zero external
  dependencies.
- MP4 CONTAINER demux is REAL as of round 6 (`operators/mp4.py`: box
  tree, sample tables, per-sample byte/timestamp/keyframe extraction) —
  the CPU-side layer a real video pipeline runs before handing coded
  samples to hardware decoders.  Only the entropy-coded bitstream
  INSIDE samples (H.264/H.265 CABAC/CAVLC) is genuinely out of stdlib
  reach and stays STUBBED behind ``require_codec`` (clearly-marked
  NotImplementedError).

Scale notes: binary batches are large — ``spark.sql.execution.arrow.
maxRecordsPerBatch`` bounds Arrow batch memory, and media tables should be
written with small ``maxPartitionBytes`` so a task holds O(100 MB) of
payload, not O(1 GB).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<content_type:string, n_bytes:long, source_url:string>"
)

FEATURES_SCHEMA = (
    "media_id string, n_bytes long, payload_sha256 string, "
    "fake_width int, fake_height int"
)

_CODEC_AVAILABLE = False  # no image/audio libs in this container


def require_codec(name: str) -> None:
    """STUB: the real decoder dependency is unavailable here by design."""
    if not _CODEC_AVAILABLE:
        raise NotImplementedError(
            f"media codec '{name}' not available in this environment; "
            "install PIL/ffmpeg and set multimodal._CODEC_AVAILABLE"
        )


def fake_decode_meta(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for image dimensions (tests the plumbing,
    not pixels): derived from payload length."""
    n = len(payload)
    return (n % 640) + 1, (n % 480) + 1


# ---------------------------------------------------------------------------
# REAL stdlib codecs: binary PPM (P6) images, RIFF WAV audio
# ---------------------------------------------------------------------------

def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6, maxval 255).  ``pixels``: width*height*3 RGB bytes."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer does not match dimensions")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM (P6) → (width, height, rgb_bytes)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    # header: magic, width, height, maxval — whitespace-separated, then one
    # whitespace byte before pixel data (comments unsupported: synthetic).
    # Every scan is bounded: a truncated header must raise, not spin.
    parts: list[int] = []
    i, end = 2, len(payload)
    while len(parts) < 3:
        while i < end and payload[i : i + 1].isspace():
            i += 1
        j = i
        while j < end and not payload[j : j + 1].isspace():
            j += 1
        if i == j or j >= end:
            raise ValueError("truncated PPM header")
        parts.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    width, height, maxval = parts
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    pixels = payload[i : i + width * height * 3]
    if len(pixels) != width * height * 3:
        raise ValueError("truncated pixel data")
    return width, height, pixels


def _mean_rgb(px: bytes, n: int) -> tuple[int, int, int]:
    """Integer mean per channel (floor) over packed RGB bytes — exact,
    engine-portable.  C-speed byte-slice sums, not a per-pixel loop."""
    return sum(px[0::3]) // n, sum(px[1::3]) // n, sum(px[2::3]) // n


def _resize_rgb(px: bytes, w: int, h: int, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resize of packed RGB bytes."""
    out = bytearray()
    for y in range(new_h):
        sy = y * h // new_h
        row = sy * w * 3
        for x in range(new_w):
            sx = x * w // new_w
            o = row + sx * 3
            out += px[o : o + 3]
    return bytes(out)


def resize_image_payload(payload: bytes, new_w: int, new_h: int) -> bytes:
    """Format-preserving nearest-neighbor resize: PNG in → RGB PNG out,
    JPEG in → 4:4:4 quality-95 JPEG out, PPM in → PPM out."""
    w, h, rgb, fmt = decode_image_payload(payload)
    resized = _resize_rgb(rgb, w, h, new_w, new_h)
    if fmt == "png":
        return encode_png(new_w, new_h, resized, color_type=2)
    if fmt == "jpeg":
        from neo4j_export_tool_spark.operators.jpeg import encode_jpeg

        return encode_jpeg(new_w, new_h, resized, quality=95)
    return encode_ppm(new_w, new_h, resized)


# ---------------------------------------------------------------------------
# PNG: stdlib-only (zlib) encoder/decoder — round-5 de-stub of one
# PIL-class format (reference parity: opaque media columns,
# /root/reference/docs/Improvements.md media notes)
# ---------------------------------------------------------------------------

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# channels per PNG color type (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int, height: int, pixels: bytes, color_type: int = 2
) -> bytes:
    """Minimal-but-valid PNG writer (bit depth 8, no interlace, filter 0
    per scanline).  ``pixels``: width*height*channels bytes."""
    import zlib

    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer does not match dimensions")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Full stdlib PNG decode → (width, height, color_type, pixel_bytes).

    Parses the chunk stream (CRC-verified), inflates the concatenated
    IDAT data, and reconstructs all five scanline filter types (None,
    Sub, Up, Average, Paeth).  Supports bit depth 8, color types
    0/2/4/6, no interlace — the shapes a training-data media pipeline
    actually stores.  Sub/Up are numpy-vectorized (mod-256 cumsum /
    row add); Average/Paeth are per-pixel sequential BY THE SPEC (each
    pixel depends on the reconstructed left neighbor), looped over
    width with bpp-wide numpy lanes."""
    import zlib

    import numpy as np

    if not payload.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG payload")
    pos, end = len(PNG_SIGNATURE), len(payload)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= end:
        (length,) = struct.unpack_from(">I", payload, pos)
        # bounds-check data AND trailing CRC before any unpack_from so a
        # payload truncated inside a chunk raises the documented
        # ValueError, not struct.error
        if pos + 12 + length > end:
            raise ValueError("truncated PNG chunk")
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            "unsupported PNG shape (need bit depth 8, no interlace)"
        )
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    bpp = _PNG_CHANNELS[color_type]
    stride = width * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data does not match dimensions")

    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    at = 0
    for y in range(height):
        ftype = raw[at]
        row = np.frombuffer(raw, np.uint8, stride, at + 1)
        at += stride + 1
        if ftype == 0:  # None
            cur = row.copy()
        elif ftype == 1:  # Sub: mod-256 cumsum along x per byte lane
            cur = (
                row.reshape(width, bpp).cumsum(axis=0, dtype=np.uint64) & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            cur = row + prev  # uint8 wraps mod 256, as the spec requires
        elif ftype == 3:  # Average — sequential in x by spec
            cur = np.empty(stride, dtype=np.uint8)
            left = np.zeros(bpp, dtype=np.uint16)
            for x in range(width):
                s = slice(x * bpp, (x + 1) * bpp)
                px = row[s] + ((left + prev[s]) >> 1).astype(np.uint8)
                cur[s] = px
                left = px.astype(np.uint16)
        elif ftype == 4:  # Paeth — sequential in x by spec
            cur = np.empty(stride, dtype=np.uint8)
            left = np.zeros(bpp, dtype=np.int16)
            ul = np.zeros(bpp, dtype=np.int16)
            for x in range(width):
                s = slice(x * bpp, (x + 1) * bpp)
                up = prev[s].astype(np.int16)
                p = left + up - ul
                pa, pb, pc = (
                    np.abs(p - left),
                    np.abs(p - up),
                    np.abs(p - ul),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                )
                px = (row[s].astype(np.int16) + pred).astype(np.uint8)
                cur[s] = px
                left = px.astype(np.int16)
                ul = up
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = out[y]
    return width, height, color_type, out.tobytes()


def png_to_rgb(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG and normalize its pixels to packed RGB bytes
    (gray expanded, alpha dropped) — the decode_ppm-compatible shape."""
    import numpy as np

    w, h, ctype, px = decode_png(payload)
    a = np.frombuffer(px, np.uint8).reshape(h * w, _PNG_CHANNELS[ctype])
    if ctype == 2:
        rgb = a
    elif ctype == 6:
        rgb = a[:, :3]
    else:  # 0 or 4: replicate the gray channel
        rgb = np.repeat(a[:, :1], 3, axis=1)
    return w, h, rgb.tobytes()


JPEG_SIGNATURE = b"\xff\xd8"


def decode_image_payload(payload: bytes) -> tuple[int, int, bytes, str]:
    """Sniff the container by magic and decode → (w, h, rgb, format)."""
    if payload.startswith(PNG_SIGNATURE):
        w, h, rgb = png_to_rgb(payload)
        return w, h, rgb, "png"
    if payload.startswith(JPEG_SIGNATURE):
        from neo4j_export_tool_spark.operators.jpeg import jpeg_to_rgb

        w, h, rgb = jpeg_to_rgb(payload)
        return w, h, rgb, "jpeg"
    if payload.startswith(b"P6"):
        w, h, rgb = decode_ppm(payload)
        return w, h, rgb, "ppm"
    raise ValueError("unrecognized image container (need PNG, JPEG or P6 PPM)")


def encode_wav(
    samples: list[int], sample_rate: int = 8000, n_channels: int = 1
) -> bytes:
    """16-bit PCM RIFF WAV from integer samples (stdlib ``wave``)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        # one C-level pack for the whole buffer, not a per-sample loop
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, n_channels, n_frames, duration_ms) via stdlib wave."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, channels, frames = w.getframerate(), w.getnchannels(), w.getnframes()
    return rate, channels, frames, (frames * 1000) // max(rate, 1)


def sample_wav_frames(payload: bytes, every_n: int) -> list[int]:
    """Every-Nth 16-bit sample of channel 0 — the frame-sampling analog."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        channels = w.getnchannels()
        raw = w.readframes(w.getnframes())
    # decode channel 0 only, every_n frames apart, straight from offsets —
    # no full-buffer Python unpack
    step = 2 * channels * every_n
    return [
        struct.unpack_from("<h", raw, i)[0] for i in range(0, len(raw), step)
    ]


IMAGE_FEATURES_SCHEMA = (
    "media_id string, width int, height int, mean_r int, mean_g int, mean_b int"
)


def extract_image_features(media: DataFrame) -> DataFrame:
    """REAL decode for P6 PPM and PNG payloads (container sniffed by
    magic): dimensions + integer mean RGB.  Undecodable payloads yield
    nulls (decode failure is data, not a crash)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    w, h, rgb, _fmt = decode_image_payload(raw)
                    r, g, b = _mean_rgb(rgb, w * h)
                    rows.append((mid, w, h, r, g, b))
                except Exception:
                    rows.append((mid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "mean_r", "mean_g", "mean_b"],
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "media_id string, sample_rate int, n_channels int, n_frames int, "
    "duration_ms int, sampled_head array<int>"
)


def extract_audio_features(media: DataFrame, sample_every: int = 1000) -> DataFrame:
    """REAL decode for RIFF WAV payloads: format fields + every-Nth frame
    sample head (first 8)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    rate, ch, frames, ms = decode_wav(raw)
                    head = sample_wav_frames(raw, sample_every)[:8]
                    rows.append((mid, rate, ch, frames, ms, head))
                except Exception:
                    rows.append((mid, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels", "n_frames",
                    "duration_ms", "sampled_head",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


def resize_images(media: DataFrame, new_w: int, new_h: int) -> DataFrame:
    """Nearest-neighbor resize of P6 PPM / PNG payloads (format
    preserved) → (media_id, payload)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, outs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    outs.append(
                        resize_image_payload(bytes(payload), new_w, new_h)
                    )
                except Exception:
                    outs.append(None)
                mids.append(mid)
            yield pd.DataFrame({"media_id": mids, "payload": outs})

    return media.select("media_id", "payload").mapInPandas(
        run, schema="media_id string, payload binary"
    )


def extract_media_features(media: DataFrame) -> DataFrame:
    """Per-payload features via Arrow batches: byte length, sha256, fake dims.

    The real pipeline swaps ``fake_decode_meta`` for an actual decoder; the
    dataflow (binary in → feature row out, no shuffle) is identical.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                w, h = fake_decode_meta(raw)
                rows.append(
                    (mid, len(raw), hashlib.sha256(raw).hexdigest(), w, h)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "payload_sha256",
                    "fake_width",
                    "fake_height",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )
