"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery is real and tested — schema, partition-friendly
batching, Arrow-batched UDF signatures via ``mapInPandas`` — and since
round 3 the default decoder REALLY parses bytes for the formats a
pure-python parser can handle with no external libs:

* WAV (RIFF) — chunk walk, LE header ints: channels, bits, frame count;
* PPM (P6)  — ASCII header: width, height, payload-length check;
* BMP       — BITMAPINFOHEADER: width, height;
* AVI (RIFF) — LIST hdrl -> avih AVIMAINHEADER: width, height, total
  frames (container-level; codec FRAME decode still needs ffmpeg).

Payloads the parsers reject fall back to the clearly-marked deterministic
hash stub — same signature production swaps for PIL/ffmpeg.

Scale notes: media bytes stay in executor memory only for the lifetime of
one Arrow batch (``maxRecordsPerBatch`` bounds it); feature outputs are
fixed-width, so the shuffle after extraction never carries raw media.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("content", BinaryType()),  # opaque payload
        StructField("width", IntegerType()),  # typed metadata (nullable)
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("content_sha", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feat_width", IntegerType()),
        StructField("feat_height", IntegerType()),
        StructField("frames_sampled", IntegerType()),
    ]
)


def _fake_decode(content: bytes, kind: str) -> dict:
    """Deterministic decode STUB for kinds without a pure-python parser in
    this sandbox (video; unknown payloads) — same signature, fake values."""
    h = hashlib.sha256(content or b"").hexdigest()
    seed = int(h[:8], 16)
    return {
        "content_sha": h,
        "n_bytes": len(content or b""),
        "feat_width": 16 + seed % 64,
        "feat_height": 16 + (seed >> 8) % 64,
        "frames_sampled": 1 if kind == "image" else 1 + seed % 8,
    }


def decode_wav(content: bytes) -> dict:
    """Real RIFF/WAVE parse — chunk walk, little-endian header ints.
    feat_width=channels, feat_height=bits per sample, frames_sampled=
    frame count (data bytes / block align). Raises ValueError on a
    malformed container."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = {
                "channels": int.from_bytes(body[2:4], "little"),
                "sample_rate": int.from_bytes(body[4:8], "little"),
                "block_align": int.from_bytes(body[12:14], "little"),
                "bits": int.from_bytes(body[14:16], "little"),
            }
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if fmt is None or data_size is None or fmt["block_align"] == 0:
        raise ValueError("missing fmt/data chunk")
    return {
        "content_sha": hashlib.sha256(content).hexdigest(),
        "n_bytes": len(content),
        "feat_width": fmt["channels"],
        "feat_height": fmt["bits"],
        "frames_sampled": data_size // fmt["block_align"],
    }


def decode_ppm(content: bytes) -> dict:
    """Real PPM (P6) parse — ASCII header tokens (comments allowed), then a
    payload-length check against width*height*3."""
    if content[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    toks, pos = [], 2
    while len(toks) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        toks.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval, then payload
    w, h, maxval = toks
    if maxval <= 0 or maxval > 255 or len(content) - pos != w * h * 3:
        raise ValueError("PPM payload length mismatch")
    return {
        "content_sha": hashlib.sha256(content).hexdigest(),
        "n_bytes": len(content),
        "feat_width": w,
        "feat_height": h,
        "frames_sampled": 1,
    }


def decode_avi(content: bytes) -> dict:
    """Real RIFF/AVI parse — the AVIMAINHEADER ('avih') chunk inside
    LIST hdrl: dwTotalFrames / dwWidth / dwHeight are LE dwords at body
    offsets 16/32/36. Codec payloads are NOT decoded (that needs ffmpeg);
    the container header carries the features this pipeline extracts."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        if cid == b"LIST" and content[pos + 8 : pos + 12] == b"hdrl":
            pos += 12  # descend into the header list
            continue
        if cid == b"avih" and size >= 40:
            body = content[pos + 8 : pos + 8 + size]
            if len(body) < 40:
                # declared size promises 40 bytes but the payload is
                # truncated — reading dwords at fixed offsets would
                # fabricate frames/width from the wrong bytes; fall to the
                # documented hash-stub path instead
                raise ValueError("truncated avih body")
            frames = int.from_bytes(body[16:20], "little")
            w = int.from_bytes(body[32:36], "little")
            h = int.from_bytes(body[36:40], "little")
            if w <= 0 or h <= 0:
                raise ValueError("bad AVI dimensions")
            return {
                "content_sha": hashlib.sha256(content).hexdigest(),
                "n_bytes": len(content),
                "feat_width": w,
                "feat_height": h,
                "frames_sampled": frames,
            }
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    raise ValueError("missing avih header")


def decode_bmp(content: bytes) -> dict:
    """Real BMP parse — BITMAPINFOHEADER signed LE width/height at offsets
    18/22 (negative height = top-down rows; the magnitude is the height)."""
    if content[:2] != b"BM" or len(content) < 26:
        raise ValueError("not a BMP")
    w = int.from_bytes(content[18:22], "little", signed=True)
    h = int.from_bytes(content[22:26], "little", signed=True)
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    return {
        "content_sha": hashlib.sha256(content).hexdigest(),
        "n_bytes": len(content),
        "feat_width": w,
        "feat_height": abs(h),
        "frames_sampled": 1,
    }


def default_decode(content: bytes, kind: str) -> dict:
    """Magic-byte sniffing decoder: real container parsers for WAV/AVI/PPM/
    BMP; the deterministic hash stub only for payloads the parsers reject
    (codec frame decode needs PIL/ffmpeg) — a real pipeline would
    dead-letter those via the decode_fn hook instead."""
    content = content or b""
    try:
        if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
            return decode_avi(content)
        if content[:4] == b"RIFF":
            return decode_wav(content)
        if content[:2] == b"P6":
            return decode_ppm(content)
        if content[:2] == b"BM":
            return decode_bmp(content)
    except ValueError:
        pass
    return _fake_decode(content, kind)


def extract_features(
    media: DataFrame, decode_fn: Callable[[bytes, str], dict] | None = None
) -> DataFrame:
    """Decode/feature-extract media via mapInPandas (Arrow batches).

    ``decode_fn(content, kind) -> dict`` is the production hook; raise
    NotImplementedError there for unsupported kinds and the row routes to
    the dead-letter convention upstream.
    """
    decode = decode_fn or default_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(c, k) for c, k in zip(pdf["content"], pdf["kind"])]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "kind", pdf["kind"].values)
            yield out

    # media bytes never survive past this projection: select early, keep the
    # Arrow batches bounded, output fixed-width features only
    return media.select("media_id", "kind", "content").mapInPandas(run, FEATURE_SCHEMA)


# ---------------------------------------------------- cross-dialect synthesis
# Deterministic REAL media bytes from an integer id, expressed in SQL that
# runs on Spark AND DuckDB (same concat/hex/lpad/repeat/chr semantics), so
# the oracle reproduces content byte-for-byte while the Spark side decodes
# the actual container headers. WAV parameters are chosen so every
# little-endian multi-byte field has at most ONE varying byte (no integer
# division in SQL) AND every byte stays < 0x80 — the whole file is then
# valid UTF-8, which lets the DuckDB oracle hash the exact bytes via
# sha256(decode(content)) (DuckDB 1.0 has no BLOB hash):
#   channels    = 1 + id % 2
#   sample_rate = 256 * (24 + id % 8)   (byte_rate byte <= 124)
#   bits        = 16, n_frames = 10 + id % 13  (data size <= 88)
WAV_CHANNELS = "(1 + {d} % 2)"
WAV_SRH = "(24 + {d} % 8)"  # sample_rate / 256
WAV_FRAMES = "(10 + {d} % 13)"
PPM_W = "(4 + {d} % 29)"
PPM_H = "(3 + {d} % 13)"
# AVI params: single varying LE byte each, all bytes < 0x80 (UTF-8-safe)
AVI_W = "(16 + {d} % 100)"
AVI_H = "(12 + {d} % 75)"
AVI_FRAMES = "(10 + {d} % 90)"


def wav_hex_sql(d: str = "doc_id") -> str:
    """Hex string of a complete 44-byte-header WAV with a zeroed payload;
    feed to unhex() (identical in both dialects)."""
    ch = WAV_CHANNELS.format(d=d)
    srh = WAV_SRH.format(d=d)
    nf = WAV_FRAMES.format(d=d)
    ds = f"({nf} * {ch} * 2)"

    def byte(e: str) -> str:
        return f"lpad(hex({e}), 2, '0')"

    return (
        "concat('52494646', "  # "RIFF"
        f"{byte(f'36 + {ds}')}, '000000', "  # chunk size (LE, < 256+36)
        "'57415645', '666d7420', '10000000', '0100', "  # WAVEfmt , 16, PCM
        f"{byte(ch)}, '00', "  # channels
        f"'00', {byte(srh)}, '0000', "  # sample_rate = 256*srh
        f"'00', {byte(f'{srh} * {ch} * 2')}, '0000', "  # byte_rate = sr*ch*2
        f"{byte(f'{ch} * 2')}, '00', "  # block align
        "'1000', '64617461', "  # bits=16, "data"
        f"{byte(ds)}, '000000', "  # data size (LE, < 256)
        f"repeat('00', {ds}))"  # silent payload
    )


def ppm_str_sql(d: str = "doc_id") -> str:
    """ASCII P6 PPM: header + 'x'-filled payload (legal pixel bytes)."""
    w = PPM_W.format(d=d)
    h = PPM_H.format(d=d)
    return (
        f"concat('P6', chr(10), {w}, ' ', {h}, chr(10), '255', chr(10), "
        f"repeat('x', {w} * {h} * 3))"
    )


def avi_hex_sql(d: str = "doc_id") -> str:
    """Hex string of a complete 88-byte AVI container (RIFF 'AVI ' ->
    LIST hdrl -> avih with 14 dwords); every byte < 0x80 so the DuckDB
    oracle can hash the exact bytes through a VARCHAR round-trip."""
    w = AVI_W.format(d=d)
    h = AVI_H.format(d=d)
    nf = AVI_FRAMES.format(d=d)

    def byte(e: str) -> str:
        return f"lpad(hex({e}), 2, '0')"

    return (
        "concat('52494646', '50000000', '41564920', "  # RIFF, size 80, 'AVI '
        "'4c495354', '44000000', '6864726c', "  # LIST, size 68, hdrl
        "'61766968', '38000000', "  # avih, size 56
        "'40000000', '00000000', '00000000', '00000000', "  # usec/frame=64, ...
        f"{byte(nf)}, '000000', "  # dwTotalFrames
        "'00000000', '01000000', '00000000', "  # init frames, 1 stream, bufsz
        f"{byte(w)}, '000000', "  # dwWidth
        f"{byte(h)}, '000000', "  # dwHeight
        "repeat('00000000', 4))"  # dwReserved[4]
    )


def media_content_sql(dialect: str, d: str = "doc_id") -> str:
    """Per-row content: id%3=0 -> PPM image, 1 -> WAV audio, 2 -> AVI video
    — all REAL container bytes the decoders actually parse. Only the
    string->binary encode differs between dialects."""
    enc = (
        (lambda e: f"encode({e}, 'utf-8')")
        if dialect == "spark"
        else (lambda e: f"encode({e})")
    )
    return (
        f"CASE CAST({d} % 3 AS INT) "
        f"WHEN 0 THEN {enc(ppm_str_sql(d))} "
        f"WHEN 1 THEN unhex({wav_hex_sql(d)}) "
        f"ELSE unhex({avi_hex_sql(d)}) END"
    )


def synthetic_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table for plumbing tests."""
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("id") % 3 + 1).cast("int"),
    )
    return spark.range(n).select(
        F.concat(F.lit("m"), F.col("id")).alias("media_id"),
        kinds.alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "utf-8").alias("content"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
