"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with a
metadata struct; decode/feature steps are Arrow-batched `mapInPandas`
UDFs over those payloads, so executor memory is bounded by the Arrow
batch size, not the partition size — the shape a 100 TB media corpus
needs.

The image path is REAL: pure-numpy decoders for the public NetPBM
(P2/P3/P5/P6) and Windows BMP (24/32-bit uncompressed) formats, plus
matching encoders, so decode(encode(img)) round-trips bit-exactly with
no third-party codec. Audio/video decoding still has no codec in this
container, so those payloads stay deterministic fakes and the
video-frame sampler emits the sampling PLAN (timestamps) rather than
pixels; swapping in ffmpeg is a one-function change.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# image codecs (pure numpy, public formats)
# ---------------------------------------------------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6, maxval 255)."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_ppm expects an (h, w, 3) array")
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img, dtype=np.uint8
    ).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 24-bit uncompressed BMP (BITMAPINFOHEADER,
    bottom-up rows, BGR byte order, 4-byte row padding)."""
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_bmp expects an (h, w, 3) array")
    h, w = img.shape[:2]
    row_size = (w * 3 + 3) // 4 * 4
    data_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + data_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    bgr = np.ascontiguousarray(img[..., ::-1], dtype=np.uint8)
    padded = np.zeros((h, row_size), dtype=np.uint8)
    padded[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + dib + padded[::-1].tobytes()  # bottom-up


def _pnm_tokens(buf: bytes, count: int, start: int) -> tuple[list[int], int]:
    """Read `count` whitespace-separated integer tokens from a NetPBM
    header/ASCII raster, honoring `#` comments. → (tokens, next pos)."""
    toks: list[int] = []
    i = start
    n = len(buf)
    while len(toks) < count:
        while i < n:
            c = buf[i : i + 1]
            if c == b"#":
                while i < n and buf[i : i + 1] not in (b"\n", b"\r"):
                    i += 1
            elif c.isspace():
                i += 1
            else:
                break
        j = i
        while j < n and not buf[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated NetPBM header/raster")
        toks.append(int(buf[i:j]))
        i = j
    return toks, i


def _decode_pnm(payload: bytes) -> np.ndarray:
    magic = payload[:2]
    nchan = 3 if magic in (b"P3", b"P6") else 1
    (w, h, maxval), i = _pnm_tokens(payload, 3, 2)
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PNM dimensions {w}x{h}")
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported PNM maxval {maxval} (8-bit only)")
    if magic in (b"P5", b"P6"):
        # exactly ONE whitespace byte separates maxval from the raster
        i += 1
        need = w * h * nchan
        if len(payload) - i < need:
            raise ValueError("truncated PNM raster")
        img = np.frombuffer(payload, np.uint8, count=need, offset=i).reshape(
            h, w, nchan
        )
    else:  # ASCII rasters
        vals, _ = _pnm_tokens(payload, w * h * nchan, i)
        img = np.asarray(vals, dtype=np.uint8).reshape(h, w, nchan)
    if nchan == 1:
        img = np.repeat(img, 3, axis=2)
    return np.ascontiguousarray(img)


def _decode_bmp(payload: bytes) -> np.ndarray:
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:
        raise ValueError("unsupported BMP (pre-BITMAPINFOHEADER core header)")
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP ({bpp}-bit, compression {compression}): "
            "only 24/32-bit uncompressed"
        )
    if w <= 0 or h_signed == 0:
        raise ValueError(f"invalid BMP dimensions {w}x{h_signed}")
    h, top_down = abs(h_signed), h_signed < 0
    nb = bpp // 8
    row_size = (w * nb + 3) // 4 * 4
    if len(payload) - data_offset < row_size * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(
        payload, np.uint8, count=row_size * h, offset=data_offset
    ).reshape(h, row_size)
    pix = rows[:, : w * nb].reshape(h, w, nb)
    if not top_down:
        pix = pix[::-1]
    return np.ascontiguousarray(pix[..., [2, 1, 0]])  # BGR(A) → RGB


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16000
) -> bytes:
    """int16 PCM samples (1-D mono or (n, channels)) → RIFF/WAVE bytes
    (the canonical public WAV container: fmt chunk with PCM format tag
    1, then a data chunk of little-endian interleaved samples)."""
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n, channels = arr.shape
    byte_rate = sample_rate * channels * 2
    block_align = channels * 2
    data = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes → ((n, channels) int16 array, sample rate).
    Walks the chunk list (LIST/fact/cue chunks are skipped, odd-sized
    chunks honor the RIFF pad byte); PCM 16-bit and 8-bit (unsigned,
    rescaled to int16) decode; anything else raises."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + size > len(payload):
            raise ValueError(
                f"truncated WAV {cid!r} chunk: {size} bytes declared, "
                f"{len(payload) - pos - 8} present"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("truncated WAV fmt chunk")
    audio_format, channels, sample_rate, _br, _ba, bits = struct.unpack_from(
        "<HHIIHH", fmt
    )
    if audio_format != 1 or bits not in (8, 16) or channels < 1:
        raise ValueError(
            f"unsupported WAV (format {audio_format}, {bits}-bit): "
            "PCM 8/16-bit only"
        )
    if bits == 16:
        n = len(data) // (2 * channels)
        arr = np.frombuffer(data, "<i2", count=n * channels)
    else:  # 8-bit WAV is unsigned; center and widen to int16
        n = len(data) // channels
        arr = (
            np.frombuffer(data, np.uint8, count=n * channels).astype(np.int16)
            - 128
        ) * 256
    return np.ascontiguousarray(arr.reshape(n, channels)), sample_rate


def decode_image(payload: bytes) -> np.ndarray:
    """Binary image payload → (h, w, 3) uint8 RGB. Sniffs the format
    from magic bytes; P2/P3/P5/P6 NetPBM and 24/32-bit uncompressed
    BMP decode for real (pure numpy); anything else raises."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty image payload")
    magic = bytes(payload[:2])
    if magic in (b"P2", b"P3", b"P5", b"P6"):
        return _decode_pnm(bytes(payload))
    if magic == b"BM":
        return _decode_bmp(bytes(payload))
    raise ValueError(
        f"unsupported image format (magic {magic!r}): "
        "NetPBM (P2/P3/P5/P6) and uncompressed BMP are built in"
    )


# ---------------------------------------------------------------------------
# synthetic media (deterministic, real image encodings)
# ---------------------------------------------------------------------------


def gradient_image(media_id: int, width: int, height: int) -> np.ndarray:
    """Deterministic test image: flat RGB-interleaved index j gets
    value (media_id*7 + j) % 256 — closed-form per-pixel, so channel
    sums/histograms are independently computable (the oracle-SQL
    hook)."""
    j = np.arange(width * height * 3, dtype=np.int64)
    return ((media_id * 7 + j) % 256).astype(np.uint8).reshape(
        height, width, 3
    )


def gradient_audio(media_id: int, n_samples: int) -> np.ndarray:
    """Deterministic test signal: sample j holds
    ((13*id + 7*j) % 4001) − 2000 — int16-ranged, closed-form per
    sample, so absolute sums are independently computable (the
    oracle-SQL hook, like `gradient_image`)."""
    j = np.arange(n_samples, dtype=np.int64)
    return ((media_id * 13 + j * 7) % 4001 - 2000).astype(np.int16)


def synthesize_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table. Image rows carry REAL encoded
    payloads (PPM for even ids, BMP for odd) and audio rows REAL WAV
    (PCM 16-bit mono of the gradient signal) — all four codecs
    exercised; video payloads stay seeded bytes (no container codec in
    sandbox — frame sampling stays a plan)."""
    base = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.sha2(F.concat(F.lit(str(seed)), F.col("id").cast("string")), 256)
        .cast("binary")
        .alias("payload"),
        (F.col("id") % 64 + 16).cast("int").alias("width"),
        (F.col("id") % 48 + 16).cast("int").alias("height"),
        (F.col("id") * 37 % 10000).cast("int").alias("duration_ms"),
    )

    def encode_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid, kind, payload, w, h in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"],
                pdf["width"], pdf["height"],
            ):
                if kind == "image":
                    img = gradient_image(int(mid), int(w), int(h))
                    enc = encode_ppm if mid % 2 == 0 else encode_bmp
                    payloads.append(enc(img))
                elif kind == "audio":
                    # duration_ms at 8 kHz mono, capped to keep the
                    # synthetic table small
                    n_samp = max(int(mid) % 500 + 50, 1)
                    payloads.append(
                        encode_wav(gradient_audio(int(mid), n_samp), 8000)
                    )
                else:
                    payloads.append(payload)
            pdf = pdf.assign(payload=payloads)
            yield pdf

    return base.mapInPandas(encode_images, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# feature extraction (Arrow-batched over real decode)
# ---------------------------------------------------------------------------


def extract_image_features(df: DataFrame, bins: int = 8) -> DataFrame:
    """Decode + per-channel histogram features, Arrow-batched.

    → (media_id, feat: array<float> of 3*bins), normalized by the
    DECODED pixel count. Payloads stream through mapInPandas in Arrow
    batches; each image decodes, histograms, and is dropped — peak
    memory is one batch of payloads plus one decoded frame."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("feat", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                img = decode_image(payload)
                npx = img.shape[0] * img.shape[1]
                hist = [
                    np.histogram(img[..., c], bins=bins, range=(0, 256))[0]
                    for c in range(3)
                ]
                feats.append((np.concatenate(hist) / npx).astype(np.float32))
            yield pd.DataFrame({"media_id": pdf["media_id"], "feat": feats})

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, out_schema)
    )


def image_channel_sums(df: DataFrame) -> DataFrame:
    """Decode + exact per-channel integer pixel sums (the
    oracle-checkable feature): → (media_id, n_px, sum_r, sum_g,
    sum_b). Same Arrow-batched streaming shape as
    extract_image_features; integer outputs hash stably."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("n_px", LongType()),
            StructField("sum_r", LongType()),
            StructField("sum_g", LongType()),
            StructField("sum_b", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image(payload).astype(np.int64)
                rows.append(
                    (
                        int(mid),
                        img.shape[0] * img.shape[1],
                        int(img[..., 0].sum()),
                        int(img[..., 1].sum()),
                        int(img[..., 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_px", "sum_r", "sum_g", "sum_b"]
            )

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, out_schema)
    )


def audio_stats(df: DataFrame) -> DataFrame:
    """Decode WAV payloads + exact integer signal stats (the
    oracle-checkable audio feature): → (media_id, sample_rate,
    n_samples, n_channels, sum_abs, max_abs). Arrow-batched
    mapInPandas with the same bounded-memory streaming shape as the
    image paths."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("sample_rate", LongType()),
            StructField("n_samples", LongType()),
            StructField("n_channels", LongType()),
            StructField("sum_abs", LongType()),
            StructField("max_abs", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, rate = decode_wav(payload)
                mags = np.abs(samples.astype(np.int64))
                rows.append(
                    (
                        int(mid),
                        rate,
                        samples.shape[0],
                        samples.shape[1],
                        int(mags.sum()),
                        int(mags.max(initial=0)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_samples", "n_channels",
                    "sum_abs", "max_abs",
                ],
            )

    return (
        df.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(run, out_schema)
    )


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled
    timestamp (frame decode needs a video codec — the explode/partition
    shape is real). → (media_id, frame_ts_ms)."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )
