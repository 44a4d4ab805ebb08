"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; the
Spark-side contract (schema, batching, partition sizing) is real and
tested.  Decode is REAL for the library-free formats -- 24-bit
uncompressed BMP, 16-bit PCM WAV, and non-interlaced 8-bit RGB/RGBA PNG
(stdlib zlib + the spec's five scanline filters) -- including a genuine
nearest-neighbor resize and pixel/sample feature extraction.  Codecs that
genuinely need external libraries (JPEG/opus/h264) still raise
NotImplementedError; the deterministic fake feature path remains for
payloads that are not media bytes at all (tests/bench derive them from
text).

At scale the rules this module encodes:
  * payloads never pass through Python row-at-a-time -- `mapInPandas`
    with Arrow batches, one numpy view per batch;
  * metadata (width/height/duration) lives in plain columns so filters
    (e.g. min-resolution gates) push down to the scan WITHOUT touching
    payload bytes;
  * feature extraction emits fixed-width arrays, keeping downstream
    similarity ops (similarity.py) JVM-side.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),     # image/audio/video
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
])

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit uncompressed BMP from an (H, W, 3) uint8 RGB array -- pure
    struct packing, rows bottom-up, BGR order, 4-byte row padding."""
    h, w, c = arr.shape
    assert c == 3
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += arr[y, :, ::-1].tobytes() + b"\x00" * pad
    data_offset = 14 + 40
    filesize = data_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", filesize, 0, 0, data_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + bytes(body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> (H, W, 3) uint8 RGB.  Validates magic,
    bit depth, and compression; raises ValueError on anything else."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    _magic, _size, _r1, _r2, data_offset = struct.unpack_from("<2sIHHI", payload, 0)
    _hsz, w, h, _planes, bpp = struct.unpack_from("<IiiHH", payload, 14)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    row = ((w * 3 + 3) // 4) * 4
    arr = (np.frombuffer(payload, np.uint8, count=row * h, offset=data_offset)
           .reshape(h, row)[:, : w * 3].reshape(h, w, 3))
    if bottom_up:
        arr = arr[::-1]
    return arr[:, :, ::-1].copy()   # BGR -> RGB


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """16-bit PCM WAV from an (n, channels) int16 array."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def decode_wav_pcm16(payload: bytes) -> tuple[int, np.ndarray]:
    """16-bit PCM WAV -> (sample_rate, (n, channels) int16 array).  Walks
    RIFF chunks; raises ValueError for non-PCM or non-16-bit audio."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, ch, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, csize = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8: pos + 8 + csize]
        if cid == b"fmt ":
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV (fmt={audio_fmt}, bits={bits})")
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, np.frombuffer(data, "<i2").reshape(-1, ch).copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(arr: np.ndarray) -> bytes:
    """Non-interlaced 8-bit RGB/RGBA PNG from an (H, W, 3|4) uint8 array.
    Pure stdlib: zlib deflate + filter-0 scanlines + crc32 chunk framing."""
    import zlib
    h, w, ch = arr.shape
    assert ch in (3, 4)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 6, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def decode_png(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit RGB/RGBA PNG -> (H, W, 3|4) uint8.

    PNG's compression really is just stdlib zlib plus five per-scanline
    byte filters (None/Sub/Up/Average/Paeth, RFC 2083) -- implemented
    from the spec like the BMP/WAV codecs: walk chunks, inflate the IDAT
    stream, unfilter row by row.  Vectorized for filters 0-2 (Sub is a
    per-channel modular cumsum); Average/Paeth predict sequentially along
    x by definition and run as per-pixel loops.  Palette, 16-bit,
    grayscale and Adam7-interlaced files raise ValueError."""
    import zlib
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4: pos + 8]
        body = payload[pos + 8: pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or ctype not in (2, 6) or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color type={ctype}, "
                    f"interlace={interlace}): only non-interlaced 8-bit RGB/RGBA")
            ch = 3 if ctype == 2 else 4
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload has the wrong size")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, count=stride,
                             offset=y * (stride + 1) + 1)
        if f == 0:
            row = line.copy()
        elif f == 1:    # Sub: modular prefix sum per channel offset
            row = np.cumsum(line.reshape(w, ch).astype(np.uint64),
                            axis=0).astype(np.uint8).reshape(stride)
        elif f == 2:    # Up
            row = line + prev
        elif f in (3, 4):
            row = np.zeros(stride, dtype=np.uint8)
            li = line.tolist()
            pr = prev.tolist()
            ro = row.tolist()
            for x in range(stride):
                a = ro[x - ch] if x >= ch else 0
                b = pr[x]
                if f == 3:
                    ro[x] = (li[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = pr[x - ch] if x >= ch else 0
                    ro[x] = (li[x] + _paeth(a, b, c)) & 0xFF
            row = np.array(ro, dtype=np.uint8)
        else:
            raise ValueError(f"invalid PNG filter byte {f}")
        out[y] = row
        prev = row
    return out.reshape(h, w, ch)


def decode_payload(payload: bytes, media_type: str):
    """Real decoder for the library-free formats: BMP and non-interlaced
    8-bit RGB/RGBA PNG images (stdlib zlib + spec filters) -> (H, W, C)
    uint8, PCM WAV audio -> (rate, samples).  JPEG/opus/h264 genuinely
    need codec libraries absent from this container and raise."""
    if media_type == "image" and payload[:2] == b"BM":
        return decode_bmp(payload)
    if media_type == "image" and payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if media_type == "audio" and payload[:4] == b"RIFF":
        return decode_wav_pcm16(payload)
    raise NotImplementedError(
        "compressed-codec decode (JPEG/opus/h264) needs Pillow/libav, "
        "not present in this environment; BMP/PNG/WAV decode is real, and "
        "fake=True gives the deterministic stand-in for non-media payloads"
    )


def _real_feature(payload: bytes, media_type: str) -> np.ndarray:
    """Fixed-width FEATURE_DIM summary from REAL decoded media.
    image: per-channel mean/std (6) + aspect + log-size (2) + 8-bin gray
    histogram.  audio: mean/std/rms/zero-crossing (4) + 12-bin |amplitude|
    histogram.  Deterministic: float32 reductions over integer data."""
    if media_type == "image":
        arr = decode_payload(payload, "image")[:, :, :3].astype(np.float32)
        h, w, _ = arr.shape
        gray = arr.mean(axis=2)
        hist, _ = np.histogram(gray, bins=8, range=(0.0, 256.0))
        feat = np.concatenate([
            arr.reshape(-1, 3).mean(axis=0) / 255.0,
            arr.reshape(-1, 3).std(axis=0) / 255.0,
            [w / max(1, h), np.log1p(float(h * w)) / 20.0],
            hist / max(1, h * w),
        ])
    else:
        _rate, samples = decode_wav_pcm16(payload)
        x = samples.astype(np.float32).ravel() / 32768.0
        zc = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) if x.size > 1 else 0.0
        hist, _ = np.histogram(np.abs(x), bins=12, range=(0.0, 1.0))
        feat = np.concatenate([
            [x.mean(), x.std(), float(np.sqrt(np.mean(x * x))), zc],
            hist / max(1, x.size),
        ])
    return feat.astype(np.float32)[:FEATURE_DIM]


def _fake_feature(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a feature extractor: 16 floats derived
    from the md5 of the payload bytes.  Stable across runs/machines."""
    d = hashlib.md5(payload).digest()
    return (np.frombuffer(d, dtype=np.uint8).astype(np.float32) - 127.5) / 127.5


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Batched feature extraction over payload bytes via mapInPandas.

    The Arrow batch shape is the real contract: each batch arrives as a
    pandas DataFrame, payloads as Python bytes; the kernel vectorizes per
    batch and emits fixed-width float arrays -- or a NULL feature for a
    NULL payload (as the twin's md5 of NULL), never the digest of b"".
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                feats = [None if p is None else _fake_feature(p).tolist()
                         for p in pdf["payload"]]
            else:
                feats = [None if p is None else _real_feature(p, t).tolist()
                         for p, t in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "feature": feats,
            })

    pruned = media.select("media_id", "media_type", "payload")
    return pruned.mapInPandas(kernel, FEATURES_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("target_w", T.IntegerType(), True),
    T.StructField("target_h", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
])


def resize_images(media: DataFrame, max_dim: int = 512, fake: bool = True) -> DataFrame:
    """Aspect-preserving image resize via mapInPandas.

    Arrow batches of (metadata, payload bytes) in, resized payloads +
    integer target dims out.  ``fake=False`` does REAL pixel work for BMP
    payloads (decode -> nearest-neighbor index sample -> re-encode);
    ``fake=True`` passes payload bytes through (for non-media stand-in
    payloads).  Target dims are pure integer arithmetic
    (floor(dim * max_dim / longest_side), no-op when the image already
    fits), so they are exactly reproducible by a SQL oracle.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tw, th, payloads = [], [], []
            for w, h, p in zip(pdf["width"], pdf["height"], pdf["payload"]):
                if pd.isna(w) or pd.isna(h):
                    # MEDIA_SCHEMA declares dims nullable: missing metadata
                    # passes through untouched rather than crashing the task
                    tw.append(None)
                    th.append(None)
                    payloads.append(p)
                    continue
                w, h = int(w), int(h)
                longest = max(w, h)
                if longest <= max_dim or longest == 0:
                    nw, nh = w, h
                else:
                    nw, nh = (w * max_dim) // longest, (h * max_dim) // longest
                tw.append(nw)
                th.append(nh)
                if fake or (nw, nh) == (w, h):
                    payloads.append(p)          # fake path / already fits
                else:
                    # REAL resize for BMP/PNG: decode, nearest-neighbor
                    # index-sample, re-encode in the SOURCE container --
                    # integer index math, fully deterministic
                    is_png = p[:8] == _PNG_SIG
                    arr = decode_payload(p, "image")
                    ys = (np.arange(nh) * arr.shape[0]) // nh
                    xs = (np.arange(nw) * arr.shape[1]) // nw
                    small = arr[ys][:, xs]
                    payloads.append(encode_png(small) if is_png
                                    else encode_bmp(small))
            yield pd.DataFrame({
                "media_id": pdf["media_id"], "width": pdf["width"], "height": pdf["height"],
                "target_w": tw, "target_h": th, "payload": payloads,
            })

    from pyspark.sql import functions as F
    pruned = (media.filter(F.col("media_type") == "image")
              .select("media_id", "width", "height", "payload"))
    return pruned.mapInPandas(kernel, RESIZE_SCHEMA)


def resolution_gate(media: DataFrame, min_w: int = 64, min_h: int = 64) -> DataFrame:
    """Metadata-only filter: prunes payload bytes at the scan (the whole
    point of keeping width/height out of the blob)."""
    from pyspark.sql import functions as F
    return media.filter(
        (F.col("media_type") != "image")
        | ((F.col("width") >= min_w) & (F.col("height") >= min_h))
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expands each video row into frame
    timestamps (decode itself is the stubbed step).  Spark-side: sequence +
    explode, no Python."""
    from pyspark.sql import functions as F
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )
