"""Multimodal columns: image/audio/video as opaque binary + typed meta.

Design for 100 TB training-data pipelines: media payloads are opaque
``binary`` columns with a typed metadata struct; decode / feature
extraction / resize / frame sampling run as Arrow-batched
``mapInPandas`` kernels so the JVM never materializes decoded frames
and Python sees whole batches.

Decode is REAL for uncompressed container formats, implemented here
with numpy + struct only (both published byte layouts):

* ``image/bmp``   — 24-bit uncompressed Windows BMP (BITMAPINFOHEADER)
* ``image/png``   — 8-bit non-interlaced gray/RGB/RGBA PNG (RFC 2083):
  stdlib zlib inflate + full scanline unfilter (None/Sub/Up/Average/
  Paeth) in numpy — PNG's only non-trivial parts are exactly those two
* ``image/jpeg``  — baseline JPEG (ITU-T T.81): Annex K tables,
  canonical Huffman, IDCT, 4:4:4/4:2:2/4:2:0, restart intervals —
  multimodal/jpeg.py, pure numpy (progressive/arithmetic raise)
* ``audio/wav``   — RIFF/WAVE PCM 16-bit mono
* ``video/x-raw-frames`` — a trivial length-prefixed container of BMP
  frames (magic ``RAWVID01``), standing in for a frame-accurate
  demuxer.

* ``video/mp4``  — METADATA-ONLY via the ISO BMFF box walk
  (multimodal/mp4.py, ISO/IEC 14496-12): real duration / track dims /
  codec fourcc / sample counts from moov; coded frames stay opaque
  (inter-frame codecs need ffmpeg, which is not in this container),
  so frame SAMPLING of MP4 raises while feature extraction is real.
* ``audio/mpeg`` — METADATA-ONLY via the MPEG audio frame-header walk
  (multimodal/mp3.py, ISO/IEC 11172-3): real duration / sample rate /
  bitrate / frame count; psychoacoustic PCM reconstruction stays the
  documented ffmpeg boundary.

Any other compressed mime hits a NotImplementedError in ``mode="real"``
with the ffmpeg/torchaudio integration point documented.
``mode="fake"`` (hash-derived features) remains for payload-agnostic
plumbing tests.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("mime", StringType(), True),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), True),
    ]
)

_KINDS = ("image", "audio", "video")
_MIMES = {"image": "image/bmp", "audio": "audio/wav", "video": "video/x-raw-frames"}
_RAWVID_MAGIC = b"RAWVID01"


# ---------------------------------------------------------------------------
# codecs (pure numpy/struct; published byte layouts)
# ---------------------------------------------------------------------------
def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP bytes."""
    h, w, _ = rgb.shape
    row_size = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    img_size = row_size * h
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return header + dib + rows.tobytes()


def decode_bmp(b: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → (h, w, 3) uint8 RGB."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}")
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(b, dtype=np.uint8, count=row_size * h, offset=off)
    bgr = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    return bgr[::-1, :, ::-1].copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 8-bit truecolor PNG (filter-0 scanlines,
    stdlib zlib deflate)."""
    h, w, _ = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = rgb.reshape(h, w * 3)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(b: bytes) -> np.ndarray:
    """8-bit non-interlaced gray/RGB/RGBA PNG → (h, w, 3) uint8 RGB.

    Full RFC 2083 scanline unfiltering: None and Up are whole-row
    vector ops, Sub is a per-channel-lane cumulative sum, Average and
    Paeth carry a true left-neighbor dependency and run as per-pixel
    loops vectorized across channels. CRCs are not verified (decode,
    not integrity-check, is this kernel's job)."""
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat = 8, []
    w = h = bitd = color = interlace = None
    while pos + 8 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, bitd, color, _, _, interlace = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if bitd != 8 or interlace != 0 or color not in (0, 2, 6):
        raise ValueError(
            f"only 8-bit non-interlaced gray/RGB/RGBA supported "
            f"(bit depth {bitd}, color type {color}, interlace {interlace})"
        )
    ch = {0: 1, 2: 3, 6: 4}[color]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    raw = raw.reshape(h, 1 + w * ch)
    filters, lines = raw[:, 0], raw[:, 1:].astype(np.int32)
    recon = np.zeros((h, w * ch), np.int32)
    prior = np.zeros(w * ch, np.int32)
    for y in range(h):
        f, line = int(filters[y]), lines[y]
        if f == 0:
            cur = line
        elif f == 1:  # Sub: per-lane cumulative sum mod 256
            cur = (line.reshape(w, ch).cumsum(axis=0) % 256).reshape(-1)
        elif f == 2:  # Up
            cur = (line + prior) % 256
        elif f == 3:  # Average (left dependency → pixel loop)
            cur = np.empty(w * ch, np.int32)
            ln2, pr = line.reshape(w, ch), prior.reshape(w, ch)
            left = np.zeros(ch, np.int32)
            for x in range(w):
                left = (ln2[x] + ((left + pr[x]) >> 1)) % 256
                cur[x * ch : (x + 1) * ch] = left
        elif f == 4:  # Paeth (left + upper-left dependency → pixel loop)
            cur = np.empty(w * ch, np.int32)
            ln2, pr = line.reshape(w, ch), prior.reshape(w, ch)
            left = np.zeros(ch, np.int32)
            ul = np.zeros(ch, np.int32)
            for x in range(w):
                a, up, c = left, pr[x], ul
                p = a + up - c
                pa, pb, pc = np.abs(p - a), np.abs(p - up), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, up, c)
                )
                left = (ln2[x] + pred) % 256
                ul = up
                cur[x * ch : (x + 1) * ch] = left
        else:
            raise ValueError(f"unknown PNG filter {f}")
        recon[y] = cur
        prior = cur
    img = recon.astype(np.uint8).reshape(h, w, ch)
    if color == 0:
        return np.repeat(img, 3, axis=-1)
    if color == 6:
        return np.ascontiguousarray(img[..., :3])
    return img


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """int16 mono samples → RIFF/WAVE PCM bytes."""
    data = samples.astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 bytes → (int16 samples, sample_rate)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        sz = struct.unpack_from("<I", b, pos + 4)[0]
        if cid == b"fmt ":
            fmt, ch, rate = struct.unpack_from("<HHI", b, pos + 8)
            if fmt != 1 or ch != 1:
                raise ValueError("only PCM mono supported")
        elif cid == b"data":
            data = np.frombuffer(b, dtype="<i2", count=sz // 2, offset=pos + 8)
        pos += 8 + sz + (sz & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, rate


def encode_rawvid(frames: list[bytes]) -> bytes:
    """BMP frame list → RAWVID01 container (magic, count, len-prefixed)."""
    out = [_RAWVID_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(f)
    return b"".join(out)


def decode_rawvid(b: bytes) -> list[bytes]:
    if b[:8] != _RAWVID_MAGIC:
        raise ValueError("not a RAWVID01 payload")
    (n,) = struct.unpack_from("<I", b, 8)
    pos, frames = 12, []
    for _ in range(n):
        (sz,) = struct.unpack_from("<I", b, pos)
        frames.append(b[pos + 4 : pos + 4 + sz])
        pos += 4 + sz
    return frames


# ---------------------------------------------------------------------------
# deterministic generator (REAL encoded payloads)
# ---------------------------------------------------------------------------
def _image_pixels(seed: int, i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient + hash-seeded texture, (h, w, 3) uint8."""
    d = np.frombuffer(hashlib.sha256(f"{seed}:{i}".encode()).digest(), np.uint8)
    gx = np.linspace(0, 255, w, dtype=np.float64)[None, :]
    gy = np.linspace(0, 255, h, dtype=np.float64)[:, None]
    r = (gx + d[0]) % 256
    g = (gy + d[1]) % 256
    bl = (gx + gy + d[2]) % 256
    return np.stack(
        [np.broadcast_to(r, (h, w)), np.broadcast_to(g, (h, w)), bl],
        axis=-1,
    ).astype(np.uint8)


def _audio_samples(seed: int, i: int, rate: int, duration_ms: int) -> np.ndarray:
    n = rate * duration_ms // 1000
    freq = 110.0 + (i % 32) * 55.0
    t = np.arange(n, dtype=np.float64) / rate
    return (np.sin(2 * np.pi * freq * t) * 12000).astype(np.int16)


def generate_media(
    spark: SparkSession, n: int, seed: int = 42, video_mp4_rotation: bool = False
) -> DataFrame:
    """Deterministic media table with REAL encoded payloads (BMP / PCM
    WAV / RAWVID01). Content is a pure function of (seed, media_id).

    ``video_mp4_rotation=True`` alternates video rows between the
    RAWVID01 container and a structurally valid metadata-only MP4
    (multimodal/mp4.py) whose declared sample count equals the RAWVID
    leg's frame count for the same row — so profile aggregates over f0
    are rotation-invariant. Default off: frame SAMPLING demuxes only
    RAWVID (MP4 frame decode needs ffmpeg), so callers that sample
    frames keep the all-RAWVID contract."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = _KINDS[i % 3]
                width = 32 + (i % 8) * 16 if kind == "image" else None
                height = 32 + (i % 5) * 16 if kind == "image" else None
                rate = 16_000 if kind == "audio" else None
                dur = 200 + (i % 10) * 100 if kind in ("audio", "video") else None
                mime = _MIMES[kind]
                if kind == "image":
                    pixels = _image_pixels(seed, i, width, height)
                    # rotate BMP/PNG/JPEG so ALL THREE real image
                    # codecs flow through the pipeline; f0 (width) and
                    # the dims are codec-independent, so the profile
                    # aggregates are stable even though JPEG is lossy
                    rot = (i // 3) % 3
                    if rot == 1:
                        payload, mime = encode_png(pixels), "image/png"
                    elif rot == 2:
                        from textcleaning_spark.multimodal.jpeg import encode_jpeg

                        payload, mime = (
                            encode_jpeg(pixels, quality=90),
                            "image/jpeg",
                        )
                    else:
                        payload = encode_bmp(pixels)
                elif kind == "audio":
                    payload = encode_wav(_audio_samples(seed, i, rate, dur), rate)
                elif video_mp4_rotation and (i // 3) % 2 == 1:
                    from textcleaning_spark.multimodal.mp4 import encode_mp4

                    n_frames = max(1, dur // 100)
                    opaque = hashlib.sha256(f"{seed}:{i}:mdat".encode()).digest()
                    payload = encode_mp4(
                        dur,
                        video={"width": 16, "height": 12, "n_samples": n_frames},
                        mdat=opaque * 4,
                        version=i % 2,
                    )
                    mime = "video/mp4"
                else:
                    frames = [
                        encode_bmp(_image_pixels(seed, i * 1000 + fi, 16, 12))
                        for fi in range(max(1, dur // 100))
                    ]
                    payload = encode_rawvid(frames)
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "width": width,
                        "height": height,
                        "sample_rate": rate,
                        "duration_ms": dur,
                        "mime": mime,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, 4).mapInPandas(gen, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# kernels
# ---------------------------------------------------------------------------
def _fake_features(payload: bytes) -> list[float]:
    h = hashlib.md5(payload or b"").digest()
    return [round(b / 255.0, 6) for b in h[:FEATURE_DIM]]


def _real_features(payload: bytes, mime: str) -> list[float]:
    if mime in ("image/bmp", "image/png", "image/jpeg"):
        rgb = _decode_image(payload, mime)
        h, w, _ = rgb.shape
        gray = rgb.astype(np.float64).mean(axis=-1)
        f = [w, h, rgb[..., 0].mean(), rgb[..., 1].mean(),
             rgb[..., 2].mean(), gray.std(), w / h, 1.0]
    elif mime == "audio/wav":
        samples, rate = decode_wav(payload)
        x = samples.astype(np.float64) / 32768.0
        zc = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
        f = [len(x) / rate, rate, float(np.sqrt(np.mean(x**2))),
             zc, float(x.min()), float(x.max()), float(np.abs(x).mean()), 2.0]
    elif mime == "video/x-raw-frames":
        frames = decode_rawvid(payload)
        first = decode_bmp(frames[0])
        h, w, _ = first.shape
        f = [len(frames), w, h, float(first.mean()),
             float(first.std()), 0.0, 0.0, 3.0]
    elif mime == "audio/mpeg":
        # MPEG audio frame-header walk (multimodal/mp3.py): REAL
        # duration / rate / bitrate / frame count, no PCM decode.
        from textcleaning_spark.multimodal.mp3 import parse_mp3

        meta = parse_mp3(payload)
        f = [meta["duration_ms"] / 1000.0, meta["sample_rate"],
             meta["bitrate_kbps"], meta["n_frames"], meta["channels"],
             0.0, 0.0, 2.0]
    elif mime == "video/mp4":
        # ISO BMFF box walk (multimodal/mp4.py): REAL container
        # metadata, no frame decode. f0 = declared sample count keeps
        # the per-kind profile aggregates codec-rotation-invariant
        # (the RAWVID leg's f0 is its frame count).
        from textcleaning_spark.multimodal.mp4 import parse_mp4

        meta = parse_mp4(payload)
        vid = next(
            (t for t in meta["tracks"] if t["handler"] == "vide"), None
        )
        if vid is None or not vid["n_samples"]:
            raise ValueError("MP4 without a video track")
        f = [vid["n_samples"], vid["width"] or 0, vid["height"] or 0,
             meta["duration_ms"] / 1000.0, float(len(meta["tracks"])),
             0.0, 0.0, 3.0]
    else:
        raise NotImplementedError(
            f"format {mime!r} needs ffmpeg/torchaudio (psychoacoustic / "
            "inter-frame codecs are not reimplementable here); plug the "
            "codec in here — the Spark plumbing (schema, batching, "
            "partitioning) is identical for the formats already handled"
        )
    return [round(float(v), 6) for v in f]


def _decode_image(payload: bytes, mime: str) -> np.ndarray:
    if mime == "image/bmp":
        return decode_bmp(payload)
    if mime == "image/png":
        return decode_png(payload)
    from textcleaning_spark.multimodal.jpeg import decode_jpeg

    return decode_jpeg(payload)


def extract_features(df: DataFrame, mode: str = "real") -> DataFrame:
    """Decode + feature-extract via mapInPandas (one Arrow batch per
    call; the decoded representation never leaves the Python worker).

    mode="real" decodes BMP/WAV/RAWVID natively (raises for compressed
    mimes); mode="fake" derives payload-hash features (payload-
    agnostic plumbing path)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if mode == "real":
                feats = [
                    _real_features(p, m)
                    for p, m in zip(pdf["payload"], pdf["mime"])
                ]
            else:
                feats = pdf["payload"].map(_fake_features).tolist()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return df.mapInPandas(kernel, FEATURES_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000, mode: str = "real") -> DataFrame:
    """Frame sampling (video rows expand to one row per sampled frame)
    — a mapInPandas row-expanding kernel (UDTF shape). mode="real"
    parses the RAWVID01 container and emits actual BMP frame bytes,
    sampled at ``every_ms`` over the clip duration."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                if r.kind != "video" or r.duration_ms is None:
                    continue
                if mode == "real":
                    if r.mime != "video/x-raw-frames":
                        # MP4 metadata parses (multimodal/mp4.py) but
                        # its coded frames need a real video codec
                        raise NotImplementedError(
                            f"decoding {r.mime!r} frames needs ffmpeg "
                            "(not in this container)"
                        )
                    frames = decode_rawvid(r.payload)
                    ms_per_frame = int(r.duration_ms) / max(len(frames), 1)
                    step = max(1, int(round(every_ms / ms_per_frame)))
                    for fi in range(0, len(frames), step):
                        out.append(
                            {"media_id": r.media_id, "frame_idx": fi,
                             "frame": frames[fi]}
                        )
                else:
                    n_frames = max(1, int(r.duration_ms) // every_ms)
                    for fi in range(n_frames):
                        frame = hashlib.sha256(
                            (r.payload or b"") + fi.to_bytes(4, "big")
                        ).digest()
                        out.append(
                            {"media_id": r.media_id, "frame_idx": fi,
                             "frame": frame}
                        )
            yield pd.DataFrame(out, columns=["media_id", "frame_idx", "frame"])

    return df.mapInPandas(kernel, FRAMES_SCHEMA)


def resize_bmp(p: bytes, mime: str, width: int, height: int) -> bytes:
    """True nearest-neighbor resample of a BMP/PNG/JPEG payload (numpy
    index gather), re-encoded in the same format (JPEG at quality 90);
    other mimes raise (PIL integration point)."""
    if mime not in ("image/bmp", "image/png", "image/jpeg"):
        raise NotImplementedError(
            f"resizing {mime!r} needs PIL (not in this container)"
        )
    rgb = _decode_image(p, mime)
    h, w, _ = rgb.shape
    yi = (np.arange(height) * h // height).clip(0, h - 1)
    xi = (np.arange(width) * w // width).clip(0, w - 1)
    out = rgb[yi[:, None], xi[None, :]]
    if mime == "image/bmp":
        return encode_bmp(out)
    if mime == "image/png":
        return encode_png(out)
    from textcleaning_spark.multimodal.jpeg import encode_jpeg

    return encode_jpeg(out, quality=90)


def resize_images(df: DataFrame, width: int, height: int, mode: str = "real") -> DataFrame:
    """Image resize via mapInPandas. mode="real" is a TRUE nearest-
    neighbor resample of the decoded BMP (numpy index gather), re-
    encoded to BMP; non-BMP mimes raise (PIL integration point)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = pdf["kind"] == "image"
            pdf = pdf.copy()
            pdf.loc[mask, "width"] = width
            pdf.loc[mask, "height"] = height
            if mode == "real":
                pdf.loc[mask, "payload"] = [
                    resize_bmp(p, m, width, height)
                    for p, m in zip(pdf.loc[mask, "payload"], pdf.loc[mask, "mime"])
                ]
            else:
                pdf.loc[mask, "payload"] = pdf.loc[mask, "payload"].map(
                    lambda p: hashlib.sha256((p or b"") + b"resized").digest()
                )
            yield pdf

    return df.mapInPandas(kernel, MEDIA_SCHEMA)
