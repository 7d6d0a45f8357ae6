"""Multimodal column plumbing (SURVEY.md §2.4).

Images/audio/video ride through the engine as opaque ``binary``
payload columns with typed metadata; the per-item compute (decode,
feature extraction, resize, frame sampling) runs as Arrow-batched
``mapInPandas`` transforms — the correct Spark shape for Python
media libraries: one Python worker call per Arrow batch, columnar
transfer both ways, schema declared up front.

Decode support is tiered by what a jarless/codec-less sandbox can
genuinely do:

* REAL pure-Python decoders (``decode_media``) for the container
  formats decodable with stdlib+numpy alone — BMP (24-bit
  uncompressed), PPM (binary ``P6``), PNG (zlib), huffman JPEG —
  baseline AND progressive, incl. 4:2:0/4:2:2 subsampling and
  restart intervals (pure-numpy T.81 codec, ``operators/jpeg.py``),
  WAV (PCM 8/16-bit via the stdlib ``wave`` module) — plus matching
  encoders for building fixtures. ``extract_features`` sniffs magic
  bytes and computes real 16-dim statistical features from decoded
  pixels/samples.
* A clearly-marked deterministic fake (md5-driven,
  ``fake_feature``) for payloads in formats whose codecs are not in
  this container (MP3, MP4, arithmetic-coded JPEG…).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)

FEATURE_DIM = 16


# ----------------------------- real decoders (stdlib + numpy) ------


def _decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed (BI_RGB) BMP → (H, W, 3) uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=pix_off
    ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR → RGB


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (`P6`) → (H, W, 3) uint8 RGB. maxval ≤ 255."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: P6 <w> <h> <maxval> with whitespace/comments between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    return (
        np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG per-scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth). Returns (h, stride) uint8 of reconstructed bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    raw = raw.reshape(h, stride + 1)
    for y in range(h):
        ftype, line = raw[y, 0], raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        if ftype == 0:  # None
            rec = line
        elif ftype == 1:  # Sub: cumulative per byte-lane mod 256
            rec = line.reshape(-1, bpp).cumsum(axis=0).reshape(-1)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential in x
            rec = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                # predictors read RECONSTRUCTED (mod-256) neighbors,
                # so each byte is masked as it is produced
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 3:
                    rec[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = rec & 0xFF
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG → (H, W, 3) uint8 RGB, pure stdlib-zlib + numpy (public
    spec, RFC 2083 / W3C PNG). Supports 8-bit depth, color types 0
    (gray, expanded), 2 (RGB) and 6 (RGBA, alpha dropped),
    non-interlaced — the shapes an encode→decode fixture pipeline
    and typical ML corpora produce. Interlaced/16-bit/palette raise
    and fall back to the fake kernel like any other undecodable
    blob."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, b"", None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack_from(">I", payload, pos), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            meta = (w, h, depth, color, comp, filt, interlace)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = meta
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(f"unsupported PNG: depth={depth} interlace={interlace}")
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color}")
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError("PNG pixel data size mismatch")
    rec = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if channels == 1:
        return np.repeat(rec, 3, axis=2)
    return rec[..., :3].copy()


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → ((n_samples, n_channels) float32 in [-1, 1], rate)."""
    with wave.open(io.BytesIO(payload)) as wf:
        n_ch, sampwidth, rate = wf.getnchannels(), wf.getsampwidth(), wf.getframerate()
        raw = wf.readframes(wf.getnframes())
    if sampwidth == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sampwidth == 1:  # 8-bit WAV is unsigned
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    return samples.reshape(-1, n_ch), rate


def decode_media(payload: bytes, modality: str):
    """REAL decode for sandbox-decodable containers.

    Returns ``(H, W, 3) uint8`` for images (BMP / P6 PPM / PNG via
    stdlib zlib / huffman JPEG via the pure-numpy T.81 codec) and
    ``((n_samples, n_channels) float32, sample_rate)`` for audio
    (PCM WAV). Codecs needing third-party libs (MP3/MP4…) are not
    available in this container — those payloads raise ValueError
    and the pipeline falls back to the deterministic fake kernel.
    """
    if modality == "image":
        if payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload[:2] == b"P6":
            return _decode_ppm(payload)
        if payload[:8] == _PNG_MAGIC:
            return _decode_png(payload)
        if payload[:2] == b"\xff\xd8":
            # baseline AND progressive huffman JPEG, any sampling
            # (4:4:4/4:2:0/4:2:2/gray), restart intervals — pure-
            # numpy T.81 decoder (operators/jpeg.py); arithmetic/
            # 12-bit/hierarchical raise and fall back like any
            # undecodable blob
            from .jpeg import decode_jpeg

            return decode_jpeg(payload)
        raise ValueError("undecodable image format (only BMP/PPM/PNG/baseline-JPEG in-sandbox)")
    if modality == "audio":
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return _decode_wav(payload)
        if payload[:4] == b"fLaC":
            # full-vocabulary pure-Python FLAC decoder (CONSTANT/
            # VERBATIM/FIXED/LPC subframes, rice+rice2 residuals,
            # L-S/R-S/M-S decorrelation, CRC-verified) —
            # operators/flac.py
            from .flac import decode_flac

            return decode_flac(payload)
        raise ValueError("undecodable audio format (only PCM WAV / FLAC in-sandbox)")
    raise ValueError(f"no in-sandbox decoder for modality {modality!r}")


# ----------------------------- encoders (fixture builders) ----------


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → 24-bit BI_RGB BMP bytes."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pix = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + dib + pix


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → binary P6 PPM bytes."""
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def encode_png(arr: np.ndarray, *, filter_type: int = 0) -> bytes:
    """(H, W, 3) uint8 RGB → PNG bytes (8-bit, color type 2,
    non-interlaced, one IDAT). ``filter_type`` applies one filter to
    every scanline — 0 (None) for the plain fixture, 1/2/4
    (Sub/Up/Paeth) to exercise the decoder's unfilter paths."""
    h, w, _ = arr.shape
    a = arr.astype(np.int32)
    lines = []
    for y in range(h):
        row = a[y].reshape(-1)
        if filter_type == 0:
            filt = row
        elif filter_type == 1:  # Sub
            left = np.concatenate([np.zeros(3, dtype=np.int32), row[:-3]])
            filt = row - left
        elif filter_type == 2:  # Up
            filt = row - (a[y - 1].reshape(-1) if y else np.zeros(w * 3, dtype=np.int32))
        elif filter_type == 4:  # Paeth
            left = np.concatenate([np.zeros(3, dtype=np.int32), row[:-3]])
            up = a[y - 1].reshape(-1) if y else np.zeros(w * 3, dtype=np.int32)
            ul = np.concatenate([np.zeros(3, dtype=np.int32), up[:-3]])
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
            filt = row - pred
        else:
            raise ValueError(f"unsupported encode filter {filter_type}")
        lines.append(bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_samples,) or (n_samples, n_ch) float32 in [-1, 1] → 16-bit
    PCM WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def _image_feature(arr: np.ndarray) -> list[float]:
    """16-dim statistical feature from decoded (H, W, 3) uint8 RGB:
    per-channel mean/std, global mean/std, horizontal/vertical
    gradient energy, 4-bin luminance histogram, aspect ratio,
    log-scaled pixel count."""
    a = arr.astype(np.float32) / 255.0
    h, w = arr.shape[:2]
    ch_mean = a.mean(axis=(0, 1))
    ch_std = a.std(axis=(0, 1))
    lum = a.mean(axis=2)
    gx = float(np.abs(np.diff(lum, axis=1)).mean()) if w > 1 else 0.0
    gy = float(np.abs(np.diff(lum, axis=0)).mean()) if h > 1 else 0.0
    hist = np.histogram(lum, bins=4, range=(0.0, 1.0))[0] / lum.size
    return [
        *ch_mean.tolist(),
        *ch_std.tolist(),
        float(a.mean()),
        float(a.std()),
        gx,
        gy,
        *hist.tolist(),
        w / max(h, 1),
        float(np.log1p(h * w) / 20.0),
    ]


def _audio_feature(samples: np.ndarray, rate: int) -> list[float]:
    """16-dim statistical feature from decoded float32 PCM:
    mean/std/min/max, RMS, zero-crossing rate, channel count,
    normalized rate, 8-bin amplitude histogram."""
    mono = samples.mean(axis=1)
    zcr = float(np.mean(np.abs(np.diff(np.signbit(mono))))) if mono.size > 1 else 0.0
    hist = np.histogram(mono, bins=8, range=(-1.0, 1.0))[0] / max(mono.size, 1)
    return [
        float(mono.mean()) if mono.size else 0.0,
        float(mono.std()) if mono.size else 0.0,
        float(mono.min()) if mono.size else 0.0,
        float(mono.max()) if mono.size else 0.0,
        float(np.sqrt(np.mean(mono**2))) if mono.size else 0.0,
        zcr,
        float(samples.shape[1]),
        rate / 48000.0,
        *hist.tolist(),
    ]


def real_or_fake_feature(payload: bytes, modality: str) -> list[float]:
    """REAL statistical feature for in-sandbox-decodable payloads
    (BMP/PPM images, PCM WAV audio); deterministic ``fake_feature``
    fallback for everything else (compressed codecs, video).

    The fallback must absorb *malformed* real-format payloads too: a
    truncated BMP raises ``struct.error`` from ``unpack_from``, a
    RIFF header over a garbage body raises ``wave.Error``, and a
    garbage chunk length raises bare ``RuntimeError`` from the
    stdlib wave seek — the malformed-blob exception surface is
    open-ended, so the decode attempt is fully fenced: any failure
    means "not sandbox-decodable", never a failed Arrow batch
    (ADVICE r4)."""
    try:
        decoded = decode_media(bytes(payload), modality)
    except Exception:
        return fake_feature(payload)
    if modality == "image":
        return _image_feature(decoded)
    samples, rate = decoded
    return _audio_feature(samples, rate)


def fake_feature(payload: bytes) -> list[float]:
    """Deterministic FAKE 'decode+embed': md5-expanded bytes mapped
    to FEATURE_DIM floats in [0, 1). Stands in for a real
    decode→model feature kernel; same input ⇒ same output."""
    h = hashlib.md5(payload).digest()
    while len(h) < FEATURE_DIM * 2:
        h += hashlib.md5(h).digest()
    return [int.from_bytes(h[2 * i : 2 * i + 2], "big") / 65536.0 for i in range(FEATURE_DIM)]


def make_synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic corpus: payload bytes derived from the
    item id (no RNG), modality round-robin."""
    rows = []
    for i in range(n):
        payload = hashlib.md5(f"media{i}".encode()).digest() * (4 + i % 5)
        modality = ("image", "audio", "video")[i % 3]
        rows.append(
            (
                i,
                modality,
                payload,
                64 + i % 16 if modality != "audio" else None,
                48 + i % 8 if modality != "audio" else None,
                16000 if modality == "audio" else None,
                30 if modality == "video" else None,
            )
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    Payloads in sandbox-decodable containers (BMP/PPM/PCM-WAV) get
    REAL statistical features from the decoded pixels/samples; all
    others fall back to the deterministic fake kernel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": [
                        real_or_fake_feature(p, m)
                        for p, m in zip(pdf["payload"], pdf["modality"])
                    ],
                }
            )

    return df.mapInPandas(kernel, FEATURES_SCHEMA)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """'Resize': metadata transform + payload kernel pass-through
    (the real kernel would re-encode pixels; the fake truncates or
    pads payload deterministically to simulate size change)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scale = (target_w * target_h) / (pdf["width"] * pdf["height"]).clip(lower=1)
            new_len = (pdf["payload"].map(len) * scale).clip(lower=8).astype("int64")
            pdf = pdf.copy()
            pdf["payload"] = [
                (p * (int(l) // max(len(p), 1) + 1))[: int(l)]
                for p, l in zip(pdf["payload"], new_len)
            ]
            pdf["width"] = target_w
            pdf["height"] = target_h
            yield pdf

    return df.filter(F.col("modality") == "image").mapInPandas(kernel, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """'Frame sampling' for videos: keeps 1-in-every_n frames worth
    of payload and updates n_frames metadata."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            keep = (pdf["n_frames"].fillna(0) // every_n).clip(lower=1).astype("int32")
            pdf["payload"] = [
                p[: max(8, len(p) // max(int(pdf["n_frames"].iloc[i] or 1), 1) * int(k))]
                for i, (p, k) in enumerate(zip(pdf["payload"], keep))
            ]
            pdf["n_frames"] = keep
            yield pdf

    return df.filter(F.col("modality") == "video").mapInPandas(kernel, MEDIA_SCHEMA)


# --------------------- container probing (REAL MP4/MP3 parsing, r8)

PROBE_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("container", T.StringType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("n_units", T.LongType(), True),  # frames/samples
        T.StructField("is_vbr", T.BooleanType(), True),
    ]
)


def probe_one(payload: bytes, modality: str) -> dict:
    """Container-level metadata for ONE payload — REAL parsing for
    every format the sandbox can structurally read: ISO BMFF box
    walk + sample tables for MP4, frame-header walk for MP3
    (``operators/media_containers.py``), pixel-header decode for
    BMP/PPM/PNG/JPEG, PCM header for WAV. Only the codec TRANSFORM
    of compressed audio/video samples stays out-of-sandbox; the
    container metadata a curation pipeline filters on is real."""
    p = bytes(payload)
    out = {"container": "unknown", "codec": None, "width": None,
           "height": None, "duration_s": None, "n_units": None,
           "is_vbr": None}
    try:
        if len(p) >= 8 and p[4:8] == b"ftyp":
            from .media_containers import parse_mp4

            meta = parse_mp4(p)
            out["container"] = "mp4"
            out["duration_s"] = meta["duration_s"]
            vids = [t for t in meta["tracks"] if t["handler"] == "vide"]
            if vids:
                t = vids[0]
                out["codec"] = t["codec"]
                out["width"], out["height"] = t["width"], t["height"]
                out["n_units"] = t["n_samples"]
                if out["duration_s"] is None:
                    out["duration_s"] = t["duration_s"]
        elif p[:4] == b"fLaC":
            from .media_containers import parse_flac

            meta = parse_flac(p)
            out.update(
                container="flac", codec="flac", duration_s=meta["duration_s"],
                n_units=meta["total_samples"], is_vbr=None,
            )
        elif p[:4] == b"OggS":
            from .media_containers import parse_ogg

            meta = parse_ogg(p)
            out.update(
                container="ogg", codec=meta["codec"],
                duration_s=meta["duration_s"], n_units=meta["n_packets"],
                is_vbr=None,
            )
        elif p[:3] == b"ID3" or (len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0):
            from .media_containers import parse_mp3

            meta = parse_mp3(p)
            out.update(
                container="mp3", codec="mp3", duration_s=meta["duration_s"],
                n_units=meta["n_frames"], is_vbr=meta["is_vbr"],
            )
        elif modality == "image":
            arr = decode_media(p, "image")
            fmt = ("bmp" if p[:2] == b"BM" else "ppm" if p[:2] == b"P6"
                   else "png" if p[:8] == _PNG_MAGIC else "jpeg")
            out.update(container=fmt, codec=fmt,
                       width=int(arr.shape[1]), height=int(arr.shape[0]),
                       n_units=1)
        elif modality == "audio":
            samples, rate = decode_media(p, "audio")
            out.update(container="wav", codec="pcm",
                       duration_s=len(samples) / rate if rate else None,
                       n_units=len(samples))
    except Exception:
        out = {"container": "unknown", "codec": None, "width": None,
               "height": None, "duration_s": None, "n_units": None,
               "is_vbr": None}
    return out


def probe_media(df: DataFrame) -> DataFrame:
    """Arrow-batched container probe over the payload column — the
    metadata-extraction stage of a media curation pipeline (filter
    by codec/duration/dimensions BEFORE any expensive decode)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            probed = [
                probe_one(p, m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"],
                    "modality": pdf["modality"],
                    **{
                        k: [pr[k] for pr in probed]
                        for k in ("container", "codec", "width", "height",
                                  "duration_s", "n_units", "is_vbr")
                    },
                }
            )

    return df.mapInPandas(kernel, PROBE_SCHEMA)


def sample_frames_mp4(df: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL frame sampling for MP4 payloads: keep every Nth sample's
    actual byte range (resolved through the parsed stsc/stco/stsz
    sample table), concatenated into the output payload; non-BMFF
    video payloads fall back to the proportional heuristic of
    :func:`sample_frames`."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_containers import mp4_sample_bytes, parse_mp4

        for pdf in batches:
            pdf = pdf.copy()
            payloads, counts = [], []
            for p, nf in zip(pdf["payload"], pdf["n_frames"]):
                p = bytes(p)
                try:
                    meta = parse_mp4(p)
                    vids = [t for t in meta["tracks"] if t["handler"] == "vide"]
                    kept = mp4_sample_bytes(p, vids[0], every_n=every_n)
                    payloads.append(b"".join(b for _, b in kept))
                    counts.append(len(kept))
                except Exception:
                    n = int(nf or 1)
                    k = max(1, n // every_n)
                    payloads.append(p[: max(8, len(p) // n * k)])
                    counts.append(k)
            pdf["payload"] = payloads
            pdf["n_frames"] = pd.array(counts, dtype="int32")
            yield pdf

    return df.filter(F.col("modality") == "video").mapInPandas(kernel, MEDIA_SCHEMA)


def make_container_corpus(spark: SparkSession) -> DataFrame:
    """Deterministic mixed-container fixture: REAL encodings across
    every container the probe understands (BMP/PPM/PNG/WAV via this
    module's encoders, MP4/MP3 via ``media_containers`` builders)
    plus junk payloads that must land in the ``unknown`` bucket.
    SF-independent by design so the driver oracle can be golden."""
    from .media_containers import build_flac, build_mp3, build_mp4, build_ogg_opus

    rows: list[tuple] = []

    def add(modality: str, payload: bytes, w=None, h=None, sr=None, nf=None):
        rows.append((len(rows), modality, payload, w, h, sr, nf))

    for i in range(4):  # BMP
        w, h = 8 + 2 * i, 6 + i
        arr = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)
        add("image", encode_bmp(arr), w, h)
    for i in range(3):  # PNG
        w, h = 5 + i, 4 + i
        arr = ((np.arange(h * w * 3) * 7 + i) % 256).astype(np.uint8).reshape(h, w, 3)
        add("image", encode_png(arr), w, h)
    for i in range(2):  # PPM
        w, h = 6 + i, 3 + i
        arr = ((np.arange(h * w * 3) * 11) % 256).astype(np.uint8).reshape(h, w, 3)
        add("image", encode_ppm(arr), w, h)
    for i in range(3):  # WAV (PCM16)
        n = 800 + 160 * i
        samples = (np.sin(np.arange(n) * 0.05) * 12000).astype(np.int16)
        add("audio", encode_wav(samples, 16000), sr=16000)
    for i in range(3):  # MP4
        add("video", build_mp4(n_samples=10 + 4 * i, width=32 * (i + 1),
                               height=24 * (i + 1), fps=5 + i, seed=i),
            32 * (i + 1), 24 * (i + 1), nf=10 + 4 * i)
    add("audio", build_mp3(n_frames=24, bitrate_pattern=(9,), with_id3=True, seed=2))
    add("audio", build_mp3(n_frames=30, bitrate_pattern=(5, 9, 12), seed=3))  # VBR
    add("audio", build_mp3(n_frames=18, bitrate_pattern=(7,), seed=4))
    add("audio", build_flac(sample_rate=44100, total_samples=88200, seed=5))
    add("audio", build_flac(sample_rate=16000, channels=1, total_samples=24000, seed=6))
    add("audio", build_ogg_opus(n_audio_packets=10, seed=7))
    add("audio", build_ogg_opus(n_audio_packets=25, samples_per_packet=1920, seed=8))
    for i in range(2):  # junk → unknown
        add("image", hashlib.md5(f"junk{i}".encode()).digest() * 3)
    return local_frame(spark, rows, MEDIA_SCHEMA)


def media_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gateable rollup of :func:`probe_media` over the
    deterministic mixed-container corpus (``sf_dir`` unused — the
    fixture is SF-independent, so the oracle is golden VALUES).

    Scale shape: the probe is one Arrow-batched ``mapInPandas`` pass
    over the payload column — per-row container header parsing, no
    shuffle; the rollup is a single partial-aggregated groupBy on a
    handful of container keys. At 100 TB this is the cheap
    filter-before-decode stage, and the aggregate output is KB."""
    probed = probe_media(make_container_corpus(spark))
    return (
        probed.groupBy("container")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.coalesce(F.col("n_units"), F.lit(0))).cast("long").alias("units_total"),
            F.sum(F.coalesce(F.col("width"), F.lit(0))).cast("long").alias("width_total"),
            F.sum(F.coalesce(F.col("height"), F.lit(0))).cast("long").alias("height_total"),
            F.sum(
                F.round(F.coalesce(F.col("duration_s"), F.lit(0.0)) * 1000)
            ).cast("long").alias("duration_ms_total"),
            F.sum(F.when(F.col("is_vbr"), 1).otherwise(0)).cast("long").alias("n_vbr"),
        )
        .orderBy("container")
    )


# Golden oracle for the SF-independent container-probe rollup: the
# fixture is deterministic (no RNG, no clock), so expected values are
# pinned literals — mp3 duration = round(frames*1152/44100*1000) per
# item, mp4 = n_samples/fps, wav = n_samples/rate (hand-derived in
# tests/test_media_containers.py as well).
MEDIA_PROBE_SQL = """
SELECT container,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(units_total AS BIGINT) AS units_total,
       CAST(width_total AS BIGINT) AS width_total,
       CAST(height_total AS BIGINT) AS height_total,
       CAST(duration_ms_total AS BIGINT) AS duration_ms_total,
       CAST(n_vbr AS BIGINT) AS n_vbr
FROM (VALUES
  ('bmp',     4,      4,  44, 30,    0, 0),
  ('flac',    2, 112200,   0,  0, 3500, 0),
  ('mp3',     3,     72,   0,  0, 1881, 1),
  ('mp4',     3,     42, 192, 144, 6904, 0),
  ('ogg',     2,     39,   0,  0, 1200, 0),
  ('png',     3,      3,  18, 15,    0, 0),
  ('ppm',     2,      2,  13,  7,    0, 0),
  ('unknown', 2,      0,   0,  0,    0, 0),
  ('wav',     3,   2880,   0,  0,  180, 0)
) t(container, n_items, units_total, width_total, height_total,
    duration_ms_total, n_vbr)
ORDER BY container
"""


def media_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for REAL MP4 frame sampling: every 3rd sample of
    each fixture MP4 is sliced out of ``mdat`` via the parsed
    stsc×stco×stsz table; the rollup pins how many samples were
    kept and exactly how many payload bytes they cover (byte counts
    come from the sample table, so a slicing bug shifts them).
    Golden oracle — the fixture corpus is deterministic and
    SF-independent (``sf_dir`` unused)."""
    corpus = make_container_corpus(spark).filter(F.col("modality") == "video")
    sampled = sample_frames_mp4(corpus, every_n=3)
    return sampled.select(
        "item_id",
        F.col("n_frames").cast("long").alias("frames_kept"),
        F.length("payload").cast("long").alias("payload_bytes"),
    ).orderBy("item_id")


MEDIA_FRAME_SAMPLE_SQL = """
SELECT CAST(item_id AS BIGINT) AS item_id,
       CAST(frames_kept AS BIGINT) AS frames_kept,
       CAST(payload_bytes AS BIGINT) AS payload_bytes
FROM (VALUES (12, 4, 150), (13, 5, 344), (14, 6, 335))
  t(item_id, frames_kept, payload_bytes)
ORDER BY item_id
"""
