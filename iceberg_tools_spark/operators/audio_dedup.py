"""Perceptual AUDIO dedup — a spectral-band fingerprint over
really-decoded samples (the audio sibling of `image_dedup`,
completing the near-dup family: text, embedding, image, audio).

Haitsma-Kalker shape: split the decoded waveform into 8 time
windows, measure energy in 9 linearly-spaced frequency bands
per window (`numpy.fft.rfft` — deterministic pocketfft), and take
the SIGN of the band-to-band energy derivative as one bit → 8 × 8 =
64 bits packed into a signed int64. Uniform gain multiplies every
band energy by the same factor, so the derivative signs — and the
fingerprint — barely move; a lossless re-encode (WAV ↔ FLAC of the
same PCM) decodes to identical samples and hashes identically.

The Spark shape is exactly `image_dedup`'s: one Arrow-batched
decode+hash kernel, then the shared banded Hamming join
(`image_dedup.banded_hamming_pairs`) — JVM expressions end to end
after the hash column exists.
"""

from __future__ import annotations

import hashlib
import io
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .flac import encode_flac
from .image_dedup import banded_hamming_pairs
from .multimodal import decode_media

N_WINDOWS = 8
N_BANDS_FREQ = 9  # 9 band energies → 8 derivative bits per window
AUDIO_HAMMING_NEAR_DUP = 6


def afp64(samples: np.ndarray, rate: int) -> int:
    """64-bit spectral fingerprint of ((n, ch) float32, rate)."""
    mono = samples.mean(axis=1) if samples.ndim == 2 else samples
    n = len(mono)
    win = n // N_WINDOWS
    if win < 2 * N_BANDS_FREQ:
        raise ValueError(f"audio too short to fingerprint ({n} samples)")
    bits: list[int] = []
    for w in range(N_WINDOWS):
        seg = mono[w * win : (w + 1) * win]
        mag = np.abs(np.fft.rfft(seg.astype(np.float64)))
        m = len(mag)
        # LINEAR band edges over [1, m) — index 0 (DC) excluded.
        # (Perceptual systems use log bands; linear spreads a
        # uniform tone range evenly across all 9 bands, which is
        # what maximizes the fingerprint's discriminative power
        # over generic content.)
        edges = np.unique(
            np.linspace(1, m - 1, N_BANDS_FREQ + 1).astype(np.int64)
        )
        while len(edges) < N_BANDS_FREQ + 1:  # tiny windows: pad
            edges = np.unique(np.append(edges, edges[-1] + 1))
        energies = [
            float((mag[edges[b] : edges[b + 1]] ** 2).sum())
            for b in range(N_BANDS_FREQ)
        ]
        bits.extend(
            1 if energies[b + 1] > energies[b] else 0
            for b in range(N_BANDS_FREQ - 1)
        )
    val = np.uint64(0)
    for b in bits[:64]:
        val = (val << np.uint64(1)) | np.uint64(b)
    return int(val.astype(np.int64))


AFP_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("group_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("afp", T.LongType()),
    ]
)


def audio_fingerprint_df(df: DataFrame) -> DataFrame:
    """(item_id, group_id, variant, afp) via one Arrow-batched
    decode (WAV or FLAC) + fingerprint kernel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = []
            for payload in pdf["payload"]:
                samples, rate = decode_media(bytes(payload), "audio")
                fps.append(afp64(samples, rate))
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "group_id": pdf["group_id"].astype("int64"),
                    "variant": pdf["variant"],
                    "afp": pd.Series(fps, dtype="int64"),
                }
            )

    return df.mapInPandas(kernel, AFP_SCHEMA)


# ------------------------------------------------ corpus + gate


def _wav_bytes(pcm: np.ndarray, rate: int) -> bytes:
    """int16 (n, ch) PCM → WAV container, bytes EXACT (no float
    round-trip — the same PCM feeds the FLAC encoder, so the two
    variants decode to identical samples)."""
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(pcm.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.astype("<i2").tobytes())
    return buf.getvalue()


def make_audio_corpus(spark: SparkSession, n_groups: int = 12) -> DataFrame:
    """Deterministic audio corpus: per group an 8-note MELODY (one
    md5-derived tone per fingerprint window — a stationary chord
    would repeat one 8-bit spectrum pattern 8×, collapsing the hash
    space; distinct per-window notes use all 64 bits), in THREE
    variants — WAV, the SAME int16 PCM as FLAC (lossless: decodes
    identically), and a half-gain copy (uniform scale — derivative
    signs preserved up to quantization). 4,096 samples at 16 kHz.
    No RNG anywhere."""
    rate, n = 16000, 4096
    rows = []
    for g in range(n_groups):
        dig = hashlib.md5(f"audiodedup-{g}".encode()).digest() + hashlib.md5(
            f"audiodedup-{g}:b".encode()
        ).digest()
        win = n // N_WINDOWS
        t = np.arange(win, dtype=np.float64) / rate
        # 3 md5-derived tones per window spread across the full band
        # range — one lone tone makes a one-hot (≤1 bit) spectrum
        # pattern and an 8-value alphabet that collides across groups
        wavf = np.concatenate(
            [
                sum(
                    a * np.sin(2 * np.pi * (150 + dig[3 * w + j] * 30) * t)
                    for j, a in enumerate((0.25, 0.18, 0.12))
                )
                for w in range(N_WINDOWS)
            ]
        )
        pcm = np.round(wavf * 32000).astype(np.int16)
        half = (pcm // 2).astype(np.int16)
        for v, (variant, payload) in enumerate(
            (
                ("wav", _wav_bytes(pcm, rate)),
                ("flac", encode_flac(pcm[:, None], rate)),
                ("halfgain", _wav_bytes(half, rate)),
            )
        ):
            rows.append((g * 10 + v, g, variant, bytearray(payload)))
    return local_frame(
        spark, rows, "item_id long, group_id long, variant string, payload binary"
    )


def dedup_audio_afp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate (``sf_dir`` unused): 12 groups × 3 variants
    (WAV + lossless FLAC re-encode + half-gain) → spectral
    fingerprint → banded Hamming join. The oracle pins the exact
    accounting: every within-group pair found (re-encodes at
    Hamming 0), zero cross-group pairs."""
    corpus = make_audio_corpus(spark)
    hashed = audio_fingerprint_df(corpus).localCheckpoint()
    pairs = banded_hamming_pairs(
        hashed, hash_col="afp", max_hamming=AUDIO_HAMMING_NEAR_DUP
    )
    joined = (
        pairs.join(
            hashed.select(F.col("item_id").alias("ia"), F.col("group_id").alias("ga")),
            "ia",
        )
        .join(
            hashed.select(F.col("item_id").alias("ib"), F.col("group_id").alias("gb")),
            "ib",
        )
    )
    return (
        joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("ga") == F.col("gb")).cast("long")).alias("same_group_pairs"),
            F.sum((F.col("hamming") == 0).cast("long")).alias("exact_hash_pairs"),
            F.max("hamming").cast("long").alias("max_hamming"),
        )
        .crossJoin(hashed.agg(F.count(F.lit(1)).cast("long").alias("n_clips")))
        .select("n_clips", "n_pairs", "same_group_pairs", "exact_hash_pairs",
                "max_hamming")
    )


DEDUP_AUDIO_SQL = """
SELECT CAST(36 AS BIGINT) AS n_clips,
       CAST(36 AS BIGINT) AS n_pairs,
       CAST(36 AS BIGINT) AS same_group_pairs,
       CAST(36 AS BIGINT) AS exact_hash_pairs,
       CAST(0 AS BIGINT) AS max_hamming
FROM (VALUES (1)) t(x)
"""
