"""Perceptual VIDEO dedup — per-frame dHash over an MJPEG-style MP4
track, the capstone composition of three REAL in-sandbox codecs:
the ISO-BMFF box/sample-table walk (`media_containers.parse_mp4` +
byte-exact mdat slicing), the pure-numpy T.81 JPEG codec
(`operators/jpeg.py`), and the image dHash (`image_dedup.dhash64`).

Pipeline (one Arrow-batched kernel per clip):

  parse_mp4 → slice EVERY video sample's bytes → decode_jpeg each →
  dhash64 per frame → the clip's fingerprint = its frame-hash list.

Clip-level near-dup: explode (clip, frame_idx, frame_hash), run the
SAME banded Hamming join the image/audio dedupers share on the
frame hashes, then group pair hits by (clip_a, clip_b) — two clips
are near-duplicates when ≥ ``MIN_FRAME_MATCH_FRAC`` of their frames
match (re-encoded-at-different-quality copies match on every frame
at small Hamming; unrelated clips share no frames). This is the
standard video-copy-detection shape (frame fingerprints + temporal
voting), with the voting as a plain groupBy.

Scale: the Python boundary is one decode+hash pass per clip —
embarrassingly parallel; everything after the exploded hash column
is Catalyst (the shared band join + one aggregation).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .image_dedup import banded_hamming_pairs, dhash64, smooth_texture
from .jpeg import decode_jpeg, encode_jpeg
from .media_containers import build_mp4, mp4_sample_bytes, parse_mp4

FRAME_HAMMING = 6
MIN_FRAME_MATCH_FRAC = 0.6

FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("group_id", T.LongType()),
        T.StructField("variant", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("fhash", T.LongType()),
    ]
)


def video_frame_hashes(df: DataFrame) -> DataFrame:
    """(item_id, group_id, variant, n_frames, frame_idx, fhash):
    one row per decoded frame, via one Arrow-batched
    parse→slice→decode→hash kernel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in FRAME_HASH_SCHEMA}
            for item_id, group_id, variant, payload in zip(
                pdf["item_id"], pdf["group_id"], pdf["variant"], pdf["payload"]
            ):
                p = bytes(payload)
                meta = parse_mp4(p)
                (track,) = [t for t in meta["tracks"] if t["handler"] == "vide"]
                frames = mp4_sample_bytes(p, track, every_n=1)
                for idx, (_, blob) in enumerate(frames):
                    h = dhash64(decode_jpeg(blob))
                    out["item_id"].append(int(item_id))
                    out["group_id"].append(int(group_id))
                    out["variant"].append(variant)
                    out["n_frames"].append(len(frames))
                    out["frame_idx"].append(idx)
                    out["fhash"].append(h)
            yield pd.DataFrame(out)

    return df.mapInPandas(kernel, FRAME_HASH_SCHEMA)


def near_dup_video_pairs(
    frames: DataFrame,
    *,
    frame_hamming: int = FRAME_HAMMING,
    min_match_frac: float = MIN_FRAME_MATCH_FRAC,
) -> DataFrame:
    """(ia, ib, matched_frames, frac_a) clip pairs by frame-hash
    voting over the shared banded Hamming join."""
    # frame identity for the band join: clip id in the high 32 bits,
    # frame index in the low 32 (ADVICE r9: a ×1000 packing aliased
    # across clips at ≥1,000 frames — a 40-second 30 fps clip). The
    # inlined raise_error keeps the packing injective for any input
    # the operator accepts without a separate validation pass.
    fid = F.expr(
        "IF(item_id < 0 OR item_id >= 2147483648"
        "   OR frame_idx < 0 OR frame_idx >= 4294967296,"
        "   CAST(raise_error('frame identity packing needs"
        " 0 <= item_id < 2^31 and 0 <= frame_idx < 2^32') AS BIGINT),"
        "   item_id * 4294967296 + frame_idx)"
    )
    tagged = frames.select(
        fid.alias("fid"),
        "item_id",
        "n_frames",
        "fhash",
    )
    pairs = banded_hamming_pairs(
        tagged, hash_col="fhash", id_col="fid", max_hamming=frame_hamming,
        # 8 × 8-bit bands: a lossy re-compress flips up to ~FRAME_
        # HAMMING scattered bits, and pigeonhole only guarantees a
        # clean band up to n_bands − 1 flips — 4 × 16 missed pairs
        # whose flips spread across all four bands
        n_bands=8,
    )
    a = tagged.select(
        F.col("fid").alias("ia"), F.col("item_id").alias("clip_a"),
        F.col("n_frames").alias("nf_a"),
    )
    b = tagged.select(
        F.col("fid").alias("ib"), F.col("item_id").alias("clip_b"),
    )
    clip_pairs = (
        pairs.join(a, "ia")
        .join(b, "ib")
        .filter(F.col("clip_a") != F.col("clip_b"))
        .groupBy("clip_a", "clip_b", "nf_a")
        .agg(F.countDistinct("ia").alias("matched_frames"))
        .filter(F.col("matched_frames") >= F.ceil(F.lit(min_match_frac) * F.col("nf_a")))
        .filter(F.col("clip_a") < F.col("clip_b"))
        .select(
            F.col("clip_a").alias("ia"),
            F.col("clip_b").alias("ib"),
            F.col("matched_frames").cast("long").alias("matched_frames"),
        )
    )
    return clip_pairs


# ------------------------------------------------ corpus + gate

N_FRAMES = 6


# _smooth_frame moved to image_dedup.smooth_texture (r10: the image
# gate's JPEG variant needs the same lossy-survivable texture); this
# alias keeps the video corpus reading as before
def _smooth_frame(seed: str, h: int = 48, w: int = 64) -> np.ndarray:
    return smooth_texture(seed, h, w)


def make_video_corpus(spark: SparkSession, n_groups: int = 8) -> DataFrame:
    """Deterministic MJPEG-MP4 corpus: per group, 6 frames of 64×48
    smooth deterministic pixels, in THREE variants — the original (JPEG q=85),
    a container re-encode of the SAME frame bytes (identical
    hashes), and a re-encode of the SAME pixels at JPEG q=70 (lossy
    twice-compressed copy — the canonical video near-dup: every
    frame decodes to slightly different pixels, dHash stays within
    threshold). No RNG anywhere."""
    rows = []
    for g in range(n_groups):
        # smooth low-frequency frames (a 4×5 md5 control grid,
        # bilinearly upsampled): low-frequency content survives a
        # JPEG quality change nearly intact (raw md5 NOISE frames
        # are JPEG's worst case and push a re-encode past any
        # perceptual threshold; block-constant frames leave most
        # dHash comparisons trivially equal) while every dHash grid
        # sample still lands on a distinct value
        pixel_frames = [
            _smooth_frame(f"videodedup-{g}-f{i}") for i in range(N_FRAMES)
        ]
        q85 = [encode_jpeg(fr, quality=85) for fr in pixel_frames]
        q70 = [encode_jpeg(fr, quality=70) for fr in pixel_frames]
        for v, (variant, payload) in enumerate(
            (
                ("orig", build_mp4(codec="jpeg", width=64, height=48, samples=q85)),
                ("rebox", build_mp4(codec="jpeg", width=64, height=48, fps=12,
                                    samples=q85)),
                ("requal", build_mp4(codec="jpeg", width=64, height=48,
                                     samples=q70)),
            )
        ):
            rows.append((g * 10 + v, g, variant, bytearray(payload)))
    return local_frame(
        spark, rows, "item_id long, group_id long, variant string, payload binary"
    )


def dedup_videos_framehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate (``sf_dir`` unused): 8 groups × 3 variants of
    MJPEG-style MP4 clips (container re-encode + quality-60
    re-compress) → per-frame dHash → frame-voting clip pairs. The
    oracle pins the exact accounting: all 3 within-group pairs per
    group, zero cross-group pairs, re-boxed copies matching on
    every frame."""
    corpus = make_video_corpus(spark)
    frames = video_frame_hashes(corpus).localCheckpoint()
    pairs = near_dup_video_pairs(frames)
    groups = frames.select("item_id", "group_id").distinct()
    joined = (
        pairs.join(
            groups.select(F.col("item_id").alias("ia"), F.col("group_id").alias("ga")),
            "ia",
        )
        .join(
            groups.select(F.col("item_id").alias("ib"), F.col("group_id").alias("gb")),
            "ib",
        )
    )
    return (
        joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("ga") == F.col("gb")).cast("long")).alias("same_group_pairs"),
            F.sum((F.col("matched_frames") == N_FRAMES).cast("long")).alias(
                "full_match_pairs"
            ),
        )
        .crossJoin(
            frames.agg(
                F.countDistinct("item_id").cast("long").alias("n_clips"),
                F.count(F.lit(1)).cast("long").alias("n_frames_total"),
            )
        )
        .select("n_clips", "n_frames_total", "n_pairs", "same_group_pairs",
                "full_match_pairs")
    )


DEDUP_VIDEOS_SQL = """
SELECT CAST(24 AS BIGINT) AS n_clips,
       CAST(144 AS BIGINT) AS n_frames_total,
       CAST(24 AS BIGINT) AS n_pairs,
       CAST(24 AS BIGINT) AS same_group_pairs,
       CAST(16 AS BIGINT) AS full_match_pairs
FROM (VALUES (1)) t(x)
"""
