"""Streaming twin of the perceptual MEDIA intake: dHash dedup
survivors over an IMAGE stream — the streaming × multimodal cell of
the battery matrix.

Same-job-body discipline as `streaming/corpus.py` (one function
builds the plan; the caller hands it a batch OR streaming frame;
pytest pins stream == batch row-for-row): the Arrow-batched
decode+hash kernel (`image_dedup.image_dhash_df`) runs identically
under Structured Streaming — `mapInPandas` is stateless, so the
micro-batch engine schedules it like any projection — and the
survivor rule is the deterministic min-id-per-hash AGGREGATION, not
``dropDuplicates`` (arrival-order-dependent, the corpus.py lesson).

Exact-hash dedup is the right streaming granularity: banded
NEAR-dup joins need the full pair graph (batch compaction's job);
the stream-side gate drops byte-level and re-encode duplicates
(identical pixels → identical dHash) before they ever land, which
is where the intake volume is. At 100 TB of images the state store
holds one row per distinct fingerprint — 8 bytes each.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.image_dedup import image_dhash_df, make_image_corpus
from ..session import local_frame

MEDIA_COLS = "item_id long, group_id long, variant string, payload binary"


def media_stream(
    spark: SparkSession, staging_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a staged image-corpus parquet dir."""
    return (
        spark.readStream.schema(MEDIA_COLS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staging_dir)
    )


def media_intake_survivors(media: DataFrame) -> DataFrame:
    """(dhash, item_id): one deterministic survivor (min item_id)
    per distinct fingerprint — batch and streaming alike."""
    hashed = image_dhash_df(media)
    return hashed.groupBy("dhash").agg(F.min("item_id").alias("item_id"))


def stage_image_corpus(
    spark: SparkSession, work_dir: str, *, n_groups: int = 8, n_shards: int = 4
) -> str:
    """Write the deterministic image corpus as ``n_shards`` parquet
    files so the file-source stream replays it in several
    micro-batches."""
    staging = os.path.join(work_dir, "media_staging")
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    make_image_corpus(spark, n_groups).repartition(n_shards).write.parquet(staging)
    return staging


def media_stream_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate (``sf_dir`` unused): stream the 8-group image
    corpus through the intake in two micro-batches and count
    survivors — re-encodes (same dHash) collapse to one survivor
    per distinct fingerprint, exactly as the batch plan does.
    Golden oracle over the r10 corpus (4 variants: bmp/png/jpeg/
    patch): 8 groups × 4 = 32 images, 20 distinct fingerprints —
    bmp == png per group always; in 4 of these 8 groups the JPEG
    re-encode or the 16×16 patch leaves the dHash unchanged (their
    comparisons don't flip), so those groups collapse to 2 distinct
    fingerprints and the rest to 3 (consistent with the image
    gate's exact_hash_pairs accounting)."""
    from ..iceberg.commit import _scratch_dir

    work = _scratch_dir("media_stream_")
    staging = stage_image_corpus(spark, work, n_groups=8)
    # two files per trigger: still a MULTI-batch streaming proof
    # (2 micro-batches over 4 shards) at half the availableNow
    # scheduling overhead — the r12 bench read showed the wall is
    # micro-batch machinery, not the hash kernel (VERDICT r12 #4);
    # per-file granularity stays covered by the stream==batch pytest
    stream = media_stream(spark, staging, max_files_per_trigger=2)
    q = (
        media_intake_survivors(stream)
        .writeStream.format("memory")
        .queryName("t_media_dedup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("t_media_dedup")
    batch = media_intake_survivors(spark.read.parquet(staging))
    stream_set = {(r.dhash, r.item_id) for r in out.collect()}
    batch_set = {(r.dhash, r.item_id) for r in batch.collect()}
    return local_frame(
        spark,
        [(
            len(stream_set),
            1 if stream_set == batch_set else 0,
        )],
        "n_survivors long, stream_equals_batch int",
    )


MEDIA_STREAM_DEDUP_SQL = """
SELECT CAST(20 AS BIGINT) AS n_survivors,
       CAST(1 AS INTEGER) AS stream_equals_batch
FROM (VALUES (1)) t(x)
"""
