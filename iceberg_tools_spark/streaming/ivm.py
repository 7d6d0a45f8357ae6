"""Streaming materialized-view maintenance: the CDC changelog
stream (``streaming/cdc.changelog_stream`` — one source commit per
micro-batch) drives ``iceberg/ivm.maintain_grouped_agg``, so a
GROUP BY view stays current commit-by-commit without ever
re-scanning the base table.

This is the full streaming dual of the batch IVM gate: the view
state lives as parquet between batches (write-then-swap, exactly
how a maintained view is a TABLE in production), each micro-batch
folds one commit's delta in, and the final state must equal a full
recompute at the head snapshot — which is what the driver oracle
checks (same independent DuckDB recompute as the batch key).

Scale shape per batch: changelog rows for ONE commit (the 0.1%%
case IVM exists for) aggregate map-side into one tiny delta per
touched group, then one equi-join against the view parquet. The
base table is never read after the seed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..iceberg.deletes import MOR_DIR, MOR_METADATA, read_mor
from ..iceberg.ivm import IVM_SQL, grouped_agg, maintain_grouped_agg
from ..session import local_frame
from .cdc import changelog_stream

STREAM_IVM_SQL = IVM_SQL  # same head-state recompute oracle


def maintain_view_stream(
    spark: SparkSession,
    src_metadata: str,
    from_id: int,
    to_id: int,
    staging_dir: str,
    view_root: str,
    keys: list[str],
    sums: list[str],
    *,
    base_dir: str | None = None,
) -> dict:
    """Maintain a COUNT/SUM view from ``from_id`` to ``to_id`` via
    the changelog stream. Returns ``{"view_path", "n_batches"}``;
    the view parquet at ``view_path`` is the maintained state at
    ``to_id``."""
    base_dir = base_dir or os.path.dirname(src_metadata)
    os.makedirs(view_root, exist_ok=True)
    v0 = os.path.join(view_root, "v0")
    grouped_agg(read_mor(spark, src_metadata, from_id, base_dir), keys, sums).write.mode(
        "overwrite"
    ).parquet(v0)
    stream, _ = changelog_stream(
        spark, src_metadata, from_id, to_id, staging_dir, base_dir
    )
    holder = {"path": v0, "batch": 0}

    def _apply(batch_df, batch_id):
        cur = spark.read.parquet(holder["path"])
        nxt_path = os.path.join(view_root, f"v{holder['batch'] + 1}")
        # write-then-swap: the previous state stays intact until the
        # new one is fully written (a failed batch re-runs cleanly)
        maintain_grouped_agg(cur, batch_df, keys, sums).write.mode(
            "overwrite"
        ).parquet(nxt_path)
        prev = holder["path"]
        holder["path"] = nxt_path
        holder["batch"] += 1
        if prev != v0:
            shutil.rmtree(prev, ignore_errors=True)

    q = stream.writeStream.foreachBatch(_apply).trigger(availableNow=True).start()
    q.awaitTermination()
    return {"view_path": holder["path"], "n_batches": holder["batch"]}


# ------------------------------------------------ driver-gate query


def stream_ivm_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: the per-category COUNT/SUM(id) view of the MoR
    fixture, seeded at snapshot 2001 and maintained to head 2004 by
    the changelog STREAM (3 commits = 3 micro-batches). Oracle: the
    same independent DuckDB full-recompute of head state as the
    batch IVM key. (``sf_dir`` unused.)"""
    from ..iceberg.commit import _scratch_dir

    work = _scratch_dir("stream_ivm_")
    # size shuffle partitions to the micro-batch volume (KB
    # changelogs), not the session's CPU count — the same
    # deliberate stream-start knob as stream_join_rows; measured
    # ~14 s → ~6 s across the 3 micro-batches at the default 32
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        res = maintain_view_stream(
            spark,
            MOR_METADATA,
            2001,
            2004,
            os.path.join(work, "staging"),
            os.path.join(work, "view"),
            ["category"],
            ["id"],
            base_dir=MOR_DIR,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = spark.read.parquet(res["view_path"]).orderBy("category")
    # materialize before the temp dir can go away with the session
    rows = out.collect()
    shutil.rmtree(work, ignore_errors=True)
    return local_frame(spark, rows, out.schema)
