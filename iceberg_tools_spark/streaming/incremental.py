"""Incremental-scan × Structured Streaming composition (VERDICT r5
"Next round" #5): consume exactly the data files a snapshot range
ADDED, as a stream.

This is the pipeline a 100 TB incremental consumer actually runs —
"give me everything snapshots (from, to] appended, as micro-batches"
— wired from two pieces that already exist separately:

* ``snapshots.files_added_between`` — the metadata-level incremental
  scan (ADDED entries attributed to each snapshot on the ancestor
  chain, carried-forward manifests excluded), and
* Structured Streaming's file source with ``Trigger.AvailableNow``
  (process everything currently present, in rate-limited
  micro-batches, then stop).

Spark's file-stream source takes one directory, not a file list, so
the increment is STAGED: the planned files are hard-linked (fallback:
copied) into a staging directory the stream reads. Locally that is
exact and free (hard links share blocks); on a real deployment the
same plan would be published as a file list to the stream's input
queue (or the catalog's own changelog feed) — the planning half and
the consumption half are identical, only the hand-off differs.

Planning is driver-side PURE METADATA (manifest Avro, a few KB per
snapshot) — the data files themselves are only ever opened by
executors inside the stream.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..iceberg.metadata import parse_metadata
from ..iceberg.snapshots import _increment, _local, entries_added_by
from ..session import local_frame

import itertools

_GATE_SEQ = itertools.count()


def added_data_file_paths(
    metadata_path: str,
    from_id: int,
    to_id: int,
    base_dir: str | None = None,
) -> list[str]:
    """Resolved local paths of the data files ADDED on the ancestor
    chain ``(from_id, to_id]`` — the pure-Python planning twin of
    :func:`snapshots.files_added_between` (the same
    :func:`snapshots.entries_added_by`), returning paths instead of a
    DataFrame so the stream can be sourced without a Spark action."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    loc = meta.raw.get("location")
    return [
        _local(e["data_file"]["file_path"], base_dir, loc)
        for sid in sorted(_increment(meta, from_id, to_id))
        for _mrow, e in entries_added_by(meta, sid, base_dir)
    ]


def stage_increment(paths: list[str], staging_dir: str) -> str:
    """Link (or copy) the planned files into ``staging_dir`` for the
    file-stream source. Hard links cost no space or IO; the fallback
    copy covers cross-device staging. The directory is recreated so
    a re-stage is idempotent."""
    if os.path.isdir(staging_dir):
        shutil.rmtree(staging_dir)
    os.makedirs(staging_dir)
    for i, p in enumerate(paths):
        # prefix with the ordinal: two added files may share a
        # basename across partition directories
        tgt = os.path.join(staging_dir, f"{i:05d}-{os.path.basename(p)}")
        try:
            os.link(p, tgt)
        except OSError:
            shutil.copy2(p, tgt)
    return staging_dir


def incremental_scan_stream(
    spark: SparkSession,
    metadata_path: str,
    from_id: int,
    to_id: int,
    staging_dir: str,
    base_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming DataFrame over exactly the files added in
    ``(from_id, to_id]``. Drive it with ``Trigger.AvailableNow`` (or
    ``processAllAvailable``) for the consume-the-increment-and-stop
    pattern; ``max_files_per_trigger`` rate-limits each micro-batch.

    Raises ``ValueError`` on an empty increment — a file stream
    cannot infer a schema from zero files, and "nothing was added"
    is information the caller should branch on, not silently stream.
    """
    paths = added_data_file_paths(metadata_path, from_id, to_id, base_dir)
    if not paths:
        raise ValueError(
            f"snapshots ({from_id}, {to_id}] added no data files; "
            "nothing to stream (check the range, or consume deletes "
            "via iceberg.deletes instead)"
        )
    stage_increment(paths, staging_dir)
    # schema from the planned files themselves (driver-side footer
    # read) — the staged stream then needs no inference pass
    schema = spark.read.parquet(*paths).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staging_dir)
    )


# ------------------------------------------------ driver-gate query

def incremental_stream_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate form of the composition: the rows snapshots
    (2001, 2002] of the MoR fixture appended, CONSUMED THROUGH THE
    STREAM (staged file source, availableNow-style drain into a
    memory sink), returned sorted. The DuckDB oracle reads the same
    two physical parquet files directly — certifying that streamed
    incremental consumption loses/dups nothing vs a raw read of the
    planned files. (``sf_dir`` unused: metadata queries run on the
    repo fixture, like every other meta_* entry.)"""
    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import MOR_METADATA
    from .jobs import run_to_memory

    seq = next(_GATE_SEQ)  # unique sink name + staging dir per call
    name = f"inc_stream_gate_rows_{seq}"
    staging = _scratch_dir(f"inc_stream_gate_{seq}_")
    try:
        stream = incremental_scan_stream(spark, MOR_METADATA, 2001, 2002, staging)
        got = run_to_memory(stream, name)
        out = got.orderBy("id").select("id", "category")
        rows = out.collect()  # materialize, then release the sink
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        # drop the memory-sink temp view: repeated gate calls (bench
        # best-of-2, two-SF parity) would otherwise each leave a
        # driver-resident copy of the increment for the session's
        # life
        spark.catalog.dropTempView(name)


def _mor_added_files_sql() -> str:
    from ..iceberg.deletes import MOR_DIR

    c = os.path.join(MOR_DIR, "data", "category=x", "C.parquet")
    d = os.path.join(MOR_DIR, "data", "category=z", "D.parquet")
    return (
        "SELECT id, category "
        f"FROM read_parquet(['{c}', '{d}']) ORDER BY id"
    )


INCREMENTAL_STREAM_SQL = _mor_added_files_sql()
