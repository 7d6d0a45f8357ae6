"""Partition statistics files (Iceberg spec, "Partition statistics"):
one parquet row per (unified partition tuple, spec_id) with data /
delete record and file counts, registered in table metadata under
``partition-statistics`` as ``{"snapshot-id", "statistics-path",
"file-size-in-bytes"}``.

The spec pins the column names and semantics (field ids 1-12:
``partition`` struct, ``spec_id``, ``data_record_count``,
``data_file_count``, ``total_data_file_size_in_bytes``,
``position_delete_record_count``/``_file_count``,
``equality_delete_record_count``/``_file_count``,
``total_record_count``, ``last_updated_at``,
``last_updated_snapshot_id``). The unified partition tuple is the
union of every spec's fields; fields a spec lacks are null —
exactly how an evolved table's stats stay one table.

Spark-first shape: the manifest entries are KB-scale planning rows
(like every `snapshots.py` listing); the aggregation itself is ONE
``groupBy`` over them — at 100 TB (millions of files) that listing
becomes a DataFrame scan of the metadata tables and the SAME
groupBy plan holds. Deletion vectors count into
``position_delete_record_count`` via their manifest cardinality (no
blob read — the locator carries it).

Write → register → read back is round-tripped through the ordinary
metadata chain, never the writer's own state.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .catalog import table_root_of
from .deletes import DATA, EQUALITY_DELETES, POSITION_DELETES, mor_entries_at
from .metadata import TableMetadata, parse_metadata

_SPARK_OF_ICEBERG = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
}


def unified_partition_fields(meta: TableMetadata) -> list[tuple[str, T.DataType]]:
    """The union of every spec's partition fields, in first-seen
    order — the spec's "unified partition tuple"."""
    from .snapshots import partition_spec_fields

    seen: dict[str, T.DataType] = {}
    for sp in meta.raw.get("partition-specs", []):
        for fname, ftype in partition_spec_fields(meta, sp.get("spec-id", 0)):
            if fname not in seen:
                seen[fname] = _SPARK_OF_ICEBERG.get(ftype, T.StringType())
    return list(seen.items())


def compute_partition_stats(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    base_dir: str | None = None,
) -> DataFrame:
    """The partition-statistics table at a snapshot: one row per
    (unified partition tuple, spec_id), aggregated from the live
    manifest entries — data counts/sizes, position-delete rows
    (parquet rows AND deletion-vector cardinalities) and files,
    equality-delete rows and files, and the latest snapshot that
    touched the partition."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, snapshot_id, base_dir)
    ufields = unified_partition_fields(meta)
    ts_by_snap = {s["snapshot-id"]: s["timestamp-ms"] for s in meta.snapshots}
    # sequence number -> owning snapshot, built ONCE (first writer
    # of each sequence wins; entries resolve through their sequence)
    snap_by_seq: dict[int, int] = {}
    for s in meta.snapshots:
        snap_by_seq.setdefault(s.get("sequence-number"), s["snapshot-id"])

    schema = T.StructType(
        [
            *[T.StructField(f"p_{n}", t) for n, t in ufields],
            T.StructField("spec_id", T.IntegerType()),
            T.StructField("content", T.IntegerType()),
            T.StructField("record_count", T.LongType()),
            T.StructField("file_size_in_bytes", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("updated_ms", T.LongType()),
        ]
    )
    rows = []
    for e in (*data, *dels):
        esnap = snap_by_seq.get(e["sequence_number"])
        rows.append(
            (
                *[e["partition"].get(n) for n, _ in ufields],
                int(e["spec_id"]),
                int(e["content"]),
                int(e["record_count"]),
                int(e.get("file_size_in_bytes") or 0),
                int(e["sequence_number"]),
                esnap,
                ts_by_snap.get(esnap),
            )
        )
    entries = local_frame(spark, rows, schema)

    pcols = [f"p_{n}" for n, _ in ufields]
    is_data = F.col("content") == DATA
    is_pos = F.col("content") == POSITION_DELETES
    is_eq = F.col("content") == EQUALITY_DELETES
    agg = (
        entries.groupBy(*pcols, "spec_id")
        .agg(
            F.sum(F.when(is_data, F.col("record_count")).otherwise(0)).alias(
                "data_record_count"
            ),
            F.sum(F.when(is_data, 1).otherwise(0)).alias("data_file_count"),
            F.sum(
                F.when(is_data, F.col("file_size_in_bytes")).otherwise(0)
            ).alias("total_data_file_size_in_bytes"),
            F.sum(F.when(is_pos, F.col("record_count")).otherwise(0)).alias(
                "position_delete_record_count"
            ),
            F.sum(F.when(is_pos, 1).otherwise(0)).alias(
                "position_delete_file_count"
            ),
            F.sum(F.when(is_eq, F.col("record_count")).otherwise(0)).alias(
                "equality_delete_record_count"
            ),
            F.sum(F.when(is_eq, 1).otherwise(0)).alias(
                "equality_delete_file_count"
            ),
            # BOTH from the max-sequence entry: snapshot ids are
            # arbitrary (not time-ordered) in real tables, so an
            # independent max(snapshot_id) could name a snapshot
            # that is not the latest writer
            F.expr("max_by(updated_ms, seq)").alias("last_updated_at"),
            F.expr("max_by(snapshot_id, seq)").alias("last_updated_snapshot_id"),
        )
        .select(
            F.struct(
                *[F.col(f"p_{n}").alias(n) for n, _ in ufields]
            ).alias("partition"),
            "spec_id",
            "data_record_count",
            "data_file_count",
            "total_data_file_size_in_bytes",
            "position_delete_record_count",
            "position_delete_file_count",
            "equality_delete_record_count",
            "equality_delete_file_count",
            # spec: accurate live-row count after POSITION deletes
            # (equality matches resolve only at read time, so they
            # are deliberately NOT subtracted — same stance as
            # files_at_snapshot_mor's live_rows_ub)
            (
                F.col("data_record_count") - F.col("position_delete_record_count")
            ).alias("total_record_count"),
            "last_updated_at",
            "last_updated_snapshot_id",
        )
    )
    return agg


def write_partition_stats(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    base_dir: str | None = None,
) -> dict[str, Any]:
    """Compute, write as ONE parquet file under ``metadata/``, and
    register in the table metadata's ``partition-statistics`` list
    (replacing any prior entry for the same snapshot). Returns
    ``{"metadata_path", "statistics_path", "snapshot_id",
    "n_partitions"}`` — the new metadata.json is written beside the
    old one, same as every commit."""
    import glob
    import shutil
    import tempfile

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    table_root = table_root_of(base_dir)
    loc = meta.raw.get("location") or f"file://{table_root}"
    stats = compute_partition_stats(spark, metadata_path, snapshot_id, base_dir)

    rel = f"metadata/partition-stats-{snapshot_id}.parquet"
    out_path = os.path.join(table_root, *rel.split("/"))
    with tempfile.TemporaryDirectory(prefix="pstats_") as tmp:
        stats.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        shutil.move(part, out_path)

    raw = json.loads(json.dumps(meta.raw))
    entry = {
        "snapshot-id": snapshot_id,
        "statistics-path": f"{loc}/{rel}",
        "file-size-in-bytes": os.path.getsize(out_path),
    }
    pstats = [
        p
        for p in raw.get("partition-statistics", [])
        if p.get("snapshot-id") != snapshot_id
    ]
    pstats.append(entry)
    raw["partition-statistics"] = sorted(pstats, key=lambda p: p["snapshot-id"])
    new_path = metadata_path.replace(".metadata.json", f".pstats{snapshot_id}.metadata.json")
    if new_path == metadata_path:
        new_path = metadata_path + f".pstats{snapshot_id}.json"
    with open(new_path, "w") as f:
        json.dump(raw, f, indent=2)
    import pyarrow.parquet as pq

    return {
        "metadata_path": new_path,
        "statistics_path": out_path,
        "snapshot_id": snapshot_id,
        # from the just-written footer — no second aggregation job
        "n_partitions": pq.read_metadata(out_path).num_rows,
    }


def read_partition_stats(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    base_dir: str | None = None,
) -> DataFrame:
    """The registered partition-statistics file for a snapshot, read
    back through the metadata chain (raises if none registered)."""
    from .snapshots import _local

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    entry = next(
        (
            p
            for p in meta.raw.get("partition-statistics", [])
            if p.get("snapshot-id") == snapshot_id
        ),
        None,
    )
    if entry is None:
        raise ValueError(
            f"no partition-statistics registered for snapshot {snapshot_id}"
        )
    table_root = table_root_of(base_dir)
    local = _local(entry["statistics-path"], table_root, meta.raw.get("location"))
    return spark.read.parquet(local)


# ------------------------------------------------ driver-gate query


def meta_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: write + register + read back partition stats for
    the MoR fixture at snapshot 2004 on a scratch copy — per unified
    partition tuple (category, id_trunc): data rows/files,
    position-delete rows (pd1's 15 against x), equality-delete rows
    (ed1's 2 against z), and the live-row count after position
    deletes. Golden oracle (counts only — file sizes are
    environment-dependent and pytest-checked instead)."""
    from .commit import _scratch_table
    from .deletes import MOR_DIR

    root = _scratch_table("pstats_gate_", MOR_DIR)
    res = write_partition_stats(
        spark, os.path.join(root, "v2.metadata.json"), 2004, root
    )
    return (
        read_partition_stats(spark, res["metadata_path"], 2004, root)
        .select(
            F.col("partition.category").alias("category"),
            F.col("partition.id_trunc").alias("id_trunc"),
            "spec_id",
            "data_record_count",
            "data_file_count",
            "position_delete_record_count",
            "position_delete_file_count",
            "equality_delete_record_count",
            "equality_delete_file_count",
            "total_record_count",
            "last_updated_snapshot_id",
        )
        .orderBy("category", "spec_id")
    )


META_PARTITION_STATS_SQL = """
SELECT category, CAST(id_trunc AS BIGINT) AS id_trunc,
       CAST(spec_id AS INTEGER) AS spec_id,
       CAST(data_record_count AS BIGINT) AS data_record_count,
       CAST(data_file_count AS BIGINT) AS data_file_count,
       CAST(position_delete_record_count AS BIGINT) AS position_delete_record_count,
       CAST(position_delete_file_count AS BIGINT) AS position_delete_file_count,
       CAST(equality_delete_record_count AS BIGINT) AS equality_delete_record_count,
       CAST(equality_delete_file_count AS BIGINT) AS equality_delete_file_count,
       CAST(total_record_count AS BIGINT) AS total_record_count,
       CAST(last_updated_snapshot_id AS BIGINT) AS last_updated_snapshot_id
FROM (VALUES
  ('w', 300, 1, 40, 1, 0, 0, 0, 0, 40, 2004),
  ('x', NULL, 0, 200, 2, 15, 1, 0, 0, 185, 2003),
  ('y', NULL, 0, 50, 1, 0, 0, 0, 0, 50, 2001),
  ('z', NULL, 0, 50, 1, 0, 0, 2, 1, 50, 2003)
) t(category, id_trunc, spec_id, data_record_count, data_file_count,
    position_delete_record_count, position_delete_file_count,
    equality_delete_record_count, equality_delete_file_count,
    total_record_count, last_updated_snapshot_id)
ORDER BY category, spec_id
"""
