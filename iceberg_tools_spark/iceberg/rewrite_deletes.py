"""Rewrite-position-deletes EXECUTION — the MoR-maintenance twin of
``rewrite_data_files``: instead of folding deletes into data files,
compact the positional-delete files themselves.

Semantics (Iceberg's RewritePositionDeleteFiles contract):

* positional-delete files are merged per ``(spec, partition,
  data-sequence-number)`` group — merging only WITHIN a sequence
  number preserves the ``data_seq <= delete_seq`` gate bit-exactly
  (a delete row never starts or stops applying to any data file);
* **dangling deletes are dropped**: rows referencing a data file no
  longer live at the current snapshot (e.g. one already rewritten
  by ``rewrite_data_files``) are pure dead weight every future read
  would still scan — the rewrite filters them out executor-side;
* output delete files are written sorted by ``(file_path, pos)``
  (the ordering the spec requires of position-delete files);
* the replace snapshot carries every DATA manifest forward VERBATIM
  (zero data churn), keeps equality-delete entries as EXISTING with
  their explicit sequence numbers, and lists the new positional
  files as ADDED entries with EXPLICIT (preserved) sequence
  numbers — inheritance would wrongly re-stamp them at the new
  snapshot's sequence.

Scale shape: the filter + sort + write of delete rows is a Spark
job over the delete parquet (the data-scale part at 100 TB —
position deletes can be billions of rows); the commit is KB-scale
driver metadata. The invariant — ``read_mor`` before == after — is
pinned by pytest, and the driver gate returns the before/after
file/row accounting as golden values.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..avro.reader import AvroContainerFile
from ..avro.writer import write_container
from .catalog import install_metadata, next_metadata_path, table_root_of
from .commit import (
    MANIFEST_LIST_SCHEMA,
    _spec_partition_fields,
    manifest_entry_schema,
    partition_summaries,
)
from .commit import _summary_totals  # noqa: E402
from .deletes import EQUALITY_DELETES, POSITION_DELETES, _is_dv, mor_entries_at
from .metadata import parse_metadata
from .rewrite_data import _write_single_parquet
from .snapshots import _local, manifest_files_at, read_manifest_list

ADDED, EXISTING, DELETED = 1, 0, 2


def rewrite_position_deletes(
    spark: SparkSession,
    metadata_path: str,
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Compact all positional-delete files at the current snapshot;
    returns ``{"metadata_path", "snapshot_id", "removed_files",
    "added_files", "rows_before", "rows_after"}``."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    loc = raw.get("location")
    table_root = table_root_of(base_dir)
    meta_dir = os.path.join(table_root, "metadata")

    parent_id = raw.get("current-snapshot-id")
    data, dels = mor_entries_at(meta, parent_id, base_dir)
    # v3 deletion vectors never need this compaction: there is at
    # most ONE vector per data file by invariant, and a dangling
    # vector (referenced file no longer live) simply never attaches.
    # Only parquet position-delete files accumulate per-file.
    pos_dels = [
        d for d in dels if d["content"] == POSITION_DELETES and not _is_dv(d)
    ]
    if not pos_dels:
        raise ValueError(
            "no positional delete parquet files at the current snapshot "
            "(deletion vectors are one-per-file and need no compaction)"
        )

    live_rels = sorted({e["rel"] for e in data})

    if snapshot_id is None:
        snapshot_id = max(s["snapshot-id"] for s in raw["snapshots"]) + 1
    seq = raw.get("last-sequence-number", 0) + 1
    if timestamp_ms is None:
        timestamp_ms = raw.get("last-updated-ms", 0) + 1000

    # ---- merge groups: (spec, partition, preserved data seq)
    groups: dict[tuple[int, str, int], list[dict]] = {}
    for d in pos_dels:
        key = (
            int(d["spec_id"]),
            json.dumps(d["partition"], sort_keys=True),
            int(d["sequence_number"]),
        )
        groups.setdefault(key, []).append(d)

    rows_before = sum(int(d["record_count"]) for d in pos_dels)
    rows_after = 0
    new_delete_entries: list[dict] = []
    for gi, ((spec_id, pjson, gseq), members) in enumerate(sorted(groups.items())):
        # executor-side: read the group's delete parquet, drop rows
        # whose target data file is no longer live, re-sort to the
        # spec's (file_path, pos) order, write one compacted file
        df = (
            spark.read.parquet(*[m["local_path"] for m in members])
            .withColumn("_rel", F.regexp_extract("file_path", "data/.*$", 0))
            .filter(F.col("_rel").isin(live_rels))
            .drop("_rel")
            .orderBy("file_path", "pos")
        )
        new_rel = f"data/deletes/pd-rw{snapshot_id}-g{gi}.parquet"
        out_path = os.path.join(table_root, new_rel)
        _write_single_parquet(df, out_path)
        import pyarrow.parquet as pq

        n = pq.read_metadata(out_path).num_rows
        rows_after += n
        if n == 0:
            # every delete in the group was dangling: drop the
            # group entirely (no empty delete files in metadata)
            os.remove(out_path)
            continue
        new_delete_entries.append(
            {
                "spec_id": spec_id,
                "entry": {
                    "status": ADDED,
                    "snapshot_id": snapshot_id,
                    # EXPLICIT preserved sequence — inheritance would
                    # re-stamp at the new snapshot's sequence and
                    # change which data files the deletes gate
                    "sequence_number": gseq,
                    "data_file": {
                        "content": POSITION_DELETES,
                        "file_path": f"{loc}/{new_rel}",
                        "file_format": "PARQUET",
                        "partition": json.loads(pjson),
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(out_path),
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": None,
                        "sort_order_id": None,
                    },
                },
            }
        )

    # ---- manifest list: data manifests verbatim; delete manifests
    # rebuilt keeping ONLY equality entries (as EXISTING, explicit
    # seqs); one new delete manifest per spec for the compacted files
    parent = next(s for s in raw["snapshots"] if s["snapshot-id"] == parent_id)
    parent_rows = {
        r["manifest_path"]: r
        for r in read_manifest_list(_local(parent["manifest-list"], base_dir, loc))
    }
    list_rows: list[dict] = []
    for mrow in manifest_files_at(meta, parent_id, base_dir):
        if mrow.get("content", 0) == 0:
            list_rows.append(parent_rows[mrow["manifest_path"]])
            continue
        with open(mrow["local_path"], "rb") as f:
            records = list(AvroContainerFile(f.read()))
        kept = []
        for rec in records:
            if rec["status"] == DELETED:
                continue
            df_ = rec["data_file"]
            if df_.get("content") != EQUALITY_DELETES and not (
                (df_.get("file_format") or "").upper() == "PUFFIN"
            ):
                continue  # parquet positional: replaced by the
                # compacted files; equality AND v3 deletion-vector
                # entries carry forward (vectors were excluded from
                # compaction — dropping them here would resurrect
                # their deleted rows)
            eseq = rec.get("sequence_number")
            if eseq is None:
                eseq = mrow.get("sequence_number", 0)
            sid = rec.get("snapshot_id")
            if sid is None:
                sid = mrow.get("added_snapshot_id")
            kept.append(
                {
                    "status": EXISTING,
                    "snapshot_id": sid,
                    "sequence_number": eseq,
                    "data_file": rec["data_file"],
                }
            )
        if not kept:
            continue  # all-positional delete manifest: fully replaced
        spec_id = mrow.get("partition_spec_id", 0)
        spec_fields = _spec_partition_fields(meta, spec_id)
        name = os.path.basename(mrow["local_path"]).rsplit(".", 1)[0]
        new_name = f"{name}-eq{snapshot_id}.avro"
        blob = write_container(
            manifest_entry_schema(
                spec_fields,
                f"eq{snapshot_id}_{name}",
                v3=any(
                    e["data_file"].get("referenced_data_file") is not None
                    for e in kept
                ),
            ),
            kept,
        )
        with open(os.path.join(meta_dir, new_name), "wb") as f:
            f.write(blob)
        list_rows.append(
            {
                "manifest_path": f"{loc}/metadata/{new_name}",
                "manifest_length": len(blob),
                "partition_spec_id": spec_id,
                "content": 1,
                "sequence_number": mrow.get("sequence_number", 0),
                "min_sequence_number": min(e["sequence_number"] for e in kept),
                "added_snapshot_id": mrow.get("added_snapshot_id", parent_id),
                "added_files_count": 0,
                "existing_files_count": len(kept),
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": sum(
                    e["data_file"]["record_count"] for e in kept
                ),
                "deleted_rows_count": 0,
                "partitions": partition_summaries(kept, spec_fields),
            }
        )

    by_spec: dict[int, list[dict]] = {}
    for ne in new_delete_entries:
        by_spec.setdefault(ne["spec_id"], []).append(ne)
    for spec_id, group in sorted(by_spec.items()):
        spec_fields = _spec_partition_fields(meta, spec_id)
        name = f"manifest-pdrw{snapshot_id}-s{spec_id}.avro"
        blob = write_container(
            manifest_entry_schema(spec_fields, f"pdrw{snapshot_id}_{spec_id}"),
            [g["entry"] for g in group],
        )
        with open(os.path.join(meta_dir, name), "wb") as f:
            f.write(blob)
        list_rows.append(
            {
                "manifest_path": f"{loc}/metadata/{name}",
                "manifest_length": len(blob),
                "partition_spec_id": spec_id,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": min(
                    g["entry"]["sequence_number"] for g in group
                ),
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(group),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(
                    g["entry"]["data_file"]["record_count"] for g in group
                ),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": partition_summaries(
                    [g["entry"] for g in group], spec_fields
                ),
            }
        )

    list_name = f"snap-{snapshot_id}.avro"
    with open(os.path.join(meta_dir, list_name), "wb") as f:
        f.write(write_container(MANIFEST_LIST_SCHEMA, list_rows))

    raw["last-sequence-number"] = seq
    raw["last-updated-ms"] = timestamp_ms
    raw["current-snapshot-id"] = snapshot_id
    raw["snapshots"].append(
        {
            "sequence-number": seq,
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": parent_id,
            "timestamp-ms": timestamp_ms,
            "summary": {
                "operation": "replace",
                "removed-delete-files": str(len(pos_dels)),
                "added-delete-files": str(len(new_delete_entries)),
                "removed-position-delete-rows": str(rows_before - rows_after),
                **_summary_totals(list_rows),
            },
            "manifest-list": f"{loc}/metadata/{list_name}",
            "schema-id": raw.get("current-schema-id", 0),
        }
    )
    raw.setdefault("snapshot-log", []).append(
        {"timestamp-ms": timestamp_ms, "snapshot-id": snapshot_id}
    )
    from .commit import _canonical_metadata_uri

    raw.setdefault("metadata-log", []).append(
        {
            "timestamp-ms": timestamp_ms,
            "metadata-file": _canonical_metadata_uri(metadata_path, table_root, loc),
        }
    )
    new_path = install_metadata(next_metadata_path(metadata_path, snapshot_id), raw)
    return {
        "metadata_path": new_path,
        "snapshot_id": snapshot_id,
        "removed_files": len(pos_dels),
        "added_files": len(new_delete_entries),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


# ------------------------------------------------ driver-gate query


def rewrite_pos_deletes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: scratch-copy the MoR fixture, fold file A's
    deletes with ``rewrite_data_files`` (making A's 10 delete rows
    DANGLING), then compact the positional deletes — the compacted
    file keeps only C's 5 live rows at the preserved sequence
    number, and the table reads identically. Golden oracle: the
    before/after delete-file and row accounting plus the total live
    row count read back through the MoR reader. (``sf_dir``
    unused.)"""
    from .commit import _scratch_table
    from .deletes import MOR_DIR, read_mor
    from .rewrite_data import rewrite_data_files

    root = _scratch_table("pdrw_gate_", MOR_DIR)
    mp = os.path.join(root, "v2.metadata.json")
    r1 = rewrite_data_files(spark, mp, target_rels=["data/category=x/A.parquet"])
    r2 = rewrite_position_deletes(spark, r1["metadata_path"])
    live = read_mor(
        spark, r2["metadata_path"], r2["snapshot_id"], base_dir=root
    ).count()
    return spark.createDataFrame(
        [
            (
                r2["removed_files"],
                r2["added_files"],
                r2["rows_before"],
                r2["rows_after"],
                live,
            )
        ],
        "removed_files int, added_files int, rows_before long, "
        "rows_after long, live_rows long",
    )


REWRITE_POS_DELETES_SQL = """
SELECT CAST(removed_files AS INTEGER) AS removed_files,
       CAST(added_files AS INTEGER) AS added_files,
       CAST(rows_before AS BIGINT) AS rows_before,
       CAST(rows_after AS BIGINT) AS rows_after,
       CAST(live_rows AS BIGINT) AS live_rows
FROM (VALUES (1, 1, 15, 5, 323)) t(removed_files, added_files,
                                   rows_before, rows_after, live_rows)
"""
