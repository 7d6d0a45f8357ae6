"""Snapshot-level scan planning: manifest lists, time travel,
incremental scans (SURVEY.md §2.1 depth; VERDICT r4 "Next round"
#4-5).

The reference reads ONE manifest at a time
(`ManifestFileReadTool.java:52-198`); real Iceberg scan planning
starts one level up — snapshot → manifest LIST (itself an Avro
container of `manifest_file` records, public v2 spec) → manifests →
entries. This module adds that level:

* :func:`read_manifest_list` — the spec's ``manifest_file`` records
  via the pure-Python Avro reader;
* :func:`files_at` — the live data files visible AT a snapshot
  (time travel: resolve that snapshot's manifest list, drop DELETED
  entries);
* :func:`files_added_between` — incremental scan: the files ADDED
  by each snapshot on the ancestor chain ``(from_id, to_id]`` —
  the "what's new since checkpoint X" primitive a 100 TB
  incremental pipeline consumes;
* the driver-gate queries over the multi-snapshot fixture
  (``scripts/gen_multi_snapshot_fixture.py``): 4 snapshots, an
  abandoned branch (``is_current_ancestor = false``), EXISTING and
  DELETED entry statuses, per-snapshot status distributions.

Scale note: all of this is planning metadata — KB–MB Avro parsed
driver-side, exactly how engines plan scans; the DataFrames these
plans gate are what a cluster reads in parallel.

Oracles: meta_snapshots_multi / meta_history_multi are checked
against DuckDB ``read_text`` + JSON extraction of the same
metadata.json (independent second engine). The manifest-derived
queries (Avro, which DuckDB cannot read) carry golden VALUES pinned
to the generator's declared fixture contents.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..avro.reader import AvroContainerFile
from ..session import local_frame
from .metadata import TableMetadata, field_id_types, parse_metadata
from .tables import (
    ENTRIES_SCALAR_SCHEMA,
    LIVE_FILES_SCALAR_SCHEMA,
    _scalar_entry_rows,
    history_df,
    snapshots_df,
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
MS_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "multi_snapshot")
MS_METADATA = os.path.join(MS_DIR, "v2.metadata.json")


def read_manifest_list(path: str) -> list[dict[str, Any]]:
    """Parse one manifest-list Avro file (v2 ``manifest_file``
    records)."""
    with open(path, "rb") as f:
        return list(AvroContainerFile(f.read()))


def _local(uri: str, base_dir: str, location: str | None = None) -> str:
    """Resolve a table-canonical ``file:///...`` URI to its physical
    copy under ``base_dir``.

    Primary rule (VERDICT r5 "Next round" #10): when the table
    ``location`` is known and the URI lives under it, resolve the
    URI's path RELATIVE to the location — two files with the same
    basename in different directories stay distinct, exactly like a
    real table layout. The legacy basename fallback remains only for
    flat fixtures (multi_snapshot) whose physical files don't mirror
    the canonical layout.
    """
    if location:
        loc = location.rstrip("/") + "/"
        if uri.startswith(loc):
            rel = uri[len(loc):].split("/")
            cand = os.path.join(base_dir, *rel)
            if os.path.exists(cand):
                return cand
            # callers default base_dir to dirname(metadata_path);
            # for the HadoopCatalog layout (metadata.json inside
            # metadata/, the create_table/catalog contract) the
            # table root is one level up
            if os.path.basename(base_dir.rstrip(os.sep)) == "metadata":
                cand = os.path.join(os.path.dirname(base_dir.rstrip(os.sep)), *rel)
                if os.path.exists(cand):
                    return cand
    return os.path.join(base_dir, os.path.basename(uri))


def snapshot_as_of(meta: TableMetadata, timestamp_ms: int) -> int:
    """``AS OF TIMESTAMP`` resolution per the spec: the snapshot the
    table's MAIN history (``snapshot-log``) made current at or
    before ``timestamp_ms``. Branch-staged snapshots never enter
    the log, so they are invisible to timestamp travel — exactly
    Iceberg's ``snapshotIdAsOfTime``. Raises when the timestamp
    predates the first commit."""
    log = sorted(
        meta.raw.get("snapshot-log", []), key=lambda e: e["timestamp-ms"]
    )
    best = None
    for e in log:
        if e["timestamp-ms"] <= timestamp_ms:
            best = e["snapshot-id"]
    if best is None:
        raise ValueError(
            f"no snapshot in the main history at or before {timestamp_ms} "
            f"(first commit: {log[0]['timestamp-ms'] if log else 'none'})"
        )
    return best


def snapshot_by_id(meta: TableMetadata, snapshot_id: int) -> dict[str, Any]:
    for s in meta.snapshots:
        if s.get("snapshot-id") == snapshot_id:
            return s
    raise KeyError(f"snapshot {snapshot_id} not in table metadata")


def ancestor_chain(meta: TableMetadata, snapshot_id: int) -> list[int]:
    """snapshot_id and its ancestors, newest first. Raises on a
    parent-id cycle (corrupt metadata) instead of hanging."""
    chain, cur, seen = [], snapshot_id, set()
    by_id = {s.get("snapshot-id"): s for s in meta.snapshots}
    while cur is not None and cur in by_id:
        if cur in seen:
            raise ValueError(
                f"parent-snapshot-id cycle at {cur} in table metadata"
            )
        seen.add(cur)
        chain.append(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return chain


def manifest_files_at(
    meta: TableMetadata, snapshot_id: int, base_dir: str
) -> list[dict[str, Any]]:
    """The snapshot's manifest-list rows (``manifest_file`` records),
    each with a resolved ``local_path``. Both DATA (content=0) and
    DELETE (content=1) manifests — callers filter by content."""
    loc = meta.raw.get("location")
    snap = snapshot_by_id(meta, snapshot_id)
    mlist = read_manifest_list(_local(snap["manifest-list"], base_dir, loc))
    for m in mlist:
        m["local_path"] = _local(m["manifest_path"], base_dir, loc)
    return mlist


def manifest_paths_at(meta: TableMetadata, snapshot_id: int, base_dir: str) -> list[str]:
    """Resolved paths of the snapshot's DATA manifests (delete
    manifests — ``manifest_file.content=1``, absent pre-v2-deletes —
    are planning input for `deletes.py`, not data listings)."""
    return [
        m["local_path"]
        for m in manifest_files_at(meta, snapshot_id, base_dir)
        if m.get("content", 0) == 0
    ]


def files_at(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int,
    base_dir: str | None = None,
) -> DataFrame:
    """Time travel: the live data files visible at `snapshot_id`
    (that snapshot's manifests, DELETED entries dropped)."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    rows = _scalar_entry_rows(manifest_paths_at(meta, snapshot_id, base_dir), meta.raw, live=True)
    return local_frame(spark, rows, LIVE_FILES_SCALAR_SCHEMA)


def entries_added_by(
    meta: TableMetadata, snapshot_id: int, base_dir: str
) -> list[tuple[dict[str, Any], dict[str, Any]]]:
    """``(manifest-list row, entry)`` for each data file the snapshot
    ADDED: the ADDED entries of its data manifests whose (inherited)
    ``snapshot_id`` is that snapshot. A manifest another snapshot
    added is skipped unread: its ADDED entries belong to that one."""
    from .manifest_io import read_manifest

    out = []
    for mrow in manifest_files_at(meta, snapshot_id, base_dir):
        if mrow.get("content", 0) != 0 or mrow.get("added_snapshot_id") not in (None, snapshot_id):
            continue
        out.extend(
            (mrow, e) for e in read_manifest(mrow)
            if e["status"] == 1 and e["snapshot_id"] == snapshot_id
        )
    return out


def files_added_between(
    spark: SparkSession,
    metadata_path: str,
    from_id: int,
    to_id: int,
    base_dir: str | None = None,
) -> DataFrame:
    """Incremental scan: files ADDED by each snapshot on the
    ancestor chain ``(from_id, to_id]`` (:func:`entries_added_by`:
    carried-forward manifests re-list older snapshots' files; those
    are not re-added). Raises if `from_id` is not an ancestor of
    `to_id` (divergent branches have no well-defined increment).
    """
    from .tables import _entry_row, _scalar_row

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    fid_types = field_id_types(meta.raw)
    rows = [
        _scalar_row(_entry_row(e, fid_types))[2:]
        for sid in sorted(_increment(meta, from_id, to_id))
        for _mrow, e in entries_added_by(meta, sid, base_dir)
    ]
    # empty increment (from_id == to_id) yields an empty, correctly-
    # typed frame rather than an error
    return local_frame(spark, rows, LIVE_FILES_SCALAR_SCHEMA)


def _increment(meta: TableMetadata, from_id: int, to_id: int) -> set[int]:
    """The snapshots in ``(from_id, to_id]`` on ``to_id``'s ancestor
    chain; raises when ``from_id`` is not an ancestor."""
    chain = ancestor_chain(meta, to_id)
    if from_id not in chain:
        raise ValueError(
            f"snapshot {from_id} is not an ancestor of {to_id}; "
            "incremental scan undefined across branches"
        )
    return set(chain[: chain.index(from_id)])


# ------------------------------------------------ driver-gate queries

MANIFESTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("manifest_name", T.StringType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("added_snapshot_id", T.LongType()),
        T.StructField("added_files_count", T.LongType()),
        T.StructField("existing_files_count", T.LongType()),
        T.StructField("deleted_files_count", T.LongType()),
        T.StructField("added_rows_count", T.LongType()),
        T.StructField("existing_rows_count", T.LongType()),
        T.StructField("deleted_rows_count", T.LongType()),
    ]
)


def meta_snapshots_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshots table of the multi-snapshot fixture (4 rows:
    appends, abandoned branch, delete-bearing rewrite)."""
    meta = parse_metadata(MS_METADATA)
    return (
        snapshots_df(spark, meta)
        .select("committed_at", "snapshot_id", "parent_id", "operation", "manifest_list")
        .orderBy("committed_at")
    )


def meta_history_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """history table of the multi-snapshot fixture — exercises a
    FALSE ``is_current_ancestor`` (snapshot 1004 was made current,
    then rolled back past)."""
    meta = parse_metadata(MS_METADATA)
    return history_df(spark, meta).orderBy("made_current_at")


def meta_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$manifests across every snapshot of the fixture: one row per
    (snapshot, manifest-list entry) with the spec's file/row
    counts."""
    meta = parse_metadata(MS_METADATA)
    loc = meta.raw.get("location")
    rows = []
    for s in meta.snapshots:
        sid = s["snapshot-id"]
        for m in read_manifest_list(_local(s["manifest-list"], MS_DIR, loc)):
            rows.append(
                (
                    sid,
                    os.path.basename(m["manifest_path"]),
                    m["sequence_number"],
                    m["added_snapshot_id"],
                    m["added_files_count"],
                    m["existing_files_count"],
                    m["deleted_files_count"],
                    m["added_rows_count"],
                    m["existing_rows_count"],
                    m["deleted_rows_count"],
                )
            )
    return local_frame(spark, rows, MANIFESTS_SCHEMA).orderBy(
        "snapshot_id", "manifest_name"
    )


def _snapshot_entry_rows(meta: TableMetadata, base_dir: str) -> list[tuple]:
    """(snapshot_id, *scalar-entry) rows across EVERY snapshot, each
    manifest Avro parsed exactly once however many snapshot lists
    reference it (m1 appears in 3 of the fixture's 4 lists; the
    naive per-snapshot loop parsed it 3× and built one DataFrame per
    snapshot — this is one parse per manifest, ONE frame for the
    caller)."""
    cache: dict[str, list[tuple]] = {}
    rows = []
    for s in meta.snapshots:
        sid = s["snapshot-id"]
        for p in manifest_paths_at(meta, sid, base_dir):
            if p not in cache:
                cache[p] = _scalar_entry_rows([p], meta.raw)
            rows.extend((sid, *r) for r in cache[p])
    return rows


_SNAP_ENTRIES_SCHEMA = T.StructType(
    [T.StructField("view_snapshot_id", T.LongType()), *ENTRIES_SCALAR_SCHEMA.fields]
)


def meta_entry_status_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot manifest-entry status distribution — the
    EXISTING/DELETED coverage VERDICT r4 asked for (previously only
    ADDED ever appeared in a fixture)."""
    meta = parse_metadata(MS_METADATA)
    rows = _snapshot_entry_rows(meta, MS_DIR)
    return (
        local_frame(spark, rows, _SNAP_ENTRIES_SCHEMA)
        .select(F.col("view_snapshot_id").alias("snapshot_id"), "status_name", "record_count")
        .groupBy("snapshot_id", "status_name")
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.sum("record_count").alias("n_rows"),
        )
        .orderBy("snapshot_id", "status_name")
    )


def meta_all_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$all_files: every data file referenced by ANY snapshot's
    manifests (Iceberg's all-history file inventory, the input to
    orphan-file reasoning), deduplicated by path, with how many
    snapshots hold the file LIVE and its first/last such snapshot —
    B stops at the 1003 delete, E exists only on the abandoned
    1004 branch."""
    meta = parse_metadata(MS_METADATA)
    rows = _snapshot_entry_rows(meta, MS_DIR)
    return (
        local_frame(spark, rows, _SNAP_ENTRIES_SCHEMA)
        .filter(F.col("status") != 2)
        .groupBy("file_path", "partition_json", "record_count")
        .agg(
            F.countDistinct("view_snapshot_id").alias("n_live_snapshots"),
            F.min("view_snapshot_id").alias("first_snapshot"),
            F.max("view_snapshot_id").alias("last_snapshot"),
        )
        .orderBy("file_path")
    )


_MSLOC = "file:///tmp/multi_snapshot"

META_ALL_FILES_SQL = f"""
SELECT file_path, partition_json, CAST(record_count AS BIGINT) AS record_count,
       CAST(n_live_snapshots AS BIGINT) AS n_live_snapshots,
       CAST(first_snapshot AS BIGINT) AS first_snapshot,
       CAST(last_snapshot AS BIGINT) AS last_snapshot
FROM (VALUES
  ('{_MSLOC}/data/category=x/A.parquet', '{{"category": "x"}}', 100, 4, 1001, 1004),
  ('{_MSLOC}/data/category=x/C.parquet', '{{"category": "x"}}', 100, 3, 1002, 1004),
  ('{_MSLOC}/data/category=y/B.parquet', '{{"category": "y"}}', 50, 3, 1001, 1004),
  ('{_MSLOC}/data/category=y/E.parquet', '{{"category": "y"}}', 20, 1, 1004, 1004),
  ('{_MSLOC}/data/category=z/D.parquet', '{{"category": "z"}}', 50, 3, 1002, 1004)
) t(file_path, partition_json, record_count, n_live_snapshots,
    first_snapshot, last_snapshot)
ORDER BY file_path
"""


def audit_snapshot_summaries(
    spark: SparkSession, metadata_path: str, base_dir: str
) -> DataFrame:
    """Validate every snapshot's SUMMARY against its manifests: the
    claimed ``added-data-files`` / ``added-records`` /
    ``deleted-data-files`` / ``deleted-records`` vs the counts
    actually recoverable from the snapshot's own manifest entries
    (status ADDED/DELETED attributed to the snapshot that wrote
    them). Summaries exist so engines can answer table-size
    questions WITHOUT opening manifests — a writer that mis-states
    them silently corrupts every downstream planner's estimate,
    which is why real Iceberg audits them in its own test suite.

    Driver-side KB metadata work, like all of this module: one
    manifest parse per file, one frame."""
    meta = parse_metadata(metadata_path)
    claimed = {
        s["snapshot-id"]: s.get("summary", {}) for s in meta.snapshots
    }
    # one manifest parse per file regardless of how many snapshot
    # lists reference it; per-manifest CONTENT distinguishes data
    # from delete manifests (added-records counts DATA rows only)
    actual: dict[int, dict[str, int]] = {
        sid: {"af": 0, "ar": 0, "df": 0, "dr": 0, "delf": 0, "pd": 0, "ed": 0}
        for sid in claimed
    }
    from .manifest_io import read_manifest

    seen_manifests: set[str] = set()
    for sid in claimed:
        for m in manifest_files_at(meta, sid, base_dir):
            p = m["local_path"]
            if p in seen_manifests:
                continue
            seen_manifests.add(p)
            mcontent = m.get("content", 0)
            for rec in read_manifest(m):
                esid = rec["snapshot_id"]
                if esid not in actual:
                    continue
                a = actual[esid]
                rc = rec["data_file"]["record_count"]
                if mcontent == 0:
                    if rec["status"] == 1:
                        a["af"] += 1
                        a["ar"] += rc
                    elif rec["status"] == 2:
                        a["df"] += 1
                        a["dr"] += rc
                elif rec["status"] == 1:
                    a["delf"] += 1
                    if rec["data_file"].get("content", 1) == 2:
                        a["ed"] += rc
                    else:
                        a["pd"] += rc
    rows = []
    for sid in sorted(claimed):
        c, a = claimed[sid], actual[sid]
        vals = {
            "added_files": (int(c.get("added-data-files", 0)), a["af"]),
            "added_rows": (int(c.get("added-records", 0)), a["ar"]),
            "deleted_files": (int(c.get("deleted-data-files", 0)), a["df"]),
            "deleted_rows": (int(c.get("deleted-records", 0)), a["dr"]),
        }
        extra_ok = (
            int(c.get("added-delete-files", 0)) == a["delf"]
            and int(c.get("added-position-deletes", 0)) == a["pd"]
            and int(c.get("added-equality-deletes", 0)) == a["ed"]
        )
        rows.append(
            (
                sid,
                c.get("operation"),
                *[v for pair in vals.values() for v in pair],
                extra_ok and all(cl == ac for cl, ac in vals.values()),
            )
        )
    schema = T.StructType(
        [
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("added_files_claimed", T.LongType()),
            T.StructField("added_files_actual", T.LongType()),
            T.StructField("added_rows_claimed", T.LongType()),
            T.StructField("added_rows_actual", T.LongType()),
            T.StructField("deleted_files_claimed", T.LongType()),
            T.StructField("deleted_files_actual", T.LongType()),
            T.StructField("deleted_rows_claimed", T.LongType()),
            T.StructField("deleted_rows_actual", T.LongType()),
            T.StructField("consistent", T.BooleanType()),
        ]
    )
    return local_frame(spark, rows, schema).orderBy("snapshot_id")


def snapshot_summary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: summary-vs-manifest audit of the 4-snapshot
    fixture — every snapshot's claims must reconcile exactly with
    its manifests (golden oracle; the corrupted-summary leg lives in
    pytest)."""
    return audit_snapshot_summaries(spark, MS_METADATA, MS_DIR)


SNAPSHOT_SUMMARY_AUDIT_SQL = """
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, operation,
       CAST(afc AS BIGINT) AS added_files_claimed,
       CAST(afa AS BIGINT) AS added_files_actual,
       CAST(arc AS BIGINT) AS added_rows_claimed,
       CAST(ara AS BIGINT) AS added_rows_actual,
       CAST(dfc AS BIGINT) AS deleted_files_claimed,
       CAST(dfa AS BIGINT) AS deleted_files_actual,
       CAST(drc AS BIGINT) AS deleted_rows_claimed,
       CAST(dra AS BIGINT) AS deleted_rows_actual,
       consistent
FROM (VALUES
  (1001, 'append',    2, 2, 150, 150, 0, 0, 0, 0, TRUE),
  (1002, 'append',    2, 2, 150, 150, 0, 0, 0, 0, TRUE),
  (1003, 'overwrite', 0, 0, 0, 0, 1, 1, 50, 50, TRUE),
  (1004, 'append',    1, 1, 20, 20, 0, 0, 0, 0, TRUE)
) t(snapshot_id, operation, afc, afa, arc, ara, dfc, dfa, drc, dra, consistent)
ORDER BY snapshot_id
"""


def meta_all_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$all_manifests: every manifest referenced by ANY snapshot's
    manifest list, deduplicated by path, with the snapshot that
    added it, how many snapshot lists carry it, and its entry
    counts — the manifest-level dual of $all_files."""
    meta = parse_metadata(MS_METADATA)
    rows = []
    for s in meta.snapshots:
        sid = s["snapshot-id"]
        for m in manifest_files_at(meta, sid, MS_DIR):
            rows.append(
                (
                    sid,
                    os.path.basename(m["manifest_path"]),
                    m["added_snapshot_id"],
                    m["sequence_number"],
                    m["added_files_count"],
                    m["existing_files_count"],
                    m["deleted_files_count"],
                    m["added_rows_count"],
                )
            )
    schema = T.StructType(
        [
            T.StructField("view_snapshot_id", T.LongType()),
            T.StructField("manifest_name", T.StringType()),
            T.StructField("added_snapshot_id", T.LongType()),
            T.StructField("sequence_number", T.LongType()),
            T.StructField("added_files_count", T.LongType()),
            T.StructField("existing_files_count", T.LongType()),
            T.StructField("deleted_files_count", T.LongType()),
            T.StructField("added_rows_count", T.LongType()),
        ]
    )
    return (
        local_frame(spark, rows, schema)
        .groupBy(
            "manifest_name", "added_snapshot_id", "sequence_number",
            "added_files_count", "existing_files_count",
            "deleted_files_count", "added_rows_count",
        )
        .agg(F.countDistinct("view_snapshot_id").alias("n_referencing_snapshots"))
        .orderBy("manifest_name")
    )


META_ALL_MANIFESTS_SQL = """
SELECT manifest_name,
       CAST(added_snapshot_id AS BIGINT) AS added_snapshot_id,
       CAST(sequence_number AS BIGINT) AS sequence_number,
       CAST(added_files_count AS BIGINT) AS added_files_count,
       CAST(existing_files_count AS BIGINT) AS existing_files_count,
       CAST(deleted_files_count AS BIGINT) AS deleted_files_count,
       CAST(added_rows_count AS BIGINT) AS added_rows_count,
       CAST(n_referencing_snapshots AS BIGINT) AS n_referencing_snapshots
FROM (VALUES
  ('m1.avro', 1001, 1, 2, 0, 0, 150, 3),
  ('m2.avro', 1002, 2, 2, 0, 0, 150, 2),
  ('m3.avro', 1003, 4, 0, 3, 1, 0,   1),
  ('m4.avro', 1004, 3, 1, 0, 0, 20,  1)
) t(manifest_name, added_snapshot_id, sequence_number, added_files_count,
    existing_files_count, deleted_files_count, added_rows_count,
    n_referencing_snapshots)
ORDER BY manifest_name
"""


def files_at_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across the fixture's whole history: the live
    file set AT each of the 4 snapshots (B visible until the 1003
    rewrite deletes it; E only on the abandoned 1004 branch)."""
    meta = parse_metadata(MS_METADATA)
    rows = _snapshot_entry_rows(meta, MS_DIR)
    return (
        local_frame(spark, rows, _SNAP_ENTRIES_SCHEMA)
        .filter(F.col("status") != 2)
        .select(
            F.col("view_snapshot_id").alias("snapshot_id"),
            "file_path",
            "partition_json",
            "record_count",
        )
        .orderBy("snapshot_id", "file_path")
    )


def files_added_between_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental scan 1001 → 1003 on the fixture: exactly the
    files appended by snapshot 1002 (the 1003 rewrite adds
    nothing; carried-forward re-listings don't count)."""
    return files_added_between(spark, MS_METADATA, 1001, 1003, MS_DIR).select(
        "file_path", "snapshot_id", "partition_json", "record_count"
    ).orderBy("file_path")


# ------------------------------------------------ scan planning


def partition_spec_fields(
    meta: TableMetadata, spec_id: int | None = None
) -> list[tuple[str, str]]:
    """One partition spec as (field_name, result_type) pairs —
    transforms resolved through the schema (identity/truncate keep
    the source type; bucket is int). ``spec_id=None`` → the table's
    default spec; evolved tables carry several specs and `plan_scan`
    resolves each manifest against its OWN (VERDICT r5 #2)."""
    from .transforms import transform_result_type

    raw = meta.raw
    if spec_id is None:
        spec_id = raw.get("default-spec-id", 0)
    spec = next(s for s in raw.get("partition-specs", []) if s.get("spec-id") == spec_id)
    schema = next(
        s for s in raw.get("schemas", [raw.get("schema", {})])
        if s.get("schema-id", 0) == raw.get("current-schema-id", 0)
    )
    by_id = {f["id"]: f for f in schema.get("fields", [])}
    return [
        (f["name"], transform_result_type(f.get("transform", "identity"),
                                          by_id[f["source-id"]]["type"]))
        for f in spec.get("fields", [])
    ]


def partition_specs_by_id(meta: TableMetadata) -> dict[int, list[tuple[str, str]]]:
    return {
        s.get("spec-id", 0): partition_spec_fields(meta, s.get("spec-id", 0))
        for s in meta.raw.get("partition-specs", [])
    }


def _plan_rows(pruned, tag: tuple, blob: bytes) -> list[tuple]:
    """One manifest's live entries as ``SCAN_PLAN_SCHEMA`` rows, each
    file decided by ``pruned`` (:func:`pruning.file_pruner`)."""
    from .manifest_io import read_manifest

    mname, spec_id, m_pruned = tag
    out = []
    for rec in read_manifest(blob):
        if rec["status"] != 2:
            df_ = rec["data_file"]
            f_pruned = pruned(df_, spec_id)
            part = json.dumps(df_.get("partition"), sort_keys=True)
            out.append((mname, df_["file_path"], part, df_["record_count"],
                        m_pruned, f_pruned, not (m_pruned or f_pruned)))
    return out


def _plan_worker(ctx: dict[str, Any], blob: bytes) -> list[tuple]:
    """plan_scan's per-task decode (driver- or executor-side via
    :func:`manifest_io.manifest_frame`): the decided rows of the
    task's manifest and of the ``ctx["same_name"]`` manifests that
    share its basename, in ``file_path`` order — Spark's: nulls
    first, then UTF-8 byte order, which is Python's code-point order."""
    from .pruning import file_pruner

    pruned = file_pruner(ctx["rules"])
    rows = _plan_rows(pruned, ctx["tag"], blob)
    for tag, path in ctx["same_name"]:
        with open(path, "rb") as f:
            rows += _plan_rows(pruned, tag, f.read())
    rows.sort(key=lambda r: (r[1] is not None, r[1] or ""))
    return rows


def _normalize_partition_pred(
    pred: dict[str, Any], specs: dict[int, list[tuple[str, str]]]
) -> dict[str, Any]:
    """Convert temporal predicate values to the manifests' RAW
    stored forms (int days / long micros) so users can pass ISO
    strings or date/datetime objects — a date-typed partition pred
    compared as a string would silently select nothing (r15, the
    date-typed hive import made these partitions reachable)."""
    import datetime as _dt

    from .pruning import _endpoint

    typ_of: dict[str, str] = {}
    for spec in specs.values():
        for fn, ft in spec:
            typ_of.setdefault(fn, ft)
    out = dict(pred)
    for k, v in pred.items():
        t = typ_of.get(k)
        if t == "date" and isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if t == "date" and isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            out[k] = _endpoint("date", v)
        elif t in ("timestamp", "timestamptz") and isinstance(v, _dt.datetime):
            out[k] = _endpoint("timestamp", v)
    return out


def _manifest_partition_pruned(
    mrow: dict[str, Any],
    spec: list[tuple[str, str]],
    partition_pred: dict[str, Any],
) -> bool:
    """True when the manifest's field summaries prove no entry can
    match the (identity-equality) partition predicate. Conservative:
    a missing summary keeps the manifest."""
    from .conversions import from_bytes

    summaries = mrow.get("partitions")
    if not summaries:
        return False
    for (fname, ftype), summary in zip(spec, summaries):
        if fname not in partition_pred:
            continue
        want = partition_pred[fname]
        if want is None:
            if not summary["contains_null"]:
                return True
            continue
        lo_b, hi_b = summary.get("lower_bound"), summary.get("upper_bound")
        if lo_b is not None and want < from_bytes(ftype, lo_b):
            return True
        if hi_b is not None and want > from_bytes(ftype, hi_b):
            return True
    return False


SCAN_PLAN_SCHEMA = T.StructType(
    [
        T.StructField("manifest_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("partition_json", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("manifest_pruned", T.BooleanType()),
        T.StructField("file_pruned", T.BooleanType()),
        T.StructField("selected", T.BooleanType()),
    ]
)


def _project_source_pred(
    meta: TableMetadata, source_pred: dict[str, Any]
) -> dict[int, dict[str, Any]]:
    """Project an equality predicate on SOURCE columns into
    partition space, per spec, through each spec field's own
    transform (``id = 260`` → ``id_bucket = bucket[4](260)`` under
    a bucket spec, ``ts_day = day(...)`` under a temporal one) —
    what real Iceberg planning does with `Projections.inclusive`.
    Returns ``{spec_id: {partition_field: wanted_value}}``; a spec
    with no field over a predicated column is simply unconstrained
    there. Raises if a predicated column is a source of NO spec."""
    from .transforms import apply_transform

    schema = next(
        s for s in meta.raw.get("schemas", [meta.raw.get("schema", {})])
        if s.get("schema-id", 0) == meta.raw.get("current-schema-id", 0)
    )
    by_id = {f["id"]: f for f in schema.get("fields", [])}
    out: dict[int, dict[str, Any]] = {}
    matched: set[str] = set()
    for sp in meta.raw.get("partition-specs", []):
        sid = sp.get("spec-id", 0)
        derived: dict[str, Any] = {}
        for f in sp.get("fields", []):
            src = by_id.get(f["source-id"])
            if src is None or src["name"] not in source_pred:
                continue
            matched.add(src["name"])
            derived[f["name"]] = apply_transform(
                f.get("transform", "identity"),
                source_pred[src["name"]],
                src["type"],
            )
        if derived:
            out[sid] = derived
    unknown = set(source_pred) - matched
    if unknown:
        raise ValueError(
            f"source_pred names {sorted(unknown)} which are partition sources "
            "of no spec; a silently ignored predicate would over-select"
        )
    return out


def plan_scan(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int,
    *,
    partition_pred: dict[str, Any] | None = None,
    source_pred: dict[str, Any] | None = None,
    field_id: int | None = None,
    lo: Any = None,
    hi: Any = None,
    cast_to: str = "bigint",
    geo_bbox: dict[int, tuple] | None = None,
    base_dir: str | None = None,
    debug: bool = False,
) -> DataFrame:
    """Two-level scan planning at a snapshot — the full chain the
    reference's decoded bounds exist to serve:

    1. **manifest level** — the manifest list's partition field
       summaries prune whole manifests whose partition-value range
       cannot contain the (identity-equality) predicate; a pruned
       manifest's Avro is never even opened (unless ``debug``);
    2. **file level** — the worker that decodes each surviving
       manifest decides its live entries on typed values
       (:mod:`.pruning`, the shape of Iceberg's ``planFiles``): the
       exact partition match, the ``field_id`` bound interval
       ``[lo, hi]`` read as ``cast_to`` (a bound that cannot be read
       so raises ``ValueError``) and the ``geo_bbox`` boxes.

    ``partition_pred`` constrains partition FIELDS by name;
    ``source_pred`` constrains SOURCE columns, projected through each
    spec's own transforms (:func:`_project_source_pred`), so
    ``{"id": 260}`` prunes a ``bucket[4](id)`` table to one bucket.

    Returns the decision table (``SCAN_PLAN_SCHEMA``); the production
    file set is ``.filter("selected")``. With ``debug`` pruned
    manifests ARE read, so every file's decision shows (``EXPLAIN``).
    Rows come in ``(manifest_name, file_path)`` order with no Spark
    sort or expression: tasks run in manifest-name order, each
    returning its rows in ``file_path`` order, so collecting runs one
    job when the manifests parse on executors and none on the driver.
    """
    from .manifest_io import manifest_frame
    from .pruning import file_rules

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    specs = partition_specs_by_id(meta) or {0: partition_spec_fields(meta)}
    pred = _normalize_partition_pred(partition_pred or {}, specs)
    all_fields = {fname for spec in specs.values() for fname, _ in spec}
    unknown = set(pred) - all_fields
    if unknown:
        raise ValueError(
            f"partition_pred names {sorted(unknown)} which are not partition "
            f"fields of any spec of the table (fields: {sorted(all_fields)}); "
            "a silently ignored predicate would return an over-selected plan"
        )
    derived = _project_source_pred(meta, source_pred) if source_pred else {}
    # level 2's equalities per spec: the global predicates on its own
    # fields, then the source predicate projected through its transforms
    spec_preds = {
        sid: [(f, pred[f]) for f in sorted({fn for fn, _ in sp} & set(pred))]
        + sorted(derived.get(sid, {}).items())
        for sid, sp in specs.items()
    }
    rules = file_rules(spec_preds, field_id_types(meta.raw), field_id, lo, hi, cast_to, geo_bbox)
    by_name: dict[str, list[tuple[tuple, str]]] = {}
    for mrow in manifest_files_at(meta, snapshot_id, base_dir):
        if mrow.get("content", 0) != 0:
            continue  # delete manifests: deletes.py's input, not data
        mname = os.path.basename(mrow["manifest_path"])
        spec_id = mrow.get("partition_spec_id", 0)
        # summaries align with the manifest's OWN spec's fields
        m_pruned = _manifest_partition_pruned(
            mrow, specs[spec_id], {**pred, **derived.get(spec_id, {})}
        )
        if m_pruned and not debug:
            continue
        by_name.setdefault(mname, []).append(
            ((mname, spec_id, m_pruned), mrow["local_path"])
        )
    # tasks in manifest-name order; manifests sharing a basename parse
    # as one task, so their rows interleave by path as a sort would
    tasks = [
        ({"rules": rules, "tag": tag, "same_name": rest}, path)
        for _, ((tag, path), *rest) in sorted(by_name.items())
    ]
    return manifest_frame(spark, tasks, _plan_worker, SCAN_PLAN_SCHEMA)


def scan_plan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate decision table: snapshot 1004 (3 manifests),
    predicate ``category = 'z' AND id ∈ [260, 400]``. The manifest
    level prunes m1 (x..y) and m4 (y..y) outright; m2's summary
    range x..z straddles 'z' so it survives (conservative), its C
    falls to the partition match and only D is selected."""
    return plan_scan(
        spark,
        MS_METADATA,
        1004,
        partition_pred={"category": "z"},
        field_id=1,
        lo=260,
        hi=400,
        base_dir=MS_DIR,
        debug=True,
    )


def meta_rewritten_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-rewrite round trip surfaced through the driver gate:
    compact snapshot 1002's two manifests (m1, m2) into ONE new
    manifest via the Avro writer (``iceberg/rewrite.py``), read it
    back through the standard entries pipeline, and emit the live
    set — every file EXISTING under its ORIGINAL snapshot id."""
    import tempfile

    from .rewrite import plan_manifest_groups, rewrite_manifests

    meta = parse_metadata(MS_METADATA)
    paths = manifest_paths_at(meta, 1002, MS_DIR)
    groups = plan_manifest_groups(paths, target_bytes=1 << 20)
    # rows are parsed driver-side before Spark sees them, so the
    # rewritten Avro can live in a self-cleaning temp dir
    with tempfile.TemporaryDirectory(prefix="rewrite_manifests_") as out_dir:
        stats = rewrite_manifests(groups, out_dir)
        rows = _scalar_entry_rows([s["out_path"] for s in stats], meta.raw)
    return (
        local_frame(spark, rows, ENTRIES_SCALAR_SCHEMA)
        .select(
            "file_path",
            "status_name",
            "snapshot_id",
            "partition_json",
            "record_count",
            "lower_bounds_json",
            "upper_bounds_json",
        )
        .orderBy("file_path")
    )


EXPIRE_PLAN_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("action", T.StringType()),
        T.StructField("reason", T.StringType()),
    ]
)


def expire_snapshots_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``plan_expire_snapshots`` surfaced through the driver gate on
    the 4-snapshot fixture (keep_last=2): the two oldest appends age
    out, the rewrite (current) and the newest-by-timestamp survive —
    certifying the planner beyond its unit tests."""
    from .maintenance import plan_expire_snapshots

    meta = parse_metadata(MS_METADATA)
    rows = [
        (p["snapshot_id"], p["timestamp_ms"], p["action"], p["reason"])
        for p in plan_expire_snapshots(meta, keep_last=2)
    ]
    return local_frame(spark, rows, EXPIRE_PLAN_SCHEMA).orderBy("timestamp_ms")


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``plan_compaction`` over the live files AT snapshot 1002
    (target 1000 bytes): partition x splits into two groups (C=1100
    alone overflows the target; A starts the next), y and z each
    pack into one — certifying the bin-packer's split behavior
    through the driver gate."""
    from .maintenance import plan_compaction

    files = files_at(spark, MS_METADATA, 1002, MS_DIR)
    return (
        plan_compaction(files, target_size_bytes=1000)
        .select(
            "partition_json",
            F.col("group_id").cast("bigint").alias("group_id"),
            F.col("n_files").cast("bigint").alias("n_files"),
            F.col("group_bytes").cast("bigint").alias("group_bytes"),
            F.array_join(F.array_sort("files"), ",").alias("files_csv"),
        )
        .orderBy("partition_json", "group_id")
    )


def orphan_files_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``find_orphan_files`` surfaced through the driver gate: a
    synthetic filesystem listing of every data file the fixture ever
    wrote (plus a stray temp file) anti-joined against the CURRENT
    snapshot's live set — B (deleted at 1003), E (only on the
    abandoned branch), and the stray are orphans; A/C/D are not."""
    from .maintenance import find_orphan_files

    listing = local_frame(
        spark,
        [
            (f"{_P}/category=x/A.parquet",),
            (f"{_P}/category=y/B.parquet",),
            (f"{_P}/category=x/C.parquet",),
            (f"{_P}/category=z/D.parquet",),
            (f"{_P}/category=y/E.parquet",),
            (f"{_P}/.stray-upload.parquet.tmp",),
        ],
        T.StructType([T.StructField("file_path", T.StringType())]),
    )
    meta = parse_metadata(MS_METADATA)
    live = files_at(spark, MS_METADATA, meta.current_snapshot_id, MS_DIR)
    return find_orphan_files(listing, live).orderBy("file_path")



# -------------------------------------------------- DuckDB oracles

META_SNAPSHOTS_MULTI_SQL = f"""
WITH j AS (SELECT json(content) AS doc FROM read_text('{MS_METADATA}')),
snaps AS (SELECT unnest(CAST(json_extract(doc, '$.snapshots') AS JSON[])) AS s FROM j)
SELECT make_timestamp(CAST(json_extract(s, '$."timestamp-ms"') AS BIGINT) * 1000) AS committed_at,
       CAST(json_extract(s, '$."snapshot-id"') AS BIGINT) AS snapshot_id,
       CAST(json_extract(s, '$."parent-snapshot-id"') AS BIGINT) AS parent_id,
       json_extract_string(s, '$.summary.operation') AS operation,
       json_extract_string(s, '$."manifest-list"') AS manifest_list
FROM snaps
ORDER BY committed_at
"""

META_HISTORY_MULTI_SQL = f"""
WITH RECURSIVE j AS (SELECT json(content) AS doc FROM read_text('{MS_METADATA}')),
snaps AS (
  SELECT CAST(json_extract(s, '$."snapshot-id"') AS BIGINT) AS sid,
         CAST(json_extract(s, '$."parent-snapshot-id"') AS BIGINT) AS parent
  FROM (SELECT unnest(CAST(json_extract(doc, '$.snapshots') AS JSON[])) AS s FROM j) u),
anc(sid) AS (
  SELECT CAST(json_extract(doc, '$."current-snapshot-id"') AS BIGINT) FROM j
  UNION
  SELECT p.sid
  FROM anc JOIN snaps s ON s.sid = anc.sid JOIN snaps p ON p.sid = s.parent),
log AS (
  SELECT make_timestamp(CAST(json_extract(e, '$."timestamp-ms"') AS BIGINT) * 1000) AS made_current_at,
         CAST(json_extract(e, '$."snapshot-id"') AS BIGINT) AS snapshot_id
  FROM (SELECT unnest(CAST(json_extract(doc, '$."snapshot-log"') AS JSON[])) AS e FROM j) u)
SELECT made_current_at, snapshot_id,
       snapshot_id IN (SELECT sid FROM anc) AS is_current_ancestor
FROM log
ORDER BY made_current_at
"""

# Golden VALUES pinned to the generator's declared fixture contents
# (scripts/gen_multi_snapshot_fixture.py FILES/MANIFESTS tables —
# Avro manifests, which DuckDB cannot read natively).

_P = "file:///tmp/multi_snapshot/data"

META_MANIFESTS_SQL = """
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, manifest_name,
       CAST(sequence_number AS BIGINT) AS sequence_number,
       CAST(added_snapshot_id AS BIGINT) AS added_snapshot_id,
       CAST(added_files_count AS BIGINT) AS added_files_count,
       CAST(existing_files_count AS BIGINT) AS existing_files_count,
       CAST(deleted_files_count AS BIGINT) AS deleted_files_count,
       CAST(added_rows_count AS BIGINT) AS added_rows_count,
       CAST(existing_rows_count AS BIGINT) AS existing_rows_count,
       CAST(deleted_rows_count AS BIGINT) AS deleted_rows_count
FROM (VALUES
  (1001, 'm1.avro', 1, 1001, 2, 0, 0, 150, 0, 0),
  (1002, 'm1.avro', 1, 1001, 2, 0, 0, 150, 0, 0),
  (1002, 'm2.avro', 2, 1002, 2, 0, 0, 150, 0, 0),
  (1003, 'm3.avro', 4, 1003, 0, 3, 1, 0, 250, 50),
  (1004, 'm1.avro', 1, 1001, 2, 0, 0, 150, 0, 0),
  (1004, 'm2.avro', 2, 1002, 2, 0, 0, 150, 0, 0),
  (1004, 'm4.avro', 3, 1004, 1, 0, 0, 20, 0, 0)
) t(snapshot_id, manifest_name, sequence_number, added_snapshot_id,
    added_files_count, existing_files_count, deleted_files_count,
    added_rows_count, existing_rows_count, deleted_rows_count)
ORDER BY snapshot_id, manifest_name
"""

META_ENTRY_STATUS_DIST_SQL = """
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, status_name,
       CAST(n_entries AS BIGINT) AS n_entries,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (VALUES
  (1001, 'ADDED', 2, 150),
  (1002, 'ADDED', 4, 300),
  (1003, 'DELETED', 1, 50),
  (1003, 'EXISTING', 3, 250),
  (1004, 'ADDED', 5, 320)
) t(snapshot_id, status_name, n_entries, n_rows)
ORDER BY snapshot_id, status_name
"""

FILES_AT_SNAPSHOT_SQL = f"""
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, file_path,
       partition_json, CAST(record_count AS BIGINT) AS record_count
FROM (VALUES
  (1001, '{_P}/category=x/A.parquet', '{{"category": "x"}}', 100),
  (1001, '{_P}/category=y/B.parquet', '{{"category": "y"}}', 50),
  (1002, '{_P}/category=x/A.parquet', '{{"category": "x"}}', 100),
  (1002, '{_P}/category=y/B.parquet', '{{"category": "y"}}', 50),
  (1002, '{_P}/category=x/C.parquet', '{{"category": "x"}}', 100),
  (1002, '{_P}/category=z/D.parquet', '{{"category": "z"}}', 50),
  (1003, '{_P}/category=x/A.parquet', '{{"category": "x"}}', 100),
  (1003, '{_P}/category=x/C.parquet', '{{"category": "x"}}', 100),
  (1003, '{_P}/category=z/D.parquet', '{{"category": "z"}}', 50),
  (1004, '{_P}/category=x/A.parquet', '{{"category": "x"}}', 100),
  (1004, '{_P}/category=y/B.parquet', '{{"category": "y"}}', 50),
  (1004, '{_P}/category=x/C.parquet', '{{"category": "x"}}', 100),
  (1004, '{_P}/category=z/D.parquet', '{{"category": "z"}}', 50),
  (1004, '{_P}/category=y/E.parquet', '{{"category": "y"}}', 20)
) t(snapshot_id, file_path, partition_json, record_count)
ORDER BY snapshot_id, file_path
"""

FILES_ADDED_BETWEEN_SQL = f"""
SELECT file_path, CAST(snapshot_id AS BIGINT) AS snapshot_id,
       partition_json, CAST(record_count AS BIGINT) AS record_count
FROM (VALUES
  ('{_P}/category=x/C.parquet', 1002, '{{"category": "x"}}', 100),
  ('{_P}/category=z/D.parquet', 1002, '{{"category": "z"}}', 50)
) t(file_path, snapshot_id, partition_json, record_count)
ORDER BY file_path
"""


def _bounds(lo: int, hi: int, cat: str) -> tuple[str, str]:
    lb = f'{{"1": "value:{lo};type:long", "2": "value:{cat};type:string"}}'
    ub = f'{{"1": "value:{hi};type:long", "2": "value:{cat};type:string"}}'
    return lb, ub


_REWRITE_ROWS = ",\n  ".join(
    f"('{_P}/category={cat}/{n}.parquet', 'EXISTING', {snap}, "
    f"'{{\"category\": \"{cat}\"}}', {rc}, '{lb}', '{ub}')"
    for n, cat, snap, rc, (lb, ub) in [
        ("A", "x", 1001, 100, _bounds(1, 100, "x")),
        ("B", "y", 1001, 50, _bounds(101, 150, "y")),
        ("C", "x", 1002, 100, _bounds(151, 250, "x")),
        ("D", "z", 1002, 50, _bounds(251, 300, "z")),
    ]
)

ORPHAN_FILES_SQL = f"""
SELECT file_path
FROM (VALUES
  ('{_P}/.stray-upload.parquet.tmp'),
  ('{_P}/category=y/B.parquet'),
  ('{_P}/category=y/E.parquet')
) t(file_path)
ORDER BY file_path
"""

META_REWRITTEN_FILES_SQL = f"""
SELECT file_path, status_name, CAST(snapshot_id AS BIGINT) AS snapshot_id,
       partition_json, CAST(record_count AS BIGINT) AS record_count,
       lower_bounds_json, upper_bounds_json
FROM (VALUES
  {_REWRITE_ROWS}
) t(file_path, status_name, snapshot_id, partition_json, record_count,
    lower_bounds_json, upper_bounds_json)
ORDER BY file_path
"""

EXPIRE_SNAPSHOTS_PLAN_SQL = """
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
       CAST(timestamp_ms AS BIGINT) AS timestamp_ms, action, reason
FROM (VALUES
  (1001, 1700000001000, 'expire', 'aged-out'),
  (1002, 1700000002000, 'expire', 'aged-out'),
  (1004, 1700000003000, 'keep', 'current-or-recent'),
  (1003, 1700000004000, 'keep', 'current-or-recent')
) t(snapshot_id, timestamp_ms, action, reason)
ORDER BY timestamp_ms
"""

COMPACTION_PLAN_SQL = f"""
SELECT partition_json, CAST(group_id AS BIGINT) AS group_id,
       CAST(n_files AS BIGINT) AS n_files,
       CAST(group_bytes AS BIGINT) AS group_bytes, files_csv
FROM (VALUES
  ('{{"category": "x"}}', 0, 1, 1100, '{_P}/category=x/C.parquet'),
  ('{{"category": "x"}}', 1, 1, 1000, '{_P}/category=x/A.parquet'),
  ('{{"category": "y"}}', 0, 1, 600, '{_P}/category=y/B.parquet'),
  ('{{"category": "z"}}', 0, 1, 700, '{_P}/category=z/D.parquet')
) t(partition_json, group_id, n_files, group_bytes, files_csv)
ORDER BY partition_json, group_id
"""

SCAN_PLAN_PRUNED_SQL = f"""
SELECT manifest_name, file_path, partition_json,
       CAST(record_count AS BIGINT) AS record_count,
       manifest_pruned, file_pruned, selected
FROM (VALUES
  ('m1.avro', '{_P}/category=x/A.parquet', '{{"category": "x"}}', 100, true,  true,  false),
  ('m1.avro', '{_P}/category=y/B.parquet', '{{"category": "y"}}', 50,  true,  true,  false),
  ('m2.avro', '{_P}/category=x/C.parquet', '{{"category": "x"}}', 100, false, true,  false),
  ('m2.avro', '{_P}/category=z/D.parquet', '{{"category": "z"}}', 50,  false, false, true),
  ('m4.avro', '{_P}/category=y/E.parquet', '{{"category": "y"}}', 20,  true,  true,  false)
) t(manifest_name, file_path, partition_json, record_count,
    manifest_pruned, file_pruned, selected)
ORDER BY manifest_name, file_path
"""


def geo_scan_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for v3 GEOSPATIAL planning (``sf_dir`` unused): a
    scratch geometry-bounded table (three disjoint bboxes + one
    unbounded file) planned under three query boxes — overlap-one,
    straddle-two, empty-space — plus the closed-box edge case.
    Golden oracle (selection counts per box follow from the fixture
    geometry). Spec: Iceberg v3 "Bound serialization" for
    geometry/geography (point-encoded min/max corners)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .commit import _scratch_dir, append_snapshot, create_table
    from .conversions import wkb_point

    root = _scratch_dir("geo_scan_")
    mp = create_table(
        os.path.join(root, "t"),
        [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "shape", "required": False,
             "type": "geometry"},
        ],
        format_version=3,
    )
    troot = os.path.join(root, "t")
    boxes = {"west.parquet": (0, 0, 10, 10),
             "east.parquet": (100, 0, 110, 10),
             "north.parquet": (0, 100, 10, 110)}
    files = []
    for name in [*boxes, "unbounded.parquet"]:
        pq.write_table(
            pa.table({"id": pa.array([1], "int64"),
                      "shape": pa.array([b"\x00"], pa.binary())}),
            os.path.join(troot, "data", name),
        )
        entry = {"path": f"data/{name}", "partition": {}}
        if name in boxes:
            xmin, ymin, xmax, ymax = boxes[name]
            entry["lower_bounds"] = [{"key": 2, "value": wkb_point(xmin, ymin)}]
            entry["upper_bounds"] = [{"key": 2, "value": wkb_point(xmax, ymax)}]
        files.append(entry)
    res = append_snapshot(mp, files)
    queries = [
        ("edge_touch", (10, 10, 11, 11)),
        ("empty_space", (50, 50, 60, 60)),
        ("overlap_west", (5, 5, 20, 20)),
        ("straddle_we", (9, -5, 105, 5)),
    ]
    # ONE Spark job for all four probe boxes: each box's plan frame
    # is tagged with its query name and the four union — four
    # separate collects paid 4× the per-query analysis/codegen/job
    # latency for the same 16 decision rows (r16 optimization)
    from functools import reduce

    tagged = [
        plan_scan(
            spark, res["metadata_path"], res["snapshot_id"],
            geo_bbox={2: bbox}, base_dir=troot,
        ).select(F.lit(qname).alias("query"), "file_path", "selected")
        for qname, bbox in queries
    ]
    plan = reduce(DataFrame.unionByName, tagged).collect()
    by_q: dict[str, list[str]] = {qname: [] for qname, _ in queries}
    for r in plan:
        if r.selected:
            by_q[r.query].append(os.path.basename(r.file_path).split(".")[0])
    rows = [
        (qname, len(sorted(sel)), ",".join(sorted(sel)))
        for qname, sel in by_q.items()
    ]
    return local_frame(
        spark,
        rows, "query string, n_selected long, selected string"
    ).orderBy("query")


GEO_SCAN_SQL = """
SELECT query, CAST(n_selected AS BIGINT) AS n_selected, selected
FROM (VALUES
  ('edge_touch', 2, 'unbounded,west'),
  ('empty_space', 1, 'unbounded'),
  ('overlap_west', 2, 'unbounded,west'),
  ('straddle_we', 3, 'east,unbounded,west')
) t(query, n_selected, selected)
ORDER BY query
"""
