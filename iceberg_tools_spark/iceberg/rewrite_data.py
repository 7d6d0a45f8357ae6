"""Rewrite-data-files execution: fold applied deletes into fresh
parquet and commit the swap — the executable form of
``delete_compaction_plan`` (which only plans).

Semantics (Iceberg's RewriteDataFiles contract): the table's ROWS
are unchanged — a rewritten file contains exactly its source file's
surviving rows (positional and equality deletes applied), and the
replace snapshot swaps the files atomically:

* new manifest: ADDED entries for the rewritten files at the NEW
  sequence number — so no older delete file applies to them again
  (their dead rows are physically gone);
* parent data manifests CONTAINING a replaced file are rebuilt
  without it, entries re-statused EXISTING with explicit sequence
  numbers and original snapshot attribution (each manifest against
  its OWN partition spec — spec evolution respected); untouched
  manifests — data and delete alike — carry forward VERBATIM (their
  parent list rows re-used, zero Avro churn);
* delete manifests' rows may still gate files that were NOT
  rewritten — that is why they stay.

The fold itself is executor work (a parquet scan + anti-joins, the
same plan `read_mor` builds, restricted to one file); the commit is
KB-scale driver metadata like every commit. The key invariant —
``read_mor`` before == ``read_mor`` after — is pinned by pytest.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .commit import ADDED, SnapshotProducer
from .deletes import (
    EQUALITY_DELETES,
    POSITION_DELETES,
    _is_dv,
    apply_deletes,
    mor_entries_at,
)
from .manifest_io import read_manifest
from .snapshots import manifest_files_at


def _plan_rewrite_targets(
    spark: SparkSession,
    data: list[dict[str, Any]],
    dels: list[dict[str, Any]],
) -> list[str]:
    """rels of live data files with ≥1 applicable positional-delete
    row — the default rewrite target set. v3 deletion vectors
    resolve from manifest metadata alone (referenced file +
    cardinality, zero file reads); plain delete parquet is counted
    in ONE distributed job — delete files are data-scale at 100 TB,
    so the former per-(data file × delete file) driver-side DuckDB
    COUNT loop was O(F·D) driver work over executor-sized inputs
    (VERDICT r6 #3)."""
    by_path = {e["file_path"]: e for e in data}
    targets: set[str] = set()
    plain: list[dict[str, Any]] = []
    for d in dels:
        if d["content"] != POSITION_DELETES:
            continue
        if _is_dv(d):
            e = by_path.get(d.get("referenced_data_file"))
            if (
                e is not None
                and e["sequence_number"] <= d["sequence_number"]
                and d.get("record_count")
            ):
                targets.add(e["rel"])
        else:
            plain.append(d)
    if plain:
        from functools import reduce

        # one multi-path scan per distinct sequence number (r16: was
        # one scan node per delete file — see _pos_delete_frame);
        # explicit schema: no inference pass, heterogeneous optional
        # `row` payloads can't break the merge (ADVICE r16)
        by_seq: dict[int, list[str]] = {}
        for d in plain:
            by_seq.setdefault(d["sequence_number"], []).append(d["local_path"])
        pd_all = reduce(
            DataFrame.unionByName,
            [
                spark.read.schema("file_path string, pos bigint")
                .parquet(*sorted(paths))
                .select(
                    F.regexp_extract("file_path", r"data/.*$", 0).alias("pd_rel"),
                    F.lit(seq).alias("pd_seq"),
                )
                for seq, paths in sorted(by_seq.items())
            ],
        )
        info = local_frame(
            spark,
            [(e["rel"], e["sequence_number"]) for e in data],
            "rel string, dseq bigint",
        )
        hit = (
            pd_all.join(
                F.broadcast(info),
                (pd_all["pd_rel"] == info["rel"])
                & (info["dseq"] <= pd_all["pd_seq"]),
            )
            .select("rel")
            .distinct()
            .collect()
        )
        targets |= {r["rel"] for r in hit}
    return sorted(targets)


def _equality_affected(
    data: list[dict[str, Any]],
    dels: list[dict[str, Any]],
) -> set[str]:
    """rels of live data files that MAY have an applicable equality
    delete, decided from manifest metadata alone (no file reads):
    the delete's sequence gate is strict (``data_seq < delete_seq``,
    :func:`deletes.apply_deletes`) and its partition tuple scopes it
    null-safely — a data file whose tuple carries a gated field with
    a DIFFERENT value is provably unaffected; a file under another
    spec is conservatively kept. The value-based exclusion applies
    ONLY when the data entry's spec_id matches the delete's
    (ADVICE r9: a field NAME reused across specs with a different
    transform makes values differ spuriously — same source column,
    different bucket count — and a spec-blind compare would repack
    the file past the delete, resurrecting deleted rows). This is
    the exclusion set compaction needs: repacking an affected file
    would commit its rows at a NEW sequence number PAST the delete
    (ADVICE r8 high)."""
    eq = [d for d in dels if d["content"] == EQUALITY_DELETES]
    if not eq:
        return set()
    affected: set[str] = set()
    for e in data:
        for d in eq:
            if e["sequence_number"] >= d["sequence_number"]:
                continue
            dpart = d.get("partition") or {}
            epart = e.get("partition") or {}
            if (
                e.get("spec_id") == d.get("spec_id")
                and any(k in epart and epart[k] != v for k, v in dpart.items())
            ):
                continue  # provably out of the delete's partition scope
            affected.add(e["rel"])
            break
    return affected


def _fold_and_write(
    spark: SparkSession,
    meta,
    entries: list[dict[str, Any]],
    dels: list[dict[str, Any]],
    table_root: str,
    snapshot_id: int,
    *,
    lineage: bool = False,
) -> dict[str, str]:
    """Fold applicable deletes into ALL target files and write every
    replacement parquet in ONE Spark job: the targets go through the
    exact scan + anti-join plan ``read_mor_projected`` builds
    (projected scan parts + ``apply_deletes``), then one shuffle on
    the per-file token and a
    ``partitionBy`` write puts each file's survivors in its own
    single part file, executor-parallel across files. (The former
    per-file ``coalesce(1)`` driver loop serialized the rewrite —
    linear wall-time in file count; VERDICT r6 #2.)

    Returns rel → replacement local path; replacement files are
    named ``{stem}-rw{snapshot_id}{ext}`` next to their source.

    The scan projects every target through the CURRENT schema via
    field ids / the historical-alias name mapping (one scan group
    per write-schema generation, exactly ``read_mor_projected``'s
    shape) — a plain name-based union would silently null-fill the
    old-named column of any pre-rename target and the REPLACE
    commit would persist those nulls (ADVICE r7). Replacement files
    are therefore written under CURRENT column names, which the
    same mapping resolves on every future read."""
    from functools import reduce

    from .evolution import projected_scan_parts

    parts = projected_scan_parts(
        spark, meta, [e["local_path"] for e in entries], tag=True
    )
    df = reduce(DataFrame.unionByName, parts)
    seq_df = local_frame(
        spark,
        [(e["rel"], e["sequence_number"]) for e in entries],
        "seq_rel string, _seq bigint",
    )
    df = df.join(
        F.broadcast(seq_df), df["_rel"] == seq_df["seq_rel"], "left"
    ).drop("seq_rel")
    surv = apply_deletes(spark, meta, df, dels, mode="survivors")
    out_cols = [c for c in df.columns if c not in ("_rel", "_pos", "_seq")]
    if lineage:
        # v3 row lineage survives the rewrite by MATERIALIZING the
        # spec's reserved columns in the replacement files (rows
        # move, so first_row_id + position can no longer derive
        # them); the lineage read prefers the physical column
        fr = local_frame(
            spark,
            [(e["rel"], e.get("first_row_id")) for e in entries],
            "fr_rel string, _fr bigint",
        )
        surv = (
            surv.join(F.broadcast(fr), surv["_rel"] == fr["fr_rel"], "left")
            .drop("fr_rel")
            .withColumn(
                "_row_id", (F.col("_fr") + F.col("_pos")).cast("long")
            )
            .withColumn(
                "_last_updated_sequence_number", F.col("_seq").cast("long")
            )
            .drop("_fr")
        )
        out_cols = [
            *[c for c in out_cols
              if c not in ("_row_id", "_last_updated_sequence_number")],
            "_row_id",
            "_last_updated_sequence_number",
        ]
    tok = {e["rel"]: f"t{i:05d}" for i, e in enumerate(entries)}
    tok_df = local_frame(
        spark,
        [(rel, t) for rel, t in tok.items()], "tok_rel string, _tok string"
    )
    tmp = os.path.join(table_root, f"_rw{snapshot_id}-spark-tmp")
    (
        surv.join(F.broadcast(tok_df), surv["_rel"] == tok_df["tok_rel"])
        .select(*out_cols, "_tok")
        .repartition("_tok")
        .write.partitionBy("_tok")
        .mode("overwrite")
        .parquet(tmp)
    )
    empty_part: str | None = None
    if any(
        not glob.glob(os.path.join(tmp, f"_tok={t}", "part-*.parquet"))
        for t in tok.values()
    ):
        # a fully-dead target yields no partition directory; one
        # zero-row write supplies the schema-bearing empty file
        surv.select(*out_cols).limit(0).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "_empty")
        )
        (empty_part,) = glob.glob(os.path.join(tmp, "_empty", "part-*.parquet"))
    new_paths: dict[str, str] = {}
    for rel, t in tok.items():
        stem, ext = os.path.splitext(rel)
        new_rel = f"{stem}-rw{snapshot_id}{ext}"
        out_path = os.path.join(table_root, new_rel)
        parts = glob.glob(os.path.join(tmp, f"_tok={t}", "part-*.parquet"))
        if parts:
            (part,) = parts  # repartition(_tok) ⇒ one part per token
            os.replace(part, out_path)
        else:
            shutil.copyfile(empty_part, out_path)
        new_paths[rel] = out_path
    shutil.rmtree(tmp, ignore_errors=True)
    return new_paths


def _write_single_parquet(df: DataFrame, out_path: str) -> None:
    """Write `df` as exactly one parquet file at `out_path` (the
    executor writes a one-part directory; the part file is moved
    into place)."""
    tmp = out_path + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    os.replace(part, out_path)
    shutil.rmtree(tmp, ignore_errors=True)


def rewrite_data_files(
    spark: SparkSession,
    metadata_path: str,
    target_rels: list[str] | None = None,
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Fold deletes into the targeted data files and commit the
    replace snapshot. ``target_rels`` defaults to every data file
    with at least one applicable positional delete (the files
    ``delete_compaction_plan`` would flag at threshold 0)."""
    import pyarrow.parquet as pq

    producer = SnapshotProducer(
        metadata_path, base_dir, snapshot_id=snapshot_id, timestamp_ms=timestamp_ms
    )
    meta, raw, loc = producer.meta, producer.raw, producer.loc
    parent_id, snapshot_id = producer.parent_id, producer.snapshot_id
    data, dels = mor_entries_at(meta, parent_id, producer.base_dir)

    if target_rels is None:
        target_rels = _plan_rewrite_targets(spark, data, dels)
    if not target_rels:
        raise ValueError("no files to rewrite (no applicable positional deletes)")
    targets = {e["rel"]: e for e in data if e["rel"] in set(target_rels)}
    missing = set(target_rels) - set(targets)
    if missing:
        raise ValueError(f"target files not live at snapshot {parent_id}: {sorted(missing)}")

    # ---- fold + write ALL replacement files in one Spark job
    new_paths = _fold_and_write(
        spark, meta, sorted(targets.values(), key=lambda e: e["rel"]),
        dels, producer.table_root, snapshot_id,
        lineage=int(raw.get("format-version", 2)) >= 3,
    )
    new_entries = []
    for rel, e in sorted(targets.items()):
        stem, ext = os.path.splitext(rel)
        new_rel = f"{stem}-rw{snapshot_id}{ext}"
        out_path = new_paths[rel]
        new_entries.append(
            {
                "spec_id": e["spec_id"],
                "entry": {
                    "status": ADDED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": None,  # inherit new seq
                    "data_file": {
                        "content": 0,
                        "file_path": f"{loc}/{new_rel}",
                        "file_format": "PARQUET",
                        "partition": e["partition"],
                        "record_count": pq.read_metadata(out_path).num_rows,
                        "file_size_in_bytes": os.path.getsize(out_path),
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": None,
                        "sort_order_id": None,
                    },
                },
            }
        )

    return _replace_commit(producer, targets, new_entries)


def _replace_commit(
    producer: SnapshotProducer,
    targets: dict[str, dict[str, Any]],
    new_entries: list[dict[str, Any]],
    extra_summary: dict[str, str] | None = None,
) -> dict[str, Any]:
    """REPLACE-snapshot commit shared by the delete-folding rewrite
    and the binpack compactor: drop ``targets`` from the live set
    (untouched manifests carried forward VERBATIM, touched ones
    rebuilt with EXISTING survivors), add ``new_entries`` in fresh
    ADDED manifests, write manifest list + metadata.json."""
    raw, snapshot_id = producer.raw, producer.snapshot_id
    # v3 row lineage (r15 — found by the row-tracking bridge): a
    # rebuilt manifest's EXISTING survivors must keep their
    # first_row_id (dropping it silently nulls _row_id after any
    # compaction), and new ADDED entries get fresh ids from
    # next-row-id unless the caller assigned them
    lineage = int(raw.get("format-version", 2)) >= 3
    row_counter = int(raw.get("next-row-id", 0))

    # ---- parent manifests: carry untouched ones forward VERBATIM
    # (their list rows re-used as-is — zero Avro churn, stable
    # names); only manifests actually containing a replaced file
    # are rebuilt without it
    replaced_paths = {targets[r]["file_path"] for r in targets}
    list_rows: list[dict] = []
    for mrow in manifest_files_at(producer.meta, producer.parent_id, producer.base_dir):
        if mrow.get("content", 0) == 1:
            # delete manifest: carry forward verbatim
            list_rows.append(mrow)
            continue
        records = list(read_manifest(mrow))
        if not any(
            rec["data_file"]["file_path"] in replaced_paths for rec in records
        ):
            list_rows.append(mrow)
            continue
        row = producer.rebuild_manifest(
            mrow, records, lambda df_: df_["file_path"] not in replaced_paths,
            "rw", lineage=lineage,
        )
        if row is not None:  # a fully replaced manifest is dropped
            list_rows.append(row)

    # ---- the new ADDED manifest(s): one per spec among rewritten files
    by_spec: dict[int, list[dict]] = {}
    for ne in new_entries:
        by_spec.setdefault(ne["spec_id"], []).append(ne["entry"])
    for spec_id, group in sorted(by_spec.items()):
        if lineage:
            for entry in group:
                df_ = entry["data_file"]
                if df_.get("first_row_id") is None:
                    df_["first_row_id"] = row_counter
                    row_counter += int(df_.get("record_count") or 0)
                else:
                    row_counter = max(
                        row_counter,
                        int(df_["first_row_id"])
                        + int(df_.get("record_count") or 0),
                    )
        list_rows.append(
            producer.write_manifest(
                f"manifest-rw{snapshot_id}-s{spec_id}.avro",
                group,
                spec_id=spec_id,
                content=0,
                lineage=lineage,
            )
        )

    res = producer.commit(
        list_rows,
        {
            "operation": "replace",
            "rewritten-data-files": str(len(targets)),
            "added-data-files": str(len(new_entries)),
        },
        extra_summary=extra_summary,
        next_row_id=(
            row_counter
            if lineage and row_counter != int(raw.get("next-row-id", 0))
            else None
        ),
    )
    return {
        "metadata_path": res["metadata_path"],
        "snapshot_id": snapshot_id,
        "sequence_number": res["sequence_number"],
        "rewritten": sorted(targets),
        "new_files": [ne["entry"]["data_file"]["file_path"] for ne in new_entries],
    }


# ------------------------------------------------ driver-gate query

def rewrite_datafiles_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate round-trip for rewrite execution: scratch-copy the
    MoR fixture, fold its positional deletes (A loses 10 rows, C
    loses 5), and return the new snapshot's listing through ordinary
    time travel. file_size is excluded (parquet byte size varies by
    writer version); record_count and attribution are exact."""
    from .commit import _scratch_table
    from .deletes import MOR_DIR
    from .snapshots import files_at

    root = _scratch_table("rwdata_gate_", MOR_DIR)
    res = rewrite_data_files(spark, os.path.join(root, "v2.metadata.json"))
    return (
        files_at(spark, res["metadata_path"], res["snapshot_id"])
        .select("file_path", "record_count", "partition_json", "snapshot_id")
        .orderBy("file_path")
    )


_RLOC = "file:///tmp/mor_table"

REWRITE_DATAFILES_SQL = f"""
SELECT file_path, CAST(record_count AS BIGINT) AS record_count,
       partition_json, CAST(snapshot_id AS BIGINT) AS snapshot_id
FROM (VALUES
  ('{_RLOC}/data/category=w/id_trunc=300/F.parquet', 40, '{{"category": "w", "id_trunc": 300}}', 2004),
  ('{_RLOC}/data/category=x/A-rw2005.parquet', 90, '{{"category": "x"}}', 2005),
  ('{_RLOC}/data/category=x/C-rw2005.parquet', 95, '{{"category": "x"}}', 2005),
  ('{_RLOC}/data/category=y/B.parquet', 50, '{{"category": "y"}}', 2001),
  ('{_RLOC}/data/category=z/D.parquet', 50, '{{"category": "z"}}', 2002)
) t(file_path, record_count, partition_json, snapshot_id)
ORDER BY file_path
"""


# ------------------------------------------------ binpack compaction


def binpack_rewrite(
    spark: SparkSession,
    metadata_path: str,
    *,
    target_size_bytes: int = 128 * 1024 * 1024,
    min_group_files: int = 2,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Small-file compaction for ICEBERG tables (the executor behind
    ``maintenance.plan_compaction``; Iceberg's binpack
    rewrite_data_files strategy): greedy-pack sub-target live files
    within each (spec, partition) into ≈``target_size_bytes``
    groups, rewrite every group into ONE file in ONE Spark job, and
    commit a REPLACE snapshot through the same machinery as the
    delete-folding rewrite (untouched manifests carried forward
    verbatim).

    Files with APPLICABLE deletes — positional (exact, counted) or
    equality (conservative metadata gate: sequence order + partition
    scope, :func:`_equality_affected`) — are excluded and reported
    (a naive repack would write them at a sequence number PAST their
    deletes, resurrecting deleted rows; ADVICE r8 flagged the
    equality half) — fold those via :func:`rewrite_data_files`
    first, the order ``maintenance.run_maintenance`` encodes.

    Scale: grouping is driver-side KB metadata; the rewrite reads
    only packed files and shuffles each row once on its group token
    (executor-parallel across groups, identical plan shape to
    `_fold_and_write`).
    """
    producer = SnapshotProducer(
        metadata_path, base_dir, snapshot_id=snapshot_id, timestamp_ms=timestamp_ms
    )
    meta, loc, table_root = producer.meta, producer.loc, producer.table_root
    snapshot_id = producer.snapshot_id
    data, dels = mor_entries_at(meta, producer.parent_id, producer.base_dir)

    delete_bearing = set(_plan_rewrite_targets(spark, data, dels)) if dels else set()
    delete_bearing |= _equality_affected(data, dels)
    candidates = [
        e for e in data
        if e["rel"] not in delete_bearing
        and (e.get("file_size_in_bytes") or 0) < target_size_bytes
    ]

    # greedy first-fit per (spec, partition): largest-first, cut a
    # group when adding the next file would pass the target
    groups: list[list[dict[str, Any]]] = []
    by_part: dict[tuple[int, str], list[dict[str, Any]]] = {}
    for e in candidates:
        key = (e["spec_id"], json.dumps(e["partition"], sort_keys=True))
        by_part.setdefault(key, []).append(e)
    for key in sorted(by_part):
        cur: list[dict[str, Any]] = []
        size = 0
        for e in sorted(
            by_part[key],
            key=lambda x: (-(x.get("file_size_in_bytes") or 0), x["rel"]),
        ):
            fsz = e.get("file_size_in_bytes") or 0
            if cur and size + fsz > target_size_bytes:
                groups.append(cur)
                cur, size = [], 0
            cur.append(e)
            size += fsz
        if cur:
            groups.append(cur)
    groups = [g for g in groups if len(g) >= min_group_files]
    if not groups:
        raise ValueError(
            "nothing to compact (no partition has "
            f"{min_group_files}+ sub-target delete-free files)"
        )

    # ---- ONE Spark job: scan all packed files, shuffle each row to
    # its group token, one output file per group. The scan projects
    # every packed file through the CURRENT schema (field ids / name
    # mapping) exactly like `_fold_and_write` — a plain name-based
    # union would null-fill the old-named column of any pre-rename
    # file and the REPLACE commit would persist those nulls
    # (ADVICE r8, the r7 fold-rewrite defect repeated here).
    from functools import reduce

    from .evolution import projected_scan_parts

    rel_to_group = {e["rel"]: gi for gi, g in enumerate(groups) for e in g}
    token_df = local_frame(
        spark, sorted(rel_to_group.items()), "_bp_rel string, _bp long"
    )
    all_entries = [e for g in groups for e in g]
    df = reduce(
        DataFrame.unionByName,
        projected_scan_parts(
            spark, meta, [e["local_path"] for e in all_entries], tag=True
        ),
    )
    out_cols = [c for c in df.columns if c not in ("_rel", "_pos", "_seq")]
    tagged = (
        df.join(F.broadcast(token_df), df["_rel"] == token_df["_bp_rel"])
        .select(*out_cols, "_bp")
    )
    tmp = os.path.join(table_root, f"_binpack-{snapshot_id}")
    (
        tagged.repartition("_bp")
        .write.partitionBy("_bp")
        .mode("overwrite")
        .parquet(tmp)
    )

    import glob as _glob

    import pyarrow.parquet as pq

    new_entries = []
    targets: dict[str, dict[str, Any]] = {}
    for gi, g in enumerate(groups):
        parts = _glob.glob(os.path.join(tmp, f"_bp={gi}", "*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(f"group {gi}: expected 1 part file, got {len(parts)}")
        new_rel = f"data/binpack-{snapshot_id}-g{gi:04d}.parquet"
        dst = os.path.join(table_root, new_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(parts[0], dst)
        new_entries.append(
            {
                "spec_id": g[0]["spec_id"],
                "entry": {
                    "status": ADDED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": None,
                    "data_file": {
                        "content": 0,
                        "file_path": f"{loc}/{new_rel}",
                        "file_format": "PARQUET",
                        "partition": g[0]["partition"],
                        "record_count": pq.read_metadata(dst).num_rows,
                        "file_size_in_bytes": os.path.getsize(dst),
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": None,
                        "sort_order_id": None,
                    },
                },
            }
        )
        for e in g:
            targets[e["rel"]] = e
    import shutil as _shutil

    _shutil.rmtree(tmp, ignore_errors=True)

    res = _replace_commit(
        producer, targets, new_entries,
        extra_summary={"compacted-groups": str(len(groups))},
    )
    res["groups"] = [sorted(e["rel"] for e in g) for g in groups]
    res["skipped_delete_bearing"] = sorted(delete_bearing)
    return res


def binpack_rewrite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: scratch table with 6 small files across 2
    partitions (plus one delete-bearing file that must be excluded)
    → binpack → the new snapshot's listing + live-row preservation.
    Golden oracle over deterministic names/counts."""
    import pyarrow as pa

    from .commit import _scratch_dir, append_snapshot, create_table
    from .deletes import read_mor
    from .snapshots import files_at

    root = os.path.join(_scratch_dir("binpack_"), "t")
    mp = create_table(
        root, [("id", "long"), ("cat", "string")],
        partition_by=[("cat", "identity", "cat")],
        table_uuid="00000000-0000-0000-0000-0000000000c3",
    )

    import pyarrow.parquet as _pq

    files = []
    n = 0
    for cat, k in (("a", 3), ("b", 3), ("c", 1)):
        for i in range(k):
            rel = f"data/small-{cat}{i}.parquet"
            ids = list(range(n, n + 10))
            n += 10
            _pq.write_table(
                pa.table({"id": pa.array(ids, pa.int64()),
                          "cat": pa.array([cat] * 10, pa.string())}),
                os.path.join(root, rel),
            )
            files.append({"path": rel, "partition": {"cat": cat}})
    res0 = append_snapshot(mp, files)
    # a positional delete on the c-partition file makes it
    # delete-bearing: binpack must leave it alone (repacking would
    # outrun its delete's sequence gate and resurrect the row)
    from .dml import delete_where

    resd = delete_where(spark, res0["metadata_path"], "id = 60")
    res = binpack_rewrite(
        spark, resd["metadata_path"], target_size_bytes=1 << 20
    )
    assert res["skipped_delete_bearing"] == ["data/small-c0.parquet"]
    listing = files_at(spark, res["metadata_path"], res["snapshot_id"]).select(
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        "record_count",
        "partition_json",
    )
    total = read_mor(spark, res["metadata_path"], res["snapshot_id"]).count()
    return listing.withColumn("total_rows", F.lit(total).cast("long")).orderBy(
        "file_name"
    )


BINPACK_REWRITE_SQL = """
SELECT file_name, CAST(record_count AS BIGINT) AS record_count,
       partition_json, CAST(total_rows AS BIGINT) AS total_rows
FROM (VALUES
  ('binpack-3-g0000.parquet', 30, '{"cat": "a"}', 69),
  ('binpack-3-g0001.parquet', 30, '{"cat": "b"}', 69),
  ('small-c0.parquet',        10, '{"cat": "c"}', 69)
) t(file_name, record_count, partition_json, total_rows)
ORDER BY file_name
"""
