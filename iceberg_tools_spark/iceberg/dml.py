"""Row-level DML on the MoR table: ``DELETE FROM t WHERE <pred>``
as a merge-on-read write (the write-side counterpart of
``deletes.read_mor``; Spark's own Iceberg DELETE takes the same
position-delete route when the table's write mode is
merge-on-read).

Pipeline — only the PLANNING touches the driver; every row is
handled executor-side:

1. plan: live data + delete entries at the current snapshot
   (driver-side KB-scale Avro, like all planning);
2. find victims: ONE distributed MoR scan of the live rows,
   filtered by the caller's predicate — emits ``(_rel, _pos)``;
3. stage: victims join the (broadcast, one-row-per-file) entry list
   to inherit each data file's partition, are hash-distributed by
   partition, sorted by ``(file_path, pos)`` within files (the
   spec's recommended delete-file ordering), and written as
   position-delete parquet BY SPARK — the step that is data-scale
   at 100 TB and therefore must not run on the driver;
4. commit: one content=1 manifest referencing the staged files via
   the ordinary ``commit_delete_snapshot`` write path.

Zero data files are rewritten (that folding is
``rewrite_data_files``' job, later); a predicate matching nothing
raises rather than committing an empty snapshot.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .catalog import table_root_of
from .commit import commit_delete_snapshot
from .deletes import apply_deletes, mor_entries_at, mor_frame
from .metadata import current_schema, parse_metadata


def _victims(live: DataFrame, predicate: "str | DataFrame") -> DataFrame:
    """The (_rel, _pos) victim set for a DELETE: ``predicate`` is
    either a Spark SQL boolean expression, or a KEYS DataFrame —
    live rows matching any key row (null-safe equality on every key
    column) are victims, resolved with an executor-side semi-join.
    The DataFrame form exists so callers holding a large delete-key
    set (CDC replication replaying a commit that removed millions
    of rows) never round-trip keys through the driver as an
    ``IN (...)`` literal (VERDICT r6 #1)."""
    if isinstance(predicate, DataFrame):
        from functools import reduce

        if not predicate.columns:
            raise ValueError("delete-keys DataFrame has no columns")
        missing = [c for c in predicate.columns if c not in live.columns]
        if missing:
            raise ValueError(f"delete-keys columns not in table: {missing}")
        keys = predicate.alias("k")
        d = live.alias("d")
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"d.{c}").eqNullSafe(F.col(f"k.{c}"))
                for c in predicate.columns
            ],
        )
        return d.join(keys, cond, "left_semi").select("_rel", "_pos")
    return live.filter(predicate).select("_rel", "_pos")


def delete_where(
    spark: SparkSession,
    metadata_path: str,
    predicate: "str | DataFrame",
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    stage_rel_dir: str = "data/deletes",
) -> dict[str, Any]:
    """Commit position deletes for every live row matching
    ``predicate`` — a Spark SQL boolean expression over the table's
    columns, or a KEYS DataFrame (see :func:`_victims`: null-safe
    semi-join, no driver round-trip). Returns
    ``commit_delete_snapshot``'s result dict plus
    ``staged_files``/``n_partitions``."""
    base_dir = base_dir or table_root_of(os.path.dirname(metadata_path))
    meta = parse_metadata(metadata_path)
    loc = meta.raw.get("location")
    if not loc:
        raise ValueError("table metadata carries no location; cannot stage deletes")
    current = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, current, base_dir)
    if not data:
        raise ValueError("table has no live data files")

    live = apply_deletes(spark, meta, mor_frame(spark, data), dels, mode="survivors")
    victims = _victims(live, predicate)

    # attach each victim's data-file partition AND spec id (one row
    # per FILE — always broadcast-size): staged delete files stay
    # partition-scoped like the data they delete, and victims in
    # pre-/post-evolution files land in separate spec groups (the
    # commit writes one delete manifest per spec)
    part_rows = [
        (e["rel"], int(e["spec_id"]), json.dumps(e["partition"], sort_keys=True))
        for e in data
    ]
    parts = local_frame(spark, part_rows, "p_rel string, sid int, pjson string")
    staged = (
        victims.join(F.broadcast(parts), victims["_rel"] == parts["p_rel"])
        .select(
            F.concat(F.lit(loc.rstrip("/") + "/"), F.col("_rel")).alias("file_path"),
            F.col("_pos").alias("pos"),
            "sid",
            "pjson",
        )
        .repartition("sid", "pjson")
        .sortWithinPartitions("file_path", "pos")
    )
    # unique per parent snapshot: a later delete_where sees a new
    # current snapshot and stages elsewhere, so committed delete
    # files are never overwritten
    stage_dir = os.path.join(
        base_dir, *stage_rel_dir.split("/"), f"_staged-{current}"
    )
    staged.write.partitionBy("sid", "pjson").mode("overwrite").parquet(stage_dir)

    delete_files = _walk_staged(stage_dir, base_dir, content=1)
    if not delete_files:
        raise ValueError(f"predicate {predicate!r} matched no live rows")

    res = commit_delete_snapshot(
        metadata_path,
        delete_files,
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
    )
    res["staged_files"] = [d["path"] for d in delete_files]
    res["n_partitions"] = len({d["path"].rsplit("/", 2)[1] for d in delete_files})
    return res


def delete_where_dv(
    spark: SparkSession,
    metadata_path: str,
    predicate: "str | DataFrame",
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    stage_rel_dir: str = "data/deletes",
) -> dict[str, Any]:
    """v3 ``DELETE WHERE``: commit the victims as **deletion
    vectors** (Puffin Roaring blobs) instead of position-delete
    parquet — the write shape Iceberg v3 mandates.

    Same distributed victim scan as :func:`delete_where`; then ONE
    Arrow task per affected data file (``applyInPandas`` over the
    file group) unions the new victims with the file's EXISTING
    vector (the v3 replacement rule: at most one DV per data file,
    so a new vector carries the union of positions), serializes the
    bitmap, and writes a single-blob Puffin file into the staging
    dir — executor-side, one KB–MB blob per file, never a
    driver-held position list. The commit adds the new DV entries
    and retires superseded vectors via ``replace_dv_refs`` (their
    carried manifests are rewritten with the old entry tombstoned;
    older snapshots keep the original manifests, so time travel
    still sees the pre-delete state).

    `_stage_dvs`'s locator collect is planning metadata — one row
    per affected FILE (path/offset/length/cardinality), the same
    KB-per-thousand-files scale as every manifest the driver writes.
    """
    base_dir = base_dir or table_root_of(os.path.dirname(metadata_path))
    meta = parse_metadata(metadata_path)
    loc = meta.raw.get("location")
    if not loc:
        raise ValueError("table metadata carries no location; cannot stage deletes")
    current = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, current, base_dir)
    if not data:
        raise ValueError("table has no live data files")

    live = apply_deletes(spark, meta, mor_frame(spark, data), dels, mode="survivors")
    victims = _victims(live, predicate)

    stage_dir = os.path.join(
        base_dir, *stage_rel_dir.split("/"), f"_staged-dv-{current}"
    )
    delete_files, replace_refs = _stage_dvs(spark, victims, data, dels, stage_dir)
    if not delete_files:
        raise ValueError(f"predicate {predicate!r} matched no live rows")
    res = commit_delete_snapshot(
        metadata_path,
        delete_files,
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
        replace_dv_refs=replace_refs or None,
    )
    res["staged_files"] = [d["path"] for d in delete_files]
    res["n_dvs"] = len(delete_files)
    res["n_replaced"] = len(replace_refs)
    return res


def _stage_dvs(
    spark: SparkSession,
    victims: "DataFrame",
    data: list[dict[str, Any]],
    dels: list[dict[str, Any]],
    stage_dir: str,
) -> tuple[list[dict[str, Any]], set[str]]:
    """Stage one deletion vector per data file holding victim rows
    (``victims``: a ``(_rel, _pos)`` frame): each file's Arrow task
    unions the new positions with the file's existing vector and
    writes a single-blob Puffin file under ``stage_dir``. Returns
    commit-ready ``delete_files`` dicts plus the referenced paths
    whose previous vectors the commit must retire."""
    from .deletes import _is_dv

    old_dv = {e["referenced_data_file"]: e for e in dels if _is_dv(e)}
    os.makedirs(stage_dir, exist_ok=True)

    # one broadcast row per data FILE: its canonical path, spec,
    # partition, and (if present) the locator of the DV this commit
    # would supersede
    info = local_frame(
        spark,
        [
            (
                e["rel"],
                e["file_path"],
                int(e["spec_id"]),
                json.dumps(e["partition"], sort_keys=True),
                old_dv[e["file_path"]]["local_path"] if e["file_path"] in old_dv else None,
                old_dv[e["file_path"]]["content_offset"] if e["file_path"] in old_dv else None,
                old_dv[e["file_path"]]["content_size_in_bytes"] if e["file_path"] in old_dv else None,
            )
            for e in data
        ],
        "p_rel string, ref string, sid int, pjson string, "
        "old_path string, old_off bigint, old_len bigint",
    )
    tagged = victims.join(F.broadcast(info), victims["_rel"] == info["p_rel"])

    out_schema = (
        "rel string, ref string, sid int, pjson string, path string, "
        "content_offset bigint, content_size_in_bytes bigint, "
        "cardinality bigint, replaced boolean"
    )

    def _write_dv(pdf):
        import hashlib
        import os as _os

        import pandas as pd

        from iceberg_tools_spark.iceberg.puffin import (
            decode_dv_blob,
            read_blob,
            write_deletion_vectors,
        )

        row0 = pdf.iloc[0]
        positions = {int(p) for p in pdf["_pos"]}
        replaced = pd.notna(row0["old_path"])
        if replaced:
            positions |= set(
                decode_dv_blob(
                    read_blob(
                        row0["old_path"], int(row0["old_off"]), int(row0["old_len"])
                    )
                )
            )
        name = "dv-" + hashlib.md5(row0["_rel"].encode()).hexdigest()[:16] + ".puffin"
        out_path = _os.path.join(stage_dir, name)
        (m,) = write_deletion_vectors(
            out_path,
            [(row0["ref"], sorted(positions))],
            snapshot_id=-1,  # unknown pre-commit (spec: -1)
            sequence_number=-1,
        )
        return pd.DataFrame(
            [
                {
                    "rel": row0["_rel"],
                    "ref": row0["ref"],
                    "sid": int(row0["sid"]),
                    "pjson": row0["pjson"],
                    "path": out_path,
                    "content_offset": m["offset"],
                    "content_size_in_bytes": m["length"],
                    "cardinality": len(positions),
                    "replaced": bool(replaced),
                }
            ]
        )

    locators = tagged.groupBy("_rel").applyInPandas(_write_dv, out_schema).collect()

    delete_files = [
        {
            "path": r["path"],
            "partition": json.loads(r["pjson"]),
            "spec_id": r["sid"],
            "content": 1,
            "file_format": "PUFFIN",
            "referenced_data_file": r["ref"],
            "content_offset": r["content_offset"],
            "content_size_in_bytes": r["content_size_in_bytes"],
            "record_count": r["cardinality"],
            "file_size_in_bytes": os.path.getsize(r["path"]),
        }
        for r in sorted(locators, key=lambda x: x["rel"])
    ]
    replace_refs = {r["ref"] for r in locators if r["replaced"]}
    return delete_files, replace_refs


def _spec_source_columns(meta, spec_id: int) -> set[str]:
    """Source COLUMN names of a spec's partition fields (any
    transform)."""
    from .deletes import _schema_field_names

    names = _schema_field_names(meta)
    spec = next(
        s for s in meta.raw.get("partition-specs", [])
        if s.get("spec-id", 0) == spec_id
    )
    return {names[f["source-id"]] for f in spec.get("fields", [])}


def update_where(
    spark: SparkSession,
    metadata_path: str,
    predicate: str,
    set_exprs: dict[str, str],
    *,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    stage_rel_dir: str = "data",
    use_dv: bool = False,
) -> dict[str, Any]:
    """``UPDATE t SET col = expr, ... WHERE pred`` as a ROW DELTA
    commit (Iceberg's UPDATE/MERGE write shape): position deletes
    kill the old row versions, new data files carry the updated
    versions, both in ONE snapshot at one sequence number.

    Updated rows keep their original file's partition (staged per
    (spec, partition) like the data they replace), so a SET column
    that is a partition SOURCE of any spec holding victims raises —
    the update would silently file rows under a stale partition.
    The check runs after staging but BEFORE the commit, against the
    specs that actually contain victims.

    Victim rows are scanned twice (once per staged output: the
    delete positions and the updated rows) — both passes are
    distributed; a single-pass dual write is not expressible as one
    Spark action.

    ``use_dv=True`` stages the old-row-version deletes as v3
    deletion vectors (`_stage_dvs`: per-file Arrow tasks, existing
    vectors unioned and superseded blobs retired) instead of
    position-delete parquet — the full UPDATE in v3 write shape.
    """
    from .commit import commit_row_delta
    from .deletes import _schema_field_names

    if not set_exprs:
        raise ValueError("update_where needs at least one SET expression")
    base_dir = base_dir or table_root_of(os.path.dirname(metadata_path))
    meta = parse_metadata(metadata_path)
    loc = meta.raw.get("location")
    if not loc:
        raise ValueError("table metadata carries no location; cannot stage files")
    current = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, current, base_dir)
    if not data:
        raise ValueError("table has no live data files")
    data_cols = list(_schema_field_names(meta).values())
    bad_cols = set(set_exprs) - set(data_cols)
    if bad_cols:
        raise ValueError(f"SET columns {sorted(bad_cols)} not in table schema")

    live = apply_deletes(spark, meta, mor_frame(spark, data), dels, mode="survivors")
    part_rows = [
        (e["rel"], int(e["spec_id"]), json.dumps(e["partition"], sort_keys=True))
        for e in data
    ]
    parts = local_frame(spark, part_rows, "p_rel string, sid int, pjson string")
    victims = live.filter(predicate)
    vj = victims.join(F.broadcast(parts), victims["_rel"] == parts["p_rel"])

    # stage 1: deletes for the old row versions — position-delete
    # parquet (v2) or deletion vectors (v3)
    replace_refs: set = set()
    if use_dv:
        del_stage = os.path.join(base_dir, "data", "deletes", f"_upd-dv-{current}")
        delete_files, replace_refs = _stage_dvs(
            spark, vj.select("_rel", "_pos"), data, dels, del_stage
        )
    else:
        del_stage = os.path.join(base_dir, "data", "deletes", f"_upd-del-{current}")
        (
            vj.select(
                F.concat(F.lit(loc.rstrip("/") + "/"), F.col("_rel")).alias("file_path"),
                F.col("_pos").alias("pos"),
                "sid",
                "pjson",
            )
            .repartition("sid", "pjson")
            .sortWithinPartitions("file_path", "pos")
            .write.partitionBy("sid", "pjson")
            .mode("overwrite")
            .parquet(del_stage)
        )
    # stage 2: the updated row versions, in their original partition
    upd = vj
    for c, expr in set_exprs.items():
        upd = upd.withColumn(c, F.expr(expr))
    upd_stage = os.path.join(base_dir, *stage_rel_dir.split("/"), f"_upd-{current}")
    (
        upd.select(*data_cols, "sid", "pjson")
        .repartition("sid", "pjson")
        .write.partitionBy("sid", "pjson")
        .mode("overwrite")
        .parquet(upd_stage)
    )

    if not use_dv:
        delete_files = _walk_staged(del_stage, base_dir, content=1)
    new_data_files = _walk_staged(upd_stage, base_dir, content=0)
    if not delete_files:
        raise ValueError(f"predicate {predicate!r} matched no live rows")

    # partition-safety: every spec that holds victims must not have
    # a SET column among its partition sources (checked before the
    # commit — nothing is committed on raise)
    for sid in {d["spec_id"] for d in delete_files}:
        clash = set(set_exprs) & _spec_source_columns(meta, sid)
        if clash:
            raise ValueError(
                f"SET columns {sorted(clash)} are partition sources of spec "
                f"{sid}, which holds matching rows; updating them would file "
                "rows under a stale partition"
            )

    res = commit_row_delta(
        metadata_path,
        new_data_files,
        delete_files,
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
        replace_dv_refs=replace_refs or None,
    )
    res["staged_files"] = [d["path"] for d in (*new_data_files, *delete_files)]
    return res


def merge_into(
    spark: SparkSession,
    metadata_path: str,
    source: "DataFrame",
    on: str,
    *,
    when_matched: tuple | None = None,
    when_not_matched_insert: bool = False,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    use_dv: bool = False,
) -> dict[str, Any]:
    """``MERGE INTO target t USING source s ON <cond>`` — the upsert
    a CDC/incremental pipeline runs, compiled to one row-delta
    commit:

    * ``when_matched=("update", {col: expr})`` — matched target rows
      are position-deleted and re-written with the SET expressions
      (which may reference both ``t.<col>`` and ``s.<col>``);
    * ``when_matched=("delete",)`` — matched target rows are
      position-deleted;
    * ``when_not_matched_insert=True`` — source rows matching no
      target row are inserted (source must carry every table
      column; partition values are DERIVED from the DEFAULT spec's
      transforms — identity, truncate, bucket[N], temporal — see
      ``iceberg/transforms.py``).

    Cardinality rule (same as SQL MERGE): two source rows matching
    ONE target row raise — enforced executor-side via a windowed
    count + ``raise_error``, no driver materialization. All staged
    outputs commit in ONE snapshot; matching nothing at all raises.
    """
    from .commit import append_snapshot, commit_row_delta
    from .deletes import _schema_field_names

    if when_matched is None and not when_not_matched_insert:
        raise ValueError("merge_into without any clause is a no-op; refusing")
    if when_matched is not None and when_matched[0] not in ("update", "delete"):
        raise ValueError(f"unsupported when_matched {when_matched[0]!r}")

    base_dir = base_dir or table_root_of(os.path.dirname(metadata_path))
    meta = parse_metadata(metadata_path)
    loc = meta.raw.get("location")
    if not loc:
        raise ValueError("table metadata carries no location; cannot stage files")
    current = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, current, base_dir)
    if not data:
        raise ValueError("table has no live data files")
    data_cols = list(_schema_field_names(meta).values())
    missing = set(data_cols) - set(source.columns)
    if when_not_matched_insert and missing:
        raise ValueError(
            f"source lacks table columns {sorted(missing)} needed for insert"
        )

    live = apply_deletes(
        spark, meta, mor_frame(spark, data), dels, mode="survivors"
    ).alias("t")
    src = source.alias("s")
    part_rows = [
        (e["rel"], int(e["spec_id"]), json.dumps(e["partition"], sort_keys=True))
        for e in data
    ]
    parts = local_frame(spark, part_rows, "p_rel string, sid int, pjson string")

    new_data_files: list[dict[str, Any]] = []
    delete_files: list[dict[str, Any]] = []
    replace_refs: set = set()

    if when_matched is not None:
        from pyspark.sql import Window

        matched = live.join(src, F.expr(on), "inner")
        # SQL MERGE cardinality rule, enforced in the executors: the
        # CASE guard only evaluates raise_error on violating rows
        w = Window.partitionBy(F.col("t._rel"), F.col("t._pos"))
        matched = matched.withColumn("_n_src", F.count(F.lit(1)).over(w)).filter(
            F.when(
                F.col("_n_src") > 1,
                F.raise_error(
                    F.lit("MERGE cardinality violation: multiple source rows "
                          "match one target row")
                ).isNotNull(),
            ).otherwise(F.lit(True))
        )
        mj = matched.join(F.broadcast(parts), F.col("t._rel") == parts["p_rel"])
        if use_dv:
            del_stage = os.path.join(
                base_dir, "data", "deletes", f"_merge-dv-{current}"
            )
            delete_files, replace_refs = _stage_dvs(
                spark,
                mj.select(
                    F.col("t._rel").alias("_rel"), F.col("t._pos").alias("_pos")
                ),
                data,
                dels,
                del_stage,
            )
        else:
            del_stage = os.path.join(base_dir, "data", "deletes", f"_merge-del-{current}")
            (
                mj.select(
                    F.concat(F.lit(loc.rstrip("/") + "/"), F.col("t._rel")).alias("file_path"),
                    F.col("t._pos").alias("pos"),
                    "sid",
                    "pjson",
                )
                .repartition("sid", "pjson")
                .sortWithinPartitions("file_path", "pos")
                .write.partitionBy("sid", "pjson")
                .mode("overwrite")
                .parquet(del_stage)
            )
            delete_files = _walk_staged(del_stage, base_dir, content=1)
        if when_matched[0] == "update" and delete_files:
            set_exprs = when_matched[1]
            for sid in {d["spec_id"] for d in delete_files}:
                clash = set(set_exprs) & _spec_source_columns(meta, sid)
                if clash:
                    raise ValueError(
                        f"SET columns {sorted(clash)} are partition sources of "
                        f"spec {sid}, which holds matching rows"
                    )
            # project directly (withColumn would be ambiguous: the
            # join carries both t.<col> and s.<col>); SET expressions
            # reference t./s. qualifiers explicitly
            upd_stage = os.path.join(base_dir, "data", f"_merge-upd-{current}")
            (
                mj.select(
                    *[
                        F.expr(set_exprs[c]).alias(c)
                        if c in set_exprs
                        else F.col(f"t.{c}").alias(c)
                        for c in data_cols
                    ],
                    "sid", "pjson",
                )
                .repartition("sid", "pjson")
                .write.partitionBy("sid", "pjson")
                .mode("overwrite")
                .parquet(upd_stage)
            )
            new_data_files.extend(_walk_staged(upd_stage, base_dir, content=0))

    if when_not_matched_insert:
        default_spec = meta.raw.get("default-spec-id", 0)
        part_exprs = _insert_partition_exprs(meta, default_spec)
        inserts = src.join(live, F.expr(on), "left_anti")
        ins_stage = os.path.join(base_dir, "data", f"_merge-ins-{current}")
        (
            inserts.select(
                *data_cols,
                F.lit(default_spec).alias("sid"),
                F.to_json(
                    F.struct(*[
                        e.alias(p) for p, e in sorted(part_exprs.items())
                    ]),
                    # default to_json drops null struct fields, so a
                    # null partition-source value would stage an
                    # incomplete partition dict and fail the
                    # _build_entries spec-fields check (ADVICE r6)
                    {"ignoreNullFields": "false"},
                ).alias("pjson"),
            )
            .repartition("sid", "pjson")
            .write.partitionBy("sid", "pjson")
            .mode("overwrite")
            .parquet(ins_stage)
        )
        new_data_files.extend(_walk_staged(ins_stage, base_dir, content=0))

    if not new_data_files and not delete_files:
        raise ValueError("MERGE matched no rows and inserted none; refusing an empty commit")
    if delete_files and new_data_files:
        res = commit_row_delta(
            metadata_path, new_data_files, delete_files,
            base_dir=base_dir, snapshot_id=snapshot_id, timestamp_ms=timestamp_ms,
            replace_dv_refs=replace_refs or None,
        )
    elif delete_files:
        from .commit import commit_delete_snapshot

        res = commit_delete_snapshot(
            metadata_path, delete_files,
            base_dir=base_dir, snapshot_id=snapshot_id, timestamp_ms=timestamp_ms,
            replace_dv_refs=replace_refs or None,
        )
    else:
        res = append_snapshot(
            metadata_path, new_data_files,
            base_dir=base_dir, snapshot_id=snapshot_id, timestamp_ms=timestamp_ms,
        )
    res["staged_files"] = [d["path"] for d in (*new_data_files, *delete_files)]
    return res


def _insert_partition_exprs(meta, spec_id: int) -> dict[str, "F.Column"]:
    """partition field name → Column deriving its value from an
    inserted row, per the public Iceberg transform definitions
    (identity, truncate[W], bucket[N] via the spec's murmur3,
    year/month/day/hour epoch ordinals — see
    ``iceberg/transforms.py``). Bucket evaluates as an
    Arrow-batched vectorized kernel; everything else is pure JVM."""
    from .deletes import _schema_field_names
    from .transforms import transform_column

    names = _schema_field_names(meta)
    schema = current_schema(meta.raw)
    col_type = {f["id"]: f["type"] for f in schema.get("fields", [])}
    spec = next(
        s for s in meta.raw.get("partition-specs", [])
        if s.get("spec-id", 0) == spec_id
    )
    return {
        f["name"]: transform_column(
            f.get("transform", "identity"),
            F.col(names[f["source-id"]]),
            col_type[f["source-id"]],
        )
        for f in spec.get("fields", [])
    }



def _referenced_path_bounds(path: str) -> dict[str, Any]:
    """lower/upper bounds of a position-delete parquet's
    ``file_path`` column, from its footer statistics (no data
    read), in the commit path's kv-bounds shape."""
    import pyarrow.parquet as pq

    from .conversions import to_bytes
    from .deletes import PATH_FIELD_ID

    md = pq.ParquetFile(path).metadata
    idx = md.schema.to_arrow_schema().get_field_index("file_path")
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return {}
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:
        return {}
    return {
        "lower_bounds": [{"key": PATH_FIELD_ID, "value": to_bytes("string", lo)}],
        "upper_bounds": [{"key": PATH_FIELD_ID, "value": to_bytes("string", hi)}],
    }


def _walk_staged(stage_dir: str, base_dir: str, *, content: int) -> list[dict[str, Any]]:
    """List Spark-staged parquet under ``sid=<n>/pjson=<json>/``
    layout as commit-ready file dicts."""
    from urllib.parse import unquote

    out: list[dict[str, Any]] = []
    if not os.path.isdir(stage_dir):
        return out
    for sdir in sorted(os.listdir(stage_dir)):
        if not sdir.startswith("sid="):
            continue
        sid = int(sdir[len("sid="):])
        for dirname in sorted(os.listdir(os.path.join(stage_dir, sdir))):
            if not dirname.startswith("pjson="):
                continue
            partition = json.loads(unquote(dirname[len("pjson="):]))
            pdir = os.path.join(stage_dir, sdir, dirname)
            for f in sorted(os.listdir(pdir)):
                if not f.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(pdir, f), base_dir).replace(os.sep, "/")
                entry: dict[str, Any] = {
                    "path": rel, "partition": partition, "spec_id": sid,
                }
                if content:
                    entry["content"] = content
                    if content == 1:
                        # referenced-path bounds (reserved field id
                        # 2147483546) from the staged footer stats:
                        # planning can then skip this delete file
                        # for data files it provably never targets
                        entry.update(_referenced_path_bounds(os.path.join(pdir, f)))
                out.append(entry)
    return out


# ------------------------------------------------ driver-gate query


def delete_where_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for row-level DML: on a scratch copy
    of the MoR table, ``DELETE WHERE id IN (20, 160)`` (one live row
    in A, one in C — both category x, positions found by the
    distributed victim scan, both files already carrying older pd1
    deletes), then return the commit's CDC changelog: exactly those
    two rows as DELETEs. Golden oracle."""
    from .commit import _scratch_table
    from .changelog import changelog_between
    from .deletes import MOR_DIR

    root = _scratch_table("dml_gate_", MOR_DIR)
    res = delete_where(
        spark,
        os.path.join(root, "v2.metadata.json"),
        "id IN (20, 160)",
    )
    return (
        changelog_between(spark, res["metadata_path"], 2004, res["snapshot_id"])
        .select("change_type", "id", "category")
        .orderBy("id")
    )


DELETE_WHERE_SQL = """
SELECT change_type, CAST(id AS BIGINT) AS id, category
FROM (VALUES ('DELETE', 20, 'x'), ('DELETE', 160, 'x'))
  t(change_type, id, category)
ORDER BY id
"""


def update_where_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for UPDATE: on a scratch copy of the
    MoR table, ``UPDATE SET id = id + 1000 WHERE id IN (115, 125)``
    (both live rows in B, category y, spec 0 — `id` is not a
    partition source there), then return the row-delta commit's CDC
    changelog: the two old versions as DELETEs and the two new
    versions as INSERTs. Golden oracle."""
    from .changelog import changelog_between
    from .commit import _scratch_table
    from .deletes import MOR_DIR

    root = _scratch_table("upd_gate_", MOR_DIR)
    res = update_where(
        spark,
        os.path.join(root, "v2.metadata.json"),
        "id IN (115, 125)",
        {"id": "id + 1000"},
    )
    return (
        changelog_between(spark, res["metadata_path"], 2004, res["snapshot_id"])
        .select("change_type", "id", "category")
        .orderBy("id", "change_type")
    )


UPDATE_WHERE_SQL = """
SELECT change_type, CAST(id AS BIGINT) AS id, category
FROM (VALUES
  ('DELETE', 115, 'y'), ('DELETE', 125, 'y'),
  ('INSERT', 1115, 'y'), ('INSERT', 1125, 'y'))
  t(change_type, id, category)
ORDER BY id, change_type
"""


def merge_into_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for MERGE (upsert): source rows
    (118, 'y') and (990, 'x') merged ON t.id = s.id — 118 matches a
    live B row (updated to id+1000), 990 matches nothing (inserted
    under its identity partition). The commit's changelog is the
    exact upsert delta: DELETE 118 / INSERT 1118 / INSERT 990.
    Golden oracle."""
    from .changelog import changelog_between
    from .commit import _scratch_table
    from .deletes import MOR_DIR

    root = _scratch_table("merge_gate_", MOR_DIR)
    source = local_frame(
        spark,
        [(118, "y"), (990, "x")], "id bigint, category string"
    )
    res = merge_into(
        spark,
        os.path.join(root, "v2.metadata.json"),
        source,
        "t.id = s.id",
        when_matched=("update", {"id": "t.id + 1000"}),
        when_not_matched_insert=True,
    )
    return (
        changelog_between(spark, res["metadata_path"], 2004, res["snapshot_id"])
        .select("change_type", "id", "category")
        .orderBy("id", "change_type")
    )


MERGE_INTO_SQL = """
SELECT change_type, CAST(id AS BIGINT) AS id, category
FROM (VALUES
  ('DELETE', 118, 'y'), ('INSERT', 990, 'x'), ('INSERT', 1118, 'y'))
  t(change_type, id, category)
ORDER BY id, change_type
"""


def delete_where_dv_roundtrip(spark, sf_dir):
    """Driver-gate round-trip for the v3 DV write path: on a scratch
    copy of the DV fixture, ``DELETE WHERE id % 50 = 0`` — victims
    land in all four data files; A and C already carry deletion
    vectors, so their new vectors must be the UNION of positions
    (12 and 7 dead rows) with the old blobs retired, while B and D
    get first-time vectors. Returned as the commit's CDC changelog:
    exactly the six matching live rows as DELETEs. Golden oracle;
    the changelog diff itself re-reads BOTH snapshots through the
    v3 MoR path."""
    from .changelog import changelog_between
    from .commit import _scratch_table
    from .deletes import DV_DIR

    root = _scratch_table("dvdml_gate_", DV_DIR)
    res = delete_where_dv(
        spark,
        os.path.join(root, "v3.metadata.json"),
        "id % 50 = 0",
    )
    return (
        changelog_between(spark, res["metadata_path"], 3003, res["snapshot_id"])
        .select("change_type", "id", "category")
        .orderBy("id")
    )


DELETE_WHERE_DV_SQL = """
SELECT change_type, CAST(id AS BIGINT) AS id, category
FROM (VALUES
  ('DELETE', 50, 'x'), ('DELETE', 100, 'x'), ('DELETE', 150, 'y'),
  ('DELETE', 200, 'x'), ('DELETE', 250, 'x'), ('DELETE', 300, 'z'))
  t(change_type, id, category)
ORDER BY id
"""
