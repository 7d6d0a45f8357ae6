"""Cross-format table migration: snapshot a Delta Lake table into
an Iceberg table through the engine's OWN commit path.

The shape a real migration service uses:

* the Delta side is METADATA work — ``delta_log.replay_log`` gives
  the live file set + partition columns (KB of JSON/parquet log,
  driver-side);
* the data move is ONE Spark job — ``read_delta_log`` (which
  restores the partition column Delta keeps only in its log) →
  ``repartition(partition_cols)`` → ``partitionBy`` parquet write,
  so each partition lands as its own file regardless of source
  file layout;
* the Iceberg side is born by ``commit.create_table`` (one
  prologue, :func:`_create_from_delta`, converts the Delta schema
  and partition columns for every Delta → Iceberg path; the table
  lands under ``metadata/`` with a version hint, so it resolves by
  name) and filled by an ordinary ``append_snapshot`` commit of
  the written files with identity partition values — after which
  every engine feature (MoR deletes, time travel, stats, CDC,
  maintenance) applies to the migrated table.

Correctness gate: ``read_mor(migrated) == read_delta_log(source)``
row-for-row, certified by the ``delta_migrate_rows`` driver key
whose DuckDB oracle replays the DELTA side in pure SQL — the two
engines cross the format boundary by different code entirely.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any

from pyspark.sql import SparkSession

from ..iceberg.catalog import install_metadata
from ..session import local_frame
from .delta_log import (
    _DEFAULT_PROTOCOL,
    LogState,
    _column_mapping,
    log_state,
    read_delta_log,
    replay_log,
)

_DELTA_TO_ICEBERG_TYPE = {
    "long": "long", "integer": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "timestamp": "timestamptz", "binary": "binary",
    # both specs' semi-structured type; the physical parquet layout
    # is Spark's VARIANT annotation on both sides (r14)
    "variant": "variant",
}


def _delta_type_to_iceberg(t, counter: list[int]):
    """Recursive Delta→Iceberg type conversion. ``t`` is a Delta
    schemaString type (string scalar or struct/array/map dict);
    ``counter`` is the one-cell NEXT-field-id allocator (Iceberg
    assigns ids to struct fields, list elements and map keys/values
    at every depth — ``assignFreshIds`` in the public source)."""
    if isinstance(t, str):
        ice = _DELTA_TO_ICEBERG_TYPE.get(t)
        if ice is None:
            import re as _re

            m = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
            if m:
                return f"decimal({m.group(1)}, {m.group(2)})"
            raise ValueError(f"unsupported Delta type {t!r}")
        return ice
    kind = t.get("type")
    if kind == "struct":
        fields = []
        for f in t["fields"]:
            fid = counter[0]
            counter[0] += 1
            fields.append({
                "id": fid,
                "name": f["name"],
                "required": not f.get("nullable", True),
                "type": None,  # filled below (children allocate after)
                "_delta": f,
            })
        for fd in fields:
            fd["type"] = _delta_type_to_iceberg(fd.pop("_delta")["type"], counter)
        return {"type": "struct", "fields": fields}
    if kind == "array":
        eid = counter[0]
        counter[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _delta_type_to_iceberg(t["elementType"], counter),
            "element-required": not t.get("containsNull", True),
        }
    if kind == "map":
        kid, vid = counter[0], counter[0] + 1
        counter[0] += 2
        return {
            "type": "map",
            "key-id": kid,
            "key": _delta_type_to_iceberg(t["keyType"], counter),
            "value-id": vid,
            "value": _delta_type_to_iceberg(t["valueType"], counter),
            "value-required": not t.get("valueContainsNull", True),
        }
    raise ValueError(f"unsupported Delta type {t!r}")


def _delta_fields_to_iceberg(
    schema_fields: list[dict[str, Any]],
) -> tuple[list[dict[str, Any]], int]:
    """Delta schemaString fields → Iceberg schema fields with fresh
    ids at every depth (top-level fields take 1..N first, like
    Iceberg's fresh-id assignment, so flat schemas keep the exact
    ids the historical flat converter assigned). Returns
    ``(fields, last_column_id)``."""
    counter = [1]
    tops = []
    for f in schema_fields:
        fid = counter[0]
        counter[0] += 1
        tops.append({"id": fid, "name": f["name"], "required": False,
                     "_delta": f})
    for fd in tops:
        fd["type"] = _delta_type_to_iceberg(fd.pop("_delta")["type"], counter)
    return tops, counter[0] - 1


def _create_from_delta(
    meta: dict[str, Any],
    target_root: str,
    *,
    table_uuid: str,
    properties: dict[str, str],
    partitioned: bool = True,
    extra_fields: list[tuple[str, str]] = (),
    v3: bool = False,
    name_mapping: bool = False,
) -> tuple[str, list[dict[str, Any]], list[str]]:
    """Create the empty Iceberg table a Delta ``metaData`` action
    describes, through :func:`..iceberg.commit.create_table`: the
    schemaString with fresh ids at every depth, then
    ``extra_fields`` (name, type) after them; an identity spec over
    ``partitionColumns`` unless ``partitioned`` is false; format v3
    when ``v3`` is set or a column is a variant (variant and row
    lineage are v3-only Iceberg features, so a v2 table declaring
    them is spec-invalid); a ``schema.name-mapping.default``
    property binding column-mapped physical names when
    ``name_mapping`` is set. Returns ``(metadata_path, iceberg
    fields, partition columns)``."""
    from ..iceberg.commit import create_table

    schema_fields = json.loads(meta["schemaString"])["fields"]
    part_cols = (meta.get("partitionColumns") or []) if partitioned else []
    ice_fields, last_id = _delta_fields_to_iceberg(schema_fields)
    ice_fields += [
        {"id": last_id + j, "name": n, "required": False, "type": t}
        for j, (n, t) in enumerate(extra_fields, start=1)
    ]
    if name_mapping and _column_mapping(meta):
        properties = {
            **properties,
            "schema.name-mapping.default": json.dumps(
                _nested_name_mapping(schema_fields, ice_fields)
            ),
        }
    v3 = v3 or any(f["type"] == "variant" for f in ice_fields)
    mp = create_table(
        target_root,
        ice_fields,
        partition_by=[(c, "identity", c) for c in part_cols],
        format_version=3 if v3 else 2,
        properties=properties,
        table_uuid=table_uuid,
    )
    return mp, ice_fields, part_cols


def _nm_type_entries(delta_t, ice_t) -> list[dict[str, Any]]:
    """Nested name-mapping entries for one (delta type, iceberg
    type) pair — struct members carry their physicalName aliases;
    list/map structural slots use the spec's fixed names
    ``element``/``key``/``value``."""
    if isinstance(delta_t, str) or isinstance(ice_t, str):
        return []
    kind = delta_t.get("type")
    if kind == "struct":
        return _nested_name_mapping(delta_t["fields"], ice_t["fields"])
    if kind == "array":
        e = {"field-id": ice_t["element-id"], "names": ["element"]}
        sub = _nm_type_entries(delta_t["elementType"], ice_t["element"])
        if sub:
            e["fields"] = sub
        return [e]
    if kind == "map":
        k = {"field-id": ice_t["key-id"], "names": ["key"]}
        v = {"field-id": ice_t["value-id"], "names": ["value"]}
        vsub = _nm_type_entries(delta_t["valueType"], ice_t["value"])
        if vsub:
            v["fields"] = vsub
        return [k, v]
    return []


def _nested_name_mapping(
    delta_fields: list[dict[str, Any]], ice_fields: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Iceberg name-mapping entries (spec: ``field-id`` + ``names``
    + nested ``fields``) for a column-mapped Delta schema, binding
    ``delta.columnMapping.physicalName`` aliases at EVERY depth —
    the read path for verbatim physical-named parquet."""
    out: list[dict[str, Any]] = []
    for df_f, ice_f in zip(delta_fields, ice_fields):
        phys = (df_f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", df_f["name"]
        )
        names = [phys, df_f["name"]] if phys != df_f["name"] else [df_f["name"]]
        entry: dict[str, Any] = {"field-id": ice_f["id"], "names": names}
        sub = _nm_type_entries(df_f["type"], ice_f["type"])
        if sub:
            entry["fields"] = sub
        out.append(entry)
    return out


def _iceberg_pv(value, ice_type: str):
    """Delta partitionValues (and hive path segments) are
    spec-serialized STRINGS; Iceberg manifests store RAW values —
    int days, long micros, native numerics. The inverse of the
    replication writer's ``_pv_serialize`` (r14: passing the string
    through crashed the Avro partition encoder for every non-string
    identity partition — date/long columns raised deep in the
    writer instead of converting)."""
    if value is None or not isinstance(value, str):
        return value
    if ice_type in ("int", "long"):
        return int(value)
    if ice_type == "date":
        import datetime as dt

        return (dt.date.fromisoformat(value) - dt.date(1970, 1, 1)).days
    if ice_type in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
        import datetime as dt

        s = value.replace("T", " ").rstrip("Z")
        base, _, frac = s.partition(".")
        d = dt.datetime.strptime(base, "%Y-%m-%d %H:%M:%S")
        secs = int((d - dt.datetime(1970, 1, 1)).total_seconds())
        if ice_type.endswith("_ns"):
            # v3 nanosecond precision: raw long nanos since epoch
            nanos = int((frac + "000000000")[:9]) if frac else 0
            return secs * 1_000_000_000 + nanos
        micros = int((frac + "000000")[:6]) if frac else 0
        return secs * 1_000_000 + micros
    if ice_type == "boolean":
        return value.lower() == "true"
    if ice_type in ("float", "double"):
        return float(value)
    return value


def migrate_delta_to_iceberg(
    spark: SparkSession,
    delta_root: str,
    target_root: str,
    *,
    version: int | None = None,
    table_uuid: str = "00000000-0000-0000-0000-00000000f001",
) -> dict[str, Any]:
    """Materialize the Delta table's state at ``version`` as a fresh
    Iceberg v2 table under ``target_root``. Returns the commit dict
    plus ``n_files``/``n_rows``."""
    from ..iceberg.commit import append_snapshot

    adds, meta, eff_version = replay_log(delta_root, version)
    mp, ice_fields, part_cols = _create_from_delta(
        meta, target_root, table_uuid=table_uuid,
        properties={
            "migrated-from": "delta",
            "migrated-delta-version": str(eff_version),
        },
    )

    # ---- ONE Spark job: restore partition cols, one file per
    # partition directory. partitionBy EXCLUDES its columns from
    # the parquet, so the write partitions on aliased DUPLICATES
    # (`_p_<col>`) — the data files keep the real columns, which
    # the Iceberg readers expect in-file.
    import pyspark.sql.functions as F

    df = read_delta_log(spark, delta_root, version)
    tmp = os.path.join(target_root, "_migrate-tmp")
    aliases = [f"_p_{c}" for c in part_cols]
    for c, a in zip(part_cols, aliases):
        df = df.withColumn(a, F.col(c))
    writer = df.repartition(*aliases) if part_cols else df.coalesce(1)
    w = writer.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*aliases)
    w.parquet(tmp)

    # variant columns: pyarrow can't parse the VARIANT footer type,
    # so append_snapshot's footer-derived record counts are
    # unavailable — ONE Spark job collects per-file counts instead
    # (a row per FILE, metadata-scale; gated so non-variant
    # migrations keep their job count)
    counts: dict[str, int] | None = None
    if any(f["type"] == "variant" for f in ice_fields):
        counts = {
            os.path.basename(r["f"]): r["n"]
            for r in spark.read.parquet(tmp)
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _entry(part_path: str, rel: str, parts: dict) -> dict[str, Any]:
        e: dict[str, Any] = {"path": rel, "partition": parts}
        if counts is not None:
            e["record_count"] = int(counts[os.path.basename(part_path)])
        return e

    files = []
    type_of = {f["name"]: f["type"] for f in ice_fields}
    if part_cols:
        for pdir in sorted(glob.glob(os.path.join(tmp, "*=*"))):
            parts = {}
            segs = []
            for seg in os.path.relpath(pdir, tmp).split(os.sep):
                k, v = seg.split("=", 1)
                k = k.removeprefix("_p_")
                # hive segments are URL-escaped (timestamps carry
                # %3A) with the Hive null sentinel; manifests store
                # RAW values (int days/micros)
                from urllib.parse import unquote

                raw_v = unquote(v)
                parts[k] = (
                    None
                    if raw_v == "__HIVE_DEFAULT_PARTITION__"
                    else _iceberg_pv(raw_v, type_of.get(k, "string"))
                )
                segs.append(f"{k}={v}")
            for i, part in enumerate(sorted(glob.glob(os.path.join(pdir, "part-*.parquet")))):
                rel = f"data/{'/'.join(segs)}/m{i:05d}.parquet"
                os.makedirs(os.path.dirname(os.path.join(target_root, rel)), exist_ok=True)
                entry = _entry(part, rel, dict(parts))
                os.replace(part, os.path.join(target_root, rel))
                files.append(entry)
    else:
        for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))):
            rel = f"data/m{i:05d}.parquet"
            entry = _entry(part, rel, {})
            os.replace(part, os.path.join(target_root, rel))
            files.append(entry)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    res = append_snapshot(mp, files)
    res["n_files"] = len(files)
    return res


# ------------------------------------------------ driver-gate query


def delta_migrate_rows(spark: SparkSession, sf_dir: str):
    """Driver gate: migrate the Delta fixture (head, v3) into a
    scratch Iceberg table, then roll up the MIGRATED table through
    ``read_mor`` — the engine's ordinary Iceberg reader. Oracle: the
    pure-SQL Delta log replay (``DELTA_LOG_SQL``'s rollup) — the two
    sides cross the format boundary through fully disjoint code.
    (``sf_dir`` unused.)"""
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import read_mor
    from .delta_log import DELTA_FIXTURE

    target = os.path.join(_scratch_dir("delta_migrate_"), "t")
    res = migrate_delta_to_iceberg(spark, DELTA_FIXTURE, target)
    migrated = read_mor(spark, res["metadata_path"], res["snapshot_id"], target)
    return (
        migrated.groupBy("cat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("cat")
    )


# ------------------------------------- Iceberg → Delta (the reverse)

_ICEBERG_TO_DELTA_TYPE = {v: k for k, v in _DELTA_TO_ICEBERG_TYPE.items()}


def _seed_protocol(delta_fields: list[dict[str, Any]]) -> dict[str, Any]:
    """The protocol a Delta table written from Iceberg starts at: the
    log's ``{1, 2}`` default, or table features declaring
    ``variantType`` when a column is a variant — a legacy-protocol
    reader would misparse the type. Only the feature the schema
    needs: ``protocol_upgrade_action`` would also list the writer
    features the legacy versions imply."""
    if any(f["type"] == "variant" for f in delta_fields):
        return {"minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["variantType"],
                "writerFeatures": ["variantType"]}
    return dict(_DEFAULT_PROTOCOL)


def export_iceberg_to_delta(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int,
    target_root: str,
    *,
    base_dir: str | None = None,
) -> dict[str, Any]:
    """Materialize an Iceberg snapshot (MoR deletes folded) as a
    fresh Delta table: one Spark job writes the state hive-
    partitioned on the table's identity partition columns (Delta
    convention: partition columns live in the LOG, not the parquet
    — plain ``partitionBy`` does exactly that), then commit 0 of a
    protocol-valid ``_delta_log`` records protocol/metaData/adds.

    Together with :func:`migrate_delta_to_iceberg` this closes the
    interop circle — the round-trip equality is pytest-pinned."""
    from ..iceberg.deletes import mor_entries_at, read_mor
    from ..iceberg.metadata import current_schema, parse_metadata

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = meta.raw
    schema = current_schema(raw)
    spec = next(
        s for s in raw.get("partition-specs", [])
        if s.get("spec-id", 0) == raw.get("default-spec-id", 0)
    )
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    # Delta has no transform partitioning (its closest analog is a
    # generated column) — identity fields carry over as Delta
    # partition columns; transform fields (bucket/truncate/temporal)
    # export as ordinary DATA columns, losing only physical layout,
    # never data.
    part_cols = [
        by_id[f["source-id"]]
        for f in spec.get("fields", [])
        if f.get("transform", "identity") == "identity"
    ]
    delta_fields = []
    for f in schema["fields"]:
        t = _ICEBERG_TO_DELTA_TYPE.get(f["type"])
        if t is None:
            raise ValueError(f"unsupported Iceberg type {f['type']!r} for Delta export")
        delta_fields.append(
            {"name": f["name"], "type": t, "nullable": True, "metadata": {}}
        )

    os.makedirs(os.path.join(target_root, "_delta_log"))
    live = read_mor(spark, metadata_path, snapshot_id, base_dir)
    tmp = os.path.join(target_root, "_export-tmp")
    writer = live.repartition(*part_cols) if part_cols else live.coalesce(1)
    w = writer.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(tmp)

    adds = []
    if part_cols:
        pdirs = sorted(
            d for d in glob.glob(os.path.join(tmp, "**"), recursive=True)
            if os.path.isdir(d) and "=" in os.path.basename(d)
            and glob.glob(os.path.join(d, "part-*.parquet"))
        )
        for pdir in pdirs:
            reldir = os.path.relpath(pdir, tmp)
            values = dict(seg.split("=", 1) for seg in reldir.split(os.sep))
            for i, part in enumerate(sorted(glob.glob(os.path.join(pdir, "part-*.parquet")))):
                rel = f"{reldir}/e{i:05d}.parquet"
                os.makedirs(os.path.dirname(os.path.join(target_root, rel)), exist_ok=True)
                os.replace(part, os.path.join(target_root, rel))
                adds.append((rel, values))
    else:
        for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))):
            rel = f"e{i:05d}.parquet"
            os.replace(part, os.path.join(target_root, rel))
            adds.append((rel, {}))
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)

    actions = [
        {"protocol": _seed_protocol(delta_fields)},
        {"metaData": {
            "id": "00000000-0000-0000-0000-00000000f002",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": delta_fields}),
            "partitionColumns": part_cols,
            "configuration": {
                "exported-from": "iceberg",
                "exported-snapshot-id": str(snapshot_id),
            },
            "createdTime": 1700000000000,
        }},
    ]
    for rel, values in adds:
        actions.append({"add": {
            "path": rel,
            "partitionValues": values,
            "size": os.path.getsize(os.path.join(target_root, rel)),
            "modificationTime": 1700000001000,
            "dataChange": True,
        }})
    actions.append({"commitInfo": {"operation": "WRITE", "timestamp": 1700000001000}})
    install_metadata(
        os.path.join(target_root, "_delta_log", f"{0:020d}.json"),
        "".join(json.dumps(a, sort_keys=True) + "\n" for a in actions),
    )
    return {"table_root": target_root, "n_files": len(adds), "version": 0}


def delta_export_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for Iceberg → Delta export: the MoR fixture's
    head (323 live rows, positional + equality deletes folded)
    exports to a fresh Delta table, which is then read back through
    the DELTA reader and rolled up per category. Oracle: the
    independent DuckDB full-materialization of the fixture's head
    state (``VIS_CTES``) — the Spark side crosses Iceberg MoR →
    parquet → Delta log; the oracle never leaves the original
    physical files. (``sf_dir`` unused.)"""
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import MOR_DIR, MOR_METADATA
    from .delta_log import read_delta_log

    target = os.path.join(_scratch_dir("delta_export_"), "t")
    export_iceberg_to_delta(spark, MOR_METADATA, 2004, target, base_dir=MOR_DIR)
    return (
        read_delta_log(spark, target)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("category")
    )


# ------------------- continuous Delta → Iceberg replication (stream)


def replicate_delta_stream(
    spark: SparkSession,
    delta_root: str,
    target_root: str,
    from_version: int,
    to_version: int,
    work_dir: str,
) -> dict[str, Any]:
    """CONTINUOUS cross-format replication: every Delta version on
    ``(from_version, to_version]`` lands in an Iceberg table as its
    own exactly-once streaming commit — the composition of
    :func:`delta_log.delta_incremental_stream` (one micro-batch per
    Delta version) and :func:`streaming.ingest.ingest_stream_to_table`
    (batch markers + optimistic append commits). The Iceberg side
    is seeded EMPTY at ``from_version`` state when from_version > -1
    has adds; here we replicate add-only histories (Delta removes
    need the DML path, which ``migrate_delta_to_iceberg`` covers by
    snapshotting)."""
    from ..streaming.ingest import ingest_stream_to_table
    from .delta_log import delta_incremental_stream

    _, meta, _ = replay_log(delta_root, to_version)
    mp, _fields, part_cols = _create_from_delta(
        meta, target_root, table_uuid="00000000-0000-0000-0000-00000000f003",
        properties={"replicated-from": "delta"},
        extra_fields=[("_delta_version", "long")],
    )

    # add-only replication is this function's DOCUMENTED limitation
    # (replicate_delta_versions is the removes-included path), so it
    # opts in to skipping delete versions rather than raising (r12)
    stream, n = delta_incremental_stream(
        spark, delta_root, from_version, to_version,
        os.path.join(work_dir, "staging"), ignore_deletes=True,
    )
    res = ingest_stream_to_table(
        stream,
        mp,
        query_name="delta-replication",
        checkpoint_dir=os.path.join(work_dir, "ckpt"),
        partition_cols=tuple(part_cols),
        spec_id=0,
    )
    res["n_versions"] = n
    res["target_root"] = target_root
    return res


# --------------------- continuous Iceberg → Delta replication (r9)


def _link_or_copy(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        import shutil

        shutil.copyfile(src, dst)


_BULK_COPY_MIN = 8


def _shared_fs(spark: SparkSession) -> bool:
    """Whether executors can be assumed to see the driver's
    filesystem: true in local mode, or when the user asserts shared
    storage via ``spark.iceberg_tools.sharedFs=true`` (ADVICE r11 —
    on a non-shared cluster, executor-side copies would land on
    executor-local disks while the log is written driver-side)."""
    sc = spark.sparkContext
    return (sc.master or "").startswith("local") or (
        spark.conf.get("spark.iceberg_tools.sharedFs", "false") == "true"
    )


def _bulk_copy(spark: SparkSession, pairs: list[tuple[str, str]]) -> None:
    """Move verbatim byte copies OFF the driver (VERDICT r10 #1b —
    the former serial ``shutil.copyfile`` loop single-threaded a
    replica bootstrap's data volume through the driver): hard links
    when source and target share a filesystem (instant, no bytes
    move — the ``parquet_import`` trick), byte copies otherwise;
    batches of ``_BULK_COPY_MIN``+ distribute as executor tasks.

    The distributed leg assumes executors see the DRIVER's
    filesystem (os-level source paths and target dirs), which holds
    in local mode and on shared-storage clusters. On a non-shared
    cluster the copies would land on executor-local disks while the
    log is written driver-side — so anything other than a ``local``
    master falls back to the serial driver loop unless the caller
    opts in via ``spark.iceberg_tools.sharedFs=true`` (ADVICE
    r11)."""
    if not pairs:
        return
    if len(pairs) < _BULK_COPY_MIN or not _shared_fs(spark):
        for s, d in pairs:
            _link_or_copy(s, d)
        return
    sc = spark.sparkContext
    n = max(1, min(len(pairs), sc.defaultParallelism or 32))
    sc.parallelize(list(pairs), n).foreach(lambda p: _link_or_copy(p[0], p[1]))


def _dv_blobs_bulk(
    spark: SparkSession, dels: list[dict], cands: list[tuple[dict, tuple]]
) -> dict[str, tuple[bytes, int]]:
    """Seq-gated deletion-vector BLOBS for EVERY DV candidate of a
    snapshot in ONE Spark job: the pos-delete frame builds ONCE over
    the union of the candidates' applicable delete files (VERDICT
    r10 #1a — the former per-file filter + collect meant one
    sequential job per changed file), a broadcast (rel, seq-floor)
    gate joins in, and each file's Arrow group task ENCODES the
    framed Roaring blob where the positions are (VERDICT r13 #3 —
    the former ``collect_set(pos)`` shipped raw position lists to
    the driver, ~GB for a 100M-row DV delete; the blob is the
    KB-scale compressed bitmap, the same executor-side shape
    ``iceberg/dml.delete_where_dv`` uses). Returns
    ``{rel: (framed blob, cardinality)}``.

    Equivalent to the per-file form: a delete file outside a given
    rel's signature either fails the same seq gate or — excluded by
    partition / referenced-path bounds — contains no rows for that
    rel at all (pos-delete files reference only files of their own
    partition, and bounds exclusion means the path lies outside the
    file's min/max).

    ``cands``: (data entry, applicable-delete signature) pairs."""
    import pyspark.sql.functions as F

    from ..iceberg.deletes import _pos_delete_frame

    paths = {p for _e, s in cands for (p, _sq, _k) in s}
    applicable = [d for d in dels if d["file_path"] in paths]
    pf = _pos_delete_frame(spark, applicable)
    if pf is None:
        return {}
    gate = local_frame(
        spark,
        [(e["rel"], e["sequence_number"]) for e, _s in cands],
        "g_rel string, g_seq long",
    )

    def _encode(pdf):
        import pandas as pd

        from iceberg_tools_spark.iceberg.puffin import encode_dv_blob

        pos = sorted({int(p) for p in pdf["pd_pos"]})
        return pd.DataFrame({
            "rel": [str(pdf["pd_rel"].iloc[0])],
            "blob": [encode_dv_blob(pos)],
            "cardinality": [len(pos)],
        })

    rows = (
        pf.join(
            F.broadcast(gate),
            (pf["pd_rel"] == gate["g_rel"]) & (gate["g_seq"] <= pf["pd_seq"]),
        )
        .groupBy("pd_rel")
        .applyInPandas(_encode, "rel string, blob binary, cardinality long")
        .collect()
    )
    return {r["rel"]: (bytes(r["blob"]), int(r["cardinality"])) for r in rows}


def replicate_iceberg_to_delta(
    spark: SparkSession,
    metadata_path: str,
    target_root: str,
    *,
    base_dir: str | None = None,
    from_snapshot: int | None = None,
    to_snapshot: int | None = None,
    checkpoint_interval: int | None = None,
    write_cdf: bool = False,
    now_ms: int | None = None,
    partition_by: str | tuple = "auto",
    row_tracking: "str | bool" = "auto",
) -> dict[str, Any]:
    """Replicate an Iceberg snapshot range into a Delta table, ONE
    Delta commit per Iceberg snapshot: the seed snapshot exports
    wholesale (version 0), then each later snapshot maps onto Delta
    actions — added data files copy over verbatim (parquet is
    parquet) as ``add``; files a replace/delete snapshot drops emit
    ``remove`` tombstones (VERDICT r9 #8 — the previous version
    raised on any non-append commit); and a file acquiring MoR
    deletes maps to Delta's OWN merge-on-read when it can: purely
    POSITIONAL deletes become a Delta deletion vector on the
    verbatim copy (no rewrite — a DV update is the protocol's
    remove+re-add of the same path), while equality-delete-bearing
    files FOLD (survivors rewrite into a fresh parquet, old copy
    tombstoned) — Delta has no equality deletes, so the fold is the
    only faithful mapping; both re-run whenever the file's
    applicable-delete signature changes (`plan_scan_tasks` is the
    signature source, the same FileScanTask planning the MoR reader
    trusts). Every
    ``checkpoint_interval`` commits the replica writes a parquet
    checkpoint + ``_last_checkpoint`` (VERDICT r8 #7), now including
    unexpired remove tombstones.

    ``partition_by`` (VERDICT r12 #7): ``"auto"`` carries the source
    table's IDENTITY partition fields into the replica — the
    metaData declares ``partitionColumns`` and every ``add`` stamps
    its entry's partition tuple into ``partitionValues`` — so Delta
    consumers prune on the log exactly like the source pruned on its
    manifests (``read_delta_log(..., partition_filter=...)`` plans a
    scan over only the matching files; plan-pinned). Non-identity
    transforms (bucket, day/month/year) have no Delta partition
    equivalent and are skipped. Data files still copy VERBATIM, so
    the partition column also exists physically in the parquet —
    spec-tolerated (readers take log values; this reader prefers the
    physical copy, identical by construction) and what preserves the
    changelog-cost model: layout never forces a rewrite. Pass ``()``
    for an unpartitioned replica."""
    import shutil

    from ..iceberg.deletes import (
        apply_deletes,
        mor_entries_at,
        mor_frame,
        plan_scan_tasks,
    )
    from ..iceberg.metadata import current_schema, parse_metadata
    from ..iceberg.snapshots import ancestor_chain
    from .delta_log import (
        CHECKPOINT_INTERVAL,
        append_delta_commit,
        protocol_upgrade_action,
        write_delta_dv_blobs,
    )

    if checkpoint_interval is None:
        checkpoint_interval = CHECKPOINT_INTERVAL
    if now_ms is None:
        # remove tombstones MUST carry a current deletionTimestamp or
        # the checkpoint writer's retention window (7 days from wall
        # clock) prunes every replication tombstone immediately
        # (ADVICE r10); fixtures pass a fixed now_ms for determinism
        import time as _time

        now_ms = int(_time.time() * 1000)
    ts = int(now_ms)
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = meta.raw
    to_id = to_snapshot if to_snapshot is not None else raw.get("current-snapshot-id")
    chain = ancestor_chain(meta, to_id)
    from_id = from_snapshot if from_snapshot is not None else chain[-1]
    if from_id not in chain:
        raise ValueError(f"snapshot {from_id} is not an ancestor of {to_id}")
    # seed first, then (from, to] oldest-first
    rng = [from_id] + list(reversed(chain[: chain.index(from_id)]))

    schema = current_schema(raw)
    delta_fields = []
    for f in schema["fields"]:
        t = _ICEBERG_TO_DELTA_TYPE.get(f["type"])
        if t is None:
            raise ValueError(f"unsupported Iceberg type {f['type']!r} for Delta export")
        delta_fields.append(
            {"name": f["name"], "type": t, "nullable": True, "metadata": {}}
        )
    # identity-partition layout for the replica (VERDICT r12 #7)
    specs = raw.get("partition-specs") or []
    default_spec = next(
        (s for s in specs if s.get("spec-id") == raw.get("default-spec-id", 0)),
        {"fields": []},
    )
    identity_cols = [
        f["name"] for f in default_spec.get("fields", [])
        if f.get("transform") == "identity"
    ]
    if partition_by == "auto":
        part_cols = identity_cols
    else:
        part_cols = list(partition_by)
        bad = [c for c in part_cols if c not in identity_cols]
        if bad:
            raise ValueError(
                f"partition_by {bad} are not identity partition fields of "
                f"the source (identity fields: {identity_cols}) — only "
                f"identity transforms map onto Delta partition columns"
            )

    # Delta partitionValues serialize as STRINGS per the spec's
    # partition-value rules, typed by the SOURCE schema: Iceberg
    # manifests store identity date/timestamp partitions as raw int
    # days / long micros, so str(raw) would stamp e.g. '19000' where
    # foreign Delta readers expect '2022-01-01' (ADVICE r13 low; this
    # repo's reader masked it by preferring the physical column).
    part_types = {
        f["name"]: f["type"]
        for f in schema["fields"]
        if f["name"] in part_cols and isinstance(f["type"], str)
    }

    def _pv_serialize(c: str, v: Any) -> str:
        t = part_types.get(c, "")
        if t == "date" and isinstance(v, int):
            import datetime as _dt

            return (_dt.date(1970, 1, 1) + _dt.timedelta(days=v)).isoformat()
        if t.startswith("timestamp") and isinstance(v, int):
            import datetime as _dt

            dt = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
            base = dt.strftime("%Y-%m-%d %H:%M:%S")
            return f"{base}.{dt.microsecond:06d}" if dt.microsecond else base
        if t == "boolean":
            return "true" if v else "false"
        if isinstance(v, bytes):
            return v.decode("utf-8", errors="replace")
        return str(v)

    def _pv(entry: dict[str, Any]) -> dict[str, Any]:
        # Delta partitionValues serialize as strings (null for null)
        return {
            c: (None if entry["partition"].get(c) is None
                else _pv_serialize(c, entry["partition"][c]))
            for c in part_cols
        }

    # v3 row lineage → Delta Row Tracking (r15): with a v3 source
    # ("auto"), every replica add carries baseRowId — the SOURCE
    # file's first_row_id for verbatim copies (positions identical,
    # so replica row ids == source row ids exactly), fresh ids past
    # the source's next-row-id high-water mark otherwise — and folds
    # MATERIALIZE the surviving rows' original ids (the spec's
    # preserved-row-id columns), so lineage survives the one mapping
    # that rewrites rows. The replica stamps the rowTracking domain's
    # high-water mark like a real writer.
    lineage = (
        int(raw.get("format-version", 2)) >= 3
        if row_tracking == "auto"
        else bool(row_tracking)
    )
    rt_state = {"hwm": int(raw.get("next-row-id", 0)) - 1}
    dcv_of: dict[str, int] = {}  # replica rel → defaultRowCommitVersion

    def _rt_of(entry: dict[str, Any], vi: int, *, fresh: bool) -> dict[str, Any]:
        if not lineage:
            return {}
        fid = None if fresh else entry.get("first_row_id")
        n = int(entry.get("record_count") or 0)
        if fid is None:
            fid = rt_state["hwm"] + 1
            rt_state["hwm"] += max(n, 1)
        else:
            rt_state["hwm"] = max(rt_state["hwm"], int(fid) + max(n, 1) - 1)
        return {"baseRowId": int(fid), "defaultRowCommitVersion": vi}

    def _rt_domain_action() -> dict[str, Any]:
        return {"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps(
                {"rowIdHighWaterMark": rt_state["hwm"]}
            ),
            "removed": False,
        }}

    os.makedirs(os.path.join(target_root, "_delta_log"))

    # source sequence number → replica commit version, grown as the
    # snapshot chain replays. Drives the mapping of a source file's
    # materialized ``_last_updated_sequence_number`` onto the
    # replica's ``_mcv``: files a source-side COMPACTION rewrote
    # carry Iceberg's reserved lineage columns, and a verbatim copy
    # would leave them invisible to the replica's _mrid/_mcv config
    # while fresh baseRowId+position derivation re-keys moved rows
    # (r16, found building the lineage-bridge gate).
    vi_of_seq: dict[int, int] = {}
    seq_of_sid = {
        s["snapshot-id"]: int(s.get("sequence-number", 0))
        for s in raw.get("snapshots", [])
    }

    def _mat_lineage_file(entry) -> bool:
        if not lineage:
            return False
        import pyarrow.parquet as _pq

        names = set(_pq.read_metadata(entry["local_path"]).schema.names)
        return bool(
            {"_row_id", "_last_updated_sequence_number"} & names
        )

    def _mcv_map_expr(F, dcv_lit):
        if not vi_of_seq:
            return dcv_lit
        m = F.create_map(
            *[F.lit(x) for kv in vi_of_seq.items() for x in kv]
        )
        return F.coalesce(
            m[F.col("_last_updated_sequence_number").cast("long")]
            .cast("long"),
            dcv_lit,
        )

    def _write_rekeyed(entry, out_abs: str, dcv: int) -> None:
        """Position-preserving single-file rewrite renaming Iceberg's
        reserved lineage columns to the replica's materialized
        row-tracking columns (one read task, one write task — row
        order preserved, so DV descriptors stay valid)."""
        import pyspark.sql.functions as F

        df = spark.read.parquet(entry["local_path"])
        cols = [
            c for c in df.columns
            if c not in ("_row_id", "_last_updated_sequence_number")
        ]
        dcv_lit = F.lit(int(dcv)).cast("long")
        mrid = (
            F.col("_row_id").cast("long")
            if "_row_id" in df.columns
            else F.lit(None).cast("long")
        )
        mcv = (
            _mcv_map_expr(F, dcv_lit)
            if "_last_updated_sequence_number" in df.columns
            else dcv_lit
        )
        out = df.select(
            *cols, mrid.alias("_mrid"), mcv.alias("_mcv")
        )
        tmpdir = out_abs + ".tmp"
        out.coalesce(1).write.mode("errorifexists").parquet(tmpdir)
        part = next(
            p for p in sorted(os.listdir(tmpdir)) if p.endswith(".parquet")
        )
        shutil.move(os.path.join(tmpdir, part), out_abs)
        shutil.rmtree(tmpdir)

    def _write_folded(entry, applicable, out_abs, mcv: int | None = None):
        # survivors of ONE data file under its applicable deletes —
        # the same mor_frame + apply_deletes plan the MoR reader runs,
        # scoped to the file being folded
        import pyspark.sql.functions as F

        df = mor_frame(spark, [entry])
        surv = apply_deletes(spark, meta, df, applicable)
        if lineage:
            # preserved-row-id columns: survivors keep their source
            # ids — the file's materialized ``_row_id`` when a prior
            # compaction wrote one, first_row_id + original position
            # otherwise — and the commit version their content last
            # changed
            fid = entry.get("first_row_id")
            derived = (
                (F.lit(fid) + F.col("_pos")).cast("long")
                if fid is not None
                else F.lit(None).cast("long")
            )
            mrid = (
                F.coalesce(F.col("_row_id").cast("long"), derived)
                if "_row_id" in surv.columns
                else derived
            )
            mcv_lit = F.lit(mcv).cast("long")
            mcv_col = (
                _mcv_map_expr(F, mcv_lit)
                if "_last_updated_sequence_number" in surv.columns
                else mcv_lit
            )
            surv = surv.withColumn("_mrid", mrid).withColumn(
                "_mcv", mcv_col
            ).drop("_row_id", "_last_updated_sequence_number")
        surv = surv.drop("_rel", "_pos", "_seq")
        tmpdir = out_abs + ".tmp"
        surv.coalesce(1).write.mode("errorifexists").parquet(tmpdir)
        part = next(
            p for p in sorted(os.listdir(tmpdir)) if p.endswith(".parquet")
        )
        shutil.move(os.path.join(tmpdir, part), out_abs)
        shutil.rmtree(tmpdir)

    from ..iceberg.puffin import decode_dv_blob

    # iceberg rel → (replica rel, applicable-delete signature, mode)
    replica: dict[str, tuple[str, tuple, str]] = {}
    # iceberg rel → current DV blob (framed Roaring bytes, KB-scale).
    # Positions decode from it ONLY on write_cdf paths — whose cost
    # is ∝ changed rows by design (the cdc file materializes them
    # anyway); the plain replication path never holds a position
    # list on the driver (VERDICT r13 #3).
    dv_blobs_seen: dict[str, bytes] = {}
    dv_descriptors: dict[str, dict] = {}  # iceberg rel → DV descriptor
    n_checkpoints = n_removed = n_folded = n_dvs = n_cdf = 0
    cur_proto = _seed_protocol(delta_fields)
    if lineage:
        # rowTracking + its high-water-mark domain need v7 WRITERS;
        # both are writer-only features, so minReaderVersion stays
        # whatever the schema requires (spec: readerFeatures exist
        # only at minReaderVersion 3)
        cur_proto = {
            "minReaderVersion": cur_proto["minReaderVersion"],
            "minWriterVersion": 7,
            **(
                {"readerFeatures": cur_proto["readerFeatures"]}
                if "readerFeatures" in cur_proto
                else {}
            ),
            "writerFeatures": sorted(
                set(cur_proto.get("writerFeatures", []))
                | {"rowTracking", "domainMetadata"}
            ),
        }
    last: dict[str, Any] = {"version": -1}
    for vi, sid in enumerate(rng):
        if sid in seq_of_sid:
            vi_of_seq[seq_of_sid[sid]] = vi
        data_s, dels_s = mor_entries_at(meta, sid, base_dir)
        by_rel = {e["rel"]: e for e in data_s}
        sig: dict[str, tuple] = {r: () for r in by_rel}
        if dels_s:
            by_path = {e["file_path"]: e["rel"] for e in data_s}
            per_file: dict[str, list] = {}
            for fp, _dseq, dpath, kind, dseq2, _rule in plan_scan_tasks(
                meta, sid, base_dir
            ):
                if dpath is not None:
                    per_file.setdefault(fp, []).append((dpath, dseq2, kind))
            for fp, lst in per_file.items():
                sig[by_path[fp]] = tuple(sorted(lst))
        acts: list[dict[str, Any]] = []
        if vi == 0:
            acts += [
                {"protocol": dict(cur_proto)},
                {"metaData": {
                    "id": "00000000-0000-0000-0000-00000000f004",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": delta_fields}
                    ),
                    "partitionColumns": part_cols,
                    "configuration": {
                        "replicated-from": "iceberg",
                        "replicated-table-uuid": raw.get("table-uuid", ""),
                        **({
                            "delta.enableRowTracking": "true",
                            "delta.rowTracking."
                            "materializedRowIdColumnName": "_mrid",
                            "delta.rowTracking."
                            "materializedRowCommitVersionColumnName": "_mcv",
                        } if lineage else {}),
                    },
                    "createdTime": 1700000000000,
                }},
            ]
        # files gone from the live set → tombstones (carrying the
        # dropped copy's DV descriptor when it had one, so DV-aware
        # CDF reconstruction reports only its still-live rows —
        # ADVICE r10)
        dropped_parts: list[tuple[str, str, list[int]]] = []
        for rel in sorted(set(replica) - set(by_rel)):
            drel = replica.pop(rel)[0]
            rem: dict[str, Any] = {
                "path": drel,
                "deletionTimestamp": ts,
                "dataChange": True,
            }
            desc_old = dv_descriptors.pop(rel, None)
            if desc_old:
                rem["deletionVector"] = desc_old
            acts.append({"remove": rem})
            b = dv_blobs_seen.pop(rel, None)
            if write_cdf:
                dropped_parts.append((
                    "delete_but",
                    os.path.join(target_root, drel),
                    sorted(decode_dv_blob(b)) if b else [],
                ))
            n_removed += 1
        # pass 1: classify changed files; compute EVERY DV
        # candidate's victim positions in ONE Spark job
        changed: list[str] = []
        dv_cands: list[str] = []
        for rel in sorted(by_rel):
            old = replica.get(rel)
            s = sig[rel]
            if old is not None and old[1] == s:
                continue  # replica copy still faithful
            changed.append(rel)
            kinds = {k for (_p, _sq, k) in s}
            # a previously-FOLDED copy can't take a DV: its row
            # positions no longer match the original file's, and the
            # CDF delta vs the folded rows isn't position-expressible
            # — re-fold conservatively (only reachable when equality
            # deletes leave the applicable set, e.g. after delete
            # compaction upstream)
            was_folded = old is not None and old[2] == "fold"
            if s and kinds == {"POSITION_DELETES"} and not was_folded:
                dv_cands.append(rel)
        blobs_by_rel = (
            _dv_blobs_bulk(
                spark, dels_s, [(by_rel[r], sig[r]) for r in dv_cands]
            )
            if dv_cands
            else {}
        )
        adds: list[dict[str, Any]] = []
        # verbatim copies batch for the post-loop bulk copy (hard
        # links / executor tasks — the data plane stays off the
        # driver); sizes read from the SOURCE (copies are verbatim)
        pending: list[tuple[str, str]] = []
        # per-commit CDF contributions: ("delete_at"|"insert_but"|
        # "delete_but", abs path, positions) — "at" takes exactly the
        # positions, "but" takes everything except them
        cdf_parts: list[tuple[str, str, list[int]]] = []
        cdf_required = False  # a DV-masked change needs explicit cdc
        for rel in changed:
            old = replica.get(rel)
            s = sig[rel]
            e = by_rel[rel]
            i = len(adds)
            if rel in dv_cands:
                # purely-positional deletes map to a Delta DELETION
                # VECTOR on the verbatim copy — no rewrite (r10): the
                # descriptor recomputes from the FULL applicable set
                # each time the signature changes, and when the copy
                # already exists the update is the protocol's
                # remove+re-add of the SAME path — stamped
                # dataChange TRUE per upstream DELETE-with-DV
                # semantics (r13, the ADVICE r12 class: false made
                # the deleting commit invisible to change consumers
                # of the replica)
                blob_card = blobs_by_rel.get(e["rel"])
                if blob_card is not None:
                    blob, card = blob_card
                    if write_cdf:
                        # decode ONLY for the cdc materialization —
                        # the cdc file reads these rows anyway, so
                        # the cost is already ∝ changed rows
                        positions = sorted(decode_dv_blob(blob))
                        old_b = dv_blobs_seen.get(rel)
                        old_positions = (
                            set(decode_dv_blob(old_b)) if old_b else set()
                        )
                    # recorded only on the DV branch: the zero-victims
                    # fall-through below must keep reading the OLD
                    # copy's mask — overwriting first made its
                    # delete_but report rows the old DV had always
                    # masked, rows never visible in the replica
                    # (ADVICE r11)
                    dv_blobs_seen[rel] = blob
                    if old is not None and old[2] == "copy":
                        drel = old[0]
                        rem = {
                            "path": drel,
                            "deletionTimestamp": ts,
                            "dataChange": True,
                        }
                        if rel in dv_descriptors:
                            rem["deletionVector"] = dv_descriptors[rel]
                        acts.append({"remove": rem})
                        size = os.path.getsize(os.path.join(target_root, drel))
                    else:
                        if old is not None:
                            acts.append({"remove": {
                                "path": old[0],
                                "deletionTimestamp": ts,
                                "dataChange": True,
                            }})
                            n_removed += 1
                        drel = f"r{sid}-{i:05d}.parquet"
                        if _mat_lineage_file(e):
                            # a compacted source file: re-key its
                            # reserved lineage columns to _mrid/_mcv
                            # (position-preserving — the DV stays
                            # valid)
                            _write_rekeyed(
                                e, os.path.join(target_root, drel),
                                dcv_of.get(rel, vi),
                            )
                            size = os.path.getsize(
                                os.path.join(target_root, drel)
                            )
                        else:
                            pending.append(
                                (e["local_path"],
                                 os.path.join(target_root, drel))
                            )
                            size = os.path.getsize(e["local_path"])
                    desc = write_delta_dv_blobs(
                        target_root, {drel: (blob, card)}
                    )[drel]
                    dv_descriptors[rel] = desc
                    if write_cdf:
                        # PROTOCOL.md writer obligation: a DV commit
                        # with CDF enabled writes the newly-deleted
                        # rows as an explicit change file (exact
                        # deltas; without it readers reconstruct the
                        # dataChange-true pair as net-correct churn)
                        cdf_required = True
                        newly = sorted(set(positions) - old_positions)
                        abs_p = os.path.join(target_root, drel)
                        if old is None:
                            # the file enters the replica already
                            # DV-masked: the net change is just its
                            # live rows as inserts — a delete_at of
                            # the masked positions would report
                            # deletes of rows never visible in the
                            # replica (ADVICE r10)
                            cdf_parts.append(("insert_but", abs_p, positions))
                        elif newly:
                            cdf_parts.append(("delete_at", abs_p, newly))
                    replica[rel] = (drel, s, "copy")
                    dcv_of.setdefault(rel, vi)
                    adds.append({"add": {
                        "path": drel,
                        "partitionValues": _pv(e),
                        "size": size,
                        "modificationTime": ts,
                        "dataChange": True,
                        "deletionVector": desc,
                        # verbatim data: source row ids carry over 1:1
                        **_rt_of(e, dcv_of[rel], fresh=False),
                    }})
                    n_dvs += 1
                    continue
                # bounds-gated to zero victims: fall through to the
                # plain verbatim copy below
                s = ()
            if old is not None:
                # delete signature changed → the old copy's rows are
                # stale; re-fold
                rem = {
                    "path": old[0],
                    "deletionTimestamp": ts,
                    "dataChange": True,
                }
                if rel in dv_descriptors:
                    rem["deletionVector"] = dv_descriptors[rel]
                acts.append({"remove": rem})
                if write_cdf:
                    old_b = dv_blobs_seen.get(rel)
                    cdf_parts.append((
                        "delete_but",
                        os.path.join(target_root, old[0]),
                        sorted(decode_dv_blob(old_b)) if old_b else [],
                    ))
                n_removed += 1
            dv_blobs_seen.pop(rel, None)  # fold/copy carries no DV
            dv_descriptors.pop(rel, None)
            out_rel = f"r{sid}-fold-{i:05d}.parquet" if s else f"r{sid}-{i:05d}.parquet"
            out_abs = os.path.join(target_root, out_rel)
            if s:
                applicable_paths = {p for (p, _sq, _k) in s}
                applicable = [
                    d for d in dels_s if d["file_path"] in applicable_paths
                ]
                # survivors keep the commit version of their last
                # CONTENT change — the version the file first entered
                # the replica (the fold removes rows, never edits)
                _write_folded(e, applicable, out_abs,
                              mcv=dcv_of.get(rel, vi))
                size = os.path.getsize(out_abs)
                n_folded += 1
            elif _mat_lineage_file(e):
                # compacted source file (carries reserved lineage
                # columns): re-key instead of verbatim copy
                _write_rekeyed(e, out_abs, dcv_of.get(rel, vi))
                size = os.path.getsize(out_abs)
            else:
                pending.append((e["local_path"], out_abs))
                size = os.path.getsize(e["local_path"])
            was_fold = bool(s)
            replica[rel] = (out_rel, sig[rel], "fold" if s else "copy")
            dcv_of.setdefault(rel, vi)
            if write_cdf:
                cdf_parts.append(("insert_but", out_abs, []))
            adds.append({"add": {
                "path": out_rel,
                "partitionValues": _pv(e),
                "size": size,
                "modificationTime": ts,
                "dataChange": True,
                # folds rewrite positions → FRESH base ids past the
                # high-water mark; the materialized _mrid/_mcv
                # columns override per row (preserved ids)
                **_rt_of(e, vi if was_fold else dcv_of[rel],
                         fresh=was_fold),
            }})
        # materialize this commit's verbatim copies before anything
        # (the CDF builder below) reads them
        _bulk_copy(spark, pending)
        acts.extend(adds)
        if lineage and (adds or vi == 0):
            # real rowTracking writers maintain the high-water-mark
            # domain on every id-allocating commit
            acts.append(_rt_domain_action())
        if write_cdf and any(pos for (_k, _p, pos) in cdf_parts + dropped_parts):
            # a removed / re-folded / DV-updated copy carried masking
            # positions that exist only in the log — the commit MUST
            # write an explicit change file (ADVICE r10: gating on
            # the DV branch alone let a drop of a DV-bearing copy
            # fall to reconstruction, which read the removed parquet
            # verbatim)
            cdf_required = True
        if write_cdf and cdf_required:
            # per the protocol, a commit WITH cdc actions is read
            # from them ALONE — so the change file carries every
            # change of the commit, not just the DV-masked ones
            import pyarrow as _pa
            import pyarrow.parquet as _papq

            from .delta_log import write_delta_cdf_file

            chunks = []
            for kind, path_abs, positions in cdf_parts + dropped_parts:
                t = _papq.read_table(path_abs)
                # materialized row-tracking carrier columns are
                # physical-only; cdc files carry the LOGICAL schema
                for rt_c in ("_mrid", "_mcv"):
                    if rt_c in t.column_names:
                        t = t.drop_columns([rt_c])
                if kind == "delete_at":
                    t, change = t.take(positions), "delete"
                else:
                    keep = [i for i in range(len(t)) if i not in set(positions)]
                    t = t.take(keep)
                    change = "insert" if kind == "insert_but" else "delete"
                if len(t):
                    chunks.append(t.append_column(
                        "_change_type", _pa.array([change] * len(t))
                    ))
            if chunks:
                acts.append(write_delta_cdf_file(
                    target_root, last["version"] + 1, _pa.concat_tables(chunks)
                ))
                n_cdf += 1
        # a commit that INTRODUCES deletion vectors or change files
        # into the replica must upgrade the declared protocol in the
        # SAME commit (r12): a real reader honoring the seed's
        # minReaderVersion 1 would otherwise ignore deletionVector
        # fields entirely and resurrect every masked row
        needed_reader, needed_writer = set(), set()
        for a in acts:
            if (a.get("add") or {}).get("deletionVector") or (
                a.get("remove") or {}
            ).get("deletionVector"):
                needed_reader.add("deletionVectors")
                needed_writer.add("deletionVectors")
            if a.get("cdc"):
                needed_writer.add("changeDataFeed")
        up = protocol_upgrade_action(
            cur_proto,
            reader_features=needed_reader,
            writer_features=needed_writer,
        ) if (needed_reader or needed_writer) else None
        if up:
            acts.append(up)
            cur_proto = up["protocol"]
        ci: dict[str, Any] = {"operation": "WRITE", "timestamp": 1700000001000}
        if vi > 0:
            ci["icebergSnapshotId"] = sid
        acts.append({"commitInfo": ci})
        last = append_delta_commit(
            target_root, acts, checkpoint_interval=checkpoint_interval, now_ms=ts
        )
        if last.get("checkpointed"):
            n_checkpoints += 1
    return {
        "table_root": target_root,
        "from_snapshot": from_id,
        "to_snapshot": to_id,
        "n_versions": last["version"] + 1,
        "n_checkpoints": n_checkpoints,
        "n_removed_files": n_removed,
        "n_folded_files": n_folded,
        "n_dv_files": n_dvs,
        "n_cdf_files": n_cdf,
    }


def delta_replicate_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for continuous Iceberg→Delta replication +
    checkpoint WRITE (``sf_dir`` unused): a 12-commit scratch
    Iceberg table replicates one-Delta-commit-per-snapshot with
    ``checkpoint_interval=5`` (parquet checkpoints at v5/v10 +
    ``_last_checkpoint``), and the replica is read back THROUGH the
    newest checkpoint. Golden oracle over the deterministic ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir, append_snapshot, create_table
    from .delta_log import latest_checkpoint, read_delta_log

    work = _scratch_dir("delta_repl_")
    ice_root = os.path.join(work, "ice")
    os.makedirs(ice_root)
    mp = create_table(ice_root, [("id", "long"), ("cat", "string")])
    for i in range(12):
        rel = f"data/f{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "id": pa.array(range(i * 5, i * 5 + 5), pa.int64()),
                "cat": pa.array([f"c{i % 3}"] * 5, pa.string()),
            }),
            os.path.join(ice_root, rel),
        )
        mp = append_snapshot(mp, [{"path": rel, "partition": {}}])["metadata_path"]
    target = os.path.join(work, "delta")
    # fixed clock → the replica log is byte-deterministic run to run
    # (VERDICT r11 #4); this table has no tombstones, so the fixed
    # clock can't interact with checkpoint retention pruning
    res = replicate_iceberg_to_delta(
        spark, mp, target, checkpoint_interval=5, now_ms=1700000001000
    )
    cp = latest_checkpoint(target)
    return (
        read_delta_log(spark, target)
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .withColumn("n_versions", F.lit(res["n_versions"]).cast("long"))
        .withColumn("n_checkpoints", F.lit(res["n_checkpoints"]).cast("long"))
        .withColumn(
            "checkpoint_version", F.lit(cp[0] if cp else -1).cast("long")
        )
        .orderBy("cat")
    )


DELTA_REPLICATE_SQL = """
SELECT cat, CAST(n_rows AS BIGINT) AS n_rows, CAST(id_sum AS BIGINT) AS id_sum,
       CAST(12 AS BIGINT) AS n_versions, CAST(2 AS BIGINT) AS n_checkpoints,
       CAST(10 AS BIGINT) AS checkpoint_version
FROM (VALUES ('c0', 20, 490), ('c1', 20, 590), ('c2', 20, 690))
     t(cat, n_rows, id_sum)
ORDER BY cat
"""


# ------------- FULL-FIDELITY Delta → Iceberg replication (r9):
# one Iceberg commit per Delta version, REMOVES INCLUDED


def replicate_delta_versions(
    spark: SparkSession,
    delta_root: str,
    target_root: str,
    *,
    to_version: int | None = None,
    table_uuid: str = "00000000-0000-0000-0000-00000000f005",
) -> dict[str, Any]:
    """Replay EVERY Delta version as its own Iceberg commit —
    including versions that REMOVE files (the add-only limitation
    `replicate_delta_stream` documents is gone here): a version's
    ``add`` actions copy the parquet VERBATIM under the same
    relative path (Delta keeps partition columns only in the log;
    the Iceberg entry carries them as the identity-partition tuple
    and `read_mor` restores them by constant folding — the
    hive-import path), and its ``remove`` actions become the replace
    commit's dropped targets. Mixed MERGE versions (add + remove)
    land as ONE Iceberg snapshot, like the Delta commit they mirror.

    The result preserves TIME TRAVEL fidelity: Iceberg snapshot
    ``8000 + v`` reads exactly Delta version ``v`` (pytest pins
    every version pair). Each snapshot's summary records its
    ``delta-version``."""
    import shutil

    import pyarrow.parquet as _pq

    from ..iceberg.commit import SnapshotProducer, append_snapshot, commit_version
    from ..iceberg.deletes import mor_entries_at
    from ..iceberg.metadata import parse_metadata
    from ..iceberg.rewrite_data import _replace_commit
    from .delta_log import _file_actions_between, check_reader_support

    state = log_state(delta_root, to_version)
    meta, head = state.meta, state.version
    # this path consumes data files DIRECTLY (verbatim copies + DV
    # folds), so it owes the same protocol gate the readers run
    check_reader_support(delta_root, head, proto=state.protocol)
    # every commit from version 0, one at a time: a cleaned log
    # raises the reader's gap error here, before the replica exists,
    # instead of replaying only the surviving tail without the
    # checkpointed state
    changes = _file_actions_between(delta_root, -1, head)
    mapping = _column_mapping(meta)  # physical → logical, top-level
    # Delta Row Tracking → Iceberg v3 row lineage (r15; r16 closes
    # the materialized-column refusal, VERDICT r15 #5): verbatim
    # copies carry first_row_id = baseRowId (positions identical →
    # row ids exact). Sources whose config names MATERIALIZED
    # row-id columns (the common case after any Delta rewrite) map
    # onto Iceberg v3's reserved-column materialization — exactly
    # the form the engine's own compaction writes
    # (iceberg/rewrite_data.py): such files are re-written once at
    # migration with the per-row override renamed to ``_row_id``
    # (NULLs kept: the lineage read's coalesce falls back to
    # first_row_id + position) and the row's last-change commit
    # version mapped to the replica's sequence numbers as
    # ``_last_updated_sequence_number``. DV folds materialize the
    # SURVIVORS' original ids (baseRowId + original position,
    # overridden per-row by the materialized column when present) —
    # row ids are stable across deletes in both formats, so the
    # fold must not re-key them; fresh ids from the counter remain
    # the fallback for adds with no baseRowId at all.
    cfg_src = meta.get("configuration") or {}
    rt_map = cfg_src.get("delta.enableRowTracking") == "true"
    rt_rid_col = cfg_src.get("delta.rowTracking.materializedRowIdColumnName")
    rt_rcv_col = cfg_src.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    rt_next = 0
    if rt_map:
        dom = state.domains.get("delta.rowTracking")
        if dom and dom.get("configuration"):
            try:
                rt_next = int(
                    json.loads(dom["configuration"]).get(
                        "rowIdHighWaterMark", -1
                    )
                ) + 1
            except (ValueError, TypeError):
                rt_next = 0
    # column-mapped sources (VERDICT r13 #5, NESTED r15): the
    # verbatim copies carry PHYSICAL column names at every depth, so
    # the replica declares Iceberg's spec mechanism for foreign-named
    # files — a `schema.name-mapping.default` property binding each
    # field id to its physical name (+ the logical name, for files a
    # re-fold writes later), with the spec's nested `fields` entries
    # mirroring struct internals. Reads stay zero-rewrite: `read_mor`
    # applies the mapping as one post-scan projection (struct-typed
    # columns rename through one positional CAST).
    phys_of = {v: k for k, v in (mapping or {}).items()}  # logical → physical
    mp, ice_fields, part_cols = _create_from_delta(
        meta, target_root, table_uuid=table_uuid,
        properties={"replicated-from": "delta", "replication": "full-fidelity"},
        v3=rt_map, name_mapping=True,
    )
    if rt_next:
        # the replica's row-id counter continues the source's
        # high-water mark, so ids drawn for adds without a baseRowId
        # never repeat a source row id
        raw = json.loads(json.dumps(parse_metadata(mp).raw))
        raw["next-row-id"] = rt_next
        mp = commit_version(mp, raw)

    # Delta path → the replica rel that currently represents it: a
    # DV fold renames (data/dvN-<path>), so a LATER remove of the
    # same Delta path — every subsequent DV update is the protocol's
    # remove+re-add of one path — must target the folded copy, not
    # the long-tombstoned original (r12: stacked DV commits on one
    # file broke here)
    rel_of: dict[str, str] = {}
    type_of = {f["name"]: f["type"] for f in ice_fields}
    # Delta commit version → replica sequence number (KB-scale;
    # drives the _mcv → _last_updated_sequence_number mapping)
    seq_of_version: dict[int, int] = {}

    def _lineage_cols(surv, a: dict[str, Any]):
        """Materialize Iceberg's reserved lineage columns onto a
        frame that still carries ``_pos`` (the source row index):
        per-row override from the source's materialized columns when
        configured, fresh derivation baseRowId + position otherwise;
        commit versions map to replica sequence numbers through one
        in-expression literal map (KB, never a shuffle)."""
        import pyspark.sql.functions as F

        base = a.get("baseRowId")
        fresh = (
            (F.lit(int(base)) + F.col("_pos")).cast("long")
            if base is not None
            else F.lit(None).cast("long")
        )
        rid = (
            F.coalesce(F.col(rt_rid_col).cast("long"), fresh)
            if rt_rid_col and rt_rid_col in surv.columns
            else fresh
        )
        dcv = a.get("defaultRowCommitVersion")
        seq_default = (
            seq_of_version.get(int(dcv)) if dcv is not None else None
        )
        seq_default_col = (
            F.lit(int(seq_default)).cast("long")
            if seq_default is not None
            else F.lit(None).cast("long")
        )
        if rt_rcv_col and rt_rcv_col in surv.columns and seq_of_version:
            vmap = F.create_map(
                *[
                    F.lit(x)
                    for kv in seq_of_version.items()
                    for x in kv
                ]
            )
            lus = F.coalesce(
                vmap[F.col(rt_rcv_col).cast("long")].cast("long"),
                seq_default_col,
            )
        else:
            lus = seq_default_col
        return (
            surv.withColumn("_row_id", rid)
            .withColumn("_last_updated_sequence_number", lus)
            .drop(*[c for c in (rt_rid_col, rt_rcv_col) if c])
        )

    def _write_one(surv, dst: str) -> None:
        tmpdir = dst + ".tmp"
        surv.coalesce(1).write.mode("errorifexists").parquet(tmpdir)
        part_file = next(
            p for p in sorted(os.listdir(tmpdir)) if p.endswith(".parquet")
        )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(os.path.join(tmpdir, part_file), dst)
        shutil.rmtree(tmpdir)

    def _copy_add(a: dict[str, Any], v: int = 0) -> dict[str, Any]:
        import pyspark.sql.functions as F

        dv = a.get("deletionVector")
        src = os.path.join(delta_root, a["path"])
        if dv:
            # a DV-bearing add is Delta merge-on-read: copying the
            # file verbatim would resurrect its deleted rows in the
            # replica, so FOLD — materialize the survivors under a
            # VERSIONED name (the original copy stays untouched for
            # the replica's own time travel) (r10). With row
            # tracking, survivors KEEP their source ids (r16:
            # materialized — ids are stable across deletes in both
            # formats, the fold must not re-key them).
            from .delta_log import dv_positions

            rel = f"data/dv{v}-{a['path'].replace('/', '_')}"
            pos = set(dv_positions(delta_root, dv))
            surv = (
                spark.read.parquet(src)
                .withColumn("_pos", F.col("_metadata.row_index"))
                .filter(~F.col("_pos").isin(sorted(pos)) if pos else F.lit(True))
            )
            if rt_map:
                surv = _lineage_cols(surv, a)
            _write_one(surv.drop("_pos"), os.path.join(target_root, rel))
        else:
            rel = f"data/{a['path']}"
            dst = os.path.join(target_root, rel)
            has_mat = False
            if rt_map and (rt_rid_col or rt_rcv_col):
                names = set(_pq.read_metadata(src).schema.names)
                has_mat = bool(
                    {c for c in (rt_rid_col, rt_rcv_col) if c} & names
                )
            if has_mat:
                # materialized-row-id source file (VERDICT r15 #5):
                # one re-write at migration renames the per-row
                # override to the reserved ``_row_id`` (NULLs kept —
                # the lineage read's coalesce falls back to
                # first_row_id + position) and maps commit versions
                # to replica sequence numbers
                df = spark.read.parquet(src).withColumn(
                    "_pos", F.col("_metadata.row_index")
                )
                _write_one(_lineage_cols(df, a).drop("_pos"), dst)
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)
        pv = a.get("partitionValues") or {}
        # under column mapping, partitionValues keys are PHYSICAL;
        # values are the spec's STRING serialization → raw per type
        part = {
            c: _iceberg_pv(
                pv.get(phys_of.get(c, c), pv.get(c)), type_of.get(c, "string")
            )
            for c in part_cols
        }
        rel_of[a["path"]] = rel
        out = {"path": rel, "partition": part}
        if rt_map and not dv and a.get("baseRowId") is not None:
            # source row ids carry over 1:1 — verbatim copies by
            # position, re-written copies by the same first_row_id
            # plus the materialized override
            out["first_row_id"] = int(a["baseRowId"])
        return out

    n_removed = 0
    for v, adds, removes in changes:
        sid, ts = 8000 + v, 1700000000000 + (v + 1) * 1000
        summary = {"delta-version": str(v)}
        if adds or removes:
            # each replicated Delta version lands as ONE replica
            # commit, bumping last-sequence-number by exactly 1
            seq_of_version[v] = len(seq_of_version) + 1
        if removes:
            producer = SnapshotProducer(mp, snapshot_id=sid, timestamp_ms=ts)
            data, _dels = mor_entries_at(
                producer.meta, producer.parent_id, producer.base_dir
            )
            by_rel = {e["rel"]: e for e in data}
            targets = {}
            for r in removes:
                rel = rel_of.pop(r["path"], f"data/{r['path']}")
                if rel not in by_rel:
                    raise ValueError(
                        f"Delta v{v} removes {r['path']!r}, not live in replica"
                    )
                targets[rel] = by_rel[rel]
            new_entries = []
            for a in adds:
                e = _copy_add(a, v)
                local = os.path.join(target_root, e["path"])
                new_entries.append({
                    "spec_id": 0,
                    "entry": {
                        "status": 1,
                        "snapshot_id": sid,
                        "sequence_number": None,
                        "data_file": {
                            "content": 0,
                            "file_path": f"{producer.loc}/{e['path']}",
                            "file_format": "PARQUET",
                            "partition": e["partition"],
                            "record_count": _pq.read_metadata(local).num_rows,
                            "file_size_in_bytes": os.path.getsize(local),
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "equality_ids": None,
                            "sort_order_id": None,
                        },
                    },
                })
            res = _replace_commit(producer, targets, new_entries, extra_summary=summary)
            mp = res["metadata_path"]
            n_removed += len(targets)
        elif adds:
            files = [_copy_add(a, v) for a in adds]
            mp = append_snapshot(
                mp, files, snapshot_id=sid, timestamp_ms=ts,
                extra_summary=summary,
            )["metadata_path"]
    return {
        "metadata_path": mp,
        "table_root": target_root,
        "n_versions": head + 1,
        "n_removed_files": n_removed,
        "head_delta_version": head,
    }


def delta_replicate_full_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for FULL-FIDELITY replication (``sf_dir``
    unused): replay the hand-built Delta fixture — adds, a MERGE
    remove, a checkpointed version, a head remove — version-by-
    version into an Iceberg replica, then roll up the replica HEAD
    through the ICEBERG reader. Oracle: DuckDB replays the DELTA
    transaction log in pure SQL (``DELTA_LOG_SQL``) — the two
    engines cross the format boundary by entirely different code."""
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import read_mor
    from .delta_log import DELTA_FIXTURE

    tgt = os.path.join(_scratch_dir("fullrepl_gate_"), "t")
    res = replicate_delta_versions(spark, DELTA_FIXTURE, tgt)
    return (
        read_mor(spark, res["metadata_path"], 8000 + res["head_delta_version"])
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("cat")
    )


# -------- CDF-driven Delta → Iceberg replication (r12 capstone):
# replicate at CHANGELOG cost — bytes moved ∝ changed ROWS


_ICEBERG_TO_SPARK_CAST = {
    "long": "bigint", "int": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "timestamptz": "timestamp", "binary": "binary",
}


def _init_cdf_replica(
    delta_root: str, target_root: str, to_version: int | None, table_uuid: str
) -> tuple[str, list[dict[str, Any]], LogState]:
    """Schema-translated EMPTY unpartitioned Iceberg replica for a
    CDF-driven replication: (metadata_path, iceberg fields, the Delta
    log state at the replicated head). Shared by the batch and
    streaming appliers."""
    state = log_state(delta_root, to_version)
    mp, ice_fields, _ = _create_from_delta(
        state.meta, target_root, table_uuid=table_uuid,
        properties={"replicated-from": "delta", "replication": "cdf"},
        partitioned=False,
    )
    return mp, ice_fields, state


def replicate_delta_cdf(
    spark: SparkSession,
    delta_root: str,
    target_root: str,
    *,
    to_version: int | None = None,
    table_uuid: str = "00000000-0000-0000-0000-00000000f006",
    key_columns: list[str] | None = None,
) -> dict[str, Any]:
    """Replay every Delta version into an Iceberg replica from its
    CHANGE DATA FEED instead of its file set: each version's
    row-level inserts land as fresh parquet (distributed write, one
    Spark job per version), its row-level deletes land as Iceberg
    EQUALITY-delete files — so a DML-heavy source (DV deletes,
    merges) replicates at changelog cost: bytes moved scale with
    CHANGED ROWS, not with the touched files
    `replicate_delta_versions` copies verbatim. Snapshot ``8000+v``
    reads exactly Delta version ``v`` (the same time-travel contract
    as the full-fidelity path; pytest pins the two replicas equal at
    every version).

    Semantics contract (the CDF by-value apply): an equality delete
    kills EVERY matching older row, so the matched tuple must be a
    ROW IDENTITY. Default = all data columns (requires live rows
    unique per full tuple); ``key_columns`` narrows the match to a
    declared identity (e.g. a primary-key column) — correct for
    sources whose non-key columns repeat across rows. The delete
    files still carry the full deleted rows (spec-legal: equality
    applies on ``equality_ids`` only; the extra columns double as an
    audit trail). Versions whose commits
    change no rows (pure metadata, or a DV commit from a writer that
    ignored its PROTOCOL.md CDF obligation) produce no replica
    snapshot. The versions come from one read of the log
    (``delta_log.delta_cdf_versions``: every version folds with the
    head's schema), whose gap error surfaces the missing-commit case.

    The replica is UNPARTITIONED with every column physical
    (partition values arrive through the CDF frame itself), matching
    the layout rationale of `replicate_iceberg_to_delta`."""
    import shutil

    import pyspark.sql.functions as F

    from ..iceberg.commit import (
        append_snapshot,
        commit_delete_snapshot,
        commit_row_delta,
    )
    from .delta_log import _cdf_versions

    mp, ice_fields, state = _init_cdf_replica(
        delta_root, target_root, to_version, table_uuid
    )
    head = state.version
    col_names = [f["name"] for f in ice_fields]

    def _casts(present: set[str]):
        # HEAD-schema projection per version (r13): a version before
        # an ADD COLUMN serves the newer columns as null instead of
        # failing the replica's uniform-schema write
        return [
            (
                F.col(f["name"]) if f["name"] in present else F.lit(None)
            ).cast(_ICEBERG_TO_SPARK_CAST[f["type"]]).alias(f["name"])
            for f in ice_fields
        ]

    if key_columns is not None:
        by_name = {f["name"]: f["id"] for f in ice_fields}
        missing = [c for c in key_columns if c not in by_name]
        if missing:
            raise ValueError(
                f"key_columns {missing} not in the table schema "
                f"{sorted(by_name)}"
            )
        all_ids = [by_name[c] for c in key_columns]
    else:
        all_ids = [f["id"] for f in ice_fields]

    def _spill(cdf_v, v: int) -> tuple[list[str], list[str]]:
        # ONE distributed write per version, split by change type
        # via partitionBy — each part file becomes its own Iceberg
        # entry (no driver-side coalesce: at 100 TB a version's
        # changed rows are themselves data-scale; and no second job
        # for the delete side)
        import pyarrow.parquet as _papq

        from .delta_log import cdf_change_expr

        tmpdir = os.path.join(target_root, f"data/cdf{v}.tmp")
        (
            # update_postimage folds as insert, update_preimage as
            # delete; unknown change types raise per-row (ADVICE r12
            # — isin('insert','delete') silently dropped updates)
            cdf_v.withColumn("_change_type", cdf_change_expr())
            .select(*_casts(set(cdf_v.columns)), F.col("_change_type"))
            .write.partitionBy("_change_type")
            .mode("errorifexists")
            .parquet(tmpdir)
        )
        out: dict[str, list[str]] = {"insert": [], "delete": []}
        for change, prefix in (
            ("insert", f"data/cdf{v}-i"),
            ("delete", f"data/deletes/cdf{v}-d"),
        ):
            sub = os.path.join(tmpdir, f"_change_type={change}")
            if not os.path.isdir(sub):
                continue
            for i, part in enumerate(
                sorted(p for p in os.listdir(sub) if p.endswith(".parquet"))
            ):
                rel = f"{prefix}-{i:04d}.parquet"
                dst = os.path.join(target_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(os.path.join(sub, part), dst)
                if _papq.read_metadata(dst).num_rows:
                    out[change].append(rel)
                else:
                    os.remove(dst)
        shutil.rmtree(tmpdir)
        return out["insert"], out["delete"]

    n_inserted = n_deleted = n_snapshots = 0
    # CDF replication needs EVERY commit from version 0: the gap rule
    # runs when the versions are collected, so a cleaned log raises
    # before any replica snapshot instead of replaying only the
    # surviving tail; metadata-only versions yield no frame and make
    # no replica snapshot
    for v, cdf in _cdf_versions(spark, delta_root, state, 0):
        ins_rels, del_rels = _spill(cdf, v)
        sid, ts = 8000 + v, 1700000000000 + (v + 1) * 1000
        data_files = [{"path": r, "partition": {}} for r in ins_rels]
        del_files = [
            {"path": r, "partition": {}, "content": 2, "equality_ids": all_ids}
            for r in del_rels
        ]
        if data_files and del_files:
            res = commit_row_delta(
                mp, data_files, del_files, snapshot_id=sid, timestamp_ms=ts
            )
        elif del_files:
            res = commit_delete_snapshot(
                mp, del_files, snapshot_id=sid, timestamp_ms=ts
            )
        elif data_files:
            res = append_snapshot(
                mp, data_files, snapshot_id=sid, timestamp_ms=ts,
                extra_summary={"delta-version": str(v)},
            )
        else:
            continue  # a change file whose rows all filtered away
        mp = res["metadata_path"]
        n_snapshots += 1
        n_inserted += len(ins_rels)
        n_deleted += len(del_rels)
    return {
        "metadata_path": mp,
        "table_root": target_root,
        "n_versions": head + 1,
        "n_snapshots": n_snapshots,
        "n_insert_files": n_inserted,
        "n_delete_files": n_deleted,
        "head_delta_version": head,
        "columns": col_names,
    }


def replicate_delta_cdf_stream(
    spark: SparkSession,
    delta_root: str,
    target_root: str,
    from_version: int,
    to_version: int,
    work_dir: str,
    *,
    table_uuid: str = "00000000-0000-0000-0000-00000000f007",
) -> dict[str, Any]:
    """STREAMING twin of :func:`replicate_delta_cdf`: the CDF stream
    (one micro-batch per Delta version, deletes as first-class rows)
    drives a ``foreachBatch`` CDC apply into the Iceberg replica —
    each batch lands as ONE row-delta / delete / append commit with
    the exactly-once streaming summary props, so a checkpoint replay
    of an already-committed batch SKIPS (the `streaming/ingest.py`
    contract, now for a DML-carrying stream — the append-only sink
    cannot express the delete rows this stream carries). Pytest pins
    the streamed replica row-equal to the batch applier's at head
    and the replay skip."""
    import pyspark.sql.functions as F

    from ..iceberg.commit import (
        append_snapshot,
        commit_delete_snapshot,
        commit_row_delta,
    )
    from ..streaming.ingest import (
        STREAM_BATCH_PROP,
        STREAM_QUERY_PROP,
        committed_batch_ids,
        latest_metadata_path,
    )
    from .delta_log import delta_cdf_stream

    mp, ice_fields, state = _init_cdf_replica(
        delta_root, target_root, to_version, table_uuid
    )
    head = state.version
    casts = [
        F.col(f["name"]).cast(_ICEBERG_TO_SPARK_CAST[f["type"]]).alias(f["name"])
        for f in ice_fields
    ]
    all_ids = [f["id"] for f in ice_fields]
    query_name = "delta-cdf-replication"

    def apply_batch(batch_df, batch_id: int) -> None:
        import shutil

        import pyarrow.parquet as _papq

        head_mp = latest_metadata_path(mp)
        if int(batch_id) in committed_batch_ids(head_mp, query_name):
            return  # checkpoint replay: already committed
        from .delta_log import cdf_change_expr

        tmpdir = os.path.join(
            target_root, "data", "streaming", query_name, f"batch-{batch_id}.tmp"
        )
        (
            # same UPDATE mapping as the batch applier (ADVICE r12)
            batch_df.withColumn("_change_type", cdf_change_expr())
            .select(*casts, F.col("_change_type"), F.col("_commit_version"))
            .write.partitionBy("_change_type")
            .mode("overwrite")
            .parquet(tmpdir)
        )
        rels: dict[str, list[str]] = {"insert": [], "delete": []}
        delta_v = None
        for change in ("insert", "delete"):
            sub = os.path.join(tmpdir, f"_change_type={change}")
            if not os.path.isdir(sub):
                continue
            tag = "i" if change == "insert" else "d"
            base = "data" if change == "insert" else "data/deletes"
            for i, part in enumerate(
                sorted(p for p in os.listdir(sub) if p.endswith(".parquet"))
            ):
                t = _papq.read_table(
                    os.path.join(sub, part), columns=["_commit_version"]
                )
                if not len(t):
                    continue
                vs = t["_commit_version"].to_pylist()
                delta_v = max(vs) if delta_v is None else max(delta_v, *vs)
                rel = f"{base}/cdfs{batch_id}-{tag}-{i:04d}.parquet"
                dst = os.path.join(target_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                # strip the carrier columns: the replica's files hold
                # exactly the table schema
                _papq.write_table(
                    _papq.read_table(
                        os.path.join(sub, part),
                        columns=[f["name"] for f in ice_fields],
                    ),
                    dst,
                )
                rels[change].append(rel)
        shutil.rmtree(tmpdir, ignore_errors=True)
        data_files = [{"path": r, "partition": {}} for r in rels["insert"]]
        del_files = [
            {"path": r, "partition": {}, "content": 2, "equality_ids": all_ids}
            for r in rels["delete"]
        ]
        if not data_files and not del_files:
            return
        extra = {
            STREAM_QUERY_PROP: query_name,
            STREAM_BATCH_PROP: str(int(batch_id)),
            "delta-version": str(delta_v),
        }
        if data_files and del_files:
            commit_row_delta(
                head_mp, data_files, del_files, extra_summary=extra
            )
        elif del_files:
            commit_delete_snapshot(head_mp, del_files, extra_summary=extra)
        else:
            append_snapshot(head_mp, data_files, extra_summary=extra)

    stream, n = delta_cdf_stream(
        spark, delta_root, from_version, to_version,
        os.path.join(work_dir, "staging"),
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    head_mp = latest_metadata_path(mp)
    return {
        "metadata_path": head_mp,
        "table_root": target_root,
        "n_batches": n,
        "batches_committed": sorted(committed_batch_ids(head_mp, query_name)),
        "apply_batch": apply_batch,  # exposed for the replay-skip pytest
        "head_delta_version": head,
    }


def delta_grouped_ivm(
    spark: SparkSession,
    delta_root: str,
    keys: list[str],
    sums: list[str],
    *,
    mins: list[str] | tuple[str, ...] = (),
    maxs: list[str] | tuple[str, ...] = (),
    from_version: int = 0,
    to_version: int | None = None,
):
    """CROSS-FORMAT incremental view maintenance: maintain an
    Iceberg-IVM-shaped grouped aggregate (COUNT/SUM, optional
    MIN/MAX) OVER A DELTA TABLE from its change feed — seed once at
    ``from_version`` (the only full scan), then fold each later
    version's CDF (``delta_cdf_versions``: one read of the log, every
    version under the end version's schema) through the SAME
    `maintain_grouped_agg` kernel the Iceberg materialized views
    use. At 100 TB the fold touches changelog-sized frames; MIN/MAX
    versions additionally scope their extremum-affected-group
    recompute to the Delta table read AT that version (the
    `read_delta_log` time travel). Versions
    that changed no rows fold nothing. Returns the maintained
    DataFrame at ``to_version`` — pytest pins it equal to a full
    recompute at EVERY intermediate version."""
    import pyspark.sql.functions as F

    from ..iceberg.ivm import grouped_agg, maintain_grouped_agg
    from .delta_log import cdf_change_expr, delta_cdf_versions, read_delta_log

    seed = read_delta_log(spark, delta_root, from_version)
    missing = [
        c for c in [*keys, *sums, *mins, *maxs] if c not in seed.columns
    ]
    if missing:
        raise ValueError(
            f"columns {missing} are not in the table schema at version "
            f"{from_version} — seed the IVM at or after the schema "
            f"evolution that added them (r13 guided error; the fold "
            f"would otherwise fail with an unresolved-column crash)"
        )
    state = grouped_agg(seed, keys, sums, mins, maxs)
    for v, cdf in delta_cdf_versions(
        spark, delta_root, int(from_version) + 1, to_version
    ):
        # update_postimage folds as INSERT, update_preimage as DELETE
        # (ADVICE r12 — the isin filter silently dropped updates and
        # the maintained aggregate diverged); unknown types raise
        changelog = (
            cdf.withColumn("change_type", F.upper(cdf_change_expr()))
            .drop("_change_type", "_commit_version")
        )
        state = maintain_grouped_agg(
            state,
            changelog,
            keys,
            sums,
            mins=mins,
            maxs=maxs,
            base_df=(
                read_delta_log(spark, delta_root, v) if (mins or maxs) else None
            ),
        )
        # cut the plan per fold: the maintained state is group-sized,
        # and without this the lineage grows linearly in versions
        state = state.localCheckpoint(eager=True)
    return state


def delta_ivm_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for cross-format IVM (``sf_dir`` unused): seed
    the per-cat COUNT/SUM state at fixture v0 and maintain it
    through the change feed of v1..v3 (one add + removes, all
    reconstruction). The maintained state must equal DuckDB's
    INDEPENDENT full replay of the same transaction log
    (``DELTA_LOG_SQL``) — maintenance vs recompute, two engines."""
    from .delta_log import DELTA_FIXTURE

    return delta_grouped_ivm(spark, DELTA_FIXTURE, ["cat"], ["id"]).orderBy("cat")


def delta_cdf_replicate_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for CDF-driven replication (``sf_dir`` unused):
    replay the hand-built Delta fixture — appends, a MERGE remove, a
    checkpointed version, a head remove — through its reconstructed
    change feed into equality-delete Iceberg commits, then roll up
    the replica HEAD through the ICEBERG reader. Oracle: DuckDB
    replays the DELTA transaction log in pure SQL (``DELTA_LOG_SQL``)
    — two engines, two formats, two code paths, one answer."""
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import read_mor
    from .delta_log import DELTA_FIXTURE

    tgt = os.path.join(_scratch_dir("cdfrepl_gate_"), "t")
    res = replicate_delta_cdf(spark, DELTA_FIXTURE, tgt)
    return (
        read_mor(spark, res["metadata_path"], 8000 + res["head_delta_version"])
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("cat")
    )


def variant_bridge_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for Iceberg v3 VARIANT through the migration
    bridge BOTH WAYS (``sf_dir`` unused): a Delta source with a
    variant column (Spark's native VARIANT parquet layout) migrates
    to an Iceberg v3 table, reads back through ``read_mor`` with
    ``variant_get`` extraction, exports back to Delta, and both hops
    must agree with the generation rule. Golden oracle (30 ids, tag
    = ``t{id % 3}``, ``a = id``). Spec: Iceberg v3 "variant",
    Delta PROTOCOL.md "Variant Data Type"."""
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import read_mor
    from ..iceberg.metadata import parse_metadata
    from .delta_log import (
        _write_variant_file,
        append_delta_commit,
        read_delta_log,
    )

    work = _scratch_dir("variant_bridge_")
    root = os.path.join(work, "src")
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "payload", "type": "variant", "nullable": True,
         "metadata": {}},
    ]})
    _write_variant_file(spark, root, "a.parquet", range(30))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"],
                      "writerFeatures": ["variantType"]}},
        {"metaData": {
            "id": "00000000-0000-0000-0000-0000000000vb",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": {}, "createdTime": 1700000000000,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)

    ice = os.path.join(work, "ice")
    res = migrate_delta_to_iceberg(spark, root, ice)
    back = os.path.join(work, "back")
    export_iceberg_to_delta(
        spark,
        res["metadata_path"],
        parse_metadata(res["metadata_path"]).current_snapshot_id,
        back,
    )

    def _agg(df, hop: str):
        return (
            df.select(
                F.lit(hop).alias("hop"),
                F.try_variant_get("payload", "$.tag", "string").alias("tag"),
                F.try_variant_get("payload", "$.a", "long").alias("a"),
            )
            .groupBy("hop", "tag")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("a").cast("long").alias("a_sum"),
            )
        )

    ice_df = read_mor(spark, res["metadata_path"], res["snapshot_id"])
    out = _agg(ice_df, "iceberg").unionByName(
        _agg(read_delta_log(spark, back), "delta_back")
    )
    return out.orderBy("hop", "tag")


VARIANT_BRIDGE_SQL = """
SELECT hop, tag, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(a_sum AS BIGINT) AS a_sum
FROM (VALUES
  ('delta_back', 't0', 10, 135), ('delta_back', 't1', 10, 145),
  ('delta_back', 't2', 10, 155),
  ('iceberg', 't0', 10, 135), ('iceberg', 't1', 10, 145),
  ('iceberg', 't2', 10, 155)
) t(hop, tag, n_rows, a_sum)
ORDER BY hop, tag
"""


def lineage_bridge_rows(spark: SparkSession, sf_dir: str):
    """Driver gate for ROW LINEAGE through the migration bridge BOTH
    WAYS, including a source-side COMPACTION (``sf_dir`` unused;
    VERDICT r15 #3). A v3 Iceberg source — X ids 100-104 (row ids
    0-4), Y ids 200-202 (row ids 5-7), DV delete of id 102, then
    ``rewrite_data_files`` folds X (the r15 fix: rebuilt manifests
    keep first_row_id; replacement files materialize the reserved
    columns) — replicates FORWARD into a Delta rowTracking table
    (compacted files re-key reserved columns onto the replica's
    materialized ``_mrid``/``_mcv``) and that replica replicates
    BACK into a second Iceberg v3 table (materialized columns map
    onto ``_row_id`` again). Every hop must show the SOURCE row
    ids for the 7 survivors — stable identity is the whole point of
    lineage. Golden oracle: 21 (hop, id, row_id) rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..iceberg.commit import _scratch_dir, append_snapshot, create_table
    from ..iceberg.deletes import read_mor_lineage
    from ..iceberg.dml import delete_where
    from ..iceberg.metadata import parse_metadata
    from ..iceberg.rewrite_data import rewrite_data_files
    from .delta_log import read_delta_log

    work = _scratch_dir("lineage_bridge_")
    root = os.path.join(work, "src")
    mp = create_table(
        root, [("id", "long"), ("category", "string")], format_version=3,
        table_uuid="00000000-0000-0000-0000-00000000e0b1",
        location="file:///tmp/lineage_bridge_table",
    )

    def _write(rel, ids, cat):
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "category": pa.array([cat] * len(ids), pa.string()),
            }),
            os.path.join(root, rel),
        )

    _write("data/X.parquet", list(range(100, 105)), "a")
    _write("data/Y.parquet", list(range(200, 203)), "b")
    s1 = append_snapshot(mp, [{"path": "data/X.parquet", "partition": {}}])
    s2 = append_snapshot(
        s1["metadata_path"], [{"path": "data/Y.parquet", "partition": {}}]
    )
    s3 = delete_where(spark, s2["metadata_path"], "id = 102", base_dir=root)
    res = rewrite_data_files(spark, s3["metadata_path"], base_dir=root)

    fwd = os.path.join(work, "delta")
    replicate_iceberg_to_delta(
        spark, res["metadata_path"], fwd, now_ms=1700000002000,
        checkpoint_interval=None,
    )
    back = os.path.join(work, "ice2")
    res2 = replicate_delta_versions(spark, fwd, back)
    raw2 = parse_metadata(res2["metadata_path"]).raw

    import pyspark.sql.functions as F

    src_df = read_mor_lineage(
        spark, res["metadata_path"], res["snapshot_id"]
    ).select(F.lit("src_compacted").alias("hop"), "id", "_row_id")
    fwd_df = read_delta_log(spark, fwd, with_row_tracking=True).select(
        F.lit("delta_fwd").alias("hop"), "id", "_row_id"
    )
    back_df = read_mor_lineage(
        spark, res2["metadata_path"], raw2["current-snapshot-id"]
    ).select(F.lit("ice_roundtrip").alias("hop"), "id", "_row_id")
    return (
        src_df.unionByName(fwd_df)
        .unionByName(back_df)
        .select(
            "hop",
            F.col("id").cast("long").alias("id"),
            F.col("_row_id").cast("long").alias("row_id"),
        )
        .orderBy("hop", "id")
    )


LINEAGE_BRIDGE_SQL = """
SELECT hop, CAST(id AS BIGINT) AS id, CAST(row_id AS BIGINT) AS row_id
FROM (VALUES
  ('delta_fwd', 100, 0), ('delta_fwd', 101, 1), ('delta_fwd', 103, 3),
  ('delta_fwd', 104, 4), ('delta_fwd', 200, 5), ('delta_fwd', 201, 6),
  ('delta_fwd', 202, 7),
  ('ice_roundtrip', 100, 0), ('ice_roundtrip', 101, 1),
  ('ice_roundtrip', 103, 3), ('ice_roundtrip', 104, 4),
  ('ice_roundtrip', 200, 5), ('ice_roundtrip', 201, 6),
  ('ice_roundtrip', 202, 7),
  ('src_compacted', 100, 0), ('src_compacted', 101, 1),
  ('src_compacted', 103, 3), ('src_compacted', 104, 4),
  ('src_compacted', 200, 5), ('src_compacted', 201, 6),
  ('src_compacted', 202, 7)
) t(hop, id, row_id)
ORDER BY hop, id
"""
