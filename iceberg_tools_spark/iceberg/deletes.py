"""Iceberg v2 delete files — merge-on-read scan planning and reads
(VERDICT r5 "Next round" #1).

The v2 spec adds a ``content`` discriminator to ``manifest_file``
(0=data, 1=deletes) and ``data_file`` (0=DATA, 1=POSITION_DELETES,
2=EQUALITY_DELETES) — fields the reference's Avro schema path
already carries (ManifestFileReadTool.java:170-197). A
merge-on-read reader must:

* list data files and delete files separately per snapshot;
* apply **positional** delete files (rows of ``(file_path, pos)``)
  to data files with ``data_seq <= delete_seq``;
* apply **equality** delete files (rows of the ``equality_ids``
  columns) to data files with ``data_seq < delete_seq`` whose
  partition can match the delete file's partition;
* resolve entry-level ``sequence_number`` with v2 inheritance
  (null on an ADDED entry inherits its manifest's sequence number).

Spark-first shape: planning (KB-scale Avro) stays driver-side like
all of `snapshots.py`; the ROW-level work — the part that is TB-
scale in production — is pure DataFrame ops: one parquet scan of
the data files with ``_metadata.row_index``, an anti-join against
the positional deletes, and one anti-join per equality delete file.
No delete-side broadcast hints: delete sets can be arbitrarily
large at 100 TB, so AQE picks the join strategy.

Fixture: ``tests/fixtures/mor`` (scripts/gen_mor_fixture.py) — real
parquet data + delete files, so the DuckDB oracles independently
re-implement MoR semantics over the same physical files
(``file_row_number`` vs Spark's ``_metadata.row_index``).

v3 deletion vectors (the bottom section + ``tests/fixtures/dv``):
position deletes stored as ``deletion-vector-v1`` Puffin blobs
(`puffin.py` / `roaring.py`, public specs) instead of parquet rows.
The manifest entry carries ``referenced_data_file`` plus the blob's
``content_offset``/``content_size_in_bytes``; `_dv_positions_frame`
decodes each vector in its own Arrow task and feeds the SAME
distributed anti-join as the v2 parquet path, so every consumer
(read_mor, changelog, evolution composition) gets v3 for free.
"""

from __future__ import annotations

import os
import re
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .manifest_io import active_session, map_manifests, read_manifest, sequence_number
from .metadata import TableMetadata, current_schema, parse_metadata
from .snapshots import _REPO_ROOT, _local, manifest_files_at

MOR_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "mor")
MOR_METADATA = os.path.join(MOR_DIR, "v2.metadata.json")

DATA, POSITION_DELETES, EQUALITY_DELETES = 0, 1, 2
CONTENT_NAME = {0: "DATA", 1: "POSITION_DELETES", 2: "EQUALITY_DELETES"}

# both engines key row-level joins on the table-relative path, so
# physical location differences (fixture dir vs canonical URI)
# cancel out
_REL_RE = r"data/.*$"


def _rel(path: str) -> str:
    m = re.search(_REL_RE, path)
    if not m:
        raise ValueError(f"path {path!r} has no 'data/...' suffix")
    return m.group(0)


def _schema_field_names(meta: TableMetadata) -> dict[int, str]:
    schema = current_schema(meta.raw)
    return {f["id"]: f["name"] for f in schema.get("fields", [])}


def _spec_partition_fields(
    meta: TableMetadata, spec_id: int
) -> list[tuple[str, str, str, Any]]:
    """The spec's partition fields joined to their source schema
    columns: ``[(partition_field_name, source_column_name,
    transform, source_type)]``."""
    schema = current_schema(meta.raw)
    by_id = {f["id"]: f for f in schema.get("fields", [])}
    spec = next(
        s for s in meta.raw.get("partition-specs", [])
        if s.get("spec-id", 0) == spec_id
    )
    out = []
    for f in spec.get("fields", []):
        src = by_id[f["source-id"]]
        out.append(
            (f["name"], src["name"], f.get("transform", "identity"), src["type"])
        )
    return out


def _derived_partition_col(src_col: str, transform: str, typ: Any) -> Column:
    """The data-side row-level partition value of one spec field, as
    a Column over the aliased data frame ``d`` — identity fields
    read their source column directly; non-identity fields derive
    the value via :func:`transforms.transform_column` (ADVICE r6:
    silently skipping them applied a partition-scoped equality
    delete table-wide)."""
    col = F.col(f"d.{src_col}")
    if transform == "identity":
        return col
    if not isinstance(typ, str):
        raise ValueError(
            f"cannot gate equality delete on transform {transform!r} "
            f"over non-primitive source type {typ!r}"
        )
    from .transforms import transform_column

    return transform_column(transform, col, typ)


def _live_entries_worker(ctx: dict[str, Any], blob: bytes) -> list[dict[str, Any]]:
    """Parse ONE manifest's live entries, inherited from its list row
    ``ctx["manifest"]``, into the engine's entry dicts (runs driver-
    or executor-side via :func:`manifest_io.map_manifests`)."""
    mrow, base_dir, loc = ctx["manifest"], ctx["base_dir"], ctx["loc"]
    spec_id = mrow.get("partition_spec_id", 0)
    out: list[dict[str, Any]] = []
    for rec in read_manifest(blob, mrow):
        if rec["status"] == 2:  # DELETED tombstone: not live
            continue
        df_ = rec["data_file"]
        out.append(
            {
                "content": df_.get("content", 0),
                # the snapshot that wrote this entry (WAP audits use
                # it to scope added-data checks to the staged commit)
                "snapshot_id": rec["snapshot_id"],
                "file_path": df_["file_path"],
                "local_path": _local(df_["file_path"], base_dir, loc),
                "rel": _rel(df_["file_path"]),
                "partition": df_.get("partition") or {},
                "record_count": df_["record_count"],
                "file_size_in_bytes": df_.get("file_size_in_bytes"),
                "sequence_number": sequence_number(rec),
                "equality_ids": df_.get("equality_ids"),
                "spec_id": spec_id,
                "lower_bounds": df_.get("lower_bounds"),
                "upper_bounds": df_.get("upper_bounds"),
                # v3 deletion-vector locator (None on v2 entries)
                "file_format": df_.get("file_format"),
                "referenced_data_file": df_.get("referenced_data_file"),
                "content_offset": df_.get("content_offset"),
                "content_size_in_bytes": df_.get("content_size_in_bytes"),
                # v3 row lineage (None on v2 / pre-lineage entries)
                "first_row_id": df_.get("first_row_id"),
            }
        )
    return out


def mor_entries_at(
    meta: TableMetadata, snapshot_id: int, base_dir: str
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Live (data_entries, delete_entries) at a snapshot, with the
    manifest list's snapshot ids and sequence numbers inherited
    (``manifest_io.read_manifest``).

    ``manifest_io.map_manifests`` places the manifest Avro decode on
    executors from its threshold on (the ambient
    session; VERDICT r8 #1 — driver-side sequential parse was the
    engine's last metadata-path serialization); the returned entry
    LISTS are driver objects either way, KB per thousand files —
    what every commit/planner consumes."""
    loc = meta.raw.get("location")
    tasks = [
        ({"manifest": mrow, "base_dir": base_dir, "loc": loc}, mrow["local_path"])
        for mrow in manifest_files_at(meta, snapshot_id, base_dir)
    ]
    data, dels = [], []
    for entry in map_manifests(active_session(), tasks, _live_entries_worker):
        (data if entry["content"] == DATA else dels).append(entry)
    from collections import Counter

    refs = Counter(
        e["referenced_data_file"]
        for e in dels
        if e["content"] == POSITION_DELETES and e["referenced_data_file"]
    )
    dup = {r for r, n in refs.items() if n > 1}
    if dup:
        raise ValueError(
            f"v3 invariant violated: multiple deletion vectors reference {sorted(dup)}"
        )
    return data, dels


def _is_dv(e: dict[str, Any]) -> bool:
    return (
        e["content"] == POSITION_DELETES
        and (e.get("file_format") or "").upper() == "PUFFIN"
    )


def mor_frame(spark: SparkSession, data: list[dict[str, Any]]) -> DataFrame:
    """ONE parquet scan over the given data-file entries, tagged
    with ``_rel`` (table-relative path), ``_pos``
    (``_metadata.row_index`` — computed by the scan itself, free)
    and ``_seq`` (the file's data sequence number, attached by a
    broadcast of the one-row-per-FILE entry list)."""
    # mergeSchema: the planned files may span a schema change (e.g. a
    # Delta→Iceberg replica whose source ADDed a column mid-log) —
    # sampling one file's footer would silently drop the newer
    # columns from every file (r13). Field-id-evolved NATIVE tables
    # read through the projection reader (`evolution.py`), not here.
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(*sorted(e["local_path"] for e in data))
        .withColumn("_rel", F.regexp_extract(F.col("_metadata.file_path"), _REL_RE, 0))
        .withColumn("_pos", F.col("_metadata.row_index"))
    )
    seq_df = local_frame(
        spark,
        [(e["rel"], e["sequence_number"]) for e in data],
        T.StructType([
            T.StructField("seq_rel", T.StringType()),
            T.StructField("_seq", T.LongType()),
        ]),
    )
    return (
        df.join(F.broadcast(seq_df), df["_rel"] == seq_df["seq_rel"], "left")
        .drop("seq_rel")
    )


_DV_TASK_SCHEMA = T.StructType([
    T.StructField("local_path", T.StringType()),
    T.StructField("content_offset", T.LongType()),
    T.StructField("content_size_in_bytes", T.LongType()),
    T.StructField("pd_rel", T.StringType()),
    T.StructField("pd_seq", T.LongType()),
    T.StructField("cardinality", T.LongType()),
])

_DV_POS_SCHEMA = T.StructType([
    T.StructField("pd_rel", T.StringType()),
    T.StructField("pd_pos", T.LongType()),
    T.StructField("pd_seq", T.LongType()),
])


def _dv_positions_frame(
    spark: SparkSession, dv_entries: list[dict[str, Any]]
) -> DataFrame:
    """Deleted positions of v3 deletion vectors, decoded
    executor-side: one row per DV (KB of locator metadata) fans out
    through an Arrow-batched ``mapInPandas`` kernel that ranged-reads
    its blob and expands the Roaring bitmap — one task per vector,
    the per-data-file parallelism a real v3 reader has, with the
    driver never holding position lists."""
    tasks = local_frame(
        spark,
        [
            (
                e["local_path"],
                e["content_offset"],
                e["content_size_in_bytes"],
                _rel(e["referenced_data_file"]),
                e["sequence_number"],
                e["record_count"],
            )
            for e in dv_entries
        ],
        _DV_TASK_SCHEMA,
    ).repartition(max(1, len(dv_entries)))

    def _decode(batches):
        import pandas as pd

        from .puffin import decode_dv_blob, read_blob

        for b in batches:
            for row in b.itertuples(index=False):
                if row.content_offset is None or row.content_size_in_bytes is None:
                    raise ValueError(
                        f"deletion vector for {row.pd_rel!r} lacks a blob locator"
                    )
                positions = decode_dv_blob(
                    read_blob(
                        row.local_path,
                        int(row.content_offset),
                        int(row.content_size_in_bytes),
                    )
                )
                if len(positions) != row.cardinality:
                    raise ValueError(
                        f"DV for {row.pd_rel!r}: manifest record_count "
                        f"{row.cardinality} != decoded {len(positions)}"
                    )
                yield pd.DataFrame(
                    {
                        "pd_rel": row.pd_rel,
                        "pd_pos": pd.Series(positions, dtype="int64"),
                        "pd_seq": row.pd_seq,
                    }
                )

    return tasks.mapInPandas(_decode, _DV_POS_SCHEMA)


def _pos_delete_frame(
    spark: SparkSession, dels: list[dict[str, Any]]
) -> DataFrame | None:
    pos_dels = [
        e for e in dels if e["content"] == POSITION_DELETES and not _is_dv(e)
    ]
    dv_dels = [e for e in dels if _is_dv(e)]
    frames = []
    # ONE multi-path scan per distinct SEQUENCE NUMBER (files of one
    # delete commit share it), the sequence attached as a literal —
    # r16: the former one-read-per-file union cost a schema-inference
    # round trip and a scan node PER delete file; N files now cost
    # #commits scan nodes, the same plan-node argument as the
    # equality-delete group join. (Matching per-file metadata via
    # `_metadata.file_path` instead is NOT robust: staged-delete
    # directories carry URL-encoded partition names that the scan
    # re-encodes differently than the raw local path.)
    by_seq: dict[int, list[str]] = {}
    for e in pos_dels:
        by_seq.setdefault(e["sequence_number"], []).append(e["local_path"])
    # explicit schema (the spec's required pos-delete columns): no
    # driver schema-inference pass at all, and files of one commit
    # that carry the OPTIONAL `row` payload inconsistently can never
    # fail the merged-inference path (ADVICE r16)
    for seq, paths in sorted(by_seq.items()):
        frames.append(
            spark.read.schema("file_path string, pos bigint")
            .parquet(*sorted(paths))
            .select(
                F.regexp_extract("file_path", _REL_RE, 0).alias("pd_rel"),
                F.col("pos").alias("pd_pos"),
                F.lit(seq).alias("pd_seq"),
            )
        )
    if dv_dels:
        frames.append(_dv_positions_frame(spark, dv_dels))
    if not frames:
        return None
    return reduce(DataFrame.unionByName, frames)


def _eq_delete_file_frame(
    spark: SparkSession,
    meta: TableMetadata,
    e: dict[str, Any],
    eq_cols: list[str],
    gated: set[str],
) -> DataFrame:
    """One equality-delete file projected to the CURRENT column
    names (historical-alias name mapping for pre-rename files) and
    tagged with its sequence number + partition tuple, so files
    sharing an ``equality_ids`` signature can union into ONE
    anti-join (VERDICT r6 #5: one join node per file means hundreds
    of plan nodes at hundreds of delete files)."""
    ed_raw = spark.read.parquet(e["local_path"])
    if all(c in ed_raw.columns for c in eq_cols):
        sel = [F.col(c) for c in eq_cols]
    else:
        # the delete file predates a rename: bind its physical
        # columns to the CURRENT names via the historical-alias
        # name mapping (same rule as data-file projection)
        from .evolution import default_name_mapping

        aliases = {m["field-id"]: m["names"] for m in default_name_mapping(meta)}
        sel = []
        for fid, cur in zip(e["equality_ids"] or [], eq_cols):
            phys = next(
                (n for n in aliases.get(fid, []) if n in ed_raw.columns), None
            )
            if phys is None:
                raise ValueError(
                    f"equality delete {e['file_path']!r}: no column of the "
                    f"file matches any historical name of field id {fid}"
                )
            sel.append(F.col(phys).alias(cur))
    sel.append(F.lit(e["sequence_number"]).alias("_eseq"))
    spec_fields = _spec_partition_fields(meta, e["spec_id"])
    for i, (pname, _src, _tr, _typ) in enumerate(spec_fields):
        if pname in gated:
            sel.append(F.lit(e["partition"].get(pname)).alias(f"_ep{i}"))
    return ed_raw.select(*sel)


def _eq_delete_group_join(
    spark: SparkSession,
    meta: TableMetadata,
    df: DataFrame,
    group: list[dict[str, Any]],
):
    """(aliased data frame, unioned delete frame, join condition)
    for all equality-delete files sharing one (equality_ids,
    spec_id) signature — the v2 apply rule, one join for the whole
    group. Per-file variation (sequence number, partition tuple)
    rides as columns of the unioned delete frame instead of
    per-file literals, so N files cost one plan node, not N."""
    e0 = group[0]
    field_names = _schema_field_names(meta)
    eq_cols = [field_names[fid] for fid in (e0["equality_ids"] or [])]
    if not eq_cols:
        raise ValueError(
            f"equality delete {e0['file_path']!r} lists no equality_ids"
        )
    d = df.alias("d")
    # a spec field ABSENT from every file's partition tuple needs no
    # gate (a truly unpartitioned delete under this spec); a field
    # that IS present gates null-safely — per the spec a partitioned
    # delete applies only to its own partition, and that includes
    # the null partition (ADVICE r7: treating a null partition VALUE
    # as a wildcard applied such a delete table-wide)
    spec_fields = _spec_partition_fields(meta, e0["spec_id"])
    gated = {
        pname
        for pname, _src, _tr, _typ in spec_fields
        if any(pname in e["partition"] for e in group)
    }
    ed = reduce(
        DataFrame.unionByName,
        [_eq_delete_file_frame(spark, meta, e, eq_cols, gated) for e in group],
    ).alias("ed")
    # equality on the delete columns (null-safe per spec) ...
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"d.{c}").eqNullSafe(F.col(f"ed.{c}")) for c in eq_cols],
    )
    # ... gated on sequence order (strict: deletes don't apply
    # to rows written at or after the delete) ...
    cond = cond & (F.col("d._seq") < F.col("ed._eseq"))
    # ... and on the delete file's partition: every gated spec field
    # scopes the delete to rows whose DERIVED partition value
    # matches NULL-SAFELY — identity fields compare the source
    # column, non-identity fields compare through the transform
    # (ADVICE r6: skipping those applied the delete table-wide); the
    # null partition is a real partition, so a delete scoped to it
    # hits only rows whose derived value is null (ADVICE r7)
    for i, (pname, src, transform, typ) in enumerate(spec_fields):
        if pname not in gated:
            continue
        cond = cond & _derived_partition_col(src, transform, typ).eqNullSafe(
            F.col(f"ed._ep{i}")
        )
    return d, ed, cond


def apply_deletes(
    spark: SparkSession,
    meta: TableMetadata,
    df: DataFrame,
    dels: list[dict[str, Any]],
    *,
    mode: str = "survivors",
) -> DataFrame:
    """Apply v2 delete files to a :func:`mor_frame`.

    ``mode='survivors'`` — rows NOT hit by any delete (the MoR read:
    sequential anti-joins). ``mode='victims'`` — rows hit by at
    least one delete (the changelog's "what did this commit
    remove"), deduplicated on row identity (_rel, _pos) because a
    row may match several delete files. No delete-side broadcast
    hints: delete sets can be arbitrarily large at 100 TB, so AQE
    picks the join strategy.
    """
    if mode not in ("survivors", "victims"):
        raise ValueError(f"unknown mode {mode!r}")
    anti = mode == "survivors"
    pd_all = _pos_delete_frame(spark, dels)
    victims: list[DataFrame] = []
    if pd_all is not None:
        cond = (
            (df["_rel"] == pd_all["pd_rel"])
            & (df["_pos"] == pd_all["pd_pos"])
            & (df["_seq"] <= pd_all["pd_seq"])
        )
        if anti:
            df = df.join(pd_all, cond, "left_anti")
        else:
            victims.append(df.join(pd_all, cond, "left_semi"))
    groups: dict[tuple, list[dict[str, Any]]] = {}
    for e in dels:
        if e["content"] == EQUALITY_DELETES:
            sig = (tuple(e["equality_ids"] or []), e["spec_id"])
            groups.setdefault(sig, []).append(e)
    for group in groups.values():
        d, ed, cond = _eq_delete_group_join(spark, meta, df, group)
        if anti:
            df = d.join(ed, cond, "left_anti")
        else:
            victims.append(d.join(ed, cond, "left_semi"))
    if anti:
        return df
    if not victims:
        return df.filter(F.lit(False))
    return reduce(DataFrame.unionByName, victims).dropDuplicates(["_rel", "_pos"])


_ICE_TO_SPARK = {
    "int": "int", "long": "bigint", "float": "float", "double": "double",
    "boolean": "boolean", "string": "string", "date": "date",
    # Iceberg timestamp is zone-less; timestamptz is UTC-adjusted
    "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
    "timestamp_ns": "timestamp_ntz",
}


def _pv_python(value, ice_type: str):
    """Manifest partition values arrive in the spec's RAW physical
    forms — int days since epoch for dates, long micros for
    timestamps (``_AVRO_OF_TYPE`` in ``commit.py``). Convert to the
    Python objects ``local_frame`` needs for the explicit typed
    schema (ADVICE r14: letting Spark infer BIGINT and then
    ``.cast('date')`` is an AnalysisException — BIGINT→DATE is not a
    legal cast)."""
    import datetime as dt

    if value is None:
        return None
    if ice_type == "date" and isinstance(value, int):
        return dt.date(1970, 1, 1) + dt.timedelta(days=value)
    if ice_type in ("timestamp", "timestamp_ns") and isinstance(value, int):
        if ice_type == "timestamp_ns":
            value //= 1000  # nanos → micros (Spark timestamp precision)
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=value)
    if ice_type == "timestamptz" and isinstance(value, int):
        # Spark interprets NAIVE datetimes in the session tz; a
        # tz-aware UTC datetime pins the instant regardless of it
        return dt.datetime(
            1970, 1, 1, tzinfo=dt.timezone.utc
        ) + dt.timedelta(microseconds=value)
    return value


def attach_identity_partition_columns(
    spark: SparkSession,
    df: DataFrame,
    data: list[dict[str, Any]],
    meta: TableMetadata,
    *,
    coalesce_present: bool = False,
) -> DataFrame:
    """Re-attach identity-partition source columns that are absent
    from the physical parquet (hive-imported tables keep them ONLY
    in directory names / manifest partition tuples): per the spec,
    an identity partition value is a constant for every row of the
    file, so it joins in from the one-row-per-FILE entry list via
    the same broadcast ``_rel`` key ``mor_frame`` uses for sequence
    numbers — Iceberg's identity-partition constant folding. No-op
    (zero extra plan nodes) when every source column is physical.

    ``coalesce_present``: also attach columns that ARE in the scan
    schema, per-row coalescing the physical value with the entry
    constant. A MIXED table — some files carry the column
    physically, some keep it log/manifest-only, which mergeSchema
    surfaces as one nullable column — needs the per-file fallback or
    the log-only files' rows read NULL (r14: a column-mapped Delta
    replica's verbatim files after a logical-named rewrite joins).
    Callers whose tables are uniformly physical keep the default:
    zero extra plan nodes."""
    raw = meta.raw
    schema = current_schema(raw)
    col_name = {f["id"]: f["name"] for f in schema.get("fields", [])}
    col_type = {f["id"]: f["type"] for f in schema.get("fields", [])}
    have = set(df.columns)
    missing: list[tuple[str, str, str]] = []  # (field name, col, spark type)
    partial: list[tuple[str, str, str]] = []  # present → coalesce per row
    for spec in raw.get("partition-specs", []):
        for f in spec.get("fields", []):
            if f.get("transform", "identity") != "identity":
                continue
            src = col_name.get(f["source-id"])
            if src is None:
                continue
            bucket = None
            if src not in have:
                bucket = missing
            elif coalesce_present:
                bucket = partial
            if bucket is None:
                continue
            spark_t = _ICE_TO_SPARK.get(col_type[f["source-id"]])
            if spark_t is None:
                raise ValueError(
                    f"cannot attach partition column {src!r} of type "
                    f"{col_type[f['source-id']]!r}"
                )
            if not any(m[1] == src for m in missing + partial):
                bucket.append((f["name"], src, spark_t))
    if not missing and not partial:
        return df
    allcols = missing + partial
    ice_t = {name: col_type[fid] for fid, name in col_name.items()}
    rows = [
        tuple(
            [e["rel"]]
            + [
                _pv_python(e["partition"].get(fname), ice_t[src])
                for fname, src, _ in allcols
            ]
        )
        for e in data
    ]
    schema_ddl = ", ".join(
        ["_part_rel string"] + [f"_pc_{src} {t}" for _, src, t in allcols]
    )
    part_df = local_frame(spark, rows, schema_ddl)
    df = df.join(
        F.broadcast(part_df), df["_rel"] == part_df["_part_rel"], "left"
    ).drop("_part_rel")
    for _, src, _t in missing:
        df = df.withColumn(src, F.col(f"_pc_{src}"))
    for _, src, _t in partial:
        df = df.withColumn(src, F.coalesce(F.col(src), F.col(f"_pc_{src}")))
    return df.drop(*[f"_pc_{src}" for _, src, _ in allcols])


def read_mor(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int,
    base_dir: str | None = None,
) -> DataFrame:
    """Merge-on-read table scan at a snapshot: data-file rows minus
    applied positional and equality deletes.

    Plan shape (the 100 TB story): ONE parquet scan over exactly the
    planned data files, tagged with ``_metadata.row_index`` /
    ``file_path`` (computed by the scan itself — free), a broadcast
    join attaching each file's data sequence number (one row per
    FILE — always tiny), then anti-joins for the deletes. Everything
    after planning is executor-side; no collect, no Python row work.
    """
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    data, dels = mor_entries_at(meta, snapshot_id, base_dir)
    if not data:
        raise ValueError(f"snapshot {snapshot_id} has no live data files")
    df = mor_frame(spark, data)
    mapped = bool(
        (meta.raw.get("properties") or {}).get("schema.name-mapping.default")
    )
    if mapped:
        # foreign physical column names (e.g. a column-mapped Delta
        # source replicated verbatim) bind to logical names through
        # the table's explicit name mapping — one projection, no-op
        # for native tables (r14)
        from .evolution import apply_table_name_mapping

        df = apply_table_name_mapping(df, meta)
    # name-mapped tables may MIX log-only and physical partition
    # columns across files (a logical-named rewrite joins the
    # verbatim copies) → per-row coalesce with the entry constants;
    # uniform tables keep the zero-extra-nodes fast path
    df = attach_identity_partition_columns(
        spark, df, data, meta, coalesce_present=mapped
    )
    out_cols = [
        c for c in df.columns
        if c not in ("_rel", "_pos", "_seq",
                     # v3 reserved lineage columns MATERIALIZED by
                     # rewrites (r15) are metadata, not data — the
                     # lineage read surfaces them deliberately
                     "_row_id", "_last_updated_sequence_number")
    ]
    return apply_deletes(spark, meta, df, dels, mode="survivors").select(*out_cols)


# ------------------------------------------------ driver-gate queries

DELETE_FILES_SCHEMA = T.StructType([
    T.StructField("file_path", T.StringType()),
    T.StructField("content_name", T.StringType()),
    T.StructField("partition_json", T.StringType()),
    T.StructField("record_count", T.LongType()),
    T.StructField("sequence_number", T.LongType()),
    T.StructField("equality_ids_csv", T.StringType()),
])


def meta_delete_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$delete_files of the MoR fixture at snapshot 2003: one
    positional and one equality delete file with their v2 content
    codes, partitions, and inherited sequence numbers."""
    import json as _json

    meta = parse_metadata(MOR_METADATA)
    _, dels = mor_entries_at(meta, 2003, MOR_DIR)
    rows = [
        (
            e["file_path"],
            CONTENT_NAME[e["content"]],
            _json.dumps(e["partition"], sort_keys=True),
            e["record_count"],
            e["sequence_number"],
            ",".join(str(i) for i in e["equality_ids"]) if e["equality_ids"] else None,
        )
        for e in dels
    ]
    return local_frame(spark, rows, DELETE_FILES_SCHEMA).orderBy("file_path")


FILES_MOR_SCHEMA = T.StructType([
    T.StructField("file_path", T.StringType()),
    T.StructField("partition_json", T.StringType()),
    T.StructField("record_count", T.LongType()),
    T.StructField("data_seq", T.LongType()),
    T.StructField("eq_delete_files", T.LongType()),
])


def files_at_snapshot_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel WITH delete application at snapshot 2003: per
    live data file, the positional-delete row count (read from the
    actual delete parquet — distributed, since positional delete
    files are data-scale at 100 TB), the count of equality delete
    files that apply, and the resulting live-row upper bound
    (equality matches resolve only at read time; `mor_live_rows` is
    the exact row-level answer)."""
    import json as _json

    meta = parse_metadata(MOR_METADATA)
    data, dels = mor_entries_at(meta, 2003, MOR_DIR)

    def _eq_applies(d: dict, e: dict) -> bool:
        if d["sequence_number"] >= e["sequence_number"]:
            return False
        shared = set(d["partition"]) & set(e["partition"])
        return all(d["partition"][k] == e["partition"][k] for k in shared)

    eq_dels = [e for e in dels if e["content"] == EQUALITY_DELETES]
    rows = [
        (
            d["file_path"],
            _json.dumps(d["partition"], sort_keys=True),
            d["record_count"],
            d["sequence_number"],
            sum(1 for e in eq_dels if _eq_applies(d, e)),
        )
        for d in data
    ]
    files = local_frame(spark, rows, FILES_MOR_SCHEMA)

    pos_dels = [e for e in dels if e["content"] == POSITION_DELETES]
    frames = [
        spark.read.parquet(e["local_path"]).select(
            "file_path", F.lit(e["sequence_number"]).alias("pd_seq")
        )
        for e in pos_dels
    ]
    pd_counts = (
        reduce(DataFrame.unionByName, frames)
        .groupBy("file_path", "pd_seq")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = files.join(
        pd_counts,
        (files["file_path"] == pd_counts["file_path"])
        & (files["data_seq"] <= pd_counts["pd_seq"]),
        "left",
    )
    return (
        joined.groupBy(
            files["file_path"], "partition_json", "record_count", "data_seq",
            "eq_delete_files",
        )
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("pos_deleted"))
        .select(
            files["file_path"], "partition_json", "record_count", "data_seq",
            "pos_deleted",
            "eq_delete_files",
            (F.col("record_count") - F.col("pos_deleted")).alias("live_rows_ub"),
        )
        .orderBy("file_path")
    )


def mor_live_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship MoR read: every surviving row of the fixture
    table at current snapshot 2004 — positional deletes knock out
    ids 1-10 and 151-155, the equality delete knocks out 260 and
    270 (category z, data seq 2 < delete seq 3), and F's rows
    (seq 4, written after the deletes) all survive → 323 rows."""
    return read_mor(spark, MOR_METADATA, 2004, MOR_DIR).orderBy("id")


def scan_plan_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan planning across a partition-spec evolution (VERDICT r5
    #2): snapshot 2004 carries spec-0 manifests (identity(category))
    and a spec-1 manifest (+ truncate[100](id)); the predicate
    ``category = 'w' AND id_trunc = 300`` prunes m1/m2 at the
    manifest level via their OWN spec's summaries, applies the
    id_trunc clause only to spec-1 files (spec-0 files are
    unconstrained by a field their spec lacks), and selects exactly
    F. The delete manifest m5 never appears: it is not a data
    listing."""
    from .snapshots import plan_scan

    return plan_scan(
        spark,
        MOR_METADATA,
        2004,
        partition_pred={"category": "w", "id_trunc": 300},
        base_dir=MOR_DIR,
        debug=True,
    )


# reserved field id of position-delete files' file_path column
# (Iceberg spec, "Reserved Field IDs")
PATH_FIELD_ID = 2147483546


def _path_outside_bounds(data_path: str, delete_entry: dict) -> bool:
    """True when the delete file's referenced-path bounds PROVE it
    cannot target ``data_path`` (conservative: missing bounds keep
    the attachment). Paths compare canonically; bounds are the
    single-value UTF-8 encoding the commit path writes."""
    lbs = delete_entry.get("lower_bounds") or []
    ubs = delete_entry.get("upper_bounds") or []
    lo = next((kv["value"] for kv in lbs if kv["key"] == PATH_FIELD_ID), None)
    hi = next((kv["value"] for kv in ubs if kv["key"] == PATH_FIELD_ID), None)
    if lo is None or hi is None:
        return False
    return not (lo.decode("utf-8") <= data_path <= hi.decode("utf-8"))



SCAN_TASKS_SCHEMA = T.StructType([
    T.StructField("data_file", T.StringType()),
    T.StructField("data_seq", T.LongType()),
    T.StructField("delete_file", T.StringType()),
    T.StructField("delete_content", T.StringType()),
    T.StructField("delete_seq", T.LongType()),
    T.StructField("apply_rule", T.StringType()),
])


def plan_scan_tasks(
    meta: TableMetadata, snapshot_id: int, base_dir: str
) -> list[tuple]:
    """FileScanTask-style planning: for every live data file at the
    snapshot, the delete files a MoR reader must apply to it — the
    association Iceberg's planner ships to each task so executors
    never see irrelevant deletes.

    Application rules (Iceberg v2 spec, the same gates
    :func:`read_mor` enforces row-level):

    * positional delete → ``data_seq <= delete_seq`` (a position
      delete CAN target rows added in its own commit);
    * equality delete → ``data_seq < delete_seq`` (strictly older
      rows only);
    * partition gate: the delete's partition tuple must agree with
      the data file's on every shared field (a delete scoped to
      ``category=x`` never attaches to a ``category=y`` file;
      cross-spec attachment falls back to the shared-field
      comparison, conservative for fields one side lacks).

    Data files with no applicable deletes appear once with NULL
    delete columns and rule 'none' — the plan enumerates every task,
    not just the delete-bearing ones.
    """
    data, dels = mor_entries_at(meta, snapshot_id, base_dir)
    rows: list[tuple] = []
    for d in sorted(data, key=lambda e: e["rel"]):
        matched = False
        for x in sorted(dels, key=lambda e: e["rel"]):
            shared = set(d["partition"]) & set(x["partition"])
            if any(d["partition"][k] != x["partition"][k] for k in shared):
                continue
            if x["content"] == POSITION_DELETES:
                if d["sequence_number"] > x["sequence_number"]:
                    continue
                if x.get("referenced_data_file"):
                    # v3 deletion vector: the manifest names its one
                    # target exactly — no bounds heuristics needed
                    if x["referenced_data_file"] != d["file_path"]:
                        continue
                    rule = "dv: data_seq <= delete_seq"
                else:
                    if _path_outside_bounds(d["file_path"], x):
                        continue  # delete file provably references
                        # other data files (reserved field 2147483546
                        # bounds) — never ship it to this task
                    rule = "pos: data_seq <= delete_seq"
            else:
                if d["sequence_number"] < x["sequence_number"]:
                    rule = "eq: data_seq < delete_seq"
                else:
                    continue
            matched = True
            rows.append(
                (
                    d["file_path"],
                    d["sequence_number"],
                    x["file_path"],
                    CONTENT_NAME[x["content"]],
                    x["sequence_number"],
                    rule,
                )
            )
        if not matched:
            rows.append((d["file_path"], d["sequence_number"], None, None, None, "none"))
    return rows


def scan_plan_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate view of :func:`plan_scan_tasks` at snapshot 2004:
    pd1 (pos, x, seq 3) attaches to A (x, seq 1) and C (x, seq 2);
    ed1 (eq, z, seq 3) attaches to D (z, seq 2); B (y) is partition-
    gated out and F (seq 4) sequence-gated out."""
    meta = parse_metadata(MOR_METADATA)
    rows = plan_scan_tasks(meta, 2004, MOR_DIR)
    return (
        local_frame(spark, rows, SCAN_TASKS_SCHEMA)
        .orderBy("data_file", "delete_file")
    )


# -------------------------------------------------- DuckDB oracles

_LOC = "file:///tmp/mor_table"

META_DELETE_FILES_SQL = f"""
SELECT file_path, content_name, partition_json,
       CAST(record_count AS BIGINT) AS record_count,
       CAST(sequence_number AS BIGINT) AS sequence_number,
       equality_ids_csv
FROM (VALUES
  ('{_LOC}/data/deletes/ed1.parquet', 'EQUALITY_DELETES',
   '{{"category": "z"}}', 2, 3, '1'),
  ('{_LOC}/data/deletes/pd1.parquet', 'POSITION_DELETES',
   '{{"category": "x"}}', 15, 3, NULL)
) t(file_path, content_name, partition_json, record_count,
    sequence_number, equality_ids_csv)
ORDER BY file_path
"""

# The positional-delete counts come from DuckDB reading the SAME
# physical delete parquet Spark reads — an independent engine over
# shared ground truth, not a golden literal.
FILES_AT_SNAPSHOT_MOR_SQL = f"""
WITH files(file_path, partition_json, record_count, data_seq) AS (VALUES
  ('{_LOC}/data/category=x/A.parquet', '{{"category": "x"}}', 100, 1),
  ('{_LOC}/data/category=y/B.parquet', '{{"category": "y"}}', 50, 1),
  ('{_LOC}/data/category=x/C.parquet', '{{"category": "x"}}', 100, 2),
  ('{_LOC}/data/category=z/D.parquet', '{{"category": "z"}}', 50, 2)
),
eqdel(partition_json, seq) AS (VALUES ('{{"category": "z"}}', 3)),
pd AS (
  SELECT file_path, COUNT(*) AS n
  FROM read_parquet('{MOR_DIR}/data/deletes/pd1.parquet')
  GROUP BY file_path
)
SELECT f.file_path, f.partition_json,
       CAST(f.record_count AS BIGINT) AS record_count,
       CAST(f.data_seq AS BIGINT) AS data_seq,
       CAST(COALESCE(pd.n, 0) AS BIGINT) AS pos_deleted,
       CAST((SELECT COUNT(*) FROM eqdel e
             WHERE f.data_seq < e.seq
               AND f.partition_json = e.partition_json) AS BIGINT)
         AS eq_delete_files,
       CAST(f.record_count - COALESCE(pd.n, 0) AS BIGINT) AS live_rows_ub
FROM files f LEFT JOIN pd ON f.file_path = pd.file_path
ORDER BY f.file_path
"""

_MOR_DATA_FILES = ", ".join(
    f"'{MOR_DIR}/{rel}'"
    for rel in [
        "data/category=x/A.parquet",
        "data/category=y/B.parquet",
        "data/category=x/C.parquet",
        "data/category=z/D.parquet",
        "data/category=w/id_trunc=300/F.parquet",
    ]
)

# Independent MoR re-implementation: DuckDB's file_row_number plays
# Spark's _metadata.row_index; sequence rules and partition gating
# are re-derived in SQL over the same physical files.
MOR_LIVE_ROWS_SQL = f"""
WITH d AS (
  SELECT id, category,
         regexp_extract(filename, 'data/.*$') AS rel,
         file_row_number AS pos
  FROM read_parquet([{_MOR_DATA_FILES}], filename=true, file_row_number=true)
),
seqs(rel, seq) AS (VALUES
  ('data/category=x/A.parquet', 1),
  ('data/category=y/B.parquet', 1),
  ('data/category=x/C.parquet', 2),
  ('data/category=z/D.parquet', 2),
  ('data/category=w/id_trunc=300/F.parquet', 4)
),
pd AS (
  SELECT regexp_extract(file_path, 'data/.*$') AS rel, pos
  FROM read_parquet('{MOR_DIR}/data/deletes/pd1.parquet')
),
ed AS (SELECT id FROM read_parquet('{MOR_DIR}/data/deletes/ed1.parquet'))
SELECT d.id, d.category
FROM d JOIN seqs ON d.rel = seqs.rel
WHERE NOT EXISTS (
        SELECT 1 FROM pd
        WHERE pd.rel = d.rel AND pd.pos = d.pos AND seqs.seq <= 3)
  AND NOT (seqs.seq < 3 AND d.category = 'z'
           AND d.id IN (SELECT id FROM ed))
ORDER BY d.id
"""

SCAN_PLAN_EVOLVED_SQL = f"""
SELECT manifest_name, file_path, partition_json,
       CAST(record_count AS BIGINT) AS record_count,
       manifest_pruned, file_pruned, selected
FROM (VALUES
  ('m1.avro', '{_LOC}/data/category=x/A.parquet', '{{"category": "x"}}', 100, true, true, false),
  ('m1.avro', '{_LOC}/data/category=y/B.parquet', '{{"category": "y"}}', 50, true, true, false),
  ('m2.avro', '{_LOC}/data/category=x/C.parquet', '{{"category": "x"}}', 100, true, true, false),
  ('m2.avro', '{_LOC}/data/category=z/D.parquet', '{{"category": "z"}}', 50, true, true, false),
  ('m6.avro', '{_LOC}/data/category=w/id_trunc=300/F.parquet',
   '{{"category": "w", "id_trunc": 300}}', 40, false, false, true)
) t(manifest_name, file_path, partition_json, record_count,
    manifest_pruned, file_pruned, selected)
ORDER BY manifest_name, file_path
"""

SCAN_PLAN_MOR_SQL = f"""
SELECT data_file, CAST(data_seq AS BIGINT) AS data_seq,
       delete_file, delete_content,
       CAST(delete_seq AS BIGINT) AS delete_seq, apply_rule
FROM (VALUES
  ('{_LOC}/data/category=x/A.parquet', 1, '{_LOC}/data/deletes/pd1.parquet',
   'POSITION_DELETES', 3, 'pos: data_seq <= delete_seq'),
  ('{_LOC}/data/category=y/B.parquet', 1, NULL, NULL, NULL, 'none'),
  ('{_LOC}/data/category=x/C.parquet', 2, '{_LOC}/data/deletes/pd1.parquet',
   'POSITION_DELETES', 3, 'pos: data_seq <= delete_seq'),
  ('{_LOC}/data/category=z/D.parquet', 2, '{_LOC}/data/deletes/ed1.parquet',
   'EQUALITY_DELETES', 3, 'eq: data_seq < delete_seq'),
  ('{_LOC}/data/category=w/id_trunc=300/F.parquet', 4, NULL, NULL, NULL, 'none')
) t(data_file, data_seq, delete_file, delete_content, delete_seq, apply_rule)
ORDER BY data_file, delete_file
"""


# ---------------------------------------- MoR maintenance planning

REWRITE_DEAD_FRACTION = 0.10


def delete_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite-position-deletes planning (the MoR half of table
    maintenance): per live data file at the current snapshot, the
    fraction of rows killed by applicable positional deletes, and
    the resulting action —

    * ``rewrite``  — dead fraction ≥ 10 %: fold the deletes in by
      rewriting the data file (each future read pays the anti-join
      for rows that are permanently gone; past the threshold the
      one-time rewrite is cheaper);
    * ``keep`` — below threshold (or no deletes at all).

    ``eq_delete_files`` rides along: equality-delete cost is not
    countable from metadata (matches resolve at read time), so the
    planner reports exposure without folding it into the fraction.

    Same distributed shape as :func:`files_at_snapshot_mor`: the
    positional delete parquet is read by executors (data-scale at
    100 TB), counted per (file, seq-gate), joined to the KB-scale
    planned file list."""
    base = files_at_snapshot_mor(spark, sf_dir)  # snapshot 2003 listing
    frac = (F.col("pos_deleted").cast("double") / F.col("record_count").cast("double")).cast(
        "decimal(38,6)"
    )
    return (
        base.select(
            "file_path",
            "record_count",
            "pos_deleted",
            "eq_delete_files",
            frac.alias("dead_fraction"),
            F.when(frac >= F.lit(REWRITE_DEAD_FRACTION), F.lit("rewrite"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
        .orderBy("file_path")
    )


DELETE_COMPACTION_SQL = f"""
WITH files(file_path, record_count, data_seq, eq_delete_files) AS (VALUES
  ('{_LOC}/data/category=x/A.parquet', 100, 1, 0),
  ('{_LOC}/data/category=y/B.parquet', 50, 1, 0),
  ('{_LOC}/data/category=x/C.parquet', 100, 2, 0),
  ('{_LOC}/data/category=z/D.parquet', 50, 2, 1)
),
pd AS (
  SELECT file_path, COUNT(*) AS n
  FROM read_parquet('{MOR_DIR}/data/deletes/pd1.parquet')
  GROUP BY file_path
)
SELECT f.file_path,
       CAST(f.record_count AS BIGINT) AS record_count,
       CAST(COALESCE(pd.n, 0) AS BIGINT) AS pos_deleted,
       CAST(f.eq_delete_files AS BIGINT) AS eq_delete_files,
       CAST(CAST(COALESCE(pd.n, 0) AS DOUBLE) / CAST(f.record_count AS DOUBLE)
            AS DECIMAL(38,6)) AS dead_fraction,
       CASE WHEN CAST(COALESCE(pd.n, 0) AS DOUBLE) / CAST(f.record_count AS DOUBLE)
                 >= {REWRITE_DEAD_FRACTION}
            THEN 'rewrite' ELSE 'keep' END AS action
FROM files f LEFT JOIN pd ON f.file_path = pd.file_path
ORDER BY f.file_path
"""


def read_mor_projected(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    base_dir: str | None = None,
) -> DataFrame:
    """:func:`read_mor` through the CURRENT (possibly evolved)
    schema: the data scan projects every file via field ids (or the
    name-mapping fallback for id-less files — one scan per
    historical write schema), THEN v2 deletes apply exactly as in
    the plain path. Renames/promotions/adds committed after data or
    delete files were written all resolve; equality-delete files
    written under old column names bind through the same alias
    mapping.

    This is the full composition a long-lived 100 TB table needs:
    schema evolution and merge-on-read deletes are independent
    axes, and every (data schema generation × delete kind) pair
    reads correctly."""
    from functools import reduce as _reduce

    from .evolution import projected_scan_parts

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, snapshot_id, base_dir)
    if not data:
        raise ValueError(f"snapshot {snapshot_id} has no live data files")
    parts = projected_scan_parts(
        spark, meta, [e["local_path"] for e in data], tag=True
    )
    df = _reduce(DataFrame.unionByName, parts)
    seq_df = local_frame(
        spark,
        [(e["rel"], e["sequence_number"]) for e in data],
        T.StructType([
            T.StructField("seq_rel", T.StringType()),
            T.StructField("_seq", T.LongType()),
        ]),
    )
    df = df.join(F.broadcast(seq_df), df["_rel"] == seq_df["seq_rel"], "left").drop(
        "seq_rel"
    )
    out_cols = [c for c in df.columns if c not in ("_rel", "_pos", "_seq")]
    return apply_deletes(spark, meta, df, dels, mode="survivors").select(*out_cols)


def mor_read_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the evolution × MoR composition: scratch-copy
    the MoR fixture (whose parquet carries NO field ids — the
    name-mapping path), evolve ``category`` → ``cat`` and add a
    ``note`` column, then read the current snapshot through the
    evolved schema — positional AND equality deletes must still
    apply across the rename. Golden oracle: per-``cat`` live-row
    counts (the same 323 rows `mor_live_rows` certifies, now
    grouped under the renamed column). (``sf_dir`` unused.)"""
    from .commit import _scratch_table
    from .evolution import evolve_schema

    root = _scratch_table("morevo_gate_", MOR_DIR)
    res = evolve_schema(
        os.path.join(root, "v2.metadata.json"),
        rename={"category": "cat"},
        add=[("note", "string")],
    )
    return (
        read_mor_projected(spark, res["metadata_path"], base_dir=root)
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("note").alias("n_notes"),  # added column: all null
        )
        .orderBy("cat")
    )


MOR_READ_EVOLVED_SQL = """
SELECT cat, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_notes AS BIGINT) AS n_notes
FROM (VALUES
  ('w', 40, 0),
  ('x', 185, 0),
  ('y', 50, 0),
  ('z', 48, 0)
) t(cat, n_rows, n_notes)
ORDER BY cat
"""


# ---------------------------------------- v3 deletion vectors (DVs)

DV_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "dv")
DV_METADATA = os.path.join(DV_DIR, "v3.metadata.json")
_DVLOC = "file:///tmp/dv_table"

DV_BLOBS_SCHEMA = T.StructType([
    T.StructField("referenced_data_file", T.StringType()),
    T.StructField("cardinality", T.LongType()),
    T.StructField("content_offset", T.LongType()),
    T.StructField("content_size_in_bytes", T.LongType()),
    T.StructField("sequence_number", T.LongType()),
    T.StructField("crc_valid", T.BooleanType()),
])


def meta_dv_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$delete_files for the v3 fixture's deletion vectors: each
    DV's manifest locator (referenced data file, blob offset/length,
    inherited sequence number) cross-checked against the Puffin
    footer and the decoded bitmap — ``crc_valid`` is True only when
    the blob's CRC verifies AND the decoded cardinality equals both
    the footer property and the manifest ``record_count``."""
    from .puffin import decode_dv_blob, read_blob, read_puffin_footer

    meta = parse_metadata(DV_METADATA)
    _, dels = mor_entries_at(meta, 3003, DV_DIR)
    dvs = [e for e in dels if _is_dv(e)]
    footer_cards = {}
    for e in dvs:
        for b in read_puffin_footer(e["local_path"]).get("blobs", []):
            props = b.get("properties", {})
            footer_cards[props.get("referenced-data-file")] = int(
                props.get("cardinality", -1)
            )
    rows = []
    for e in sorted(dvs, key=lambda x: x["referenced_data_file"]):
        try:
            positions = decode_dv_blob(
                read_blob(e["local_path"], e["content_offset"], e["content_size_in_bytes"])
            )
            ok = (
                len(positions) == e["record_count"]
                and footer_cards.get(e["referenced_data_file"]) == len(positions)
            )
        except ValueError:
            ok = False
        rows.append(
            (
                e["referenced_data_file"],
                e["record_count"],
                e["content_offset"],
                e["content_size_in_bytes"],
                e["sequence_number"],
                ok,
            )
        )
    return local_frame(spark, rows, DV_BLOBS_SCHEMA).orderBy("referenced_data_file")


def mor_live_rows_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v3 merge-on-read flagship: every surviving row of the DV
    fixture at snapshot 3003 — deletion vectors knock out A's
    positions 0-9 (ids 1-10) and C's 0-4 (ids 151-155); B and D are
    untouched → 285 rows. Same distributed anti-join as the v2 path;
    only the position SOURCE changed (Roaring bitmap blobs decoded
    per-vector in an Arrow kernel instead of parquet rows)."""
    return read_mor(spark, DV_METADATA, 3003, DV_DIR).orderBy("id")


def scan_plan_tasks_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FileScanTask planning on the v3 fixture: each deletion vector
    attaches to EXACTLY its referenced data file (no bounds
    heuristics — the manifest names the target), so A and C each
    carry one DV task row while B and D plan clean."""
    meta = parse_metadata(DV_METADATA)
    rows = plan_scan_tasks(meta, 3003, DV_DIR)
    return (
        local_frame(spark, rows, SCAN_TASKS_SCHEMA)
        .orderBy("data_file", "delete_file")
    )


META_DV_BLOBS_SQL = f"""
SELECT referenced_data_file, CAST(cardinality AS BIGINT) AS cardinality,
       CAST(content_offset AS BIGINT) AS content_offset,
       CAST(content_size_in_bytes AS BIGINT) AS content_size_in_bytes,
       CAST(sequence_number AS BIGINT) AS sequence_number, crc_valid
FROM (VALUES
  ('{_DVLOC}/data/category=x/A.parquet', 10, 4, 39, 3, true),
  ('{_DVLOC}/data/category=x/C.parquet', 5, 43, 39, 3, true)
) t(referenced_data_file, cardinality, content_offset,
    content_size_in_bytes, sequence_number, crc_valid)
ORDER BY referenced_data_file
"""

_DV_DATA_FILES = ", ".join(
    f"'{DV_DIR}/{rel}'"
    for rel in [
        "data/category=x/A.parquet",
        "data/category=y/B.parquet",
        "data/category=x/C.parquet",
        "data/category=z/D.parquet",
    ]
)

# Independent v3 MoR re-implementation: DuckDB reads the SAME data
# parquet; the deleted positions are the generator's declared DV
# contents (DuckDB cannot read Puffin), applied with the same
# (rel, pos) + sequence-gate semantics Spark derives from the
# decoded bitmaps.
MOR_LIVE_ROWS_DV_SQL = f"""
WITH d AS (
  SELECT id, category,
         regexp_extract(filename, 'data/.*$') AS rel,
         file_row_number AS pos
  FROM read_parquet([{_DV_DATA_FILES}], filename=true, file_row_number=true)
),
dv(rel, pos) AS (
  SELECT 'data/category=x/A.parquet', * FROM range(0, 10)
  UNION ALL
  SELECT 'data/category=x/C.parquet', * FROM range(0, 5)
)
SELECT d.id, d.category
FROM d
WHERE NOT EXISTS (SELECT 1 FROM dv WHERE dv.rel = d.rel AND dv.pos = d.pos)
ORDER BY d.id
"""

SCAN_PLAN_TASKS_DV_SQL = f"""
SELECT data_file, CAST(data_seq AS BIGINT) AS data_seq,
       delete_file, delete_content,
       CAST(delete_seq AS BIGINT) AS delete_seq, apply_rule
FROM (VALUES
  ('{_DVLOC}/data/category=x/A.parquet', 1, '{_DVLOC}/data/deletes/dv1.puffin',
   'POSITION_DELETES', 3, 'dv: data_seq <= delete_seq'),
  ('{_DVLOC}/data/category=y/B.parquet', 1, NULL, NULL, NULL, 'none'),
  ('{_DVLOC}/data/category=x/C.parquet', 2, '{_DVLOC}/data/deletes/dv1.puffin',
   'POSITION_DELETES', 3, 'dv: data_seq <= delete_seq'),
  ('{_DVLOC}/data/category=z/D.parquet', 2, NULL, NULL, NULL, 'none')
) t(data_file, data_seq, delete_file, delete_content, delete_seq, apply_rule)
ORDER BY data_file, delete_file
"""


# ------------------------------------- position_deletes metadata table


def position_deletes_df(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int,
    base_dir: str | None = None,
) -> DataFrame:
    """Iceberg's ``position_deletes`` metadata table: one row per
    deleted (data file, position) pair live at the snapshot, sourced
    from BOTH v2 positional delete files (parquet scan, executor-
    side) and v3 deletion vectors (Arrow-batched puffin decode).
    The driver touches only the per-file planning entries; position
    lists never leave the executors — the same scale shape as
    :func:`read_mor`."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    _, dels = mor_entries_at(meta, snapshot_id, base_dir)
    frames = []
    for e in dels:
        if e["content"] != POSITION_DELETES:
            continue
        kind = "deletion-vector" if _is_dv(e) else "position-delete"
        src = _rel(e["file_path"]) or os.path.basename(e["file_path"])
        if _is_dv(e):
            f = _dv_positions_frame(spark, [e])
        else:
            f = spark.read.parquet(e["local_path"]).select(
                F.regexp_extract("file_path", _REL_RE, 0).alias("pd_rel"),
                F.col("pos").alias("pd_pos"),
                F.lit(e["sequence_number"]).cast("long").alias("pd_seq"),
            )
        frames.append(
            f.select(
                F.col("pd_rel").alias("file_path"),
                F.col("pd_pos").cast("long").alias("pos"),
                F.lit(src).alias("delete_file"),
                F.lit(kind).alias("delete_kind"),
                F.col("pd_seq").cast("long").alias("sequence_number"),
            )
        )
    if not frames:
        schema = (
            "file_path string, pos long, delete_file string, "
            "delete_kind string, sequence_number long"
        )
        return local_frame(spark, [], schema)
    return reduce(DataFrame.unionByName, frames)


def meta_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: the MoR fixture's position_deletes table at head
    2004 — pd1.parquet's 15 positions (A rows 0-9, C rows 0-4) with
    their referencing delete file and sequence number. The oracle
    reads the SAME physical pd1.parquet directly in DuckDB; the
    engine side goes through manifest planning (``mor_entries_at``)
    instead of a hardcoded path. (``sf_dir`` unused.)"""
    return position_deletes_df(spark, MOR_METADATA, 2004, MOR_DIR).orderBy(
        "file_path", "pos"
    )


META_POSITION_DELETES_SQL = f"""
SELECT regexp_extract(file_path, 'data/.*$') AS file_path,
       CAST(pos AS BIGINT) AS pos,
       'data/deletes/pd1.parquet' AS delete_file,
       'position-delete' AS delete_kind,
       CAST(3 AS BIGINT) AS sequence_number
FROM read_parquet('{MOR_DIR}/data/deletes/pd1.parquet')
ORDER BY file_path, pos
"""


# ------------------------------------------ v3 row lineage read path


def read_mor_lineage(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int,
    base_dir: str | None = None,
) -> DataFrame:
    """MoR scan that carries the v3 ROW LINEAGE metadata columns:
    ``_row_id`` (the file's ``first_row_id`` + row position — stable
    across MoR deletes, since surviving rows keep their file and
    position) and ``_last_updated_sequence_number`` (the row's data
    sequence number). Files written before lineage (no
    ``first_row_id`` in their manifest entry) yield NULL ``_row_id``,
    per the engine's documented no-retroactive-assignment stance.

    Plan shape: identical to :func:`read_mor` plus one broadcast
    join against a per-FILE (rel → first_row_id) map — KB metadata,
    never row-scale."""
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    data, dels = mor_entries_at(meta, snapshot_id, base_dir)
    if not data:
        raise ValueError(f"snapshot {snapshot_id} has no live data files")
    df = mor_frame(spark, data)
    surv = apply_deletes(spark, meta, df, dels, mode="survivors")
    lineage_map = local_frame(
        spark,
        [(e["rel"], e.get("first_row_id")) for e in data],
        "_rel string, _first_row_id long",
    )
    out_cols = [
        c for c in df.columns
        if c not in ("_rel", "_pos", "_seq",
                     "_row_id", "_last_updated_sequence_number")
    ]
    # files a REWRITE produced carry the spec's reserved columns
    # MATERIALIZED (rows moved; positions no longer derive ids) —
    # the physical value wins per row, fresh derivation fills the
    # rest (v3 "Row Lineage": first_row_id + position)
    fresh_id = F.col("_first_row_id") + F.col("_pos")
    fresh_seq = F.col("_seq").cast("long")
    phys_id = (
        F.coalesce(F.col("_row_id"), fresh_id)
        if "_row_id" in df.columns
        else fresh_id
    )
    phys_seq = (
        F.coalesce(F.col("_last_updated_sequence_number"), fresh_seq)
        if "_last_updated_sequence_number" in df.columns
        else fresh_seq
    )
    return (
        surv.join(F.broadcast(lineage_map), "_rel")
        .select(
            *out_cols,
            phys_id.cast("long").alias("_row_id"),
            phys_seq.alias("_last_updated_sequence_number"),
        )
    )


def row_lineage_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for v3 ROW LINEAGE (``sf_dir`` unused): a fresh
    format-version-3 table gets two appends (X: ids 100-104, Y: ids
    200-202) — the commit path assigns ``first_row_id`` 0 and 5 from
    the table's ``next-row-id`` counter — then a DV delete removes
    id 102. The lineage read shows the 7 survivors with their
    ORIGINAL row ids (0,1,3,4,5,6,7 — stable under MoR deletes, the
    property row lineage exists for) and per-row
    ``_last_updated_sequence_number``. Golden oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .commit import _scratch_dir, append_snapshot, create_table
    from .dml import delete_where_dv

    root = _scratch_dir("row_lineage_")
    mp = create_table(
        root, [("id", "long"), ("category", "string")], format_version=3,
        table_uuid="00000000-0000-0000-0000-00000000e001",
        location="file:///tmp/row_lineage_table",
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
    s2 = append_snapshot(s1["metadata_path"], [{"path": "data/Y.parquet", "partition": {}}])
    s3 = delete_where_dv(spark, s2["metadata_path"], "id = 102")
    return read_mor_lineage(
        spark, s3["metadata_path"], s3["snapshot_id"], root
    ).orderBy("id")


ROW_LINEAGE_SQL = """
SELECT CAST(id AS BIGINT) AS id, category,
       CAST(row_id AS BIGINT) AS _row_id,
       CAST(seq AS BIGINT) AS _last_updated_sequence_number
FROM (VALUES
  (100, 'a', 0, 1),
  (101, 'a', 1, 1),
  (103, 'a', 3, 1),
  (104, 'a', 4, 1),
  (200, 'b', 5, 2),
  (201, 'b', 6, 2),
  (202, 'b', 7, 2)
) t(id, category, row_id, seq)
ORDER BY id
"""
