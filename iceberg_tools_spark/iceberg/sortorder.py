"""Sort orders + sorted rewrite: cluster a table's data files so
column-bound pruning actually bites — the write-side half of the
scan-planning story.

Iceberg metadata carries ``sort-orders`` (order-id, per-field
transform/direction/null-order) and stamps each data file with the
``sort_order_id`` it satisfies; engines exploit it two ways: tight
per-file min/max bounds (pruning) and merge-friendly ordering.
This module implements:

* :func:`commit_sort_order` — declare a new sort order and make it
  the table default (metadata-only commit);
* :func:`rewrite_sorted` — the executable ``rewrite_data_files
  (strategy=sort)``: fold current deletes, re-split every
  partition's rows by the sort key, write sorted files, and commit
  a replace snapshot whose entries carry REAL decoded-bound stats
  (``lower_bounds``/``upper_bounds`` from the parquet footers,
  Iceberg single-value encoded) and the satisfied
  ``sort_order_id`` — after which ``plan_scan``'s bound pruning
  selects only the overlapping files;
* :func:`zorder_long_pair` — a 2-column z-order (bit-interleave)
  key as a Spark expression over JVM bit functions, for
  multi-dimensional clustering through the same rewrite.

Split strategies: explicit ``split_ranges`` (deterministic — the
driver gate pins golden bounds) or ``target_files`` via
``repartitionByRange`` (the distributed scale path: sampled range
boundaries, one shuffle, per-file sort). After a full sorted
rewrite every pre-existing delete file is dangling (positional
deletes reference replaced paths; equality deletes gate strictly
below the new sequence number), so the replace snapshot drops the
delete manifests entirely — the compact-everything contract.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import table_root_of
from .commit import commit_version
from .conversions import to_bytes
from .metadata import current_schema, parse_metadata

__all__ = [
    "commit_sort_order",
    "rewrite_sorted",
    "zorder_long_pair",
    "sorted_rewrite_prunes",
    "SORTED_REWRITE_SQL",
]


def commit_sort_order(
    metadata_path: str,
    fields: list[tuple[str, str]],
    *,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Declare a sort order over identity-transformed columns
    (``[(column, "asc"|"desc"), ...]``) and set it as the table
    default. Metadata-only: data files are re-stamped only when a
    sorted rewrite actually materializes the order."""
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    schema = current_schema(raw)
    by_name = {f["name"]: f for f in schema.get("fields", [])}
    order_fields = []
    for col, direction in fields:
        if col not in by_name:
            raise ValueError(f"sort column {col!r} not in the current schema")
        if direction not in ("asc", "desc"):
            raise ValueError(f"direction must be asc|desc, got {direction!r}")
        order_fields.append(
            {
                "transform": "identity",
                "source-id": by_name[col]["id"],
                "direction": direction,
                "null-order": "nulls-first" if direction == "asc" else "nulls-last",
            }
        )
    order_id = (
        max((o.get("order-id", 0) for o in raw.get("sort-orders", [])), default=0) + 1
    )
    raw.setdefault("sort-orders", []).append(
        {"order-id": order_id, "fields": order_fields}
    )
    raw["default-sort-order-id"] = order_id
    new_path = commit_version(metadata_path, raw, timestamp_ms=timestamp_ms)
    return {"metadata_path": new_path, "order_id": order_id}


def zorder_long_pair(a: Column, b: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key of two integer columns: interleave the
    low ``bits`` bits of each into one long, entirely with JVM
    bit-shift expressions (whole-stage-codegen friendly — no UDF).
    Clustering by this key gives BOTH columns tight per-file
    bounding boxes, the property multi-dimensional pruning needs."""
    a = a.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = b.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key.bitwiseOR(F.shiftleft(a.bitwiseAND(F.lit(1 << i)), i))
            .bitwiseOR(F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i + 1))
        )
    return key


def _sort_columns(meta, order_id: int | None) -> list[tuple[str, str, int, str]]:
    """Default (or given) sort order resolved to
    [(column, direction, field_id, iceberg_type)]."""
    raw = meta.raw
    if order_id is None:
        order_id = raw.get("default-sort-order-id", 0)
    order = next(
        (o for o in raw.get("sort-orders", []) if o.get("order-id") == order_id),
        None,
    )
    if order is None or not order.get("fields"):
        raise ValueError(f"no usable sort order {order_id} in table metadata")
    schema = current_schema(raw)
    by_id = {f["id"]: f for f in schema.get("fields", [])}
    out = []
    for f in order["fields"]:
        if f.get("transform", "identity") != "identity":
            raise ValueError("only identity sort fields are supported")
        src = by_id[f["source-id"]]
        out.append((src["name"], f.get("direction", "asc"), src["id"], src["type"]))
    return out


def rewrite_sorted(
    spark: SparkSession,
    metadata_path: str,
    *,
    split_ranges: list[tuple[Any, Any]] | None = None,
    target_files: int = 4,
    order_id: int | None = None,
    base_dir: str | None = None,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Sorted rewrite of EVERY live data file, per partition: fold
    deletes, re-split rows on the table's default sort order, write
    sorted parquet, and commit a replace snapshot whose new entries
    carry real footer-derived ``lower/upper_bounds`` (Iceberg
    single-value encoded) and the ``sort_order_id``. Old delete
    manifests are dropped (all dangling after a full rewrite).

    ``split_ranges`` pins deterministic [lo, hi] splits on the
    FIRST sort column (driver gates / reproducible layouts);
    without it, ``repartitionByRange(target_files)`` samples
    boundaries — the distributed default."""
    import pyarrow.parquet as pq

    from .commit import _commit_files
    from .deletes import apply_deletes, mor_entries_at, mor_frame

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = meta.raw
    table_root = table_root_of(base_dir)
    cols = _sort_columns(meta, order_id)
    oid = order_id if order_id is not None else raw.get("default-sort-order-id", 0)
    parent_id = meta.current_snapshot_id
    data, dels = mor_entries_at(meta, parent_id, base_dir)
    if not data:
        raise ValueError("no live data files to rewrite")

    sort_exprs = [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d, _, _ in cols
    ]
    first_col = cols[0][0]

    # one rewrite job per (spec, partition) group
    groups: dict[tuple[int, str], list[dict]] = {}
    for e in data:
        groups.setdefault(
            (e["spec_id"], json.dumps(e["partition"], sort_keys=True)), []
        ).append(e)

    new_files: list[dict[str, Any]] = []
    for gi, ((spec_id, pjson), members) in enumerate(sorted(groups.items())):
        live = apply_deletes(
            spark, meta, mor_frame(spark, members), dels, mode="survivors"
        )
        live = live.select(
            *[c for c in live.columns if c not in ("_rel", "_pos", "_seq")]
        )
        if split_ranges is not None:
            parts = [
                live.filter(
                    (F.col(first_col) >= F.lit(lo)) & (F.col(first_col) <= F.lit(hi))
                ).sort(*sort_exprs)
                for lo, hi in split_ranges
            ]
        else:
            ranged = live.repartitionByRange(target_files, *sort_exprs)
            parts = [ranged.sortWithinPartitions(*sort_exprs)]

        for pi, part in enumerate(parts):
            out_dir = os.path.join(
                table_root, "data", "sorted", f"g{gi}p{pi}"
            )
            part.write.mode("overwrite").parquet(out_dir)
            # deterministic file names (Spark part files carry UUIDs;
            # table paths must be stable for metadata diffing/tests)
            staged = sorted(
                f for f in os.listdir(out_dir) if f.endswith(".parquet")
            )
            names = []
            for fi, fn in enumerate(staged):
                det = f"s{fi}.parquet"
                os.replace(os.path.join(out_dir, fn), os.path.join(out_dir, det))
                names.append(det)
            for fn in os.listdir(out_dir):
                if not fn.endswith(".parquet"):
                    os.remove(os.path.join(out_dir, fn))
            for fi, fn in enumerate(names):
                path = os.path.join(out_dir, fn)
                md = pq.read_metadata(path)
                if md.num_rows == 0:
                    os.remove(path)
                    continue
                # footer stats → Iceberg single-value encoded bounds
                lowers, uppers = [], []
                pfile = pq.read_table(path, columns=[c for c, *_ in cols])
                for cname, _, fid, ctype in cols:
                    col = pfile[cname]
                    lowers.append({"key": fid, "value": to_bytes(ctype, min(col.to_pylist()))})
                    uppers.append({"key": fid, "value": to_bytes(ctype, max(col.to_pylist()))})
                rel = os.path.relpath(path, table_root).replace(os.sep, "/")
                new_files.append(
                    {
                        "path": rel,
                        "partition": json.loads(pjson),
                        "spec_id": spec_id,
                        "record_count": md.num_rows,
                        "lower_bounds": lowers,
                        "upper_bounds": uppers,
                        "sort_order_id": oid,
                    }
                )

    # replace commit: the sorted files supersede every pre-rewrite
    # manifest (data fully replaced; deletes all dangling), so the
    # one install carries the final manifest list and summary totals
    res = _commit_files(
        metadata_path,
        new_files,
        content=0,
        operation="replace",
        base_dir=base_dir,
        snapshot_id=snapshot_id,
        timestamp_ms=timestamp_ms,
        replace_all=True,
    )
    return {**res, "n_files": len(new_files), "sort_order_id": oid}


# ------------------------------------------------ driver-gate query


def sorted_rewrite_prunes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: build a scratch table of three files with fully
    INTERLEAVED id ranges (every file spans ~[1,300] — bound
    pruning can skip nothing), declare ``ORDER BY id ASC``, run the
    sorted rewrite into three disjoint ranges, and plan a scan for
    ``id ∈ [120, 150]`` — exactly ONE file survives, selected by
    the committed entries' decoded bounds. Golden oracle: the
    after-rewrite decision table. (``sf_dir`` unused.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .commit import _scratch_dir, append_snapshot, create_table
    from .snapshots import plan_scan

    root = os.path.join(_scratch_dir("sorted_gate_"), "t")
    v1 = create_table(
        root, [("id", "long"), ("payload", "string")],
        table_uuid="00000000-0000-0000-0000-00000000a001",
        location=_SLOC,
    )
    files = []
    for k in range(3):  # residue classes mod 3: fully interleaved
        ids = list(range(k + 1, 301, 3))
        rel = f"data/i{k}.parquet"
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "payload": pa.array([f"p{i}" for i in ids]),
            }),
            os.path.join(root, rel),
        )
        files.append({"path": rel, "partition": {}})
    res = append_snapshot(v1, files, snapshot_id=5001)
    res2 = commit_sort_order(res["metadata_path"], [("id", "asc")])
    res3 = rewrite_sorted(
        spark,
        res2["metadata_path"],
        split_ranges=[(1, 100), (101, 200), (201, 300)],
    )
    return plan_scan(
        spark,
        res3["metadata_path"],
        res3["snapshot_id"],
        field_id=1,
        lo=120,
        hi=150,
        debug=True,
    ).orderBy("file_path")


_SLOC = "file:///tmp/sorted_table"

SORTED_REWRITE_SQL = f"""
SELECT manifest_name, file_path, partition_json,
       CAST(record_count AS BIGINT) AS record_count,
       manifest_pruned, file_pruned, selected
FROM (VALUES
  ('manifest-5002.avro', '{_SLOC}/data/sorted/g0p0/s0.parquet', '{{}}', 100, false, true,  false),
  ('manifest-5002.avro', '{_SLOC}/data/sorted/g0p1/s0.parquet', '{{}}', 100, false, false, true),
  ('manifest-5002.avro', '{_SLOC}/data/sorted/g0p2/s0.parquet', '{{}}', 100, false, true,  false)
) t(manifest_name, file_path, partition_json, record_count,
    manifest_pruned, file_pruned, selected)
ORDER BY file_path
"""
