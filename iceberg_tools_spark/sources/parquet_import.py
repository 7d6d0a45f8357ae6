"""In-place parquet → Iceberg import (the ``add_files`` / ``migrate``
procedure family): register an existing parquet dataset — flat or
hive-partitioned — as an Iceberg table WITHOUT rewriting any data.

Reference capability: `hililiwei/iceberg-tools`'s manifest2json
exists to inspect the manifests real tables accumulate
(`ManifestFileReadTool.java:52-198`); this module is the write-side
dual for the most common way a 100 TB estate *acquires* Iceberg
manifests — importing a pre-existing hive/parquet lake in place.
Everything the import produces (typed bounds, partition tuples,
record counts) is exactly what the reference tool decodes.

Scale design:

* **Metadata-only cost.** The import never reads a data *page*:
  schema comes from one footer, per-file ``record_count`` /
  ``file_size`` / column min-max come from footer ROW-GROUP
  STATISTICS (KB each). At 100 TB / 100k files this is a driver or
  (at estate scale) an embarrassingly-parallel footer sweep — never
  a data scan, never a rewrite.
* **Zero data movement.** Files enter the table layout as HARD
  LINKS under ``<table>/data/`` (same inode, no bytes copied;
  falls back to copy only across filesystems). The engine's
  path-canonical layout keeps every existing reader / DML /
  maintenance path working unchanged on imported tables — the
  Spark-first adaptation of Iceberg's absolute-URI ``add_files``.
* **Stats land in manifests**, so `plan_scan` prunes imported
  tables by decoded bounds immediately (pytest pins a plan where a
  point predicate opens a strict subset of imported files).
* **Hive partition columns** (present only in directory names, not
  in the parquet) become identity partition fields; the MoR reader
  re-attaches them at scan time from the manifests' partition
  tuples via a broadcast per-FILE join (see
  ``deletes.attach_identity_partition_columns``) — the same
  constant-folding real Iceberg applies to imported tables.
* A ``schema.name-mapping.default`` property is written so
  field-id-projected reads (schema evolution) resolve the id-less
  imported files by name, per the spec's name-mapping fallback.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import date, datetime, timezone
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

_EPOCH_DATE = date(1970, 1, 1)

# arrow type id/name → iceberg type
_ARROW_TO_ICEBERG = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "long",
    "float": "float", "double": "double", "bool": "boolean",
    "string": "string", "large_string": "string",
    "binary": "binary", "large_binary": "binary",
    "date32[day]": "date",
}


def _iceberg_type_of(arrow_type) -> str:
    s = str(arrow_type)
    if s in _ARROW_TO_ICEBERG:
        return _ARROW_TO_ICEBERG[s]
    if s.startswith("timestamp[us"):
        return "timestamptz" if "tz=" in s else "timestamp"
    if s.startswith("decimal128"):
        import re

        m = re.match(r"decimal128\((\d+),\s*(\d+)\)", s)
        return f"decimal({m.group(1)}, {m.group(2)})"
    raise ValueError(f"unsupported arrow type for import: {s}")


def _stat_to_iceberg_value(v: Any, ice_type: str) -> Any:
    """Parquet footer stat (python value) → the integer/native form
    ``conversions.to_bytes`` expects for the iceberg type."""
    if ice_type == "date" and isinstance(v, date):
        return (v - _EPOCH_DATE).days
    if ice_type in ("timestamp", "timestamptz") and isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        # exact integer microseconds from timedelta components —
        # float total_seconds() loses sub-µs precision at modern
        # epochs (±1µs error here lets plan_scan prune a file that
        # actually contains matching rows; ADVICE r8)
        td = v - datetime(1970, 1, 1)
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    return v


def _discover(src_dir: str) -> tuple[list[tuple[str, dict[str, str]]], list[str]]:
    """(files with raw hive partition dicts, partition column order).
    Hive layout = every relative dir segment is ``k=v``."""
    out: list[tuple[str, dict[str, str]]] = []
    part_cols: list[str] = []
    for root, _dirs, names in sorted(os.walk(src_dir)):
        for n in sorted(names):
            if not n.endswith(".parquet") or n.startswith(("_", ".")):
                continue
            rel = os.path.relpath(root, src_dir)
            parts: dict[str, str] = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    if "=" not in seg:
                        raise ValueError(
                            f"non-hive directory segment {seg!r} under {src_dir}"
                        )
                    k, v = seg.split("=", 1)
                    parts[unquote(k)] = unquote(v)
            for k in parts:
                if k not in part_cols:
                    part_cols.append(k)
            out.append((os.path.join(root, n), parts))
    if not out:
        raise ValueError(f"no parquet files under {src_dir}")
    mismatched = [f for f, p in out if set(p) != set(part_cols)]
    if mismatched:
        raise ValueError(f"inconsistent hive partitioning: {mismatched[:3]}")
    return out, part_cols


def _partition_type(values: list[str]) -> str:
    """Hive dir values are strings; type the partition column long
    when every value parses as an integer, date when every value is
    an ISO ``YYYY-MM-DD`` (the layout Spark's ``partitionBy`` on a
    DateType column produces), else string — the three types hive
    layouts actually encode losslessly."""
    try:
        for v in values:
            int(v)
        return "long"
    except ValueError:
        pass
    try:
        for v in values:
            date.fromisoformat(v)
        return "date"
    except ValueError:
        return "string"


def import_parquet_table(
    spark: SparkSession,  # noqa: ARG001 — signature parity with migrate_*
    src_dir: str,
    target_root: str,
    *,
    table_uuid: str = "00000000-0000-0000-0000-00000000f002",
    max_string_bound: int = 64,
) -> dict[str, Any]:
    """Import ``src_dir`` (flat or hive-partitioned parquet) as a
    fresh Iceberg v2 table at ``target_root``. Metadata-only: one
    footer read per file, hard-linked data, no Spark job. Returns
    the commit dict + ``n_files``/``n_rows``.

    The table is born by :func:`..iceberg.commit.create_table`
    (``metadata/v1.metadata.json`` plus ``version-hint.text``), so a
    ``target_root`` of ``<warehouse>/<ns>/<name>`` is found by name
    through ``catalog.list_tables`` / ``catalog.load_table``.

    String bounds longer than ``max_string_bound`` are omitted
    (bounds are optional per column; parquet writers may themselves
    truncate long string stats — truncated-adjusted stats remain
    VALID bounds, so whatever the footer offers is safe to attach).
    """
    import pyarrow.parquet as pq

    from ..iceberg.commit import append_snapshot, create_table
    from ..iceberg.conversions import to_bytes

    files, part_cols = _discover(src_dir)

    # ---- schema: one footer, plus hive partition columns
    first_schema = pq.read_schema(files[0][0])
    ice_fields: list[dict[str, Any]] = []
    for i, name in enumerate(first_schema.names, start=1):
        ice_fields.append(
            {
                "id": i,
                "name": name,
                "required": False,
                "type": _iceberg_type_of(first_schema.field(name).type),
            }
        )
    data_col_n = len(ice_fields)
    part_types: dict[str, str] = {}
    for j, c in enumerate(part_cols):
        if c in first_schema.names:
            raise ValueError(f"hive partition column {c!r} also in parquet schema")
        t = _partition_type([p[c] for _, p in files])
        part_types[c] = t
        ice_fields.append(
            {"id": data_col_n + 1 + j, "name": c, "required": False, "type": t}
        )
    by_name = {f["name"]: f for f in ice_fields}
    name_mapping = [
        {"field-id": f["id"], "names": [f["name"]]} for f in ice_fields
    ]
    mp = create_table(
        target_root, ice_fields,
        partition_by=[(c, "identity", c) for c in part_cols],
        properties={
            "imported-from": os.path.abspath(src_dir),
            "schema.name-mapping.default": json.dumps(name_mapping),
        },
        table_uuid=table_uuid,
    )

    # ---- per-file: hard link into the table layout + footer stats
    data_files: list[dict[str, Any]] = []
    n_rows = 0
    for fi, (src, raw_part) in enumerate(files):
        # flat physical layout: partition values live in the
        # MANIFESTS (the Iceberg way); echoing hive `k=v` segments
        # would re-introduce URL-escaping mismatches between scan
        # URIs and manifest paths for values with spaces
        rel = f"data/i{fi:05d}.parquet"
        dst = os.path.join(target_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

        md = pq.read_metadata(src)
        if md.schema.to_arrow_schema().names != first_schema.names:
            raise ValueError(f"schema drift at {src}: import needs one schema")
        n_rows += md.num_rows
        lowers, uppers = [], []
        for ci, name in enumerate(first_schema.names):
            ice_t = by_name[name]["type"]
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if not ok or lo is None:
                continue
            if ice_t == "string" and (
                len(str(lo)) > max_string_bound or len(str(hi)) > max_string_bound
            ):
                continue
            if ice_t == "binary":
                continue
            lowers.append(
                {"key": by_name[name]["id"],
                 "value": to_bytes(ice_t, _stat_to_iceberg_value(lo, ice_t))}
            )
            uppers.append(
                {"key": by_name[name]["id"],
                 "value": to_bytes(ice_t, _stat_to_iceberg_value(hi, ice_t))}
            )
        part_vals = {
            c: (
                int(raw_part[c])
                if part_types[c] == "long"
                else (date.fromisoformat(raw_part[c]) - _EPOCH_DATE).days
                if part_types[c] == "date"
                else raw_part[c]
            )
            for c in part_cols
        }
        data_files.append(
            {
                "path": rel,
                "partition": part_vals,
                "record_count": md.num_rows,
                "file_size_in_bytes": os.path.getsize(src),
                "lower_bounds": lowers or None,
                "upper_bounds": uppers or None,
            }
        )

    res = append_snapshot(
        mp, data_files, extra_summary={"import-source": os.path.abspath(src_dir)}
    )
    res["n_files"] = len(data_files)
    res["n_rows"] = n_rows
    res["partition_columns"] = part_cols
    return res


# ------------------------------------------------ driver-gate query


def parquet_import_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: hive-partition the sf ``orders`` table into a
    scratch lake (fixture setup), IMPORT it in place (metadata-only,
    hard links), then roll the imported table up through
    ``read_mor`` — which must re-attach the hive partition column
    from manifest partition tuples, since the parquet files do not
    contain it. Oracle: the same rollup over the original ``orders``
    in DuckDB — the import must be lossless row-for-row."""
    import pyspark.sql.functions as F

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import read_mor

    scratch = _scratch_dir("pq_import_")
    lake = os.path.join(scratch, "lake")
    (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .repartition("o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .parquet(lake)
    )
    res = import_parquet_table(spark, lake, os.path.join(scratch, "table"))
    imported = read_mor(spark, res["metadata_path"], res["snapshot_id"])
    return (
        imported.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("double")).alias("sum_price"),
            F.sum("o_custkey").cast("long").alias("custkey_sum"),
        )
        .orderBy("o_orderpriority")
    )


PARQUET_IMPORT_SQL = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_orders,
  SUM(CAST(o_totalprice AS DOUBLE)) AS sum_price,
  CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
