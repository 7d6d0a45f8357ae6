"""Full schema evolution: rename / drop / type-promotion commits and
the FIELD-ID-resolVING projection reader that makes them safe.

Iceberg resolves columns in data files **by field id, never by
name** (public spec, "Column Projection"): a renamed column keeps
its id so old files still bind to it; a dropped column's id simply
stops being projected; an added column's fresh id is absent from
old files and reads as null; type promotions (`int → long`,
`float → double`, `decimal(P,S) → decimal(P',S)` with `P' ≥ P`) are
widenings every reader can apply file-side.

This engine implements the reader half with Spark's own native
parquet field-id machinery rather than per-file plans:

* staged/fixture parquet carries ``PARQUET:field_id`` on every
  column (written via pyarrow field metadata or Spark's
  ``spark.sql.parquet.fieldId.write.enabled``);
* :func:`read_table_projected` builds ONE Spark read schema from
  the table's *current* Iceberg schema, attaching
  ``parquet.field.id`` metadata per ``StructField``, and reads all
  live files in a single distributed scan with
  ``spark.sql.parquet.fieldId.read.enabled`` — Spark's vectorized
  parquet reader then binds by id and applies the int→long /
  float→double widenings in place. One scan, no per-file driver
  loop, no union-of-schemas: the 100 TB path is identical to the
  5-row fixture path.

Files *without* field ids fail the fast-path read loudly (the
default ``spark.sql.parquet.fieldId.read.ignoreMissing=false``)
instead of silently nulling out; the spec's name-mapping fallback
(`schema.name-mapping.default`) is implemented separately in
:func:`read_table_projected_with_mapping` — id-less files (Hive
migrations, plain imports) bind by name through the mapping's
alias lists while id-bearing files keep binding by id.

The evolve-commit half (:func:`evolve_schema`) writes a new schema
(bumped ``schema-id``; renamed/promoted fields KEEP their ids,
added fields take fresh ids past ``last-column-id``, old schemas
are all retained) with the validation the spec requires: illegal
promotions raise, dropping a field referenced by any partition
spec raises, rename collisions raise.

Reference parity anchor: the reference's metadata parse
(`ManifestFileReadTool.java:170-197`) already selects the current
schema from the v2 ``schemas`` list by ``current-schema-id`` — this
module is what WRITES that list's subsequent entries.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .commit import _max_field_id, commit_version
from .metadata import TableMetadata, current_schema, parse_metadata

__all__ = [
    "evolve_schema",
    "spark_read_schema",
    "read_table_projected",
    "schema_evolution_read",
    "meta_schemas",
]

_DECIMAL_RE = re.compile(r"decimal\((\d+),\s*(\d+)\)")


def _legal_promotion(old: str, new: str) -> bool:
    """The spec's exhaustive primitive-promotion list."""
    if (old, new) in (("int", "long"), ("float", "double")):
        return True
    mo, mn = _DECIMAL_RE.fullmatch(old), _DECIMAL_RE.fullmatch(new)
    if mo and mn:
        return int(mn.group(2)) == int(mo.group(2)) and int(mn.group(1)) >= int(
            mo.group(1)
        )
    return False


_ADDABLE_TYPES = {
    "long", "int", "string", "double", "float", "boolean", "date",
    "timestamp", "timestamptz",
    # Iceberg v3 semi-structured type (Spark-native VariantType)
    "variant",
}


def evolve_schema(
    metadata_path: str,
    *,
    add: list[tuple[str, str]] = (),
    rename: dict[str, str] | None = None,
    drop: list[str] = (),
    promote: dict[str, str] | None = None,
    base_dir: str | None = None,
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Commit a schema evolution combining any of: ``add`` new
    optional columns (fresh ids), ``rename`` (same id, new name),
    ``drop`` (id retired from projection; data untouched), and
    ``promote`` (same id, widened type). Writes a new metadata.json
    whose ``schemas`` list grows by one and returns
    ``{"metadata_path", "schema_id", "last_column_id"}``."""
    rename = dict(rename or {})
    promote = dict(promote or {})
    if not (add or rename or drop or promote):
        raise ValueError("evolve_schema with no changes")
    raw = json.loads(json.dumps(parse_metadata(metadata_path).raw))

    cur = current_schema(raw)
    by_name = {f["name"]: f for f in cur.get("fields", [])}
    for group, names in (("rename", rename), ("drop", drop), ("promote", promote)):
        for n in names:
            if n not in by_name:
                raise ValueError(f"{group}: no column {n!r} in the current schema")

    # a field referenced by ANY partition spec cannot be dropped —
    # its transform still derives partition values for live specs
    spec_sources = {
        f["source-id"]
        for sp in raw.get("partition-specs", [])
        for f in sp.get("fields", [])
    }
    for n in drop:
        if by_name[n]["id"] in spec_sources:
            raise ValueError(
                f"cannot drop {n!r}: field id {by_name[n]['id']} is a "
                "partition source of an existing spec"
            )
        if n in rename or n in promote:
            raise ValueError(f"column {n!r} both dropped and renamed/promoted")

    final_names = {f["name"] for f in cur["fields"] if f["name"] not in drop}
    for old, new in rename.items():
        final_names.discard(old)
        if new in final_names:
            raise ValueError(f"rename {old!r} → {new!r} collides with an existing column")
        final_names.add(new)

    new_fields: list[dict[str, Any]] = []
    for f in cur["fields"]:
        name = f["name"]
        if name in drop:
            continue
        g = dict(f)
        if name in promote:
            if not _legal_promotion(f["type"], promote[name]):
                raise ValueError(
                    f"illegal promotion {f['type']!r} → {promote[name]!r} for {name!r}"
                )
            g["type"] = promote[name]
        if name in rename:
            g["name"] = rename[name]
        new_fields.append(g)

    last_col = raw.get("last-column-id", _max_field_id(raw.get("schemas", [cur])))
    for spec_ in add:
        # 2-tuple (name, type) adds a nullable column; a 3-tuple
        # (name, type, default) also records the v3 initial-default
        # + write-default (spec: pre-existing rows read the default
        # instead of NULL; the field carries it in schema JSON)
        name, typ = spec_[0], spec_[1]
        default = spec_[2] if len(spec_) > 2 else None
        if name in final_names:
            raise ValueError(f"added column {name!r} already exists")
        if typ not in _ADDABLE_TYPES and not _DECIMAL_RE.fullmatch(typ):
            raise ValueError(f"unsupported added-column type {typ!r}")
        last_col += 1
        final_names.add(name)
        field = {"id": last_col, "name": name, "required": False, "type": typ}
        if default is not None:
            field["initial-default"] = default
            field["write-default"] = default
        new_fields.append(field)

    new_schema_id = max(s.get("schema-id", 0) for s in raw.get("schemas", [cur])) + 1
    new_schema = {"schema-id": new_schema_id, "type": "struct", "fields": new_fields}
    raw.setdefault("schemas", [cur])
    raw["schemas"].append(new_schema)
    if "schema" in raw:
        # v1's single-schema key names the current schema, as Java
        # Iceberg writes it; older readers take it alone
        raw["schema"] = dict(new_schema)
    raw["current-schema-id"] = new_schema_id
    raw["last-column-id"] = last_col
    new_path = commit_version(metadata_path, raw, base_dir=base_dir, timestamp_ms=timestamp_ms)
    return {
        "metadata_path": new_path,
        "schema_id": new_schema_id,
        "last_column_id": last_col,
    }


_SPARK_OF_TYPE: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "binary": T.BinaryType(),
    # Iceberg v3 semi-structured type → Spark 4.x's native VariantType
    # (same physical parquet layout both sides: the metadata/value
    # binary pair under the VARIANT logical annotation)
    "variant": T.VariantType(),
    # v3 geospatial: engines without native geo read the WKB payload
    # as binary (the spec's storage form); `unknown` is handled by
    # the projection callers (always-null, never stored in files)
    "geometry": T.BinaryType(),
    "geography": T.BinaryType(),
}


def _spark_type(typ: str) -> T.DataType:
    if typ in _SPARK_OF_TYPE:
        return _SPARK_OF_TYPE[typ]
    m = _DECIMAL_RE.fullmatch(typ)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if typ.startswith(("geometry(", "geography(")):
        return T.BinaryType()  # parameterized CRS forms, WKB payload
    raise ValueError(f"unsupported Iceberg type for Spark projection: {typ!r}")


def _spark_type_any(typ) -> T.DataType:
    """Iceberg type (scalar string OR nested struct/list/map dict)
    → Spark DataType; the CAST target nested name-mapping binding
    uses (struct casts rename positionally)."""
    if isinstance(typ, str):
        return _spark_type(typ)
    kind = typ.get("type")
    if kind == "struct":
        return T.StructType([
            T.StructField(f["name"], _spark_type_any(f["type"]), True)
            for f in typ["fields"]
        ])
    if kind == "list":
        return T.ArrayType(_spark_type_any(typ["element"]), True)
    if kind == "map":
        return T.MapType(
            _spark_type_any(typ["key"]), _spark_type_any(typ["value"]), True
        )
    raise ValueError(f"unsupported Iceberg type for Spark projection: {typ!r}")


def spark_read_schema(
    meta: TableMetadata | dict[str, Any], schema_id: int | None = None
) -> T.StructType:
    """The table's Iceberg schema as a Spark ``StructType`` whose
    fields carry ``parquet.field.id`` metadata — the handle Spark's
    parquet reader binds columns by when
    ``spark.sql.parquet.fieldId.read.enabled`` is on."""
    raw = meta.raw if isinstance(meta, TableMetadata) else meta
    sid = raw.get("current-schema-id", 0) if schema_id is None else schema_id
    schema = next(
        s
        for s in raw.get("schemas", [raw.get("schema", {})])
        if s.get("schema-id", 0) == sid
    )
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _spark_type(f["type"]),
                not f.get("required", False),
                {"parquet.field.id": int(f["id"])},
            )
            for f in schema["fields"]
            # top-level primitives only; `unknown` columns are never
            # stored in data files (v3 spec) — callers surface them
            # as null, not as a scan column
            if isinstance(f["type"], str) and f["type"] != "unknown"
        ]
    )


def _enable_field_id_resolution(spark: SparkSession) -> None:
    # session-wide enables; both are no-ops for reads/writes whose
    # schemas carry no field-id metadata, so flipping them on is
    # safe for every other query in the session
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")


def read_table_projected(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read a table's live rows at a snapshot THROUGH its current
    schema: one distributed parquet scan over the snapshot's live
    files with the field-id read schema. Renames, drops, adds and
    promotions committed after a file was written all resolve
    correctly file-side; no per-file plans, no driver-side loops.

    (Delete-file application is :func:`..deletes.read_mor`'s job;
    this reader covers append-only/evolved tables and is the
    projection building block the MoR path composes with.)
    """
    from .deletes import mor_entries_at

    meta = parse_metadata(metadata_path)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    if snapshot_id is None:
        raise ValueError("table has no current snapshot")
    _enable_field_id_resolution(spark)
    base_dir = os.path.dirname(metadata_path)
    data_entries, _ = mor_entries_at(meta, snapshot_id, base_dir)
    files = [e["local_path"] for e in data_entries if e["content"] == 0]
    if not files:
        return local_frame(spark, [], spark_read_schema(meta))
    from functools import reduce

    # one scan group per write-schema generation — this also applies
    # v3 initial-defaults to files that predate an added column.
    # Id-less files still fail loudly (name-mapping is the OTHER
    # reader's explicit opt-in).
    return reduce(
        DataFrame.unionByName,
        projected_scan_parts(spark, meta, files, allow_name_mapping=False),
    )


# ------------------------------------------------ metadata table

SCHEMAS_SCHEMA = T.StructType(
    [
        T.StructField("schema_id", T.IntegerType(), False),
        T.StructField("is_current", T.BooleanType(), False),
        T.StructField("field_id", T.IntegerType(), False),
        T.StructField("field_name", T.StringType(), False),
        T.StructField("field_type", T.StringType(), False),
        T.StructField("required", T.BooleanType(), False),
    ]
)


def schemas_table(spark: SparkSession, metadata_path: str) -> DataFrame:
    """Schema-history metadata table: one row per (schema, field),
    the evolution audit trail real Iceberg exposes via its
    ``schemas`` metadata list."""
    raw = parse_metadata(metadata_path).raw
    cur = raw.get("current-schema-id", 0)
    rows = [
        (
            int(s.get("schema-id", 0)),
            s.get("schema-id", 0) == cur,
            int(f["id"]),
            f["name"],
            f["type"] if isinstance(f["type"], str) else json.dumps(f["type"]),
            bool(f.get("required", False)),
        )
        for s in raw.get("schemas", [raw.get("schema", {})])
        for f in s.get("fields", [])
    ]
    return local_frame(spark, rows, SCHEMAS_SCHEMA)


# ------------------------------------------------ driver-gate queries

_EVO_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "evolution",
)
EVO_METADATA_CURRENT = os.path.join(_EVO_DIR, "v5.metadata.json")


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: read the evolution fixture (fileA written under
    schema 0; rename+promote+drop+add evolution; fileB written
    under schema 1; a second rename ``title → headline``) through
    the CURRENT schema with field-id resolution. The oracle
    re-implements the projection per file in DuckDB over the same
    physical parquet — an independent second-engine check of
    chained-rename binding, widened reads and null-fill.
    (``sf_dir`` unused: metadata queries run on repo fixtures.)"""
    return read_table_projected(spark, EVO_METADATA_CURRENT).orderBy("id")


SCHEMA_EVOLUTION_READ_SQL = f"""
SELECT * FROM (
  SELECT CAST(id AS BIGINT) AS id, name AS headline,
         CAST(score AS DOUBLE) AS score, CAST(NULL AS VARCHAR) AS extra
  FROM read_parquet('{_EVO_DIR}/data/fileA.parquet')
  UNION ALL
  SELECT id, title AS headline, score, extra
  FROM read_parquet('{_EVO_DIR}/data/fileB.parquet')
)
ORDER BY id
"""


def meta_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: the schema-history table of the evolution
    fixture — golden oracle pinning ids/names/types across all
    three schema versions (ids stable under rename+promote, fresh
    id for the add, dropped id absent from the current schema)."""
    return schemas_table(spark, EVO_METADATA_CURRENT).orderBy(
        "schema_id", "field_id"
    )


META_SCHEMAS_SQL = """
SELECT CAST(schema_id AS INTEGER) AS schema_id, is_current,
       CAST(field_id AS INTEGER) AS field_id, field_name, field_type, required
FROM (VALUES
  (0, false, 1, 'id',    'int',    false),
  (0, false, 2, 'name',  'string', false),
  (0, false, 3, 'score', 'float',  false),
  (0, false, 4, 'scrap', 'int',    false),
  (1, false, 1, 'id',    'long',   false),
  (1, false, 2, 'title', 'string', false),
  (1, false, 3, 'score', 'double', false),
  (1, false, 5, 'extra', 'string', false),
  (2, true,  1, 'id',    'long',   false),
  (2, true,  2, 'headline', 'string', false),
  (2, true,  3, 'score', 'double', false),
  (2, true,  5, 'extra', 'string', false)
) t(schema_id, is_current, field_id, field_name, field_type, required)
ORDER BY schema_id, field_id
"""


# ------------------------------------------------ name mapping
#
# Iceberg's `schema.name-mapping.default` (public spec, "Name
# Mapping Serialization"): data files written WITHOUT parquet field
# ids — Hive migrations, plain-Spark imports — bind columns by NAME
# through a mapping of field-id → [name aliases]. Files WITH ids
# keep binding by id; the mapping never overrides physical ids.


def table_name_mapping(
    meta: TableMetadata | dict[str, Any],
) -> list[dict[str, Any]] | None:
    """The table's EXPLICIT name mapping, parsed from the
    ``schema.name-mapping.default`` property — the spec's location
    for it (`TableMetadata.parseNameMapping` reads exactly this key).
    None when the property is absent; callers fall back to
    :func:`default_name_mapping`'s historical-name derivation. The
    property is how a migrated/replicated table binds foreign
    physical column names (e.g. a column-mapped Delta source's
    ``col-<uuid>`` names) to Iceberg field ids without rewriting a
    single data file."""
    raw = meta.raw if isinstance(meta, TableMetadata) else meta
    s = (raw.get("properties") or {}).get("schema.name-mapping.default")
    if not s:
        return None
    parsed = json.loads(s)
    if not isinstance(parsed, list):
        raise ValueError(
            "schema.name-mapping.default must be a JSON list of "
            "{field-id, names} entries"
        )
    return parsed


def apply_table_name_mapping(df, meta: "TableMetadata | dict[str, Any]"):
    """Bind a scanned frame's FOREIGN physical column names to the
    table's logical field names per ``schema.name-mapping.default``
    (top-level; one cheap projection, no data movement). No-op when
    the property is absent. This is the post-scan half of the spec's
    name-mapping rule for readers that scan whole file groups
    (``mor_frame``) rather than per-signature projections:

    * only the PHYSICAL alias present → rename it;
    * BOTH names present (a MIXED table — verbatim physical-named
      files plus logical-named files a later rewrite/compaction
      wrote; mergeSchema surfaces both columns) → per-row COALESCE:
      each file physically carries exactly one of the two, so its
      rows are non-null under exactly one name. A global
      rename-or-skip here silently nulled the mapped columns of
      every verbatim file the moment one logical-named file joined
      the table (review r14).
    """
    nm = table_name_mapping(meta)
    if not nm:
        return df
    raw = meta.raw if isinstance(meta, TableMetadata) else meta
    cur = current_schema(raw)
    names_of = {m["field-id"]: m["names"] for m in nm}
    cols = set(df.columns)
    renames: dict[str, str] = {}  # physical → logical (logical absent)
    merges: dict[str, str] = {}  # physical → logical (both present)
    complex_t: dict[str, Any] = {}  # logical → nested iceberg type
    for f in cur.get("fields", []):
        logical = f["name"]
        if not isinstance(f["type"], str):
            # struct internals rename through ONE positional CAST to
            # the logical Spark type (nested physical names, r15) —
            # same trick as the Delta reader's _rename_physical;
            # applied to the physical column AND, for merges, to the
            # physical twin before the coalesce
            complex_t[logical] = f["type"]
        phys = next(
            (n for n in names_of.get(int(f["id"]), [])
             if n in cols and n != logical),
            None,
        )
        if phys is None:
            continue
        if logical in cols:
            merges[phys] = logical
        else:
            renames[phys] = logical
    if not renames and not merges:
        return df

    def _bind(col: str, logical: str):
        c = F.col(col)
        if logical in complex_t:
            c = c.cast(_spark_type_any(complex_t[logical]))
        return c

    out = []
    drop_phys = set(merges)
    for c in df.columns:
        if c in renames:
            out.append(_bind(c, renames[c]).alias(renames[c]))
        elif c in drop_phys:
            continue  # folded into its logical twin below
        elif c in merges.values():
            phys = next(p for p, lg in merges.items() if lg == c)
            out.append(F.coalesce(_bind(c, c), _bind(phys, c)).alias(c))
        else:
            out.append(F.col(c))
    return df.select(out)


def default_name_mapping(meta: TableMetadata | dict[str, Any]) -> list[dict[str, Any]]:
    """The mapping real `TableMetadata.parseNameMapping` defaults
    to, enriched with every historical name of each field id across
    the schema chain (so files written under ANY schema generation
    bind): ``[{"field-id": id, "names": [oldest..newest]}, ...]``."""
    raw = meta.raw if isinstance(meta, TableMetadata) else meta
    names_of: dict[int, list[str]] = {}
    for s in sorted(raw.get("schemas", [raw.get("schema", {})]),
                    key=lambda s: s.get("schema-id", 0)):
        for f in s.get("fields", []):
            seen = names_of.setdefault(int(f["id"]), [])
            if f["name"] not in seen:
                seen.append(f["name"])
    return [
        {"field-id": fid, "names": names} for fid, names in sorted(names_of.items())
    ]


def read_table_projected_with_mapping(
    spark: SparkSession,
    metadata_path: str,
    snapshot_id: int | None = None,
    *,
    name_mapping: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """:func:`read_table_projected` plus the name-mapping fallback:
    live files are split into

    * **id-bearing** files — ONE field-id-resolved scan (unchanged
      fast path);
    * **id-less** files — grouped by their resolved column→field-id
      signature (one group per historical write schema, not per
      file) and read with a per-group NAME-based schema, then
      aliased/cast to the current schema.

    The id-sniff reads each parquet FOOTER once (KB-scale; the same
    footer pass Iceberg planning does for stats). A file whose
    columns match no mapping alias for a field simply yields null
    for it — exactly the spec's unmatched-column rule; a mapping
    hit with an incompatible physical type fails the scan loudly.
    """
    from .deletes import mor_entries_at

    meta = parse_metadata(metadata_path)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    if snapshot_id is None:
        raise ValueError("table has no current snapshot")
    base_dir = os.path.dirname(metadata_path)
    data_entries, _ = mor_entries_at(meta, snapshot_id, base_dir)
    files = [e["local_path"] for e in data_entries if e["content"] == 0]
    cur_schema = spark_read_schema(meta)
    if not files:
        return local_frame(spark, [], cur_schema)
    parts = projected_scan_parts(
        spark, meta, files, name_mapping=name_mapping, tag=False
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def projected_scan_parts(
    spark: SparkSession,
    meta: TableMetadata,
    files: list[str],
    *,
    name_mapping: list[dict[str, Any]] | None = None,
    tag: bool = False,
    allow_name_mapping: bool = True,
) -> list[DataFrame]:
    """The scan groups behind the projected readers: ONE id-resolved
    scan for id-bearing files plus one name-mapped scan per
    column→id signature among id-less files, every part already
    projected to the CURRENT schema. With ``tag`` each part also
    carries ``_rel`` / ``_pos`` from the scan's own ``_metadata``
    (computed BEFORE the union — each file's row index comes from
    its own scan), which is what the MoR delete-application path
    consumes."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from .deletes import _REL_RE

    if name_mapping is None:
        # the table's explicit mapping property wins (the spec rule);
        # the historical-name derivation is the fallback
        name_mapping = table_name_mapping(meta) or default_name_mapping(meta)
    names_of = {m["field-id"]: m["names"] for m in name_mapping}
    _enable_field_id_resolution(spark)
    cur_schema = spark_read_schema(meta)
    # v3 initial-defaults: fields added with a default read that
    # value from files written BEFORE the field existed (file-side
    # absence decides — a post-add NULL stays NULL)
    ice_cur = current_schema(meta.raw)
    init_defaults = {
        f["id"]: f["initial-default"]
        for f in ice_cur.get("fields", [])
        if "initial-default" in f
    }

    # with-ids files group by which DEFAULTED field ids their footer
    # lacks (usually one group; splits only across an add-with-
    # default boundary)
    with_ids: dict[frozenset, list[str]] = {}
    # signature (ordered (current-name, physical-name) pairs) → files
    unmapped: dict[tuple, list[str]] = {}
    for path in files:
        pa_schema = pq.read_schema(path)
        has_ids = all(
            (f.metadata or {}).get(b"PARQUET:field_id") is not None
            for f in pa_schema
        )
        if has_ids:
            present = {
                int((f.metadata or {}).get(b"PARQUET:field_id"))
                for f in pa_schema
            }
            missing = frozenset(fid for fid in init_defaults if fid not in present)
            with_ids.setdefault(missing, []).append(path)
            continue
        if not allow_name_mapping:
            raise ValueError(
                f"{path!r} carries no parquet field ids; id-resolved "
                "projection cannot place its columns (use the "
                "name-mapping reader for id-less files)"
            )
        cols = set(pa_schema.names)
        sig = []
        for f in cur_schema.fields:
            fid = f.metadata["parquet.field.id"]
            phys = next((n for n in names_of.get(fid, []) if n in cols), None)
            sig.append((f.name, phys))
        unmapped.setdefault(tuple(sig), []).append(path)

    tags = (
        [
            F.regexp_extract(F.col("_metadata.file_path"), _REL_RE, 0).alias("_rel"),
            F.col("_metadata.row_index").alias("_pos"),
        ]
        if tag
        else []
    )
    parts: list[DataFrame] = []
    for missing, group in sorted(with_ids.items(), key=lambda kv: sorted(kv[0])):
        df = spark.read.schema(cur_schema).parquet(*sorted(group))
        parts.append(
            df.select(
                *[
                    F.lit(init_defaults[f.metadata["parquet.field.id"]])
                    .cast(f.dataType)
                    .alias(f.name)
                    if f.metadata["parquet.field.id"] in missing
                    else F.col(f.name)
                    for f in cur_schema.fields
                ],
                *tags,
            )
        )
    for sig, group in sorted(unmapped.items()):
        # name-based read schema: physical names, CURRENT (widened)
        # types — Spark's parquet reader applies the upcast in place
        read_fields = [
            T.StructField(phys, f.dataType, True)
            for (cname, phys), f in zip(sig, cur_schema.fields)
            if phys is not None
        ]
        df = spark.read.schema(T.StructType(read_fields)).parquet(*sorted(group))
        parts.append(
            df.select(
                *[
                    F.col(phys).alias(cname)
                    if phys is not None
                    else F.lit(
                        init_defaults.get(f.metadata["parquet.field.id"])
                    ).cast(f.dataType).alias(cname)
                    for (cname, phys), f in zip(sig, cur_schema.fields)
                ],
                *tags,
            )
        )
    return parts


def schema_evolution_name_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the name-mapping fallback: scratch-copy the
    evolution fixture and STRIP the parquet field ids from fileA (a
    Hive-migration stand-in), then read through the current schema
    with the default name mapping — fileA binds ``name`` →
    field 2 → ``headline`` by NAME (through two renames), fileB
    still binds by id. Result must equal the all-ids read; the
    oracle re-implements both projections per file in DuckDB.
    (``sf_dir`` unused: fixture paths are repo-canonical; the
    scratch copy only exists to mutate fileA.)"""
    import pyarrow.parquet as pq

    from .commit import _scratch_table

    root = _scratch_table("nm_gate_", _EVO_DIR)
    fa = os.path.join(root, "data", "fileA.parquet")
    t = pq.read_table(fa)
    t = t.cast(
        t.schema.remove_metadata()
    )  # drop column-level PARQUET:field_id too
    import pyarrow as pa

    t = pa.table({n: t[n] for n in t.schema.names})
    pq.write_table(t, fa)
    return read_table_projected_with_mapping(
        spark, os.path.join(root, "v5.metadata.json")
    ).orderBy("id")


SCHEMA_EVOLUTION_NAME_MAPPING_SQL = SCHEMA_EVOLUTION_READ_SQL


# ------------------------------------------------ partition-spec
# evolution WRITE path


def evolve_partition_spec(
    metadata_path: str,
    *,
    add: list[tuple[str, str, str]] = (),
    remove: list[str] = (),
    timestamp_ms: int | None = None,
) -> dict[str, Any]:
    """Commit a partition-spec evolution: a NEW spec (spec-id =
    max+1) derived from the current default — ``add`` fields as
    ``(field_name, transform, source_column_name)`` with fresh
    partition field-ids continuing from ``last-partition-id``,
    ``remove`` drops fields by name. Data files are untouched (the
    spec-per-manifest model is the whole point: old manifests keep
    their spec, new writes use the new default — the read/plan side
    already resolves per-spec). Returns {metadata_path, spec_id}.

    This is the WRITE half of the spec-evolution story the engine
    previously only read (fixtures were hand-built); with it, the
    full lifecycle — write unpartitioned, evolve, write partitioned,
    plan through both specs — runs end-to-end through engine code.
    """
    if not (add or remove):
        raise ValueError("evolve_partition_spec with no changes")
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    specs = raw.get("partition-specs", [])
    cur = next(
        s for s in specs if s.get("spec-id", 0) == raw.get("default-spec-id", 0)
    )
    schema = current_schema(raw)
    by_name = {f["name"]: f for f in schema.get("fields", [])}

    fields = [dict(f) for f in cur.get("fields", []) if f["name"] not in set(remove)]
    if len(fields) == len(cur.get("fields", [])) and remove:
        raise ValueError(f"remove names {list(remove)} not in current spec")
    last_pid = raw.get(
        "last-partition-id",
        max((f["field-id"] for s in specs for f in s.get("fields", [])), default=999),
    )
    from .transforms import transform_result_type

    for fname, transform, source in add:
        src = by_name.get(source)
        if src is None:
            raise ValueError(f"unknown source column {source!r}")
        if any(f["name"] == fname for f in fields):
            raise ValueError(f"partition field {fname!r} already in spec")
        transform_result_type(transform, src["type"])  # validates the pair
        last_pid += 1
        fields.append(
            {
                "name": fname,
                "transform": transform,
                "source-id": src["id"],
                "field-id": last_pid,
            }
        )
    new_id = max((s.get("spec-id", 0) for s in specs), default=-1) + 1
    specs.append({"spec-id": new_id, "fields": fields})
    raw["partition-specs"] = specs
    raw["default-spec-id"] = new_id
    raw["last-partition-id"] = last_pid
    new_path = commit_version(metadata_path, raw, timestamp_ms=timestamp_ms)
    return {"metadata_path": new_path, "spec_id": new_id}


def spec_evolution_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the spec-evolution WRITE path: build a table
    unpartitioned THROUGH ENGINE COMMITS, evolve the default spec to
    identity(category) + bucket[4](id), append per-partition files
    under the new spec, then plan a category predicate — the spec-0
    file must survive unpruned (it may contain matching rows), the
    spec-1 files must prune to the matching partition, and the full
    MoR read must see every row. Golden oracle over deterministic
    file names. (``sf_dir`` unused: scratch-table gate.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .commit import _scratch_dir, append_snapshot, create_table
    from .deletes import read_mor
    from .snapshots import plan_scan
    from .transforms import bucket_value

    root = os.path.join(_scratch_dir("spec_evo_"), "t")
    mp = create_table(
        root, [("id", "long"), ("category", "string")],
        table_uuid="00000000-0000-0000-0000-0000000000e2",
    )

    def _write(rel: str, ids: list[int], cats: list[str]) -> None:
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "category": pa.array(cats, pa.string())}), p
        )

    # snapshot 1: one unpartitioned file, mixed categories
    _write("data/base.parquet", list(range(8)),
           ["x", "y"] * 4)
    res = append_snapshot(mp, [{"path": "data/base.parquet", "partition": {}}])

    # evolve the DEFAULT spec through the engine
    evo = evolve_partition_spec(
        res["metadata_path"],
        add=[("category", "identity", "category"),
             ("id_bucket", "bucket[4]", "id")],
    )

    # snapshot 2: per-(category, bucket) files under the new spec
    files = []
    groups: dict[tuple[str, int], list[int]] = {}
    for i in range(100, 112):
        cat = "x" if i % 2 else "y"
        groups.setdefault((cat, bucket_value(i, "long", 4)), []).append(i)
    for (cat, bkt), ids in sorted(groups.items()):
        rel = f"data/evo-{cat}-{bkt}.parquet"
        _write(rel, ids, [cat] * len(ids))
        files.append(
            {"path": rel, "partition": {"category": cat, "id_bucket": bkt},
             "spec_id": evo["spec_id"]}
        )
    res2 = append_snapshot(evo["metadata_path"], files)

    plan = plan_scan(
        spark, res2["metadata_path"], res2["snapshot_id"],
        source_pred={"category": "x"}, debug=True,
    )
    n_total = read_mor(spark, res2["metadata_path"], res2["snapshot_id"]).count()
    out = plan.select(
        F.element_at(F.split("file_path", "/"), -1).alias("file_name"),
        "record_count",
        "selected",
    ).withColumn("total_rows", F.lit(n_total).cast("long"))
    return out.orderBy("file_name")


SPEC_EVOLUTION_WRITE_SQL = """
SELECT file_name, CAST(record_count AS BIGINT) AS record_count,
       selected, CAST(total_rows AS BIGINT) AS total_rows
FROM (VALUES
  ('base.parquet',    8, TRUE,  20),
  ('evo-x-0.parquet', 2, TRUE,  20),
  ('evo-x-1.parquet', 2, TRUE,  20),
  ('evo-x-2.parquet', 1, TRUE,  20),
  ('evo-x-3.parquet', 1, TRUE,  20),
  ('evo-y-0.parquet', 4, FALSE, 20),
  ('evo-y-2.parquet', 2, FALSE, 20)
) t(file_name, record_count, selected, total_rows)
ORDER BY file_name
"""
