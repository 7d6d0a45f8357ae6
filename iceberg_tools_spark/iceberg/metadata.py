"""Iceberg table-metadata (`metadata.json`) parsing.

Parity target: `ManifestFileReadTool.parseMetaData`
(`ManifestFileReadTool.java:170-197`) — v1 uses the top-level
`schema` object, v2 selects from `schemas` by `current-schema-id`;
:func:`current_schema` takes `schemas` whenever present (Iceberg
Java's rule), which agrees wherever a v1 `schema` copy is current —
plus a fuller structured parse (snapshots, specs, log) that feeds the
metadata-table DataFrames in `tables.py`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass
class TableMetadata:
    format_version: int
    table_uuid: str | None
    location: str | None
    last_updated_ms: int | None
    current_schema: dict[str, Any]
    schemas: list[dict[str, Any]]
    partition_specs: list[dict[str, Any]]
    sort_orders: list[dict[str, Any]]
    properties: dict[str, Any]
    current_snapshot_id: int | None
    snapshots: list[dict[str, Any]]
    snapshot_log: list[dict[str, Any]]
    raw: dict[str, Any] = field(repr=False, default_factory=dict)


def current_schema(meta: dict[str, Any]) -> dict[str, Any]:
    """The table's current schema: ``schemas[current-schema-id]``
    (id 0 when absent) whenever ``schemas`` is present, else the v1
    ``schema`` — Iceberg Java's ``TableMetadataParser`` rule. A v1
    table carrying both keys keeps ``schema`` only as a copy for old
    readers, and schema evolution may leave that copy stale."""
    schemas = meta.get("schemas")
    if schemas is None:
        return meta["schema"]
    schema_id = meta.get("current-schema-id", 0)
    for s in schemas:
        if s.get("schema-id", 0) == schema_id:
            return s
    raise ValueError(f"no schema with schema-id={schema_id} in metadata")


def field_id_types(meta: dict[str, Any]) -> dict[int, str]:
    """field-id → type string for the current schema's top-level
    fields (the map that drives bound decoding)."""
    out: dict[int, str] = {}
    for f in current_schema(meta).get("fields", ()):
        t = f["type"]
        # nested struct/list/map types aren't single-value decodable;
        # keep primitives (incl. parameterized decimal/fixed strings)
        if isinstance(t, str):
            out[int(f["id"])] = t
    return out


def parse_metadata(src: str | bytes | dict[str, Any]) -> TableMetadata:
    if isinstance(src, dict):
        meta = src
    elif isinstance(src, (bytes, bytearray)):
        # spec-legal gzip metadata (TableProperties
        # METADATA_COMPRESSION=gzip writes .metadata.json.gz)
        if src[:2] == b"\x1f\x8b":
            import gzip

            src = gzip.decompress(bytes(src))
        meta = json.loads(src)
    elif src.lstrip().startswith("{"):
        meta = json.loads(src)
    elif src.endswith(".gz"):
        import gzip

        with gzip.open(src, "rt", encoding="utf-8") as f:
            meta = json.load(f)
    else:
        with open(src, encoding="utf-8") as f:
            meta = json.load(f)
    version = int(meta.get("format-version", 1))
    schemas = meta.get("schemas")
    if schemas is None:
        schemas = [meta["schema"]] if "schema" in meta else []
    specs = meta.get("partition-specs")
    if specs is None and "partition-spec" in meta:
        specs = [{"spec-id": 0, "fields": meta["partition-spec"]}]
    return TableMetadata(
        format_version=version,
        table_uuid=meta.get("table-uuid"),
        location=meta.get("location"),
        last_updated_ms=meta.get("last-updated-ms"),
        current_schema=current_schema(meta),
        schemas=schemas,
        partition_specs=specs or [],
        sort_orders=meta.get("sort-orders", []),
        properties=meta.get("properties", {}),
        current_snapshot_id=meta.get("current-snapshot-id"),
        snapshots=meta.get("snapshots", []),
        snapshot_log=meta.get("snapshot-log", []),
        raw=meta,
    )
