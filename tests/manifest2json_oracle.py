"""The per-value schema interpreter ``manifest2json`` used before its
emitters were compiled, kept as a test oracle.

``_emit`` walks the emit schema for every value. The compiled emitters
in ``iceberg_tools_spark.iceberg.manifest2json`` must print the same
bytes and raise the same errors; ``tests/test_manifest2json_emitter.py``
holds them to that. Test code only: nothing in the library imports it.
"""

from __future__ import annotations

from typing import Any, TextIO

from iceberg_tools_spark.avro.reader import AvroContainerFile, _branch_for, _resolve
from iceberg_tools_spark.iceberg.conversions import decode_bound
from iceberg_tools_spark.iceberg.manifest2json import (
    BOUND_KEYS,
    _dumps_compact,
    _dumps_pretty,
    _is_data_file_record,
)
from iceberg_tools_spark.iceberg.metadata import field_id_types, parse_metadata


def _emit(
    schema: Any,
    value: Any,
    names: dict[str, Any],
    fields_by_id: dict[int, str],
    in_bounds: bool = False,
    record_name: str | None = None,
    bound_key: int | None = None,
) -> Any:
    """Walk schema+value into a JSON-ready tree, decoding bound bytes
    and label-wrapping unions exactly like the reference writer."""
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union
        branch = _branch_for(value, schema, names)
        rb = _resolve(branch, names)
        t = rb if isinstance(rb, str) else rb.get("type")
        inner = _emit(branch, value, names, fields_by_id, in_bounds, record_name, bound_key)
        if t == "null":
            return None
        label = rb if isinstance(rb, str) else rb.get("name", t)
        return {label: inner}
    if isinstance(schema, str):
        if schema == "bytes":
            if in_bounds and bound_key is not None and bound_key in fields_by_id:
                return decode_bound(fields_by_id[bound_key], value)
            return value.decode("utf-8", errors="replace")
        return value
    t = schema["type"]
    if t == "record":
        rec_name = schema.get("name")
        out: dict[str, Any] = {}
        # inside a bounds map entry the key field identifies the column
        key_val = value.get("key") if isinstance(value, dict) else None
        for f in schema["fields"]:
            f_bounds = in_bounds
            if _is_data_file_record(rec_name):
                f_bounds = f["name"].lower() in BOUND_KEYS
            out[f["name"]] = _emit(
                f["type"],
                value[f["name"]],
                names,
                fields_by_id,
                f_bounds,
                rec_name,
                key_val if isinstance(key_val, int) else bound_key,
            )
        return out
    if t == "array":
        return [
            _emit(schema["items"], v, names, fields_by_id, in_bounds, record_name, bound_key)
            for v in value
        ]
    if t == "map":
        return {
            k: _emit(schema["values"], v, names, fields_by_id, in_bounds, record_name, bound_key)
            for k, v in value.items()
        }
    if t == "fixed":
        return value.decode("utf-8", errors="replace")
    if t in ("enum",):
        return value
    return _emit(t, value, names, fields_by_id, in_bounds, record_name, bound_key)


def manifest2json(
    manifest: bytes | str,
    metadata: str | bytes | dict[str, Any],
    out: TextIO,
    pretty: bool = False,
    head: int | None = None,
    reader_schema: Any | None = None,
) -> int:
    """The library's ``manifest2json`` with every entry walked by
    :func:`_emit`."""
    if isinstance(manifest, str):
        with open(manifest, "rb") as f:
            data = f.read()
    else:
        data = manifest
    meta = parse_metadata(metadata)
    fields_by_id = field_id_types(meta.raw)

    avro = AvroContainerFile(data)
    schema = reader_schema if reader_schema is not None else avro.schema
    names = dict(avro.names)

    limit = head if head is not None else float("inf")
    out.write("[\n")
    first = True
    n = 0
    it = avro.records(reader_schema)
    rec = next(it, _SENTINEL := object())
    while rec is not _SENTINEL and n < limit:
        tree = _emit(schema, rec, names, fields_by_id)
        text = _dumps_pretty(tree) if pretty else _dumps_compact(tree)
        nxt = next(it, _SENTINEL)
        if first:
            out.write(text)
            first = False
        else:
            out.write(",\n" + text)
        n += 1
        rec = nxt
    out.write("\n]\n")
    return 0
