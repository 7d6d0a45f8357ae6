"""manifest2json — CLI-parity core of the reference tool.

Reads an Iceberg manifest file (an Avro object-container file) and
dumps each `manifest_entry` as JSON, decoding the `data_file`
(record `r2`) `lower_bounds` / `upper_bounds` byte values to typed
``value:<v>;type:<t>`` strings using the field-id → type map from
the table's `metadata.json`.

Behavior parity (reference: `ManifestFileReadTool.java`):
* output framing ``[\\n rec (,\\n rec)* \\n ]\\n`` (`:144-157`)
* ``--pretty`` — Jackson-style pretty printing: 2-space indented
  objects with ``"k" : v``, single-line arrays (`IcebergEncoder.java:69-87`)
* ``--head[=N]`` — first N records, default 10, negative rejected
  (`:52-76`). INTENTIONAL deviation: when ``--head`` truncates
  mid-stream the reference emits a dangling ``,`` after the last
  record (`ManifestFileReadTool.java:151` prints the separator
  whenever the stream ``hasNext``), producing invalid JSON; this
  implementation look-aheads and omits it, so ``--head`` output is
  always parseable. Untruncated output is byte-identical.
* ``-`` as the manifest argument reads stdin (`Util.fileOrStdin`)
* ``--reader-schema`` / ``--reader-schema-file`` projection
* non-null union values are label-wrapped ``{"type": value}`` and
  plain byte values rendered as UTF-8 strings
  (`IcebergEncoder.writeIndex/writeByteArray`)
* v1 + v2 metadata schema selection (`:170-197`)
"""

from __future__ import annotations

import json
from typing import Any, TextIO

from ..avro.reader import AvroContainerFile, _branch_for, _resolve
from .conversions import decode_bound
from .metadata import field_id_types, parse_metadata

BOUND_KEYS = frozenset(("lower_bounds", "upper_bounds"))
# the data_file record is named "r2" (field-id-derived) in manifests
# real Iceberg and this engine write, and "r2_<suffix>" in the
# committed fixtures an older engine wrote — bounds decode under
# either (r15: engine-written manifests' bounds passed through raw
# before)


def _is_data_file_record(rec_name: str | None) -> bool:
    return rec_name == "r2" or (rec_name or "").startswith("r2_")


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


def _dumps_compact(v: Any) -> str:
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _dumps_pretty(v: Any, indent: int = 0) -> str:
    """Jackson DefaultPrettyPrinter shape: objects 2-space indented
    with `"k" : v`, arrays on one line `[ a, b ]`."""
    pad = " " * indent
    inner_pad = " " * (indent + 2)
    if isinstance(v, dict):
        if not v:
            return "{ }"
        items = ",\n".join(
            f"{inner_pad}{json.dumps(str(k), ensure_ascii=False)} : {_dumps_pretty(val, indent + 2)}"
            for k, val in v.items()
        )
        return "{\n" + items + "\n" + pad + "}"
    if isinstance(v, list):
        if not v:
            return "[ ]"
        return "[ " + ", ".join(_dumps_pretty(x, indent) for x in v) + " ]"
    return json.dumps(v, ensure_ascii=False)


def manifest2json(
    manifest: bytes | str,
    metadata: str | bytes | dict[str, Any],
    out: TextIO,
    pretty: bool = False,
    head: int | None = None,
    reader_schema: Any | None = None,
) -> int:
    """Dump a manifest avro + metadata.json to JSON on `out`.
    `manifest` is a path or raw bytes (stdin). Returns 0."""
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


def main(argv: list[str], stdin_buffer=None, out: TextIO | None = None, err: TextIO | None = None) -> int:
    """CLI: manifest2json [--pretty] [--head[=N]] [--reader-schema S |
    --reader-schema-file F] manifest-file metadata-json-file"""
    import sys

    out = out or sys.stdout
    err = err or sys.stderr
    pretty = False
    head: int | None = None
    reader_schema: Any | None = None
    nargs: list[str] = []
    i = 0
    default_head = 10
    while i < len(argv):
        a = argv[i]
        if a == "--pretty":
            pretty = True
        elif a == "--head" or a.startswith("--head="):
            if "=" in a:
                head = int(a.split("=", 1)[1])
            elif i + 1 < len(argv) and _is_int(argv[i + 1]):
                head = int(argv[i + 1])
                i += 1
            else:
                head = default_head
            if head < 0:
                err.write("--head count must not be negative\n")
                return 1
        elif a == "--reader-schema" and i + 1 < len(argv):
            reader_schema = json.loads(argv[i + 1])
            i += 1
        elif a == "--reader-schema-file" and i + 1 < len(argv):
            with open(argv[i + 1], encoding="utf-8") as f:
                reader_schema = json.load(f)
            i += 1
        else:
            nargs.append(a)
        i += 1
    if len(nargs) != 2:
        err.write(
            "manifest2json [--pretty] [--head[=X]] manifest-file metadata-json-file\n\n"
            "Dumps an Iceberg Manifest Avro data file as JSON, record per line or pretty.\n"
            "A dash ('-') can be given as an input file to use stdin\n"
        )
        return 1
    manifest_arg: bytes | str = nargs[0]
    if manifest_arg == "-":
        buf = stdin_buffer if stdin_buffer is not None else sys.stdin.buffer
        manifest_arg = buf.read()
    return manifest2json(manifest_arg, nargs[1], out, pretty=pretty, head=head, reader_schema=reader_schema)


def _is_int(s: str) -> bool:
    try:
        int(s)
        return True
    except ValueError:
        return False
