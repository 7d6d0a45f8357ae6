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

Each (emit schema, field-id → type map) compiles once per process into
closures (``_Compiler``, cached in ``_EMITTERS``): a union picks its
branch once per value type (``_branch_for`` decides by ``isinstance``
alone), and each field id's bound renderer is looked up once. The
per-value interpreter they replaced is the test oracle
``tests/manifest2json_oracle.py``.
"""

from __future__ import annotations

import json
from typing import Any, Callable, TextIO

from ..avro.reader import AvroContainerFile, _branch_for, _resolve
from .conversions import _bound_renderer
from .metadata import field_id_types, parse_metadata

BOUND_KEYS = frozenset(("lower_bounds", "upper_bounds"))
# the data_file record is named "r2" (field-id-derived) in manifests
# real Iceberg and this engine write, and "r2_<suffix>" in the
# committed fixtures an older engine wrote — bounds decode under
# either (r15: engine-written manifests' bounds passed through raw
# before)


def _is_data_file_record(rec_name: str | None) -> bool:
    return rec_name == "r2" or (rec_name or "").startswith("r2_")


Emit = Callable[[Any, "int | None"], Any]


def _raiser(exc: Exception) -> Emit:
    """An emitter for a node that failed to compile: it raises when a
    value reaches it, as walking that node would."""
    def emit(value: Any, key: int | None) -> Any:
        raise exc.with_traceback(None)

    return emit


def _utf8(value: Any, key: int | None) -> Any:
    return value.decode("utf-8", errors="replace")


def _same(value: Any, key: int | None) -> Any:
    return value


class _Compiler:
    """Compiles one emit schema into closures ``emit(value, key)`` that
    build the JSON-ready tree: bound bytes decoded, unions label-wrapped
    as the reference writer does. ``key`` is the field id of the
    nearest enclosing record whose value has an int ``key`` (a bounds
    map entry). Nodes compile once per (node, inside a bounds map);
    a node that cannot compile raises when a value reaches it."""

    def __init__(self, schema: Any, names: dict[str, Any], fields_by_id: dict[int, str]):
        # the schema stays referenced, so the memo's node ids stay unique
        self.schema, self.names, self.fields_by_id = schema, names, fields_by_id
        self.memo: dict[tuple[int, bool], list] = {}
        self.renderers: dict[int, Callable[[bytes], str]] = {}

    def node(self, get: Callable[[], Any], in_bounds: bool) -> Emit:
        """The emitter of the node ``get()`` returns. A recursive
        reference calls through its node's cell."""
        try:
            schema = _resolve(get(), self.names)
        except Exception as e:  # noqa: BLE001 - raised where the walk would raise it
            return _raiser(e)
        if isinstance(schema, str):
            return self._bytes(in_bounds) if schema == "bytes" else _same
        cell = self.memo.get((id(schema), in_bounds))
        if cell is not None:
            return cell[0] or (lambda value, key: cell[0](value, key))
        cell = self.memo[(id(schema), in_bounds)] = [None]
        try:
            cell[0] = self._compound(schema, in_bounds)
        except Exception as e:  # noqa: BLE001
            cell[0] = _raiser(e)
        return cell[0]

    def _bytes(self, in_bounds: bool) -> Emit:
        if not in_bounds:
            return _utf8
        fields_by_id, renderers = self.fields_by_id, self.renderers

        def emit(value: bytes, key: int | None) -> str:
            if key is not None and key in fields_by_id:
                render = renderers.get(key)
                if render is None:
                    render = renderers[key] = _bound_renderer(fields_by_id[key])
                return render(value)
            return value.decode("utf-8", errors="replace")

        return emit

    def _compound(self, schema: Any, in_bounds: bool) -> Emit:
        if isinstance(schema, list):
            return self._union(schema, in_bounds)
        t = schema["type"]
        if t == "record":
            data_file = _is_data_file_record(schema.get("name"))
            pairs = [
                (f["name"], self.node(lambda f=f: f["type"],
                                      f["name"].lower() in BOUND_KEYS if data_file else in_bounds))
                for f in schema["fields"]
            ]

            def record(value: Any, key: int | None) -> dict[str, Any]:
                # inside a bounds map entry the key field identifies the column
                kv = value.get("key") if isinstance(value, dict) else None
                if isinstance(kv, int):
                    key = kv
                return {name: emit(value[name], key) for name, emit in pairs}

            return record
        if t == "array":
            items = self.node(lambda: schema["items"], in_bounds)
            return lambda value, key: [items(v, key) for v in value]
        if t == "map":
            values = self.node(lambda: schema["values"], in_bounds)
            return lambda value, key: {k: values(v, key) for k, v in value.items()}
        if t == "fixed":
            return _utf8
        if t == "enum":
            return _same
        return self.node(lambda: t, in_bounds)

    def _union(self, union: list, in_bounds: bool) -> Emit:
        # the branch per value type: ``_branch_for`` decides by isinstance
        # alone, so one value of a type decides for all of that type
        by_type: dict[type, tuple[Emit | None, Any]] = {}
        names = self.names

        def pick(value: Any) -> tuple[Emit | None, Any]:
            branch = _branch_for(value, union, names)
            rb = _resolve(branch, names)
            t = rb if isinstance(rb, str) else rb.get("type")
            if t == "null":
                return None, None
            return self.node(lambda: branch, in_bounds), rb if isinstance(rb, str) else rb.get("name", t)

        def emit(value: Any, key: int | None) -> Any:
            hit = by_type.get(type(value))
            if hit is None:
                hit = by_type[type(value)] = pick(value)
            inner, label = hit
            return None if inner is None else {label: inner(value, key)}

        return emit


# (header schema text, reader schema JSON, field-id → type items) → the
# entry emitter; a table's manifests share one schema text
_EMITTERS: dict[tuple, Callable[[Any], Any]] = {}


def _emitter(avro: AvroContainerFile, reader_schema: Any | None, fields_by_id: dict[int, str]) -> Callable[[Any], Any]:
    """The compiled emitter of one (emit schema, field-id → type map),
    from a process-wide cache that starts over when full. Named types
    resolve against the writer schema's names, as they always have."""
    key = (avro.meta["avro.schema"], None if reader_schema is None else json.dumps(reader_schema, sort_keys=True),
           tuple(sorted(fields_by_id.items())))
    hit = _EMITTERS.get(key)
    if hit is None:
        if len(_EMITTERS) >= 512:
            _EMITTERS.clear()
        schema = avro.schema if reader_schema is None else reader_schema
        root = _Compiler(schema, avro.names, fields_by_id).node(lambda: schema, False)
        hit = _EMITTERS[key] = lambda value: root(value, None)
    return hit


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
    emit = _emitter(avro, reader_schema, fields_by_id)

    limit = head if head is not None else float("inf")
    out.write("[\n")
    first = True
    n = 0
    it = avro.records(reader_schema)
    rec = next(it, _SENTINEL := object())
    while rec is not _SENTINEL and n < limit:
        tree = emit(rec)
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
