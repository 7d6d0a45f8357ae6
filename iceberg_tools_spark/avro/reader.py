"""Pure-Python Avro object-container-file reader, from the Avro 1.11
specification (the reference reads manifests with Java Avro's
`DataFileStream`, `ManifestFileReadTool.java:130-159`). It decodes every
manifest and manifest list, on the driver or in executor tasks
(``manifest_io.map_manifests``). Each writer schema is parsed once per
process (``_SCHEMAS``, keyed by the header's ``avro.schema`` text; the
parsed schema is shared and read-only) and compiles once per
(schema text, projection) (``_DECODERS``) into nested ``(buf, pos) ->
(value, pos)`` closures over a ``bytes`` block: records, arrays and
maps are generated code with varints, strings and one-byte union
indexes inline. A projection (:meth:`AvroContainerFile.select`) names
the record fields a consumer reads as dotted paths from the root
(``data_file.file_path``), as Iceberg Java's ``ManifestReader.select``
does; every other field compiles to generated skip code that walks
its varints, lengths and collection counts without building a value.
Malformed input raises ``AvroError`` in a skipped field as in a
decoded one, including an array, map or block count that cannot fit
the bytes left (checked once per block against the items' least
width; a count of zero-width items against ``ZERO_WIDTH_MAX_COUNT``).
Skipped strings are not checked for UTF-8, as Java Avro's
``skipString`` does not check them.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from collections.abc import Iterable, Iterator
from functools import lru_cache
from types import SimpleNamespace
from typing import Any, BinaryIO, Callable

MAGIC = b"Obj\x01"
PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)
NAMED = frozenset(("record", "enum", "fixed"))


class AvroError(Exception):
    pass


Reader = Callable[[bytes, int], tuple[Any, int]]
# what malformed input raises in the header parse or a compiled reader
_MALFORMED = (IndexError, KeyError, TypeError, ValueError, AttributeError,
              struct.error, zlib.error, RecursionError)


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint at ``pos`` (the templates' multi-byte path)."""
    b = buf[pos]
    acc, shift = b & 0x7F, 7
    while b & 0x80:
        pos += 1
        b = buf[pos]
        acc |= (b & 0x7F) << shift
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos + 1


def _fail(*what: Any) -> None:
    raise AvroError(" ".join(map(str, what)))


_NS = {"_read_long": _read_long, "_fail": _fail,
       "_F32": struct.Struct("<f").unpack_from, "_F64": struct.Struct("<d").unpack_from}
# inline code that reads one value into {t}
_LONG = """b = buf[pos]
if b < 0x80:
    {t} = (b >> 1) ^ -(b & 1)
    pos += 1
else:
    {t}, pos = _read_long(buf, pos)"""
_SPAN = _LONG.format(t="n") + """
end = pos + n
if n < 0 or end > len(buf):
    _fail("unexpected EOF: wanted", n, "bytes")
{t} = buf[pos:end]{decode}
pos = end"""
_INLINE = {
    "null": "{t} = None",
    "boolean": "{t} = buf[pos] != 0\npos += 1",
    **dict.fromkeys(("int", "long"), _LONG),
    "float": "{t} = _F32(buf, pos)[0]\npos += 4",
    "double": "{t} = _F64(buf, pos)[0]\npos += 8",
    "bytes": _SPAN.replace("{decode}", ""),
    "string": _SPAN.replace("{decode}", ".decode()"),
}
_CODE: dict[str, Any] = {}


def _indent(src: str) -> str:
    return "    " + src.replace("\n", "\n    ")


def _generated(name: str, args: str, lines: list[str], ns: dict[str, Any]) -> Callable:
    """``def name(args)`` over ``lines``. Only templates and numbered
    names reach the source; schema names and defaults ride in ``ns``,
    so schemas that differ only in names share one code object."""
    src = f"def {name}({args}):\n" + _indent("\n".join(lines))
    code = _CODE.get(src)
    if code is None:
        code = _CODE[src] = compile(src, "<avro>", "exec")
    exec(code, ns)
    return ns[name]


def _kind(schema: Any) -> str:
    """A resolved schema's type name: "union" for a list, "" if malformed."""
    t = "union" if isinstance(schema, list) else schema if isinstance(schema, str) else schema["type"]
    return t if isinstance(t, str) else ""


def _collect_named(schema: Any, names: dict[str, Any], namespace: str = "") -> None:
    """Register named types (by full name AND simple name) so string
    references resolve."""
    if isinstance(schema, list):
        for s in schema:
            _collect_named(s, names, namespace)
        return
    if not isinstance(schema, dict):
        return
    t = schema.get("type")
    ns = schema.get("namespace", namespace)
    if t in NAMED:
        name = schema["name"]
        full = f"{ns}.{name}" if ns and "." not in name else name
        names[full] = schema
        names[name] = schema
    if t == "record":
        for f in schema.get("fields", ()):
            _collect_named(f["type"], names, ns)
    elif t == "array":
        _collect_named(schema.get("items"), names, ns)
    elif t == "map":
        _collect_named(schema.get("values"), names, ns)
    elif isinstance(t, (dict, list)):
        _collect_named(t, names, ns)


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    """Dereference string references / unwrap {'type': 'int'} wrappers."""
    if isinstance(schema, str):
        if schema in PRIMITIVES:
            return schema
        if schema in names:
            return names[schema]
        raise AvroError(f"unknown type reference {schema!r}")
    if isinstance(schema, dict) and isinstance(schema.get("type"), str):
        if schema["type"] in PRIMITIVES and "logicalType" not in schema and schema.keys() <= {"type"}:
            return schema["type"]
    return schema


def _min_width(schema: Any, names: dict[str, Any], open_records: tuple = ()) -> int:
    """A lower bound on the bytes one ``schema`` value takes: 0 for
    null, fixed[0] and records of only those, 1 per varint."""
    schema = _resolve(schema, names)
    kind = _kind(schema)
    if kind == "record":
        if id(schema) in open_records:
            return 0
        inner = (*open_records, id(schema))
        return sum(_min_width(f["type"], names, inner) for f in schema["fields"])
    if kind == "fixed":
        return max(int(schema["size"]), 0)
    return {"null": 0, "float": 4, "double": 8}.get(kind, 1)


# a count of zero-width items consumes no bytes, so only a fixed cap
# bounds it (as Java Avro caps every collection length)
ZERO_WIDTH_MAX_COUNT = 1 << 16


def _count_check(width: int, left: str) -> list[str]:
    """Source that rejects a count ``c`` of ``width``-byte items that
    cannot fit the ``left`` bytes."""
    over = f"c * {width} > {left}" if width else f"c > {ZERO_WIDTH_MAX_COUNT}"
    return [f"if {over}:", f'    _fail("count", c, "cannot fit the", {left}, "bytes left")']


# a projection: the record fields a decode builds, as a frozen tree
# ``((name, sub-projection or None), ...)``; None builds the whole value
Projection = tuple | None


@lru_cache(maxsize=256)
def _projection(fields: tuple[str, ...]) -> tuple:
    """The projection tree of dotted field paths; a path that names a
    whole field covers every longer path under it."""
    tree: dict[str, Any] = {}
    for path in fields:
        node = tree
        *heads, last = path.split(".")
        for head in heads:
            if head in node and node[head] is None:
                break
            node = node.setdefault(head, {})
        else:
            node[last] = None

    def freeze(node: dict[str, Any]) -> tuple:
        return tuple(sorted((k, None if v is None else freeze(v)) for k, v in node.items()))

    return freeze(tree)


def _inline_read(schema: Any, names: dict[str, Any], memo: dict, ns: dict[str, Any], t: str,
                 proj: Projection = None) -> str:
    """Source that reads one ``schema`` value into ``t``: primitives
    and one-byte union indexes inline, anything else a call."""
    schema = _resolve(schema, names)
    kind = _kind(schema)
    if kind in _INLINE:
        return _INLINE[kind].format(t=t)
    call = f"r{len(ns)}"
    ns[call] = _reader(schema, names, memo, proj)
    fallback = f"{t}, pos = {call}(buf, pos)"
    if kind != "union" or len(schema) > 64:
        return fallback
    arms = [
        f"{'el' if i else ''}if b == {2 * i}:\n    pos += 1\n" + _indent(_inline_read(br, names, memo, ns, t, proj))
        for i, br in enumerate(schema)
    ]
    return "\n".join(["b = buf[pos]", *arms, "else:", _indent(fallback)])


# inline code that steps over one value without building it; a step
# past the buffer's end is caught where the decode ends (``_END``)
_SKIP_LONG = "while buf[pos] >= 0x80:\n    pos += 1\npos += 1"
_SKIP = {
    "null": "pass",
    "boolean": "pos += 1",
    **dict.fromkeys(("int", "long"), _SKIP_LONG),
    "float": "pos += 4",
    "double": "pos += 8",
    **dict.fromkeys(("bytes", "string"), _SPAN.replace("{t} = buf[pos:end]{decode}\n", "")),
}
_END = ["if pos > len(buf):", '    _fail("unexpected EOF in a skipped value")']


def _inline_skip(schema: Any, names: dict[str, Any], memo: dict, ns: dict[str, Any],
                 open_records: tuple = ()) -> str:
    """Source that steps ``pos`` over one ``schema`` value with the
    decode's checks: span bounds, union and enum index ranges, array
    and map counts against the bytes left. Records inline their
    fields; arrays, maps, recursive records and wide unions call a
    generated skipper."""
    schema = _resolve(schema, names)
    kind = _kind(schema)
    if kind in _SKIP:
        return _SKIP[kind]
    if kind == "fixed":
        size = f"z{len(ns)}"
        ns[size] = int(schema["size"])
        return f"pos += {size}" if ns[size] >= 0 else f"_fail('unexpected EOF: wanted', {size}, 'bytes')"
    if kind == "enum":
        count = f"z{len(ns)}"
        ns[count] = len(schema["symbols"])
        return _LONG.format(t="i") + f"\nif not 0 <= i < {count}:\n    _fail('enum index', i, 'out of range')"
    if kind == "record" and id(schema) not in open_records:
        inner = (*open_records, id(schema))
        return "\n".join(["pass"] + [_inline_skip(f["type"], names, memo, ns, inner) for f in schema["fields"]])
    call = f"s{len(ns)}"
    ns[call] = _skipper(schema, names, memo)
    if kind != "union" or len(schema) > 64:
        return f"pos = {call}(buf, pos)"
    arms = [
        f"{'el' if i else ''}if b == {2 * i}:\n    pos += 1\n" + _indent(_inline_skip(br, names, memo, ns, open_records))
        for i, br in enumerate(schema)
    ]
    return "\n".join(["b = buf[pos]", *arms, "else:", _indent(f"pos = {call}(buf, pos)")])


def _collection(kind: str, width: int, item: str, end: str) -> list[str]:
    """The body of an array or map reader or skipper: blocks of items
    (``item`` per item, a map's string key first) until a zero count."""
    return [_LONG.format(t="c"), "while c:", "    if c < 0:  # block with byte size prefix", "        c = -c",
            "        _, pos = _read_long(buf, pos)",
            *map(_indent, _count_check(width, "len(buf) - pos")), "    for _ in range(c):",
            _indent(_indent(item)), _indent(_LONG.format(t="c")), end]


def _skipper(schema: Any, names: dict[str, Any], memo: dict) -> Callable[[bytes, int], int]:
    """Compile one compound node's ``(buf, pos) -> pos`` skipper
    (memoized as ``_reader`` memoizes its readers)."""
    cell = memo.get((id(schema), "skip"))
    if cell is not None:
        return cell[0] or (lambda buf, pos: cell[0](buf, pos))
    cell = memo[(id(schema), "skip")] = [None]
    kind, ns = _kind(schema), dict(_NS)
    if kind == "union":
        def branch(b: Any) -> Callable[[bytes, int], int]:
            bns = dict(_NS)
            return _generated("skip", "buf, pos", [_inline_skip(b, names, memo, bns), "return pos"], bns)

        ns["branches"] = [branch(b) for b in schema]
        lines = [_LONG.format(t="i"), "if 0 <= i < len(branches):", "    return branches[i](buf, pos)",
                 '_fail("union index", i, "out of range")']
    elif kind == "record":
        lines = [_inline_skip(f["type"], names, memo, ns, (id(schema),)) for f in schema["fields"]] + ["return pos"]
    else:
        node = schema["values" if kind == "map" else "items"]
        width = _min_width(node, names) + (kind == "map")  # a map key is a string
        item = _inline_skip(node, names, memo, ns)
        lines = _collection(kind, width, _SKIP["string"] + "\n" + item if kind == "map" else item, "return pos")
    cell[0] = _generated("skip", "buf, pos", lines, ns)
    return cell[0]


def _reader(schema: Any, names: dict[str, Any], memo: dict, proj: Projection = None,
            root: bool = False) -> Reader:
    """Compile one schema node under a projection (records keep its
    fields, unions, arrays and maps pass it to their records). ``memo``
    holds each compound node's reader by (id, projection); a recursive
    reference calls through its record's cell. A ``root`` record with
    skipped fields checks that no skip stepped past the buffer."""
    schema = _resolve(schema, names)
    kind = _kind(schema)
    if kind in _INLINE:
        return _READERS[kind]
    cell = memo.get((id(schema), proj))
    if cell is not None:
        return cell[0] or (lambda buf, pos: cell[0](buf, pos))
    cell = memo[(id(schema), proj)] = [None]
    ns = dict(_NS)
    if kind == "union":
        ns["branches"] = [_reader(b, names, memo, proj) for b in schema]
        lines = [_LONG.format(t="i"), "if 0 <= i < len(branches):", "    return branches[i](buf, pos)",
                 '_fail("union index", i, "out of range")']
    elif kind == "record":
        keep = None if proj is None else dict(proj)
        lines, kept = [], []
        for i, f in enumerate(schema["fields"]):
            if keep is None or f["name"] in keep:
                lines.append(_inline_read(f["type"], names, memo, ns, f"v{i}", keep and keep[f["name"]]))
                ns[f"n{i}"] = f["name"]
                kept.append(i)
            else:
                lines.append(_inline_skip(f["type"], names, memo, ns, (id(schema),)))
        if root and len(kept) < len(schema["fields"]):
            lines += _END
        lines.append("return {" + ", ".join(f"n{i}: v{i}" for i in kept) + "}, pos")
    elif kind in ("array", "map"):
        node = schema["values" if kind == "map" else "items"]
        width = _min_width(node, names) + (kind == "map")  # a map key is a string
        item = _inline_read(node, names, memo, ns, "v", proj)
        item = _INLINE["string"].format(t="k") + f"\n{item}\nout[k] = v" if kind == "map" else f"{item}\nout.append(v)"
        lines = ["out = {}" if kind == "map" else "out = []", *_collection(kind, width, item, "return out, pos")]
    elif kind == "enum":
        ns["symbols"] = list(schema["symbols"])
        lines = [_LONG.format(t="i"), "if 0 <= i < len(symbols):", "    return symbols[i], pos",
                 '_fail("enum index", i, "out of range")']
    elif kind == "fixed":
        ns["size"] = int(schema["size"])
        lines = ["end = pos + size", "if size < 0 or end > len(buf):",
                 '    _fail("unexpected EOF: wanted", size, "bytes")', "return buf[pos:end], end"]
    else:
        raise AvroError(f"unsupported schema {schema!r}")
    cell[0] = _generated("read", "buf, pos", lines, ns)
    return cell[0]


_READERS = {k: _generated("read", "buf, pos", [src.format(t="v"), "return v, pos"], dict(_NS))
            for k, src in _INLINE.items()}
_READ_META = _reader({"type": "map", "values": "bytes"}, {}, {})  # the file metadata
# header ``avro.schema`` text → (parsed schema, its named types); shared, read-only
_SCHEMAS: dict[bytes, tuple[Any, dict[str, Any]]] = {}
# (header ``avro.schema`` text, projection) → (record reader, a block-count check)
_DECODERS: dict[tuple[bytes, Projection], tuple[Reader, Callable[[int, int], None]]] = {}


def _parsed(schema_text: bytes) -> tuple[Any, dict[str, Any]]:
    """A header's schema and its named types, parsed once per process.
    Callers share them and must not mutate them."""
    hit = _SCHEMAS.get(schema_text)
    if hit is None:
        if len(_SCHEMAS) >= 512:
            _SCHEMAS.clear()
        schema, names = json.loads(schema_text), {}
        _collect_named(schema, names)
        hit = _SCHEMAS[schema_text] = (schema, names)
    return hit


def _decoder(schema_text: bytes, proj: Projection = None) -> tuple[Reader, Callable[[int, int], None]]:
    """The record reader for a header's ``avro.schema`` text under a
    projection, and the check of a block's record count against its
    bytes, compiled once per process. Executor workers fill their own
    cache; no compiled reader rides in a task. The cache starts over
    when full."""
    hit = _DECODERS.get((schema_text, proj))
    if hit is None:
        if len(_DECODERS) >= 512:
            _DECODERS.clear()
        schema, names = _parsed(schema_text)
        check = _generated("check", "c, left", _count_check(_min_width(schema, names), "left"), dict(_NS))
        # a projection selects the root record's fields
        root = _reader(schema, names, {}, proj if _kind(_resolve(schema, names)) == "record" else None, root=True)
        hit = _DECODERS[(schema_text, proj)] = (root, check)
    return hit


_PROMOTIONS = {
    "int": ("int", "long", "float", "double"),
    "long": ("long", "float", "double"),
    "float": ("float", "double"),
    "double": ("double",),
    "string": ("string", "bytes"),
    "bytes": ("bytes", "string"),
}


def adapt_to_reader(value: Any, writer: Any, reader: Any, names: dict[str, Any]) -> Any:
    """Schema-resolution projection: reshape a decoded writer-schema
    value to the reader schema (name-matched record fields, defaults
    for missing fields, primitive promotion)."""
    writer = _resolve(writer, names)
    reader = _resolve(reader, names)
    if isinstance(writer, list):
        # decoded value already collapsed the union branch; adapt as
        # the branch that produced it — approximate by trying reader
        return adapt_to_reader(value, _branch_for(value, writer, names), reader, names)
    if isinstance(reader, list):
        return value  # emit-time union resolution handles labeling
    wt = writer if isinstance(writer, str) else writer["type"]
    rt = reader if isinstance(reader, str) else reader["type"]
    if wt in PRIMITIVES or rt in PRIMITIVES:
        if rt not in _PROMOTIONS.get(wt, (rt,)):
            raise AvroError(f"cannot promote {wt} to {rt}")
        if rt in ("float", "double") and isinstance(value, int):
            return float(value)
        return value
    if rt == "record":
        out = {}
        wfields = {f["name"]: f for f in writer.get("fields", ())}
        for f in reader["fields"]:
            if f["name"] in wfields:
                out[f["name"]] = adapt_to_reader(
                    value[f["name"]], wfields[f["name"]]["type"], f["type"], names
                )
            elif "default" in f:
                out[f["name"]] = f["default"]
            else:
                raise AvroError(f"no value or default for reader field {f['name']!r}")
        return out
    if rt == "array":
        return [adapt_to_reader(v, writer["items"], reader["items"], names) for v in value]
    if rt == "map":
        return {
            k: adapt_to_reader(v, writer["values"], reader["values"], names)
            for k, v in value.items()
        }
    return value


def _branch_for(value: Any, union: list, names: dict[str, Any]) -> Any:
    for b in union:
        rb = _resolve(b, names)
        t = rb if isinstance(rb, str) else rb.get("type")
        if value is None and t == "null":
            return b
        if isinstance(value, bool) and t == "boolean":
            return b
        if isinstance(value, int) and not isinstance(value, bool) and t in ("int", "long"):
            return b
        if isinstance(value, float) and t in ("float", "double"):
            return b
        if isinstance(value, str) and t in ("string", "enum"):
            return b
        if isinstance(value, bytes) and t in ("bytes", "fixed"):
            return b
        if isinstance(value, list) and t == "array":
            return b
        if isinstance(value, dict) and t in ("record", "map"):
            return b
    raise AvroError(f"cannot resolve union branch for {type(value)} in {union}")


class AvroContainerFile:
    """Parsed Avro object container file (header + block iterator)."""

    def __init__(self, src: bytes | BinaryIO):
        data = src if isinstance(src, bytes) else src.read()
        if data[:4] != MAGIC:
            raise AvroError("not an Avro object container file (bad magic)")
        body = data[4:]
        try:
            self.meta, pos = _READ_META(body, 0)
            self.sync = body[pos : pos + 16]
            if len(self.sync) != 16:
                raise AvroError("unexpected EOF in the sync marker")
            # shared with every file of this schema text: read-only
            self.schema, self.names = _parsed(self.meta["avro.schema"])
            self.codec = self.meta.get("avro.codec", b"null").decode()
            self._decode, self._check_count = _decoder(self.meta["avro.schema"])
        except _MALFORMED as e:
            raise AvroError(f"malformed Avro header: {e!r}") from e
        # the blocks, as a BytesIO at the first (perfbench reads its size)
        self._body = SimpleNamespace(buf=io.BytesIO(body))
        self._body.buf.seek(pos + 16)

    def _decompress(self, block: bytes) -> bytes:
        if self.codec == "null":
            return block
        if self.codec == "deflate":
            return zlib.decompress(block, -15)
        if self.codec == "snappy":
            try:
                import snappy  # type: ignore[import-not-found]
            except ImportError as e:  # pragma: no cover - env-dependent
                raise AvroError("snappy codec requires python-snappy") from e
            return snappy.decompress(block[:-4])  # trailing CRC32
        raise AvroError(f"unsupported codec {self.codec!r}")

    def select(self, fields: Iterable[str]) -> AvroContainerFile:
        """Build only ``fields`` of each record from here on: dotted
        paths of record fields from the root (``data_file.file_path``;
        unions, arrays and maps pass a path to their records). A record
        holds its selected fields, in schema order; the others are
        walked and checked, not built. Returns ``self``."""
        self._decode, self._check_count = _decoder(self.meta["avro.schema"], _projection(tuple(fields)))
        return self

    def __iter__(self) -> Iterator[Any]:
        return self.records()

    def records(self, reader_schema: Any | None = None) -> Iterator[Any]:
        data, pos = self._body.buf.getvalue(), self._body.buf.tell()
        r_names = dict(self.names)
        _collect_named(reader_schema, r_names)
        try:
            while pos < len(data):
                count, pos = _read_long(data, pos)
                block, pos = _READERS["bytes"](data, pos)
                block, at = self._decompress(block), 0
                if data[pos : pos + 16] != self.sync:
                    raise AvroError("sync marker mismatch (corrupt file)")
                pos += 16
                self._check_count(count, len(block))
                for _ in range(count):
                    v, at = self._decode(block, at)
                    if reader_schema is not None:
                        v = adapt_to_reader(v, self.schema, reader_schema, r_names)
                    yield v
        except _MALFORMED as e:
            raise AvroError(f"corrupt Avro data: {e!r}") from e
