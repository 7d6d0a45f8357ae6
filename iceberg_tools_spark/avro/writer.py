"""Pure-Python Avro object-container-file writer, the encode half of
``reader.py``: it writes every manifest and manifest list a commit
produces. Each schema compiles once per process (``_ENCODERS``, keyed by
the header's schema text) into code generated like the reader's that
appends to one ``bytearray``, zigzag varints inline; union branches are
the ones ``_branch_for`` picks. The sync marker derives from the schema
text, so identical inputs give byte-identical files."""

from __future__ import annotations

import hashlib
import json
import struct
import zlib
from collections.abc import Iterable
from typing import Any, Callable

from .reader import MAGIC, AvroError, _branch_for, _collect_named, _fail, _generated, _indent, _kind, _resolve

Writer = Callable[[bytearray, Any], None]
_NS = {"_fail": _fail, "_F32": struct.Struct("<f").pack, "_F64": struct.Struct("<d").pack}
# inline code that writes the value in {x}; _VARINT takes an int
_VARINT = """acc = ({x} << 1) ^ ({x} >> 63) if {x} < 0 else {x} << 1
while acc > 0x7F:
    out.append(acc & 0x7F | 0x80)
    acc >>= 7
out.append(acc)"""
_LONG = "{x} = int({x})\n" + _VARINT
_LEN = "n = len({x})\n" + _VARINT.format(x="n")
_INLINE = {
    "null": 'if {x} is not None:\n    _fail("null schema got", repr({x}))',
    "boolean": "out.append(1 if {x} else 0)",
    **dict.fromkeys(("int", "long"), _LONG),
    "float": "out += _F32(float({x}))",
    "double": "out += _F64(float({x}))",
    "bytes": "{x} = bytes({x})\n" + _LEN + "\nout += {x}",
    "string": "{x} = {x}.encode('utf-8')\n" + _LEN + "\nout += {x}",
}


def _inline_write(schema: Any, names: dict[str, Any], memo: dict[int, list], ns: dict[str, Any], x: str) -> str:
    """Source that writes the value in ``x``: primitives and, per exact
    builtin type (all ``_branch_for`` looks at), union branches inline."""
    schema = _resolve(schema, names)
    kind = _kind(schema)
    if kind in _INLINE:
        return _INLINE[kind].format(x=x)
    call = f"w{len(ns)}"
    ns[call] = _writer(schema, names, memo)
    arms = []
    for probe in (None, False, 0, 0.0, "", b"", [], {}) if kind == "union" else ():
        try:
            i = schema.index(_branch_for(probe, schema, names))
        except AvroError:  # no branch takes this type
            continue
        if i < 64:
            test = f"{x} is None" if probe is None else f"type({x}) is {type(probe).__name__}"
            arms.append(f"{'el' if arms else ''}if {test}:\n    out.append({2 * i})\n"
                        + _indent(_inline_write(schema[i], names, memo, ns, x)))
    return "\n".join([*arms, "else:", _indent(f"{call}(out, {x})")] if arms else [f"{call}(out, {x})"])


def _writer(schema: Any, names: dict[str, Any], memo: dict[int, list]) -> Writer:
    """Compile one schema node (``memo`` as in ``reader._reader``)."""
    schema = _resolve(schema, names)
    kind = _kind(schema)
    if kind in _INLINE:
        return _WRITERS[kind]
    cell = memo.get(id(schema))
    if cell is not None:
        return cell[0] or (lambda out, v: cell[0](out, v))
    cell = memo[id(schema)] = [None]
    ns, lines = dict(_NS), []
    if kind == "union":  # _branch_for decides by the value's type alone
        ns.update(branch_for=_branch_for, schema=schema, names=names, by_type={}, long=_WRITERS["long"],
                  writers=[_writer(b, names, memo) for b in schema])
        lines = ["hit = by_type.get(type(v))", "if hit is None:",
                 "    i = schema.index(branch_for(v, schema, names))", "    long(tag := bytearray(), i)",
                 "    hit = by_type[type(v)] = (bytes(tag), writers[i])", "out += hit[0]", "hit[1](out, v)"]
    elif kind == "record":
        for i, f in enumerate(schema["fields"]):
            ns[f"n{i}"], ns[f"d{i}"] = f["name"], f.get("default")
            get = f"d{i} if n{i} not in v else v[n{i}]" if "default" in f else f"v[n{i}]"
            lines += [f"x{i} = {get}", _inline_write(f["type"], names, memo, ns, f"x{i}")]
    elif kind in ("array", "map"):
        item = _inline_write(schema["values" if kind == "map" else "items"], names, memo, ns, "x")
        loop = ("for k, x in v.items():\n" + _indent(_INLINE["string"].format(x="k") + "\n" + item)
                if kind == "map" else "for x in v:\n" + _indent(item))
        lines = ["if v:", _indent(_LEN.format(x="v")), _indent(loop), "out.append(0)"]
    elif kind == "enum":
        ns["symbols"] = schema["symbols"]
        lines = ["i = symbols.index(v)", _VARINT.format(x="i")]
    elif kind == "fixed":
        ns["size"] = int(schema["size"])
        lines = ["if len(v) != size:", '    _fail(f"fixed[{size}] got", len(v), "bytes")', "out += bytes(v)"]
    else:
        raise AvroError(f"unsupported schema {schema!r}")
    cell[0] = _generated("write", "out, v", lines or ["pass"], ns)
    return cell[0]


_WRITERS = {k: _generated("write", "out, x", [src.format(x="x")], dict(_NS)) for k, src in _INLINE.items()}
_WRITE_META = _writer({"type": "map", "values": "bytes"}, {}, {})  # the file metadata
_ENCODERS: dict[str, Writer] = {}


def write_container(
    schema: Any, records: Iterable[Any], *, codec: str = "null"
) -> bytes:
    """Serialize records into one Avro object container file
    (single block; manifests are small). Deterministic: sync marker
    = md5(schema JSON), no randomness anywhere."""
    schema_json = json.dumps(schema, separators=(",", ":"), sort_keys=True)
    sync = hashlib.md5(schema_json.encode()).digest()
    write = _ENCODERS.get(schema_json)
    if write is None:  # compiled from a private parse: callers may mutate ``schema``
        if len(_ENCODERS) >= 512:  # bounded as reader._DECODERS
            _ENCODERS.clear()
        own, names = json.loads(schema_json), {}
        _collect_named(own, names)
        write = _ENCODERS[schema_json] = _writer(own, names, {})

    body, count = bytearray(), 0
    for count, rec in enumerate(records, 1):
        write(body, rec)
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        body = comp.compress(body) + comp.flush()
    elif codec != "null":
        raise AvroError(f"unsupported codec {codec!r}")

    out = bytearray(MAGIC)
    _WRITE_META(out, {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()})
    out += sync
    if count:
        _WRITERS["long"](out, count)
        _WRITERS["bytes"](out, body)
        out += sync
    return bytes(out)
