"""The Avro interpreter the library shipped before its schemas were
compiled, kept as a test oracle.

It walks the schema for every value (``decode_value`` /
``encode_value``). The compiled codec in ``iceberg_tools_spark.avro``
must write the same bytes and read the same records; the equivalence
properties in ``tests/test_avro_codec.py`` hold it to that. Test code
only: nothing in the library imports it.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from collections.abc import Iterable, Iterator
from typing import Any, BinaryIO

from iceberg_tools_spark.avro.reader import (
    PRIMITIVES,
    AvroError,
    _branch_for,
    _collect_named,
    _resolve,
    adapt_to_reader,
)

MAGIC = b"Obj\x01"


class _Decoder:
    """Avro binary decoder over an in-memory buffer."""

    def __init__(self, data: bytes):
        self.buf = io.BytesIO(data)

    def read(self, n: int) -> bytes:
        b = self.buf.read(n)
        if len(b) != n:
            raise AvroError(f"unexpected EOF: wanted {n} bytes, got {len(b)}")
        return b

    def at_end(self) -> bool:
        pos = self.buf.tell()
        more = self.buf.read(1)
        self.buf.seek(pos)
        return not more

    def zlong(self) -> int:
        shift, acc = 0, 0
        while True:
            byte = self.read(1)[0]
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def null(self) -> None:
        return None

    def boolean(self) -> bool:
        return self.read(1)[0] != 0

    def float_(self) -> float:
        return struct.unpack("<f", self.read(4))[0]

    def double(self) -> float:
        return struct.unpack("<d", self.read(8))[0]

    def bytes_(self) -> bytes:
        return self.read(self.zlong())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")


def decode_value(schema: Any, dec: _Decoder, names: dict[str, Any]) -> Any:
    """Decode one value of `schema` from the binary stream."""
    schema = _resolve(schema, names)
    if isinstance(schema, str):
        return {
            "null": dec.null,
            "boolean": dec.boolean,
            "int": dec.zlong,
            "long": dec.zlong,
            "float": dec.float_,
            "double": dec.double,
            "bytes": dec.bytes_,
            "string": dec.string,
        }[schema]()
    if isinstance(schema, list):  # union: branch index then value
        idx = dec.zlong()
        if not 0 <= idx < len(schema):
            raise AvroError(f"union index {idx} out of range")
        return decode_value(schema[idx], dec, names)
    t = schema["type"]
    if t in PRIMITIVES:
        return decode_value(t, dec, names)
    if t == "record":
        return {f["name"]: decode_value(f["type"], dec, names) for f in schema["fields"]}
    if t == "enum":
        symbols = schema["symbols"]
        i = dec.zlong()
        if not 0 <= i < len(symbols):
            raise AvroError(f"enum index {i} out of range")
        return symbols[i]
    if t == "fixed":
        return dec.read(int(schema["size"]))
    if t == "array":
        out = []
        while True:
            n = dec.zlong()
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                n = -n
                dec.zlong()
            for _ in range(n):
                out.append(decode_value(schema["items"], dec, names))
        return out
    if t == "map":
        out_m: dict[str, Any] = {}
        while True:
            n = dec.zlong()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.zlong()
            for _ in range(n):
                k = dec.string()
                out_m[k] = decode_value(schema["values"], dec, names)
        return out_m
    raise AvroError(f"unsupported schema {schema!r}")



class AvroContainerFile:
    """Parsed Avro object container file (header + block iterator)."""

    def __init__(self, src: bytes | BinaryIO):
        data = src if isinstance(src, bytes) else src.read()
        if data[:4] != MAGIC:
            raise AvroError("not an Avro object container file (bad magic)")
        dec = _Decoder(data[4:])
        self.meta: dict[str, bytes] = {}
        while True:
            n = dec.zlong()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.zlong()
            for _ in range(n):
                k = dec.string()
                self.meta[k] = dec.bytes_()
        self.sync = dec.read(16)
        self._body = dec
        self.schema = json.loads(self.meta["avro.schema"])
        self.codec = self.meta.get("avro.codec", b"null").decode()
        self.names: dict[str, Any] = {}
        _collect_named(self.schema, self.names)

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

    def __iter__(self) -> Iterator[Any]:
        return self.records()

    def records(self, reader_schema: Any | None = None) -> Iterator[Any]:
        dec = self._Decoder_fresh()
        r_names: dict[str, Any] = {}
        if reader_schema is not None:
            _collect_named(reader_schema, r_names)
        while not dec.at_end():
            count = dec.zlong()
            size = dec.zlong()
            block = _Decoder(self._decompress(dec.read(size)))
            sync = dec.read(16)
            if sync != self.sync:
                raise AvroError("sync marker mismatch (corrupt file)")
            for _ in range(count):
                v = decode_value(self.schema, block, self.names)
                if reader_schema is not None:
                    v = adapt_to_reader(v, self.schema, reader_schema, {**self.names, **r_names})
                yield v
    def _Decoder_fresh(self) -> _Decoder:
        d = _Decoder(b"")
        d.buf = io.BytesIO(self._body.buf.getvalue())
        d.buf.seek(self._body.buf.tell())
        return d


class _Encoder:
    """Avro binary encoder into an in-memory buffer."""

    def __init__(self) -> None:
        self.buf = io.BytesIO()

    def getvalue(self) -> bytes:
        return self.buf.getvalue()

    def zlong(self, v: int) -> None:
        acc = (v << 1) ^ (v >> 63) if v < 0 else (v << 1)
        while True:
            byte = acc & 0x7F
            acc >>= 7
            if acc:
                self.buf.write(bytes((byte | 0x80,)))
            else:
                self.buf.write(bytes((byte,)))
                break

    def boolean(self, v: bool) -> None:
        self.buf.write(b"\x01" if v else b"\x00")

    def float_(self, v: float) -> None:
        self.buf.write(struct.pack("<f", v))

    def double(self, v: float) -> None:
        self.buf.write(struct.pack("<d", v))

    def bytes_(self, v: bytes) -> None:
        self.zlong(len(v))
        self.buf.write(v)

    def string(self, v: str) -> None:
        self.bytes_(v.encode("utf-8"))


def encode_value(schema: Any, value: Any, enc: _Encoder, names: dict[str, Any]) -> None:
    """Encode one value of `schema` into the binary stream (the
    exact inverse of ``reader.decode_value``)."""
    schema = _resolve(schema, names)
    if isinstance(schema, str):
        if schema == "null":
            if value is not None:
                raise AvroError(f"null schema got {value!r}")
            return
        if schema == "boolean":
            enc.boolean(bool(value))
        elif schema in ("int", "long"):
            enc.zlong(int(value))
        elif schema == "float":
            enc.float_(float(value))
        elif schema == "double":
            enc.double(float(value))
        elif schema == "bytes":
            enc.bytes_(bytes(value))
        elif schema == "string":
            enc.string(value)
        else:
            raise AvroError(f"unsupported primitive {schema!r}")
        return
    if isinstance(schema, list):  # union: branch index then value
        branch = _branch_for(value, schema, names)
        enc.zlong(schema.index(branch))
        encode_value(branch, value, enc, names)
        return
    t = schema["type"]
    if t in PRIMITIVES:
        encode_value(t, value, enc, names)
        return
    if t == "record":
        for f in schema["fields"]:
            if f["name"] not in value and "default" in f:
                encode_value(f["type"], f["default"], enc, names)
            else:
                encode_value(f["type"], value[f["name"]], enc, names)
        return
    if t == "enum":
        enc.zlong(schema["symbols"].index(value))
        return
    if t == "fixed":
        if len(value) != int(schema["size"]):
            raise AvroError(f"fixed[{schema['size']}] got {len(value)} bytes")
        enc.buf.write(bytes(value))
        return
    if t == "array":
        if value:
            enc.zlong(len(value))
            for item in value:
                encode_value(schema["items"], item, enc, names)
        enc.zlong(0)
        return
    if t == "map":
        if value:
            enc.zlong(len(value))
            for k, v in value.items():
                enc.string(k)
                encode_value(schema["values"], v, enc, names)
        enc.zlong(0)
        return
    raise AvroError(f"unsupported schema {schema!r}")


def write_container(
    schema: Any, records: Iterable[Any], *, codec: str = "null"
) -> bytes:
    """Serialize records into one Avro object container file
    (single block; manifests are small). Deterministic: sync marker
    = md5(schema JSON), no randomness anywhere."""
    schema_json = json.dumps(schema, separators=(",", ":"), sort_keys=True)
    sync = hashlib.md5(schema_json.encode()).digest()
    names: dict[str, Any] = {}
    _collect_named(schema, names)

    body = _Encoder()
    count = 0
    for rec in records:
        encode_value(schema, rec, body, names)
        count += 1
    block = body.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        block = comp.compress(block) + comp.flush()
    elif codec != "null":
        raise AvroError(f"unsupported codec {codec!r}")

    out = _Encoder()
    out.buf.write(MAGIC)
    out.zlong(2)  # file-metadata map: 2 entries
    out.string("avro.schema")
    out.bytes_(schema_json.encode())
    out.string("avro.codec")
    out.bytes_(codec.encode())
    out.zlong(0)
    out.buf.write(sync)
    if count:
        out.zlong(count)
        out.zlong(len(block))
        out.buf.write(block)
        out.buf.write(sync)
    return out.getvalue()
