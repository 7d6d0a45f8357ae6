"""Iceberg single-value binary (de)serialization.

Implements the "Binary single-value serialization" table of the
Iceberg spec: little-endian numerics, UTF-8 strings, big-endian
unscaled decimals, 16-byte big-endian UUID. Behavior parity with the
reference's bound decoding (`IcebergDatumWriter.java:194-202`, which
delegates to the Iceberg library's `Conversions.fromByteBuffer`) —
including its `"value:<v>;type:<t>"` rendering, where `<t>` is the
canonical Iceberg type string (`Types.fromPrimitiveString(x)
.toString()` normalization: lowercase, `decimal(p, s)` with a space).
"""

from __future__ import annotations

import functools
import re
import struct
import uuid as _uuid
from decimal import Decimal
from decimal import localcontext as _dec_localcontext
from typing import Any, Callable

_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[\s*(\d+)\s*\]$")
# v3 geospatial types take optional parameters: geometry(C) /
# geography(C[, A]) — C a CRS string (default OGC:CRS84), A an
# edge-interpolation algorithm. Values serialize as WKB either way.
_GEO_RE = re.compile(r"^(geometry|geography)(\(.*\))?$")

PRIMITIVE_TYPES = frozenset(
    (
        "boolean",
        "int",
        "long",
        "float",
        "double",
        "date",
        "time",
        "timestamp",
        "timestamptz",
        "timestamp_ns",
        "timestamptz_ns",
        "string",
        "uuid",
        "binary",
        # v3 additions: `unknown` (always-null, NO single-value
        # serialization), geospatial (WKB payloads)
        "unknown",
        "geometry",
        "geography",
    )
)


def canonical_type(type_str: str) -> str:
    """Normalize a metadata type string to Iceberg's toString form."""
    t = type_str.strip().lower()
    m = _DECIMAL_RE.match(t)
    if m:
        return f"decimal({int(m.group(1))}, {int(m.group(2))})"
    m = _FIXED_RE.match(t)
    if m:
        return f"fixed[{int(m.group(1))}]"
    m = _GEO_RE.match(t)
    if m and m.group(2):
        # keep the CRS/algorithm parameters verbatim (minus outer
        # whitespace): geometry(srid:3857) stays distinguishable
        return f"{m.group(1)}{m.group(2).strip()}"
    if t not in PRIMITIVE_TYPES:
        raise ValueError(f"unknown primitive type string {type_str!r}")
    return t


def from_bytes(type_str: str, data: bytes) -> Any:
    """Deserialize one Iceberg single-value."""
    return _from_bytes(canonical_type(type_str), data)


def _from_bytes(t: str, data: bytes) -> Any:
    if t == "unknown":
        # the v3 always-null type has NO single-value serialization
        # (spec: "unknown" rows carry no value) — a bound/default
        # claiming one is corrupt metadata, not a null
        raise ValueError("type 'unknown' has no single-value serialization")
    if t.startswith(("geometry", "geography")):
        return bytes(data)  # WKB payload, verbatim
    if t == "boolean":
        return data[0] != 0
    if t in ("int", "date"):
        return struct.unpack("<i", data)[0]
    if t in ("long", "time", "timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
        return struct.unpack("<q", data)[0]
    if t == "float":
        return struct.unpack("<f", data)[0]
    if t == "double":
        return struct.unpack("<d", data)[0]
    if t == "string":
        return data.decode("utf-8")
    if t == "uuid":
        return _uuid.UUID(bytes=data)
    if t.startswith("decimal"):
        m = _DECIMAL_RE.match(t)
        assert m is not None
        scale = int(m.group(2))
        unscaled = int.from_bytes(data, "big", signed=True)
        # widen past the default 28-digit context so decimal(38, s)
        # values stay exact
        with _dec_localcontext() as ctx:
            ctx.prec = 80
            return Decimal(unscaled).scaleb(-scale)
    # binary / fixed[n]
    return data


def to_bytes(type_str: str, value: Any) -> bytes:
    """Serialize one Iceberg single-value (inverse of
    :func:`from_bytes`; the spec's binary single-value table:
    little-endian numerics, UTF-8 strings, minimal big-endian
    unscaled decimals, 16-byte UUID)."""
    t = canonical_type(type_str)
    if t == "unknown":
        raise ValueError("type 'unknown' has no single-value serialization")
    if t.startswith(("geometry", "geography")):
        return bytes(value)  # WKB payload, verbatim
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "date"):
        return struct.pack("<i", int(value))
    if t in ("long", "time", "timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
        return struct.pack("<q", int(value))
    if t == "float":
        return struct.pack("<f", float(value))
    if t == "double":
        return struct.pack("<d", float(value))
    if t == "string":
        return str(value).encode("utf-8")
    if t == "uuid":
        return value.bytes if isinstance(value, _uuid.UUID) else _uuid.UUID(str(value)).bytes
    if t.startswith("decimal"):
        m = _DECIMAL_RE.match(t)
        assert m is not None
        scale = int(m.group(2))
        # default decimal context (28 digits) would round a
        # decimal(38, s) — widen for the scaleb
        with _dec_localcontext() as ctx:
            ctx.prec = 80
            unscaled = int(Decimal(value).scaleb(scale).to_integral_exact())
        # minimal two's-complement length, Java BigInteger.bitLength
        # semantics: for negatives, bitLength counts the bits of
        # ~unscaled, so magnitude-exactly-2^(8k-1) values (e.g.
        # unscaled -128) take k bytes, not k+1 (ADVICE r4)
        bl = unscaled.bit_length() if unscaled >= 0 else (~unscaled).bit_length()
        n = bl // 8 + 1
        return unscaled.to_bytes(n, "big", signed=True)
    # binary / fixed[n]
    return bytes(value)


def _shortest_float32_str(v: float) -> str:
    """Shortest decimal string that round-trips through float32,
    matching Java `Float.toString` digit selection (e.g. the float
    bound 0.1f renders `0.1`, not the widened-double repr
    `0.10000000149011612`)."""
    bits = struct.pack("<f", v)
    for p in range(1, 10):
        s = f"{v:.{p}g}"
        try:
            if struct.pack("<f", float(s)) == bits:
                return s
        except OverflowError:
            # candidate rounded above float32 max (e.g. 3.403e38 for
            # 3.4028235e38) — not a round-trip, try more digits
            continue
    return repr(struct.unpack("<f", bits)[0])


def _java_float_str(v: float, single: bool) -> str:
    """Approximate Java Float/Double.toString: decimal notation in
    [1e-3, 1e7), otherwise scientific with 'E'."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    if single:
        s = _shortest_float32_str(v)
    else:
        s = repr(v)
    a = abs(v)
    if v == 0 or 1e-3 <= a < 1e7:
        if "e" in s or "E" in s:
            s = f"{v:.10f}".rstrip("0")
            if s.endswith("."):
                s += "0"
        elif "." not in s:
            s += ".0"
        return s
    mant, _, exp = s.partition("e")
    if not exp:
        return s
    if "." not in mant:
        mant += ".0"
    return f"{mant}E{int(exp)}"


def _to_string(t: str, value: Any) -> str:
    """Render a deserialized value the way Java `toString` would
    (the reference feeds `metricValue.toString()` into the output)."""
    if t == "boolean":
        return "true" if value else "false"
    if t == "float":
        return _java_float_str(value, single=True)
    if t == "double":
        return _java_float_str(value, single=False)
    if isinstance(value, bytes):
        return "0x" + value.hex()
    return str(value)


def decode_bound(type_str: str, data: bytes) -> str:
    """The reference's bound rendering: ``value:<v>;type:<t>``
    (`IcebergDatumWriter.java:200`)."""
    return _bound_renderer(type_str)(data)


@functools.lru_cache(maxsize=1024)
def _bound_renderer(type_str: str) -> Callable[[bytes], str]:
    """``decode_bound`` for one metadata type string: the string is
    normalised once here, not once per bound."""
    t = canonical_type(type_str)
    return lambda data: f"value:{_to_string(t, _from_bytes(t, data))};type:{t}"


def wkb_point(x: float, y: float, z: float | None = None) -> bytes:
    """Little-endian WKB POINT (XY, or XYZ when ``z`` given) — the
    encoding v3 geometry/geography BOUNDS use: per spec the lower
    bound is the (min x, min y) corner and the upper bound the
    (max x, max y) corner of the file's bounding box."""
    if z is None:
        return b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", x, y)
    return b"\x01" + struct.pack("<I", 1001) + struct.pack("<ddd", x, y, z)


def double_sort_key(v: float) -> int:
    """Monotonic int64 key of a double under IEEE-754 total order
    (−0.0 canonicalized to +0.0, so the order over KEYS is exactly
    the numeric ``<``/``>`` over finite values and ±inf): the
    classic radix-sort transform — positive doubles keep their
    signed bit pattern, negative ones flip the non-sign bits. Used
    by the geo scan-planning check (``pruning.geo_keys``): bbox
    comparisons run over these integer keys and stay bit-exact with
    the ``struct.unpack`` reference decode (:func:`parse_wkb_point`;
    pinned in tests/test_snapshots.py)."""
    (s,) = struct.unpack(">q", struct.pack(">d", v))
    if s == -(1 << 63):  # -0.0 → +0.0
        return 0
    if s >= 0:
        return s
    return s ^ 0x7FFFFFFFFFFFFFFF  # magnitude ascends ⇒ value descends


def parse_wkb_point(data: bytes) -> tuple[float, float] | None:
    """(x, y) of a WKB POINT (either byte order, XY/XYZ/XYZM type
    codes incl. the EWKB Z flag); None for anything else — callers
    treat unparseable bounds as absent (conservative pruning)."""
    if not data or len(data) < 21:
        return None
    bo = "<" if data[0] == 1 else ">" if data[0] == 0 else None
    if bo is None:
        return None
    (code,) = struct.unpack(f"{bo}I", data[1:5])
    # POINT type codes: 1 (XY), 1001 (XYZ), 2001 (XYM), 3001 (XYZM),
    # or EWKB's 1 with the Z/M/SRID high-bit flags — x/y always lead
    if (code & 0x0FFFFFFF) % 1000 != 1:
        return None
    off = 5
    if code & 0x20000000:  # EWKB SRID flag: 4-byte srid before coords
        off += 4
    if len(data) < off + 16:
        return None
    return struct.unpack(f"{bo}dd", data[off:off + 16])
