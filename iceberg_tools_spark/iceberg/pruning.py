"""File-level scan pruning, decided where each manifest decodes.

``snapshots.plan_scan`` builds :func:`file_rules` on the driver; the
manifest worker compiles them with :func:`file_pruner` and decides each
live entry on typed values, as Iceberg's ``ManifestGroup`` evaluates
while it reads. Only the predicate's bound bytes are decoded. The rules
are those of the Spark expression this replaced (kept as the oracle in
``tests/test_snapshots.py``, with the cases that deliberately differ),
checked in its order while the file survives:

* **partition** — a field's value as ``get_json_object`` renders it
  equals the wanted value's ``str`` (booleans ``true``/``false``); a
  wanted ``None`` matches only a null; a spec without the field is
  unconstrained. A null against a wanted value prunes, after the bounds.
* **bounds** — lower bound against ``hi``, then upper against ``lo``; a
  missing bound keeps the file. A bound is read as ``cast_to`` by its
  type (:data:`_CASTS`), compared in Spark's order (NaN above every
  double); one that cannot be read so raises ``ValueError`` naming the
  field id and the file.
* **geo** — WKB point bounds span the file's box, which must meet the
  query box; an absent, unparseable or NaN coordinate decides nothing.
"""

from __future__ import annotations

import datetime as _dt
import math
import struct
from decimal import Decimal
from typing import Any, Callable

from .conversions import (
    _from_bytes,
    _java_float_str,
    _to_string,
    canonical_type,
    double_sort_key,
    parse_wkb_point,
)

_MICROS = {"timestamp": 1, "timestamptz": 1, "timestamp_ns": 1000, "timestamptz_ns": 1000}
_INTEGRAL = frozenset(("int", "long", "date", "time", *_MICROS))
_DAY_US = 86_400_000_000
_EPOCH = _dt.date(1970, 1, 1)


def _double_key(v: float) -> tuple[bool, float]:
    # Spark's double order: NaN above every value, NaN equal to NaN
    return (True, 0.0) if v != v else (False, v)


def _as_bigint(t: str, v: Any) -> int:
    if t in _INTEGRAL:
        return v  # dates as days, times and timestamps as their units
    if t.startswith("decimal") and v.as_tuple().exponent >= 0:
        return int(v)
    raise ValueError(f"a {t} bound is not a bigint")


def _as_double(t: str, v: Any) -> tuple[bool, float]:
    if t == "float":  # the shortest float32 text, as Java prints it
        return _double_key(float(_java_float_str(v, single=True)))
    if t in _INTEGRAL or t == "double" or t.startswith("decimal"):
        return _double_key(float(v))
    raise ValueError(f"a {t} bound is not a double")


def _as_timestamp(t: str, v: Any) -> int:
    if t in _MICROS:
        return v // _MICROS[t]
    if t == "date":
        return v * _DAY_US
    raise ValueError(f"a {t} bound is not a date or timestamp")


def _as_date(t: str, v: Any) -> int:
    return v if t == "date" else _as_timestamp(t, v) // _DAY_US


# cast_to → (read a typed bound of Iceberg type t, the endpoint types);
# dates compare as epoch days, timestamps as epoch microseconds (UTC)
_CASTS: dict[str, tuple[Callable[[str, Any], Any], tuple[type, ...]]] = {
    "bigint": (_as_bigint, (int, Decimal)),
    "double": (_as_double, (int, float, Decimal)),
    "string": (_to_string, (str,)),  # the bound as manifest2json renders it
    "date": (_as_date, (_dt.date,)),
    "timestamp": (_as_timestamp, (_dt.datetime,)),
}


def _endpoint(cast_to: str, v: Any) -> Any:
    """A predicate endpoint in ``cast_to``'s comparison domain."""
    wrong = isinstance(v, bool) or cast_to == "date" and isinstance(v, _dt.datetime)
    if wrong or not isinstance(v, _CASTS[cast_to][1]):
        raise ValueError(f"predicate value {v!r} cannot be compared as {cast_to}")
    if cast_to == "double":
        return _double_key(float(v))
    if cast_to == "date":
        return (v - _EPOCH).days
    if cast_to == "timestamp":
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _dt.datetime(1970, 1, 1)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return v


def _json_text(v: Any) -> str | None:
    """A partition value as ``get_json_object`` renders it."""
    if v is None or isinstance(v, bool):
        return None if v is None else "true" if v else "false"
    return _java_float_str(v, single=False) if isinstance(v, float) else str(v)


def file_rules(
    spec_preds: dict[int, list[tuple[str, Any]]],
    fid_types: dict[int, str],
    field_id: int | None = None,
    lo: Any = None,
    hi: Any = None,
    cast_to: str = "bigint",
    geo_bbox: dict[int, tuple] | None = None,
) -> dict[str, Any]:
    """The driver half: picklable rules for :func:`file_pruner`, from
    ``{spec id: [(partition field, wanted value)]}``; an endpoint that
    cannot be compared as ``cast_to`` raises before any manifest is read."""
    if cast_to not in _CASTS:
        raise ValueError(f"cast_to must be one of {sorted(_CASTS)}, not {cast_to!r}")
    bounds = None
    if field_id is not None and (lo is not None or hi is not None):
        lo, hi = (None if v is None else _endpoint(cast_to, v) for v in (lo, hi))
        bounds = (field_id, _canonical(fid_types, field_id), cast_to, lo, hi)
    return {
        "parts": {
            sid: tuple((f, _json_text(w) if w is None or w is True or w is False else str(w))
                       for f, w in eqs)
            for sid, eqs in spec_preds.items()
            if eqs
        },
        "bounds": bounds,
        "geo": tuple(
            (gfid, _canonical(fid_types, gfid), tuple(double_sort_key(float(c)) for c in box))
            for gfid, box in sorted((geo_bbox or {}).items())
        ),
    }


def _canonical(fid_types: dict[int, str], fid: int) -> str | None:
    return canonical_type(fid_types[fid]) if fid in fid_types else None


def _bound(bounds: list[dict[str, Any]] | None, fid: int) -> bytes | None:
    return next((e["value"] for e in bounds or () if e["key"] == fid), None)


def geo_keys(t: str | None, raw: bytes | None) -> tuple[int | None, int | None]:
    """(x, y) sort keys (``double_sort_key``) of a geometry/geography
    bound's WKB point; None for an absent, unparseable or non-binary
    bound and for a NaN coordinate."""
    binary = t is not None and t.startswith(("geometry", "geography", "binary", "fixed"))
    pt = parse_wkb_point(raw) if binary and raw is not None else None
    if pt is None:
        return (None, None)
    return tuple(None if math.isnan(c) else double_sort_key(c) for c in pt)


def file_pruner(rules: dict[str, Any]) -> Callable[[dict[str, Any], int], bool]:
    """The worker half: ``pruned(data_file, spec_id)``, True when the
    rules prove the file holds no matching row."""
    parts, bounds, geo = rules["parts"], rules["bounds"], rules["geo"]
    fid, t, cast_to, lo, hi = bounds or (None, None, None, None, None)

    def read(data_file: dict[str, Any], side: str) -> Any:
        raw = _bound(data_file.get(side), fid)
        if raw is None:
            return None
        try:
            if t is None:
                raise ValueError("the field is not a top-level primitive of the schema")
            return _CASTS[cast_to][0](t, _from_bytes(t, raw))
        except (ValueError, struct.error) as e:
            raise ValueError(
                f"{side[:5]} bound of field {fid} in {data_file['file_path']!r} "
                f"cannot be read as {cast_to}: {e}"
            ) from None

    def pruned(data_file: dict[str, Any], spec_id: int) -> bool:
        part = data_file.get("partition") or {}
        unknown = False
        for fname, want in parts.get(spec_id, ()):
            got = _json_text(part.get(fname))
            if got != want:
                if got is not None:
                    return True
                unknown = True
        if hi is not None:
            lower = read(data_file, "lower_bounds")
            if lower is not None and lower > hi:
                return True
        if lo is not None:
            upper = read(data_file, "upper_bounds")
            if upper is not None and upper < lo:
                return True
        for gfid, gt, (xmin, ymin, xmax, ymax) in geo:
            lox, loy = geo_keys(gt, _bound(data_file.get("lower_bounds"), gfid))
            hix, hiy = geo_keys(gt, _bound(data_file.get("upper_bounds"), gfid))
            if (
                hix is not None and hix < xmin
                or lox is not None and lox > xmax
                or hiy is not None and hiy < ymin
                or loy is not None and loy > ymax
            ):
                return True
        return unknown

    return pruned
