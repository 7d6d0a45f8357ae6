"""Iceberg partition transforms — bucket[N] and the temporal family
(year/month/day/hour) alongside identity/truncate.

Two implementations of the SAME public definitions (Iceberg spec,
"Partition Transforms" + Appendix B "32-bit Hash Requirements"):

* **pure Python** (:func:`apply_transform`) — driver-side planning:
  projecting a source-column predicate into partition space so
  `plan_scan` can prune manifests/files of bucket- or
  day-partitioned tables;
* **Spark columns** (:func:`transform_column`) — data-scale
  derivation for DML inserts: temporal transforms compile to
  built-in JVM expressions; bucket compiles to an Arrow-batched
  pandas UDF whose int/long path is a fully vectorized numpy
  murmur3 kernel (two 4-byte blocks of the little-endian long —
  no per-row Python in the hot path).

Bucket is `(murmur3_x86_32(encode(v)) & Integer.MAX_VALUE) % N`
with the spec's encodings: int/long/date/time/timestamp hash as the
8-byte little-endian long, strings as UTF-8 bytes, binary as-is.
Temporal transforms yield epoch-relative ordinals (years/months/
days/hours since 1970-01-01T00:00:00).

The spec's own test vectors (34 → 2017239379, "iceberg" →
1210000089, 2017-11-16 → -653330422, …) pin both implementations in
tests/test_transforms.py.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "murmur3_32",
    "bucket_hash",
    "bucket_value",
    "apply_transform",
    "transform_column",
    "transform_result_type",
]

_C1, _C2 = 0xCC9E2D51, 0x1B873593
_M = 0xFFFFFFFF

_BUCKET_RE = re.compile(r"bucket\[(\d+)\]")
_TRUNCATE_RE = re.compile(r"truncate\[(\d+)\]")

_EPOCH_DATE = _dt.date(1970, 1, 1)


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public algorithm), SIGNED 32-bit result —
    the hash function Appendix B mandates for bucketing."""
    h = seed & _M
    n = len(data)
    for i in range(0, n - 3, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _C1) & _M
        k = ((k << 15) | (k >> 17)) & _M
        k = (k * _C2) & _M
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M
        h = (h * 5 + 0xE6546B64) & _M
    tail = data[n - n % 4 :]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * _C1) & _M
        k = ((k << 15) | (k >> 17)) & _M
        k = (k * _C2) & _M
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _micros(v: Any) -> int:
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # timedelta components, not int(total_seconds()): truncation
        # toward zero breaks pre-epoch sub-second values (e.g.
        # 1969-12-31T23:59:59.500 must be -500000, not +500000)
        d = v - _dt.datetime(1970, 1, 1)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return int(v)


def _micros_of(v: Any, typ: str) -> int:
    """Epoch micros from a timestamp value of EITHER precision:
    raw ints are nanos for the v3 ``*_ns`` types (floor-divided to
    micros, the spec's rule so bucket/temporal transforms agree
    across a precision evolution) and micros otherwise."""
    if isinstance(v, _dt.datetime):
        return _micros(v)
    return int(v) // 1000 if typ in ("timestamp_ns", "timestamptz_ns") else int(v)


def _days(v: Any) -> int:
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return (v - _EPOCH_DATE).days
    if isinstance(v, str):
        return (_dt.date.fromisoformat(v) - _EPOCH_DATE).days
    return int(v)


def bucket_hash(value: Any, typ: str) -> int:
    """Spec Appendix B encodings → murmur3. int/long/date/time/
    timestamp all hash as the value widened to a little-endian
    long (so bucket(int 34) == bucket(long 34))."""
    if typ in ("int", "long"):
        enc = int(value).to_bytes(8, "little", signed=True)
    elif typ == "date":
        enc = _days(value).to_bytes(8, "little", signed=True)
    elif typ == "time":
        enc = int(value).to_bytes(8, "little", signed=True)
    elif typ in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
        # ns values floor to micros before hashing (spec Appendix B:
        # precision evolution must not re-bucket rows)
        enc = _micros_of(value, typ).to_bytes(8, "little", signed=True)
    elif typ == "string":
        enc = value.encode("utf-8")
    elif typ in ("binary",) or typ.startswith("fixed"):
        enc = bytes(value)
    else:
        raise ValueError(f"bucket transform unsupported over type {typ!r}")
    return murmur3_32(enc)


def bucket_value(value: Any, typ: str, n: int) -> int | None:
    if value is None:
        return None
    return (bucket_hash(value, typ) & 0x7FFFFFFF) % n


def apply_transform(transform: str, value: Any, typ: str) -> Any:
    """Pure-Python partition-value derivation — the planning twin of
    :func:`transform_column` (predicate projection into partition
    space happens driver-side on single values)."""
    if value is None:
        return None
    if transform == "identity":
        return value
    if m := _TRUNCATE_RE.fullmatch(transform):
        w = int(m.group(1))
        if typ in ("int", "long"):
            return value - (((value % w) + w) % w)
        if typ == "string":
            return value[:w]
        raise ValueError(f"truncate unsupported over {typ!r}")
    if m := _BUCKET_RE.fullmatch(transform):
        return bucket_value(value, typ, int(m.group(1)))
    if transform in ("year", "month"):
        if typ == "date":
            d = value if isinstance(value, _dt.date) else _dt.date.fromisoformat(value)
        elif typ in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
            d = (
                _dt.datetime(1970, 1, 1)
                + _dt.timedelta(microseconds=_micros_of(value, typ))
            ).date()
        else:
            raise ValueError(f"{transform} unsupported over {typ!r}")
        return (d.year - 1970) if transform == "year" else (d.year - 1970) * 12 + d.month - 1
    if transform == "day":
        if typ == "date":
            return _days(value)
        if typ in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
            return _micros_of(value, typ) // 86_400_000_000
        raise ValueError(f"day unsupported over {typ!r}")
    if transform == "hour":
        if typ in ("timestamp", "timestamptz", "timestamp_ns", "timestamptz_ns"):
            return _micros_of(value, typ) // 3_600_000_000
        raise ValueError(f"hour unsupported over {typ!r}")
    if transform == "void":
        return None
    raise ValueError(f"unknown partition transform {transform!r}")


def transform_result_type(transform: str, source_type: str) -> str:
    """Result-type table from the spec: identity/truncate preserve;
    bucket and the temporal ordinals are int."""
    if transform == "identity" or transform.startswith("truncate"):
        return source_type
    if transform.startswith("bucket") or transform in ("year", "month", "day", "hour"):
        return "int"
    if transform == "void":
        return source_type
    raise ValueError(f"unsupported partition transform {transform!r}")


# ------------------------------------------------ Spark-side derivation


def transform_column(transform: str, col: Column, typ: str) -> Column:
    """Partition-value derivation as a Spark Column — what DML
    inserts evaluate data-side. Temporal transforms are pure JVM
    built-ins; bucket is an Arrow-batched pandas UDF (numpy
    murmur3 for the 8-byte-long family, per-row only for strings)."""
    if transform == "identity":
        return col
    if m := _TRUNCATE_RE.fullmatch(transform):
        w = int(m.group(1))
        if typ in ("int", "long"):
            return col - (((col % w) + w) % w)
        if typ == "string":
            return F.substring(col, 1, w)
        raise ValueError(f"truncate unsupported over {typ!r}")
    if m := _BUCKET_RE.fullmatch(transform):
        n = int(m.group(1))
        from ..functions.bucket_kernel import bucket_long_col, bucket_string_col

        if typ in ("int", "long", "date", "time", "timestamp", "timestamptz",
                   "timestamp_ns", "timestamptz_ns"):
            if typ == "date":
                col = F.datediff(col, F.lit("1970-01-01")).cast("long")
            elif typ in ("timestamp", "timestamptz",
                         "timestamp_ns", "timestamptz_ns"):
                # Spark columns are micro-precision either way; a ns
                # SOURCE type only changes the metadata declaration
                tz = typ in ("timestamptz", "timestamptz_ns")
                col = _epoch_micros(col, "timestamptz" if tz else "timestamp")
            else:
                col = col.cast("long")
            return bucket_long_col(col, n)
        if typ == "string":
            return bucket_string_col(col, n)
        raise ValueError(f"bucket unsupported over {typ!r}")
    # temporal ordinals, derived tz-independently from the civil
    # date/time fields (works for date, timestamp AND timestamp_ntz
    # columns without touching the session timezone)
    if transform == "year":
        return F.year(col) - F.lit(1970)
    if transform == "month":
        return (F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)
    if transform == "day":
        return F.datediff(F.to_date(col), F.lit("1970-01-01"))
    if transform == "hour":
        return (
            F.datediff(F.to_date(col), F.lit("1970-01-01")) * F.lit(24) + F.hour(col)
        ).cast("int")
    if transform == "void":
        return F.lit(None)
    raise ValueError(f"unknown partition transform {transform!r}")


def _epoch_micros(col: Column, typ: str) -> Column:
    """Microseconds since epoch as LONG. ``timestamptz`` reads
    directly; ``timestamp`` (NTZ) is composed from its civil fields
    so the result never depends on ``spark.sql.session.timeZone``."""
    if typ == "timestamptz":
        return F.unix_micros(col)
    day = F.datediff(F.to_date(col), F.lit("1970-01-01")).cast("long")
    in_day = (
        F.hour(col).cast("long") * F.lit(3_600_000_000)
        + F.minute(col).cast("long") * F.lit(60_000_000)
        # date_part SECOND carries the fractional part (micros)
        + (F.date_part(F.lit("SECOND"), col) * F.lit(1_000_000)).cast("long")
    )
    return day * F.lit(86_400_000_000) + in_day


# ------------------------------------------------ driver-gate queries

_TRANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "transforms",
)
TRANS_METADATA = os.path.join(_TRANS_DIR, "v3.metadata.json")
_TLOC = "file:///tmp/transforms_table"


def scan_plan_transforms(spark, sf_dir):
    """Driver gate: two-level pruning of a ``bucket[4](id), day(ts)``
    table from a SOURCE-column predicate (``id = 6 AND ts ∈
    2024-01-15``), projected through the spec's transforms — the
    wrong-day manifest prunes at the manifest list (its Avro never
    opens in production mode), the wrong-bucket file prunes at the
    entry level, exactly one file selects. Golden oracle: the full
    debug decision table. (``sf_dir`` unused: metadata queries run
    on repo fixtures.)"""
    import datetime as dt

    from .snapshots import plan_scan

    return plan_scan(
        spark,
        TRANS_METADATA,
        4002,
        source_pred={"id": 6, "ts": dt.datetime(2024, 1, 15, 12, 0, 0)},
        debug=True,
    ).orderBy("file_path")


SCAN_PLAN_TRANSFORMS_SQL = f"""
SELECT manifest_name, file_path, partition_json,
       CAST(record_count AS BIGINT) AS record_count,
       manifest_pruned, file_pruned, selected
FROM (VALUES
  ('manifest-4001.avro', '{_TLOC}/data/id_bucket=0/ts_day=19737/b0.parquet',
   '{{"id_bucket": 0, "ts_day": 19737}}', 3, false, true,  false),
  ('manifest-4001.avro', '{_TLOC}/data/id_bucket=1/ts_day=19737/b1.parquet',
   '{{"id_bucket": 1, "ts_day": 19737}}', 3, false, false, true),
  ('manifest-4002.avro', '{_TLOC}/data/id_bucket=2/ts_day=19738/b2.parquet',
   '{{"id_bucket": 2, "ts_day": 19738}}', 3, true,  true,  false),
  ('manifest-4002.avro', '{_TLOC}/data/id_bucket=3/ts_day=19738/b3.parquet',
   '{{"id_bucket": 3, "ts_day": 19738}}', 3, true,  true,  false)
) t(manifest_name, file_path, partition_json, record_count,
    manifest_pruned, file_pruned, selected)
ORDER BY file_path
"""


def merge_transform_partitions(spark, sf_dir):
    """Driver gate for TRANSFORM-DERIVED insert partitions: an
    insert-only MERGE into a scratch copy of the transforms fixture
    lands ids 8/15/21/26 (one per bucket, by the spec's murmur3) at
    2024-01-17 — staged data-side through the Arrow-batched numpy
    bucket kernel + JVM day ordinal, committed, and read back as
    the new snapshot's per-partition file/row counts. Golden
    oracle: the four (bucket, 19739) partitions, one file and one
    row each — values pinned to the Iceberg spec's Appendix-B hash.
    (``sf_dir`` unused.)"""
    import datetime as dt

    from pyspark.sql import functions as F

    from .commit import _scratch_table
    from .dml import merge_into
    from .snapshots import files_added_between

    root = _scratch_table("transform_merge_", _TRANS_DIR)
    mp = os.path.join(root, "v3.metadata.json")
    ts = dt.datetime(2024, 1, 17, 9, 0, 0)
    source = local_frame(
        spark,
        [(i, ts, f"n{i}") for i in (8, 15, 21, 26)],
        "id long, ts timestamp_ntz, payload string",
    )
    res = merge_into(
        spark, mp, source, on="t.id = s.id", when_not_matched_insert=True
    )
    return (
        files_added_between(spark, res["metadata_path"], 4002, res["snapshot_id"])
        .groupBy("partition_json")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("record_count").alias("n_rows"),
        )
        .orderBy("partition_json")
    )


MERGE_TRANSFORM_PARTITIONS_SQL = """
SELECT partition_json, CAST(n_files AS BIGINT) AS n_files,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (VALUES
  ('{"id_bucket": 0, "ts_day": 19739}', 1, 1),
  ('{"id_bucket": 1, "ts_day": 19739}', 1, 1),
  ('{"id_bucket": 2, "ts_day": 19739}', 1, 1),
  ('{"id_bucket": 3, "ts_day": 19739}', 1, 1)
) t(partition_json, n_files, n_rows)
ORDER BY partition_json
"""
