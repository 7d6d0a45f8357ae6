"""Partition transforms: Iceberg-spec Appendix-B hash vectors, the
numpy-kernel ≡ pure-Python property, Spark-side derivation parity,
and source-predicate projection in plan_scan.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from iceberg_tools_spark.functions.bucket_kernel import _hash_long_numpy
from iceberg_tools_spark.iceberg import transforms as tr

TRANS_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "transforms")
V3 = os.path.join(TRANS_DIR, "v3.metadata.json")


# ------------------------------------------------ spec hash vectors


def test_spec_appendix_b_vectors():
    # the Iceberg spec's own published test values
    assert tr.bucket_hash(34, "int") == 2017239379
    assert tr.bucket_hash(34, "long") == 2017239379
    assert tr.bucket_hash(dt.date(2017, 11, 16), "date") == -653330422
    assert tr.bucket_hash(81068000000, "time") == -662762989
    assert tr.bucket_hash(dt.datetime(2017, 11, 16, 22, 31, 8), "timestamp") == -2047944441
    assert (
        tr.bucket_hash(
            dt.datetime(2017, 11, 16, 22, 31, 8, tzinfo=dt.timezone.utc), "timestamptz"
        )
        == -2047944441
    )
    assert tr.bucket_hash("iceberg", "string") == 1210000089
    assert tr.bucket_hash(b"\x00\x01\x02\x03", "binary") == -188683207


def test_int_and_long_agree():
    for v in (0, 1, -1, 34, 2**31 - 1, -(2**31)):
        assert tr.bucket_hash(v, "int") == tr.bucket_hash(v, "long")


def test_temporal_ordinals():
    d = dt.date(2017, 11, 16)
    assert tr.apply_transform("year", d, "date") == 47
    assert tr.apply_transform("month", d, "date") == 574
    assert tr.apply_transform("day", d, "date") == 17486
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert tr.apply_transform("day", ts, "timestamp") == 17486
    assert tr.apply_transform("hour", ts, "timestamp") == 17486 * 24 + 22
    # pre-epoch floors toward -inf (1969-12-31T23:00 is day -1, hour -1)
    pre = dt.datetime(1969, 12, 31, 23, 0, 0)
    assert tr.apply_transform("day", pre, "timestamp") == -1
    assert tr.apply_transform("hour", pre, "timestamp") == -1


def test_nulls_and_void():
    assert tr.apply_transform("bucket[8]", None, "long") is None
    assert tr.apply_transform("void", 42, "long") is None
    assert tr.bucket_value(None, "long", 8) is None


def test_unknown_transform_raises():
    with pytest.raises(ValueError, match="unknown partition transform"):
        tr.apply_transform("zorder", 1, "long")
    with pytest.raises(ValueError, match="bucket transform unsupported"):
        tr.bucket_hash(1.5, "double")  # spec: no float bucketing


# ------------------------------------------------ numpy kernel ≡ pure python


def test_numpy_kernel_matches_pure_python():
    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, 500),
            np.array([0, 1, -1, 34, 2**63 - 1, -(2**63)]),
        ]
    ).astype(np.int64)
    got = _hash_long_numpy(vals).view(np.int32)
    for v, h in zip(vals.tolist(), got.tolist()):
        assert h == tr.murmur3_32(int(v).to_bytes(8, "little", signed=True)), v


# ------------------------------------------------ Spark-side derivation parity


def test_transform_column_matches_apply_transform(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rows = [
        (i, v, s, d, ts)
        for i, (v, s, d, ts) in enumerate(
            [
                (34, "iceberg", dt.date(2017, 11, 16), dt.datetime(2017, 11, 16, 22, 31, 8)),
                (-7, "", dt.date(1969, 6, 1), dt.datetime(1969, 12, 31, 23, 59, 59)),
                (0, "a", dt.date(1970, 1, 1), dt.datetime(1970, 1, 1, 0, 0, 0)),
                (2**40, "héllo wörld", dt.date(2024, 2, 29), dt.datetime(2024, 2, 29, 12, 30, 45)),
                (None, None, None, None),
            ]
        )
    ]
    df = spark.createDataFrame(
        rows, "i int, v long, s string, d date, ts timestamp_ntz"
    )
    out = df.select(
        "i",
        tr.transform_column("bucket[16]", F.col("v"), "long").alias("bv"),
        tr.transform_column("bucket[16]", F.col("s"), "string").alias("bs"),
        tr.transform_column("bucket[16]", F.col("d"), "date").alias("bd"),
        tr.transform_column("bucket[16]", F.col("ts"), "timestamp").alias("bts"),
        tr.transform_column("year", F.col("d"), "date").alias("yd"),
        tr.transform_column("month", F.col("ts"), "timestamp").alias("mts"),
        tr.transform_column("day", F.col("ts"), "timestamp").alias("dts"),
        tr.transform_column("hour", F.col("ts"), "timestamp").alias("hts"),
        tr.transform_column("truncate[10]", F.col("v"), "long").alias("tv"),
    ).orderBy("i")
    for r, (_, v, s, d, ts) in zip(out.collect(), rows):
        assert r["bv"] == tr.apply_transform("bucket[16]", v, "long")
        assert r["bs"] == tr.apply_transform("bucket[16]", s, "string")
        assert r["bd"] == tr.apply_transform("bucket[16]", d, "date")
        assert r["bts"] == tr.apply_transform("bucket[16]", ts, "timestamp")
        if d is not None:
            assert r["yd"] == tr.apply_transform("year", d, "date")
        if ts is not None:
            assert r["mts"] == tr.apply_transform("month", ts, "timestamp")
            assert r["dts"] == tr.apply_transform("day", ts, "timestamp")
            assert r["hts"] == tr.apply_transform("hour", ts, "timestamp")
            assert r["tv"] == tr.apply_transform("truncate[10]", v, "long")


def test_bucket_udf_is_arrow_batched(spark):
    # the bucket path must be a pandas UDF (ArrowEvalPython /
    # Batch), never a row-at-a-time PythonUDF
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        tr.transform_column("bucket[4]", F.col("id"), "long").alias("b")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "PythonUDF" not in plan


# ------------------------------------------------ plan_scan source_pred


def test_source_pred_unknown_column_raises(spark):
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    with pytest.raises(ValueError, match="partition sources of no spec"):
        plan_scan(spark, V3, 4002, source_pred={"payload": "p1"})


def test_source_pred_bucket_day_pruning(spark):
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    # id=6 → bucket 1; no day predicate: both days' bucket-1 side
    sel = (
        plan_scan(spark, V3, 4002, source_pred={"id": 6})
        .filter("selected")
        .select("file_path")
        .collect()
    )
    assert [r[0].rsplit("/", 1)[-1] for r in sel] == ["b1.parquet"]
    # day-only predicate: both buckets of 2024-01-16
    sel = (
        plan_scan(
            spark, V3, 4002,
            source_pred={"ts": dt.datetime(2024, 1, 16, 0, 0, 0)},
        )
        .filter("selected")
        .select("file_path")
        .collect()
    )
    assert sorted(r[0].rsplit("/", 1)[-1] for r in sel) == ["b2.parquet", "b3.parquet"]


def test_source_pred_manifest_level_prunes_unopened(spark):
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    # non-debug: the wrong-day manifest never opens, so its files
    # simply don't appear in the decision table
    out = plan_scan(
        spark, V3, 4002,
        source_pred={"id": 6, "ts": dt.datetime(2024, 1, 15, 12, 0, 0)},
    ).collect()
    names = {r["manifest_name"] for r in out}
    assert names == {"manifest-4001.avro"}


def test_source_pred_across_spec_evolution(spark):
    # the MoR fixture: spec 0 = identity(category), spec 1 adds
    # truncate[100](id). source_pred on id constrains ONLY spec-1
    # manifests; spec-0 files stay unconstrained (pre-evolution data
    # may hold any id)
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    out = plan_scan(
        spark,
        os.path.join(MOR_DIR, "v2.metadata.json"),
        2004,
        source_pred={"id": 305},
        debug=True,
    ).collect()
    by_file = {r["file_path"].rsplit("/", 1)[-1]: r for r in out}
    assert by_file["F.parquet"]["selected"]  # truncate(305)=300 matches
    for f in ("A.parquet", "B.parquet", "C.parquet", "D.parquet"):
        assert by_file[f]["selected"], f  # spec 0 has no id field


def test_fixture_regeneration_is_deterministic(tmp_path):
    from .conftest import regenerated_fixture_diffs

    out = str(tmp_path / "fixture")
    assert regenerated_fixture_diffs("gen_transforms_fixture.py", TRANS_DIR, out) == []


def test_micros_pre_epoch_subsecond():
    """ADVICE r6: int(total_seconds()) truncates toward zero, so
    pre-epoch sub-second datetimes were off by up to ~1s (and day
    ordinal 0 instead of -1). The timedelta-component formula is
    exact on both sides of the epoch."""
    import datetime as dt

    from iceberg_tools_spark.iceberg.transforms import _micros, apply_transform

    v = dt.datetime(1969, 12, 31, 23, 59, 59, 500000)
    assert _micros(v) == -500_000
    assert apply_transform("day", v, "timestamp") == -1
    assert apply_transform("hour", v, "timestamp") == -1
    assert _micros(dt.datetime(1970, 1, 1, 0, 0, 0, 250000)) == 250_000
    assert _micros(dt.datetime(1969, 12, 31, 0, 0, 0, 1)) == -86_400_000_000 + 1
    # tz-aware pre-epoch goes through the same path
    v_tz = dt.datetime(1970, 1, 1, 0, 59, 59, 500000,
                       tzinfo=dt.timezone(dt.timedelta(hours=1)))
    assert _micros(v_tz) == -500_000


def test_timestamp_ns_transforms_agree_with_micros():
    """v3 nanosecond timestamps floor to micros before bucketing and
    temporal derivation (spec Appendix B: a precision evolution must
    not re-bucket or re-partition rows)."""
    from iceberg_tools_spark.iceberg.transforms import (
        apply_transform,
        bucket_value,
    )

    micros = 1_700_000_123_456_789
    nanos = micros * 1000 + 999  # sub-micro tail must floor away
    for n in (4, 16, 128):
        assert bucket_value(nanos, "timestamp_ns", n) == \
            bucket_value(micros, "timestamp", n)
        assert bucket_value(nanos, "timestamptz_ns", n) == \
            bucket_value(micros, "timestamptz", n)
    for tr in ("year", "month", "day", "hour"):
        assert apply_transform(tr, nanos, "timestamp_ns") == \
            apply_transform(tr, micros, "timestamp"), tr
    # pre-epoch nanos floor toward -inf, exactly like micros//
    neg_ns = -1_500  # -1.5µs → floors to -2µs
    assert apply_transform("day", neg_ns, "timestamp_ns") == \
        apply_transform("day", -2, "timestamp")


def test_timestamp_ns_result_types_and_column():
    from iceberg_tools_spark.iceberg.transforms import (
        transform_result_type,
    )

    assert transform_result_type("hour", "timestamp_ns") == "int"
    assert transform_result_type("bucket[8]", "timestamptz_ns") == "int"
