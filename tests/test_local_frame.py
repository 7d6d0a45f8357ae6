"""``session.local_frame``: driver-built rows reach Spark as one Arrow
``LocalRelation``.

- equivalence: for every schema the library hands to it, random rows
  collect to exactly what ``spark.createDataFrame(rows, schema)``
  collects (same values, same order), with a non-UTC local zone;
- rejection: every row ``createDataFrame``'s verifier rejects, the
  helper rejects too;
- job counts: the metadata tables built on it collect without a Spark
  job, and ``plan_scan``'s driver branch plans a ``LocalTableScan``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from iceberg_tools_spark.iceberg.deletes import DELETE_FILES_SCHEMA
from iceberg_tools_spark.iceberg.metadata import parse_metadata
from iceberg_tools_spark.iceberg.snapshots import (
    MS_DIR,
    MS_METADATA,
    SCAN_PLAN_SCHEMA,
    files_at,
    plan_scan,
)
from iceberg_tools_spark.iceberg.tables import (
    ENTRIES_SCALAR_SCHEMA,
    ENTRIES_SCHEMA,
    HISTORY_SCHEMA,
    SNAPSHOTS_SCHEMA,
    history_df,
    snapshots_df,
)
from iceberg_tools_spark.session import local_frame

from .conftest import spark_job_ids

# every type a library schema uses, plus TimestampType, dates,
# decimals, a non-nullable array element and timestamps in an array
# of structs
_MIXED_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), nullable=False),
    T.StructField("at", T.TimestampType()),
    T.StructField("day", T.DateType()),
    T.StructField("b", T.ByteType()),
    T.StructField("s", T.ShortType()),
    T.StructField("f", T.FloatType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("amount", T.DecimalType(10, 2)),
    T.StructField("blob", T.BinaryType()),
    T.StructField("tags", T.ArrayType(T.StringType(), containsNull=False)),
    T.StructField("events", T.ArrayType(T.StructType([
        T.StructField("seen", T.TimestampType()),
        T.StructField("sizes", T.MapType(T.IntegerType(), T.LongType())),
    ]))),
])

SCHEMAS = {
    "entries": ENTRIES_SCHEMA,
    "entries_scalar": ENTRIES_SCALAR_SCHEMA,
    "snapshots": SNAPSHOTS_SCHEMA,
    "history": HISTORY_SCHEMA,
    "plan_scan_tagged": SCAN_PLAN_SCHEMA,
    "delete_files": DELETE_FILES_SCHEMA,
    "dml_parts_ddl": "p_rel string, sid int, pjson string",
    "mixed": _MIXED_SCHEMA,
}

_DATETIMES = st.datetimes(dt.datetime(1900, 1, 1), dt.datetime(2200, 1, 1))
_ATOMS = {
    T.BooleanType: st.booleans(),
    T.ByteType: st.integers(-(2**7), 2**7 - 1),
    T.ShortType: st.integers(-(2**15), 2**15 - 1),
    T.IntegerType: st.integers(-(2**31), 2**31 - 1),
    T.LongType: st.integers(-(2**63), 2**63 - 1),
    T.FloatType: st.floats(allow_nan=False, width=32),
    T.DoubleType: st.floats(allow_nan=False),
    T.StringType: st.text(max_size=6),
    T.BinaryType: st.binary(max_size=6),
    T.DateType: st.dates(dt.date(1900, 1, 1), dt.date(2200, 1, 1)),
    T.TimestampType: _DATETIMES,
    T.TimestampNTZType: _DATETIMES,
}


def _struct(schema: T.StructType | str) -> T.StructType:
    return T._parse_datatype_string(schema) if isinstance(schema, str) else schema


def _values(dtype: T.DataType, nullable: bool) -> st.SearchStrategy:
    if isinstance(dtype, T.DecimalType):
        bound = decimal.Decimal(10) ** (dtype.precision - dtype.scale) - 1
        s = st.decimals(-bound, bound, places=dtype.scale, allow_nan=False)
    elif isinstance(dtype, T.ArrayType):
        s = st.lists(_values(dtype.elementType, dtype.containsNull), max_size=3)
    elif isinstance(dtype, T.MapType):
        s = st.dictionaries(
            _values(dtype.keyType, False),
            _values(dtype.valueType, dtype.valueContainsNull),
            max_size=3,
        )
    elif isinstance(dtype, T.StructType):
        s = st.tuples(*[_values(f.dataType, f.nullable) for f in dtype.fields])
    else:
        s = _ATOMS[type(dtype)]
    return st.none() | s if nullable else s


def _rows(schema: T.StructType) -> st.SearchStrategy:
    return st.lists(_values(schema, False), max_size=8)


@pytest.fixture()
def local_zone():
    """A non-UTC local zone with DST for this process: a naive
    datetime in a ``TimestampType`` column means local time."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize("name", sorted(SCHEMAS))
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_local_frame_collects_what_create_dataframe_collects(spark, local_zone, name, data):
    schema = SCHEMAS[name]
    rows = data.draw(_rows(_struct(schema)))
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_naive_timestamp_means_local_time(spark, local_zone):
    schema = "at timestamp, ntz timestamp_ntz"
    naive = dt.datetime(2024, 1, 1)
    (row,) = (
        local_frame(spark, [(naive, naive)], schema)
        .selectExpr("unix_micros(at) AS at", "unix_micros(to_timestamp(ntz)) AS ntz")
        .collect()
    )
    # New York is UTC-5 in January; the session zone (UTC) reads the NTZ value
    assert row.at == (1704067200 + 5 * 3600) * 1_000_000
    assert row.ntz == 1704067200 * 1_000_000


_WRONG = [None, "x", 1.5, 2**31, 2**63, True, b"x", [], {}, (1,), dt.date(2024, 1, 1)]


@pytest.mark.parametrize("name", sorted(SCHEMAS))
@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_local_frame_rejects_what_create_dataframe_rejects(spark, name, data):
    """Put one value from a pool of wrong ones at a random place —
    a top-level field, a map value, an array element, a nested
    struct field — and whenever ``createDataFrame`` rejects the rows,
    the helper must reject them too."""
    schema = SCHEMAS[name]
    struct = _struct(schema)
    row = list(data.draw(_values(struct, False)))
    i = data.draw(st.integers(0, len(struct.fields) - 1))
    bad = data.draw(st.sampled_from(_WRONG))
    ftype = struct.fields[i].dataType
    if isinstance(ftype, T.MapType) and data.draw(st.booleans()):
        bad = {data.draw(_values(ftype.keyType, False)): bad}
    elif isinstance(ftype, T.ArrayType) and data.draw(st.booleans()):
        elem = ftype.elementType
        if isinstance(elem, T.StructType):
            inner = list(data.draw(_values(elem, False)))
            inner[data.draw(st.integers(0, len(inner) - 1))] = bad
            bad = tuple(inner)
        bad = [bad]
    row[i] = bad
    try:
        spark.createDataFrame([tuple(row)], schema)
    except (TypeError, ValueError):
        with pytest.raises((TypeError, ValueError, OverflowError)):
            local_frame(spark, [tuple(row)], schema)


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(None, None)], "a long not null, b string"),
        ([("1",)], "a long"),
        ([(2**31,)], "a int"),
        ([(1.5,)], "a long"),
        ([(1,)], "a double"),
        ([({1: None},)], T.StructType([T.StructField(
            "m", T.MapType(T.IntegerType(), T.LongType(), valueContainsNull=False))])),
        ([(1, 2)], "a long"),
    ],
)
def test_local_frame_rejects_each_verifier_case(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, schema)
    with pytest.raises((TypeError, ValueError, OverflowError)):
        local_frame(spark, rows, schema)


def test_local_frame_refuses_what_arrow_conversion_would_change(spark):
    """A null map of nested values would reach Spark as an empty map
    through its Arrow conversion, so the helper raises instead."""
    schema = "m map<string, array<long>>"
    assert spark.createDataFrame([(None,)], schema).collect()[0].m is None
    with pytest.raises(ValueError, match="null map"):
        local_frame(spark, [(None,)], schema)
    assert local_frame(spark, [({"a": [1]},)], schema).collect()[0].m == {"a": [1]}


def test_local_frame_takes_dicts_by_name(spark):
    rows = [{"b": "x", "a": 1}, {"a": 2}]
    assert (
        local_frame(spark, rows, "a long, b string").collect()
        == spark.createDataFrame(rows, "a long, b string").collect()
    )


# ---- job counts ----------------------------------------------------


def test_metadata_tables_collect_without_a_job(spark):
    meta = parse_metadata(MS_METADATA)
    with spark_job_ids(spark) as control:
        spark.createDataFrame([(1,)], "a long").collect()
    assert control, "the job counter sees a pickled-rows collect"
    for build in (
        lambda: snapshots_df(spark, meta),
        lambda: history_df(spark, meta),
        lambda: files_at(spark, MS_METADATA, 1004, MS_DIR),  # 3 small manifests: driver branch
    ):
        df = build()
        with spark_job_ids(spark) as ids:
            rows = df.collect()
        assert rows and ids == []


def test_plan_scan_driver_branch_scans_a_local_relation(spark):
    df = plan_scan(spark, MS_METADATA, 1004, partition_pred={"category": "z"})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
