"""SparkSession factory.

Single place for engine configuration so local tests and a real
cluster share the same posture: AQE on (runtime coalesce + skew
join), Arrow transfers on, UTC session time, shuffle parallelism
sized to the machine instead of the 200 default.

It also holds :func:`local_frame`, the one way library code turns
rows built on the driver into a DataFrame.
"""

from __future__ import annotations

import os
from itertools import chain
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
# the largest k + 1 a ``row_number() <= k + 1`` window trims in place
WINDOW_GROUP_LIMIT = 4097


def get_spark(
    app_name: str = "iceberg_tools_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned local session.

    On a real cluster the same configs apply except master/memory,
    which come from the submitter; everything here is
    cluster-neutral.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # parallelism: match cores locally; AQE coalesces the rest
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # adaptive execution: runtime re-plan, partition coalescing,
        # skew-join splitting — the 100 TB safety nets
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # joins (r17, guide §3.1, ADVICE r16): AQE rewrites a
        # planned sort-merge to shuffled-hash at runtime when every
        # MEASURED post-shuffle partition is under the threshold
        # (64m = the AQE advisory partition size). The r16 static
        # knob (preferSortMergeJoin=false) is dropped: it flipped
        # joins on size ESTIMATES, which a post-explode/filter
        # misestimate can turn into an unspillable build side; the
        # AQE path checks actual sizes, so sort-merge stays the
        # fallback and the OOM posture is genuinely unchanged.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_MAX", "64m"),
        )
        # parquet writes (r16, guide §6): zstd — smaller than snappy
        # at similar read speed; applies to every engine/gate write
        .config("spark.sql.parquet.compression.codec", "zstd")
        # scalar Python UDFs (none on data paths, but any stragglers
        # cross the boundary as Arrow batches, not pickled rows —
        # guide §4.3/§9)
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # deterministic oracle comparisons
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas interchange (multimodal mapInPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: driver is the only JVM
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # top-k pushdown: a ``row_number() <= k + 1`` filter plans a
        # WindowGroupLimit only up to this k; the theta sketches trim
        # to 2**12 + 1 hashes per group (default 1000 would miss it)
        .config("spark.sql.optimizer.windowGroupLimitThreshold", str(WINDOW_GROUP_LIMIT))
        # split size: scan tasks target this many bytes per
        # partition; at cluster SF size it (with executor memory) so
        # a partition's working set fits — 128m default is the
        # right starting point, override per deployment
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---- driver rows → DataFrame ----------------------------------------

# the exact Python types ``createDataFrame``'s verifier accepts per
# Spark type; strings accept ``str`` only (the verifier lets any
# object through and the JVM stringifies it with Java's toString)
_ACCEPTED: dict[type, frozenset[type]] = {
    k: frozenset(v) for k, v in T._acceptable_types.items()
}
_ACCEPTED[T.StringType] = frozenset({str})
_NONE = type(None)
_REBUILT = (T.ArrayType, T.MapType, T.StructType, T.TimestampType, T.TimestampNTZType)


def _field_columns(
    structs: list[Any], fields: list[T.StructField], where: str
) -> list[list[Any]]:
    """Non-null struct values (tuples/lists by position, dicts by
    name, as ``StructType.toInternal``) → one value list per field."""
    names = [f.name for f in fields]
    if not any(isinstance(s, dict) for s in structs):
        odd = {type(s) for s in structs if not isinstance(s, (tuple, list))}
        if odd:
            raise TypeError(f"{where}: a struct cannot be {sorted(t.__name__ for t in odd)}")
        lengths = set(map(len, structs)) - {len(names)}
        if lengths:
            raise ValueError(
                f"{where}: {lengths.pop()} values for {len(names)} fields {names}"
            )
        return [list(c) for c in zip(*structs)] or [[] for _ in names]
    return [
        [s.get(n) if isinstance(s, dict) else s[i] for s in structs]
        for i, n in enumerate(names)
    ]


def _check(values: list[Any], dt: T.DataType, nullable: bool, where: str) -> None:
    """Raise where ``createDataFrame``'s verifier would: a Python type
    the Spark type does not accept, or a None where nulls are not
    allowed. Whole columns at a time; Arrow checks integer ranges."""
    kinds = set(map(type, values))
    if _NONE in kinds:
        if not nullable:
            raise ValueError(f"{where}: None in a non-nullable field")
        if isinstance(dt, T.MapType) and (
            isinstance(dt.keyType, _REBUILT) or isinstance(dt.valueType, _REBUILT)
        ):
            # Spark rebuilds such map arrays to localize timestamps and,
            # before pyarrow 17, drops their null mask (SPARK-48302):
            # a null map would arrive as an empty one
            raise ValueError(f"{where}: a null map of nested or timestamp values")
        kinds.discard(_NONE)
        values = [v for v in values if v is not None]
    if not kinds:
        return
    if isinstance(dt, T.StructType):
        for f, col in zip(dt.fields, _field_columns(values, dt.fields, where)):
            _check(col, f.dataType, f.nullable, f"{where}.{f.name}")
        return
    bad = kinds - _ACCEPTED.get(type(dt), frozenset())
    if bad:
        raise TypeError(
            f"{where}: {dt.simpleString()} cannot accept "
            f"{sorted(t.__name__ for t in bad)}"
        )
    if isinstance(dt, T.ArrayType):
        _check(list(chain.from_iterable(values)), dt.elementType,
               dt.containsNull, f"element of {where}")
    elif isinstance(dt, T.MapType):
        _check(list(chain.from_iterable(values)), dt.keyType, False, f"key of {where}")
        _check(list(chain.from_iterable(map(dict.values, values))), dt.valueType,
               dt.valueContainsNull, f"value of {where}")


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over rows built on the driver, handed to Spark as
    ONE Arrow table instead of ``createDataFrame(list)``'s pickled,
    parallelized rows.

    Below ``spark.sql.execution.arrow.localRelationThreshold`` the
    result is a ``LocalRelation``: projections, filters and
    ``collect`` run on the driver with no Spark job, sorts and
    aggregates run as JVM-only stages, and no action starts a Python
    worker. Rows and nested structs are tuples/lists (by position)
    or dicts (by name); ``schema`` is a ``StructType`` or a DDL
    string. The rows are checked column by column against what
    ``createDataFrame``'s verifier rejects — a wrong Python type, a
    None in a non-nullable field (Arrow rejects integer overflow) —
    and dates and timestamps go through the same ``toInternal`` as
    there, so a naive datetime in a ``TimestampType`` column means
    local time. Strings must be ``str``. Two shapes Spark's Arrow
    conversion cannot carry raise instead: a non-nullable field or
    element inside a struct or array that holds nested or timestamp
    types, and a null map whose keys or values are nested or
    timestamps.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    rows = rows if isinstance(rows, list) else list(rows)
    columns = _field_columns(rows, schema.fields, "row")
    arrow_schema = to_arrow_schema(schema)
    arrays = []
    for f, col, af in zip(schema.fields, columns, arrow_schema):
        _check(col, f.dataType, f.nullable, f.name)
        if f.dataType.needConversion():
            col = list(map(f.dataType.toInternal, col))
        arrays.append(pa.array(col, type=af.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )
