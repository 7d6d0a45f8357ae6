"""Import-gated table-format connectors + schema-pinned file readers.

This container ships no Iceberg/Delta runtime jars, so the lakehouse
connectors probe for their classes at call time and raise a single
clear error instead of a JVM stack trace. On a real cluster (jars on
the classpath) they are thin pass-throughs to Spark's native
connectors — which give partition pruning, hidden-partition
transforms, metadata-table reads, and snapshot time travel for free.

For Iceberg metadata WITHOUT the runtime jar, the pure-Python bridge
(`manifest_entries_df` et al., re-exported from ..iceberg.tables)
parses manifest Avro + metadata JSON driver-side — they are KB-scale
— and serves them as DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..iceberg.tables import (  # noqa: F401  (re-exported bridge)
    files_df,
    history_df,
    manifest_entries_df,
    partitions_df,
    snapshots_df,
)


class ConnectorUnavailable(RuntimeError):
    """The required runtime jars are not on this cluster's classpath."""


def _has_class(spark: SparkSession, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def read_iceberg(
    spark: SparkSession, table_or_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """spark.read.format('iceberg') with optional time travel."""
    if not _has_class(spark, "org.apache.iceberg.spark.source.IcebergSource"):
        raise ConnectorUnavailable(
            "Iceberg runtime jar not on classpath; add "
            "org.apache.iceberg:iceberg-spark-runtime to spark.jars.packages. "
            "For metadata-only access use manifest_entries_df (pure Python)."
        )
    r = spark.read.format("iceberg")
    if snapshot_id is not None:
        r = r.option("snapshot-id", str(snapshot_id))
    return r.load(table_or_path)


def read_delta(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    if not _has_class(spark, "org.apache.spark.sql.delta.DeltaLog"):
        raise ConnectorUnavailable(
            "Delta runtime jar not on classpath; add io.delta:delta-spark "
            "to spark.jars.packages."
        )
    r = spark.read.format("delta")
    if version is not None:
        r = r.option("versionAsOf", str(version))
    return r.load(path)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str, **options: str
) -> DataFrame:
    """Schema-pinned JSON-lines scan (no inference; stable types)."""
    return spark.read.options(**options).schema(schema).json(path)
