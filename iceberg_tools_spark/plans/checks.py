"""Physical-plan introspection for plan-shape assertions.

The 100 TB posture is enforced in tests, not prose: filters must
reach the parquet scan (PushedFilters), scans must be column-pruned
(ReadSchema), small dimensions must broadcast, nothing may
cartesian-join unless explicitly allowed, and the hot path must stay
inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jqe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def has_pushed_filters(df: DataFrame) -> bool:
    """At least one parquet scan received a pushed filter."""
    p = plan_string(df)
    return any(
        "PushedFilters: [" in line and "PushedFilters: []" not in line
        for line in p.splitlines()
    )


def read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema struct of every file scan in the plan."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in plan_string(df).splitlines()
        if "ReadSchema:" in line
    ]


def scan_columns(df: DataFrame) -> list[set[str]]:
    """Column-name sets read by each file scan."""
    import re

    out = []
    for s in read_schemas(df):
        out.append(set(re.findall(r"(\w+):", s.split("struct<", 1)[-1])))
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def cartesian_joins(df: DataFrame) -> int:
    p = plan_string(df)
    return p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin")


def no_python_eval(df: DataFrame) -> bool:
    """True when no row/batch ever leaves the JVM: no Python UDF
    evaluation operators anywhere in the plan."""
    p = plan_string(df, "simple")
    return not any(
        marker in p for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of SHUFFLE exchanges in the physical plan (AQE may
    still coalesce them at runtime). Broadcast exchanges don't
    count — they move one small table, not the data."""
    p = plan_string(df, "simple")
    return p.count("Exchange") - p.count("BroadcastExchange")
