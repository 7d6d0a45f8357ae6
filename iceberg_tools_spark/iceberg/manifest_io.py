"""Executor-parallel manifest parsing — the concurrency level real
Iceberg planning has (ManifestGroup reads manifests on a worker pool)
and the reference's single-threaded CLI doesn't need
(`ManifestFileReadTool.java` reads ONE manifest per invocation).

Every metadata path in this engine funnels manifest Avro through
here: above ``PARALLEL_THRESHOLD`` manifests, the pure-Python decode
(`avro/reader.py` — CPU-bound, about 0.1 s per MB of Avro on one
core, 0.12–0.16 s/MB with typed bounds rendered) ships to executors
as one RDD ``flatMap`` over ``(ctx, local_path)`` tasks. A task
carries no compiled codec: each Python worker compiles the schemas
it meets into its own process-wide cache and reuses it across tasks.
Below the threshold the driver parses inline, because a Spark job over two
manifests costs more in scheduling than it saves in parse time. The
callers hand those driver-parsed rows to Spark with
``session.local_frame`` (one Arrow ``LocalRelation``, no job to
collect it); the executor path's rows stay in the RDD
(``createDataFrame(rdd, schema)``).

Both paths keep task order: ``parallelize`` cuts the task list into
contiguous slices and ``flatMap`` keeps each slice's row order, so
the RDD holds the rows exactly as the driver loop would return them.
A caller that hands over its tasks in output order and has its
worker return each task's rows in output order gets an ordered
frame with no Spark sort: ``snapshots.plan_scan`` orders its tasks
by manifest name and its rows by ``file_path``, so collecting a plan
runs one job on the executor path and none on the driver path.

This was VERDICT r8's #1 scale gap: an unselective scan of a
100×-scale table (hundreds of manifests, hundreds of MB of Avro)
serialized minutes of driver CPU even though manifest-LIST pruning
had already made selective scans cheap. The RDD form is deliberate:
the unit of work is "parse one opaque Avro container into Python
records" — per-partition imperative logic with no columnar input to
hand ``mapInPandas``.

Executors must see the same filesystem as the driver (true in local
mode and on any shared-FS / object-store cluster — the assumption
the whole engine already makes for data files).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

PARALLEL_THRESHOLD = 16


def active_session():
    """The ambient SparkSession, or None outside a Spark app — lets
    the `mor_entries_at` call sites pick up the distributed path
    without threading a session through every signature."""
    try:
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()
    except Exception:
        return None


def map_manifests(
    spark,
    tasks: list[tuple[Any, str]],
    worker: Callable[[Any, bytes], Iterable[Any]],
    *,
    threshold: int | None = None,
    collect: bool = True,
):
    """Run ``worker(ctx, manifest_bytes)`` over every ``(ctx,
    local_path)`` task and concatenate the yielded rows in task
    order (flatMap preserves partition order, so the parallel path
    returns rows in exactly the sequential path's order — consumers
    see one deterministic shape).

    ``collect=False`` returns the RDD instead, so a caller building
    a DataFrame (``createDataFrame(rdd, schema)``) keeps the parsed
    entries executor-side end to end — the planning table never
    materializes on the driver.
    """
    threshold = PARALLEL_THRESHOLD if threshold is None else threshold
    n = len(tasks)
    sc = spark.sparkContext if spark is not None else None
    if sc is None or n < threshold:
        out: list[Any] = []
        for ctx, path in tasks:
            with open(path, "rb") as f:
                out.extend(worker(ctx, f.read()))
        if collect:
            return out
        if sc is None:
            raise ValueError("collect=False needs a SparkSession")
        return sc.parallelize(out) if out else sc.emptyRDD()

    def _run(task):
        ctx, path = task
        with open(path, "rb") as f:
            return list(worker(ctx, f.read()))

    # one task per manifest up to 2× the cluster's parallelism —
    # manifests vary in size, so over-decomposition load-balances
    rdd = sc.parallelize(tasks, numSlices=min(n, sc.defaultParallelism * 2)).flatMap(
        _run
    )
    return rdd.collect() if collect else rdd
