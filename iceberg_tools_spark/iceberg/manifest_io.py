"""Manifest reading: the one module that decodes manifest entries,
applies Iceberg's inheritance rule to them and decides where the
decode runs (the reference reads ONE manifest per invocation,
`ManifestFileReadTool.java`; real Iceberg planning reads them on a
worker pool, as ManifestGroup does).

:func:`read_manifest` takes a manifest's bytes (the stored entries)
or its manifest-list row, whose metadata null entry fields inherit
(``InheritableMetadataFactory``): a null ``snapshot_id`` takes the
manifest's ``added_snapshot_id``; a null sequence number takes the
manifest's when the entry is ADDED or that number is 0 (v1 lists
carry none); otherwise the null stays, and a consumer that needs the
value calls :func:`sequence_number`, which raises.

:func:`map_manifests` (a driver list) and :func:`manifest_frame` (a
DataFrame) run ``worker(ctx, manifest_bytes)`` over ``(ctx,
local_path)`` tasks; :func:`_on_executors` is the one placement
decision. From ``PARALLEL_THRESHOLD`` manifests on, the pure-Python
decode (about 0.1 s per MB of Avro on one core, 0.12–0.16 s/MB with
typed bounds rendered) ships to executors as one RDD ``flatMap`` and
a frame's rows never land on the driver (``createDataFrame(rdd)``);
below it, a Spark job over a few manifests costs more in scheduling
than it saves, so the driver parses and a frame is one Arrow
``LocalRelation`` (``session.local_frame``, no job to collect). A task
carries no compiled codec: each Python worker compiles the schemas it
meets into its own cache. Both placements keep task order
(``parallelize`` slices are contiguous, ``flatMap`` keeps slice order),
so a caller whose tasks and rows come in output order gets an ordered
frame with no Spark sort (``snapshots.plan_scan``). Executors must see
the driver's filesystem, as they must for data files.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

from ..avro.reader import AvroContainerFile

PARALLEL_THRESHOLD = 16
ADDED = 1


def decode_manifest(
    src: bytes | dict[str, Any], row: dict[str, Any] | None = None
) -> tuple[Any, Iterator[dict[str, Any]]]:
    """The writer schema and the entries of one manifest, as
    :func:`read_manifest` reads them."""
    if isinstance(src, dict):
        row = src
        with open(src["local_path"], "rb") as f:
            src = f.read()
    f = AvroContainerFile(src)
    entries = iter(f)
    return f.schema, entries if row is None else _inherit(entries, row)


def read_manifest(
    src: bytes | dict[str, Any], row: dict[str, Any] | None = None
) -> Iterator[dict[str, Any]]:
    """One manifest's entries, decoded as they are consumed (one
    pass: a list of every entry first costs about a fifth more in
    garbage collection). ``src`` is the manifest's bytes, or its
    manifest-list row (read from the row's ``local_path``); given a
    row, either way, null entry fields inherit from it."""
    return decode_manifest(src, row)[1]


def _inherit(entries: Iterator[dict[str, Any]], row: dict[str, Any]) -> Iterator[dict[str, Any]]:
    seq = row.get("sequence_number") or 0
    for e in entries:
        if e.get("snapshot_id") is None:
            e["snapshot_id"] = row.get("added_snapshot_id")
        if e["status"] == ADDED or seq == 0:
            if e.get("sequence_number") is None:
                e["sequence_number"] = seq
            if "file_sequence_number" in e and e["file_sequence_number"] is None:
                e["file_sequence_number"] = seq
        yield e


def sequence_number(entry: dict[str, Any]) -> int:
    """An inherited entry's data sequence number; raises when the
    inheritance rule left it null (an EXISTING or DELETED entry that
    carries none is corrupt metadata, not a default)."""
    seq = entry.get("sequence_number")
    if seq is None:
        raise ValueError(
            f"entry {entry['data_file']['file_path']!r} (status "
            f"{entry['status']}) carries no sequence_number; v2 "
            "inheritance only covers ADDED"
        )
    return seq


def active_session():
    """The ambient SparkSession, or None outside a Spark app — lets
    the `mor_entries_at` call sites pick up the distributed path
    without threading a session through every signature."""
    try:
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession()
    except Exception:
        return None


def _on_executors(spark, tasks: list) -> bool:
    return spark is not None and 0 < len(tasks) and len(tasks) >= PARALLEL_THRESHOLD


def _task_rdd(spark, tasks: list[tuple[Any, str]], worker: Callable[[Any, bytes], Iterable[Any]]):
    def _run(task):
        ctx, path = task
        with open(path, "rb") as f:
            return list(worker(ctx, f.read()))

    # one task per manifest up to 2× the cluster's parallelism —
    # manifests vary in size, so over-decomposition load-balances
    sc = spark.sparkContext
    return sc.parallelize(tasks, numSlices=min(len(tasks), sc.defaultParallelism * 2)).flatMap(_run)


def map_manifests(
    spark,
    tasks: list[tuple[Any, str]],
    worker: Callable[[Any, bytes], Iterable[Any]],
) -> list[Any]:
    """Run ``worker(ctx, manifest_bytes)`` over every ``(ctx,
    local_path)`` task and concatenate the yielded rows in task
    order, as a driver list (``spark=None`` parses on the driver)."""
    if _on_executors(spark, tasks):
        return _task_rdd(spark, tasks, worker).collect()
    out: list[Any] = []
    for ctx, path in tasks:
        with open(path, "rb") as f:
            out.extend(worker(ctx, f.read()))
    return out


def manifest_frame(
    spark,
    tasks: list[tuple[Any, str]],
    worker: Callable[[Any, bytes], Iterable[Any]],
    schema,
):
    """:func:`map_manifests` as a DataFrame of ``schema``: executor
    rows stay in the RDD end to end, driver rows become one
    ``local_frame``."""
    if _on_executors(spark, tasks):
        return spark.createDataFrame(_task_rdd(spark, tasks, worker), schema)
    from ..session import local_frame

    return local_frame(spark, map_manifests(None, tasks, worker), schema)
