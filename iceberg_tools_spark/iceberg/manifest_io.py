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
value calls :func:`sequence_number`, which raises. A consumer passes
``fields=``, the entry fields it reads (``data_file.file_path``), as
Iceberg Java plans with ``ManifestReader.select``: only those are built
(with a list row, plus the ones inheritance needs), the rest are walked
and checked by the compiled decoder's skip code. Each consumer declares
its fields next to its worker; a test rule names the few that read
whole entries (rewrites, commit carry-forward, MoR planning, ``$entries``).
:func:`partition_json` renders one manifest's partition values with one
``json.dumps`` per distinct value.

:func:`map_manifests` (a driver list) and :func:`manifest_frame` (a
DataFrame) run ``worker(ctx, manifest_bytes)`` over ``(ctx,
local_path)`` tasks; :func:`_on_executors` is the one placement
decision, made by size as Iceberg's ``read.data-planning-mode=auto``
makes it, and by how much of that size executors can spread. Once
executors would take ``PARALLEL_THRESHOLD`` bytes of manifest Avro
off the driver's critical path (all bytes but the larger of the
largest manifest and an even per-core share), the decode ships to
executors as one RDD ``flatMap`` and a frame's rows never land on the
driver (``createDataFrame(rdd)``); below it the driver decodes and a
frame is one Arrow ``LocalRelation`` (``session.local_frame``, no job
to collect). The budget, 3 MiB, comes from a sweep of ``plan_scan``
on a 4-core host: the driver decodes, prunes and collects at about
0.13 s per MB of Avro, and one manifest, however large, decodes
about 0.1-0.15 s faster there than in a job of one task (6 and 12 MB
measured). Tables of many small manifests break even near 4-4.5 MB
in all (3-3.4 MB off the path); two to four large ones already near
1.5 MB off the path, so they fan out with time to spare. ``partitions_df``
breaks even later (near 7 MB of small manifests), so between the
budget and there it pays up to about 0.1 s more on executors. A
table with hundreds of MB of manifests fans out either way; that
side is pinned by unit tests, not by a benchmark workload. A task
carries no compiled codec: each Python worker compiles the schemas it
meets into its own cache. Both placements keep task order
(``parallelize`` slices are contiguous, ``flatMap`` keeps slice order),
so a caller whose tasks and rows come in output order gets an ordered
frame with no Spark sort. A worker can also decide or fold what it
decodes, so only the result leaves it: ``snapshots.plan_scan`` prunes
files there (``pruning``) and ``tables.partitions_df`` folds
partitions. Executors must see the driver's filesystem, as they must
for data files.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable, Iterable, Iterator

from ..avro.reader import AvroContainerFile

PARALLEL_THRESHOLD = 3 << 20  # bytes of manifest Avro off the driver's path
ADDED = 1


# the entry fields the inheritance rule reads and writes
INHERITED = ("status", "snapshot_id", "sequence_number", "file_sequence_number")


def decode_manifest(
    src: bytes | dict[str, Any],
    row: dict[str, Any] | None = None,
    *,
    fields: Iterable[str] | None = None,
) -> tuple[Any, Iterator[dict[str, Any]]]:
    """The writer schema (shared: read-only) and the entries of one
    manifest, as :func:`read_manifest` reads them."""
    if isinstance(src, dict):
        row = src
        with open(src["local_path"], "rb") as f:
            src = f.read()
    f = AvroContainerFile(src)
    if fields is not None:
        f.select((*fields, *INHERITED) if row is not None else fields)
    entries = iter(f)
    return f.schema, entries if row is None else _inherit(entries, row)


def read_manifest(
    src: bytes | dict[str, Any],
    row: dict[str, Any] | None = None,
    *,
    fields: Iterable[str] | None = None,
) -> Iterator[dict[str, Any]]:
    """One manifest's entries, decoded as they are consumed (one
    pass: a list of every entry first costs about a fifth more in
    garbage collection). ``src`` is the manifest's bytes, or its
    manifest-list row (read from the row's ``local_path``); given a
    row, either way, null entry fields inherit from it. ``fields``
    (dotted entry paths, ``data_file.file_path``) builds only those
    fields, plus the ones inheritance needs when a row is given; an
    entry lacks the others (``AvroContainerFile.select``)."""
    return decode_manifest(src, row, fields=fields)[1]


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


def partition_json() -> Callable[[dict[str, Any] | None], str]:
    """``json.dumps(partition, sort_keys=True)`` for the entries of ONE
    manifest, memoized by the partition's values: a manifest has one
    spec, so each field has one type and equal values render alike. A
    float is rendered every time (``-0.0 == 0.0`` renders apart)."""
    memo: dict[tuple, str] = {}

    def render(part: dict[str, Any] | None) -> str:
        if part is None:
            return "null"
        key = tuple(part.values())
        text = memo.get(key)
        if text is None:
            text = json.dumps(part, sort_keys=True)
            if not any(isinstance(v, float) for v in key):
                memo[key] = text
        return text

    return render


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


def _on_executors(spark, tasks: list[tuple[Any, str]]) -> bool:
    """Whether the decode fans out: ``spark`` is set and executors
    would take at least ``PARALLEL_THRESHOLD`` bytes of manifest Avro
    off the driver's critical path. Executors decode the tasks on
    ``min(len(tasks), defaultParallelism)`` cores, so their wall time
    follows the larger of the largest task and an even share; the
    bytes beyond that are what fanning out saves, and a lone manifest
    saves none. The bytes are each task's own ``local_path`` (further
    files a worker opens are not counted), and summing stops once
    the saving reaches the budget, which adding a task never lowers."""
    if spark is None or not tasks:
        return False
    cores = min(len(tasks), spark.sparkContext.defaultParallelism)
    total = largest = 0
    for _, path in tasks:
        size = os.path.getsize(path)
        total += size
        largest = max(largest, size)
        if total - max(largest, total / cores) >= PARALLEL_THRESHOLD:
            return True
    return False


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
