"""Spans recorded from outside the library, and the Spark-layer
collector.

The traced run installs thin timing wrappers on the library's public
entry points by rebinding every ``iceberg_tools_spark.*`` module
attribute that holds the original function (the library imports with
``from .x import y``, so the defining module alone is not enough).
No library file is touched, and the untraced run installs nothing.

Spans are kept in memory: name, start, end, parent span and the id of
the operation they belong to. Spark jobs are read after the run from
the JVM status store and matched to operations by job group (set per
operation) or, for jobs started on threads that do not inherit the
group, by submission time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    op: int | None
    parent: "Span | None"
    start: float
    end: float = 0.0
    attrs: dict[str, float] = field(default_factory=dict)
    # time charged to this span by interleaved work that has no
    # interval of its own (lazy Avro record decode)
    excl_ms: float = 0.0
    children: list["Span"] = field(default_factory=list)
    # the aggregated child span per kind of interleaved work
    aggregates: dict[str, "Span"] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def open(self, name: str) -> Span:
        st = self._stack()
        sp = Span(name, self.op, st[-1] if st else None, now_ms())
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = now_ms()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            if sp.parent is not None:
                sp.parent.children.append(sp)
            self.spans.append(sp)

    def charge(self, name: str, ms: float, **counts: float) -> None:
        """Account interleaved work to the innermost open span, as
        one aggregated child span per (parent, name)."""
        parent = self.current()
        if parent is None:
            return
        agg = parent.aggregates.get(name)
        if agg is None:
            agg = parent.aggregates[name] = Span(name, self.op, parent, now_ms() - ms)
            with self._lock:
                parent.children.append(agg)
                self.spans.append(agg)
        agg.end = agg.start + agg.attrs.get("_ms", 0.0) + ms
        agg.attrs["_ms"] = agg.attrs.get("_ms", 0.0) + ms
        for k, v in counts.items():
            agg.attrs[k] = agg.attrs.get(k, 0.0) + v
        parent.excl_ms += ms


def dump(tracer: Tracer, jobs: list["Job"], path: str) -> None:
    """Write the spans and Spark jobs of a traced phase as JSON lines."""
    ids = {id(sp): i for i, sp in enumerate(tracer.spans)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for sp in tracer.spans:
            rec = {
                "id": ids[id(sp)], "name": sp.name, "op": sp.op,
                "parent": ids.get(id(sp.parent)) if sp.parent else None,
                "start_ms": sp.start, "end_ms": sp.end,
                "attrs": {k: v for k, v in sp.attrs.items() if not k.startswith("_")},
            }
            f.write(json.dumps(rec) + "\n")
        for j in jobs:
            f.write(json.dumps({"name": "spark.job", **j.__dict__}) + "\n")


# ------------------------------------------------------------ wrappers


def _library_modules() -> list[Any]:
    return [m for n, m in list(sys.modules.items()) if n.startswith("iceberg_tools_spark") and m]


def _rebind(original: Any, replacement: Any) -> list[tuple[Any, str, Any]]:
    undo = []
    for mod in _library_modules():
        for name, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, name, replacement)
                undo.append((mod, name, original))
    return undo


def _size(path: Any) -> int:
    try:
        return os.path.getsize(path)
    except (OSError, TypeError):
        return 0


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(_size(os.path.join(d, f)) for f in files)
    return total


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the library's public entry points; returns the undo."""
    import iceberg_tools_spark.avro.reader as reader
    import iceberg_tools_spark.avro.writer as writer
    import iceberg_tools_spark.iceberg.commit as commit
    import iceberg_tools_spark.iceberg.concurrency as concurrency
    import iceberg_tools_spark.iceberg.deletes as deletes
    import iceberg_tools_spark.iceberg.dml as dml
    import iceberg_tools_spark.iceberg.manifest2json as m2j
    import iceberg_tools_spark.iceberg.manifest_io as manifest_io
    import iceberg_tools_spark.iceberg.metadata as metadata
    import iceberg_tools_spark.iceberg.rewrite_data as rewrite_data
    import iceberg_tools_spark.iceberg.snapshots as snapshots
    import iceberg_tools_spark.iceberg.tables as tables
    import iceberg_tools_spark.operators.dedup as dedup
    import iceberg_tools_spark.streaming.ingest as ingest

    def wrap(fn: Callable, name: str, post: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            sp = tracer.open(name)
            try:
                res = fn(*args, **kwargs)
            finally:
                tracer.close(sp)
            if post is not None:
                post(sp, res, args, kwargs)
            return res

        return wrapper

    # -- avro: the container reader decodes lazily, so decode time is
    # charged record by record to whatever span is consuming it
    base_reader = reader.AvroContainerFile

    class TimedAvroContainerFile(base_reader):
        # pickled by reference as the original class, should a
        # closure shipped to executors ever hold it
        def __init__(self, src: Any):
            t0 = time.perf_counter()
            super().__init__(src)
            n = len(self._body.buf.getvalue()) + 4
            tracer.charge("avro.decode", (time.perf_counter() - t0) * 1000.0, bytes=n)

        def records(self, reader_schema: Any | None = None):
            it = super().records(reader_schema)
            while True:
                t0 = time.perf_counter()
                try:
                    rec = next(it)
                except StopIteration:
                    tracer.charge("avro.decode", (time.perf_counter() - t0) * 1000.0)
                    return
                tracer.charge("avro.decode", (time.perf_counter() - t0) * 1000.0, records=1)
                yield rec

    TimedAvroContainerFile.__module__ = base_reader.__module__
    TimedAvroContainerFile.__qualname__ = base_reader.__qualname__

    base_write = writer.write_container

    @functools.wraps(base_write)
    def write_container(schema: Any, records: Any, **kw: Any) -> bytes:
        records = list(records)
        t0 = time.perf_counter()
        out = base_write(schema, records, **kw)
        is_list = isinstance(schema, dict) and schema.get("name") == "manifest_file"
        tracer.charge(
            "avro.encode",
            (time.perf_counter() - t0) * 1000.0,
            records=len(records),
            bytes=len(out),
            manifests=0 if is_list else 1,
            list_rows=len(records) if is_list else 0,
        )
        return out

    def post_parse(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        src = args[0] if args else kw.get("src")
        if isinstance(src, (bytes, bytearray)):
            sp.attrs["bytes"] = len(src)
        elif isinstance(src, str) and not src.lstrip().startswith("{"):
            sp.attrs["bytes"] = _size(src)

    def post_map(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        spark, tasks = args[0], args[1]
        threshold = kw.get("threshold")
        threshold = manifest_io.PARALLEL_THRESHOLD if threshold is None else threshold
        sp.attrs["tasks"] = len(tasks)
        parallel = spark is not None and len(tasks) >= threshold
        sp.attrs["parallel" if parallel else "driver"] = 1

    def post_listed(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        sp.attrs["listed"] = sum(1 for m in res if m.get("content", 0) == 0)

    def post_commit(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        if isinstance(res, dict):
            sp.attrs["metadata_bytes"] = _size(res.get("metadata_path"))
            sp.attrs["retries"] = 1 if res.get("retried") else 0

    def post_mor_entries(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        data, dels = res
        sp.attrs["data_files"] = len(data)
        sp.attrs["delete_files"] = len(dels)

    def post_delete(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        sp.attrs["delete_files"] = len(res.get("staged_files", ()))

    def post_rewrite(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        root = kw.get("base_dir") or os.path.dirname(args[1])
        done = res.get("rewritten", ())
        sp.attrs["files"] = len(done)
        sp.attrs["bytes"] = sum(_size(os.path.join(root, r)) for r in done)

    def post_expire(sp: Span, res: Any, args: tuple, kw: dict) -> None:
        sp.attrs["expired"] = len(res.get("expired", ()))
        sp.attrs["deleted"] = len(res.get("removable", ())) if kw.get("delete_files") else 0

    base_committer = ingest.make_batch_committer

    @functools.wraps(base_committer)
    def make_batch_committer(*args: Any, **kw: Any) -> Callable:
        inner = base_committer(*args, **kw)
        base_dir = kw.get("base_dir") or os.path.dirname(args[0])
        query = kw["query_name"]

        def commit_batch(batch_df: Any, batch_id: int) -> Any:
            sp = tracer.open("ingest.commit_batch")
            try:
                return inner(batch_df, batch_id)
            finally:
                tracer.close(sp)
                staged = os.path.join(base_dir, "data", "streaming", query, f"batch-{batch_id}")
                sp.attrs["bytes"] = _dir_bytes(staged)

        return commit_batch

    targets: list[tuple[Any, str, Callable | None]] = [
        (metadata.parse_metadata, "metadata.parse", post_parse),
        (manifest_io.map_manifests, "manifest_io.map_manifests", post_map),
        (snapshots.manifest_files_at, "snapshots.manifest_files_at", post_listed),
        (snapshots.manifest_paths_at, "snapshots.manifest_paths_at", None),
        (snapshots.plan_scan, "snapshots.plan_scan", None),
        (snapshots.files_at, "snapshots.files_at", None),
        (tables.snapshots_df, "tables.snapshots_df", None),
        (tables.history_df, "tables.history_df", None),
        (tables.partitions_df, "tables.partitions_df", None),
        (m2j.manifest2json, "manifest2json.manifest2json", None),
        (commit.append_snapshot, "commit.append_snapshot", post_commit),
        (commit.commit_delete_snapshot, "commit.commit_delete_snapshot", post_commit),
        (concurrency.commit_append_concurrent, "commit.commit_append_concurrent", post_commit),
        (commit.expire_snapshots, "commit.expire_snapshots", post_expire),
        (dml.delete_where, "dml.delete_where", post_delete),
        (rewrite_data.binpack_rewrite, "rewrite_data.binpack_rewrite", post_rewrite),
        (rewrite_data.rewrite_data_files, "rewrite_data.rewrite_data_files", post_rewrite),
        (deletes.mor_entries_at, "deletes.mor_entries_at", post_mor_entries),
        (deletes.read_mor, "deletes.read_mor", None),
        (dedup.minhash_pairs, "operators.minhash_pairs", None),
    ]
    # the Spark layer's driver side: query planning, job submission
    # and result transfer around the jobs an action runs
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    actions = [(DataFrame, m) for m in ("collect", "count", "take", "toArrow", "toPandas")]
    actions += [(DataFrameReader, "parquet"), (DataFrameWriter, "parquet")]

    undo: list[tuple[Any, str, Any]] = []
    for owner, meth in actions:
        original = owner.__dict__[meth]
        setattr(owner, meth, wrap(original, "spark.action"))
        undo.append((owner, meth, original))
    undo += _rebind(base_reader, TimedAvroContainerFile)
    undo += _rebind(base_write, write_container)
    undo += _rebind(base_committer, make_batch_committer)
    for fn, name, post in targets:
        undo += _rebind(fn, wrap(fn, name, post))

    def uninstall() -> None:
        for mod, name, original in reversed(undo):
            setattr(mod, name, original)

    return uninstall


# ------------------------------------------------------ Spark collector


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    cpu_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0


def _opt(o: Any) -> Any:
    return o.get() if o.isDefined() else None


def spark_jobs(sc: Any, since_ms: float, until_ms: float) -> list[Job]:
    """Every job submitted between `since_ms` and `until_ms` (epoch
    ms), read from the JVM status store, with executor CPU, shuffle
    write and spill summed over each job's stages."""
    store = sc._jsc.sc().statusStore()
    out = []
    jobs = store.jobsList(None).iterator()
    while jobs.hasNext():
        j = jobs.next()
        sub = _opt(j.submissionTime())
        done = _opt(j.completionTime())
        if sub is None or not since_ms <= sub.getTime() <= until_ms:
            continue
        job = Job(
            int(j.jobId()),
            _opt(j.jobGroup()),
            float(sub.getTime()),
            float(done.getTime()) if done is not None else float(sub.getTime()),
        )
        stages = j.stageIds().iterator()
        while stages.hasNext():
            # a stage skipped because an earlier job computed it
            # reports zero metrics
            st = store.lastStageAttempt(stages.next())
            job.cpu_ms += st.executorCpuTime() / 1e6
            job.shuffle_bytes += st.shuffleWriteBytes()
            job.spill_bytes += st.diskBytesSpilled() + st.memoryBytesSpilled()
        out.append(job)
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_ms(sp: Span, jobs: list[tuple[float, float]]) -> float:
    """Span duration minus the part covered by its child spans and by
    Spark jobs, minus interleaved work charged to it."""
    if sp.name in ("avro.decode", "avro.encode"):
        return sp.attrs.get("_ms", 0.0)
    covered = [(c.start, c.end) for c in sp.children if not c.name.startswith("avro.")]
    covered += clip(jobs, sp.start, sp.end)
    return max(0.0, sp.ms - union_ms(clip(covered, sp.start, sp.end)) - sp.excl_ms)
