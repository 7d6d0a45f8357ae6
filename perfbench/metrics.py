"""Metric names and how each is computed from the samples and spans
of one run. `BENCHMARK.json` lists the same names; a test keeps the
two in step."""

from __future__ import annotations

import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from spans import Job, Span, Tracer, clip, self_ms, union_ms
from workloads import CLASSES, CURATE_OPS

END_TO_END = {"setup_s": "s", "ops_per_probe": "1/probe", "driver_peak_rss_mb": "MB"}

# latency classes reported from the untraced phase of a traced run
LATENCY = {
    "plan": ("p50", "tail"),
    "meta_table": ("p50",),
    "commit": ("p50", "tail"),
    "dml": ("p50",),
    "maintenance": ("p50",),
    "scan": ("p50",),
    "curate": ("p50",),
}

SPARK_FIELDS = {
    "jobs": "count",
    "job_wall_ms": "ms",
    "ms_per_job": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "driver_ms": "ms",
}


def _per_layer_units() -> dict[str, str]:
    u: dict[str, str] = {}
    for cls, kinds in LATENCY.items():
        for k in kinds:
            u[f"{cls}_ms.{k}"] = "ms"
            if k == "tail":
                u[f"{cls}_ms.tail_pct"] = "%"
                u[f"{cls}_ms.tail_n"] = "count"
    u |= {"ops_per_s": "1/s", "host.probe_ms": "ms"}
    u |= {"meta_entries_per_s": "1/s", "scan_rows_per_s": "1/s", "error_rate": "ratio"}
    u |= {"session.start_ms": "ms", "session.warmup_ms": "ms"}
    u |= {
        "avro.decode_ms": "ms", "avro.decode_records": "count", "avro.decode_bytes": "bytes",
        "avro.encode_ms": "ms", "avro.encode_records": "count", "avro.encode_bytes": "bytes",
        "metadata.parse_ms": "ms", "metadata.parse_calls": "count", "metadata.json_bytes": "bytes",
        "manifest_io.calls_driver": "count", "manifest_io.calls_parallel": "count",
        "manifest_io.tasks": "count", "manifest_io.ms": "ms",
        "plan.self_ms": "ms", "plan.manifests_listed": "count", "plan.manifests_opened": "count",
        "plan.entries_read": "count", "plan.files_selected": "count",
        "plan.prune_ratio": "ratio", "plan.select_ratio": "ratio",
        "meta_table.self_ms": "ms", "manifest2json.bytes_out": "bytes",
        "commit.meta_self_ms": "ms", "commit.manifests_written": "count",
        "commit.manifest_list_rows": "count", "commit.metadata_bytes_written": "bytes",
        "commit.retries": "count", "ingest.stage_ms": "ms", "ingest.bytes_staged": "bytes",
        "dml.self_ms": "ms", "dml.delete_files": "count", "dml.rows_deleted": "count",
        "maintenance.files_rewritten": "count", "maintenance.bytes_rewritten": "bytes",
        "maintenance.write_amp": "ratio", "maintenance.snapshots_expired": "count",
        "maintenance.files_deleted": "count",
        "mor.plan_ms": "ms", "mor.data_files": "count", "mor.delete_files": "count",
        "mor.rows_out": "count",
    }
    u |= {f"curate.{n}_ms": "ms" for n in CURATE_OPS}
    for cls in CLASSES:
        u |= {f"spark.{cls}.{k}": unit for k, unit in SPARK_FIELDS.items()}
        u[f"driver.{cls}.self_ms"] = "ms"
        u[f"trace.{cls}.accounted_pct"] = "%"
    u |= {"spark.ungrouped.jobs": "count", "trace.overhead_pct": "%"}
    return u


PER_LAYER = _per_layer_units()


@dataclass
class Sample:
    op_id: int
    cls: str
    name: str
    start_ms: float
    end_ms: float
    error: str | None
    stats: dict[str, float] = field(default_factory=dict)
    # host probe duration around this operation (seconds), if probed
    probe_s: float = 0.0

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


def _mix_rate(samples: list[Sample], cycle: int, cost) -> float:
    by_name: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        by_name[s.name].append(cost(s))
    mix = [s.name for s in samples[:cycle]]
    return len(mix) / sum(statistics.median(by_name[n]) for n in mix)


def ops_per_s(samples: list[Sample], cycle: int) -> float:
    """Throughput of the workload's fixed operation mix: the first
    `cycle` samples define the mix, and each operation is costed at
    its median latency over the run. Unlike completions per window
    this does not depend on where the window happens to cut the
    schedule."""
    return _mix_rate(samples, cycle, lambda s: s.ms / 1000.0)


def ops_per_probe(samples: list[Sample], cycle: int) -> float:
    """As `ops_per_s`, with each operation's latency counted in
    durations of the host probe taken around it, so that a change in
    the host's speed during or between runs cancels."""
    return _mix_rate(samples, cycle, lambda s: s.ms / 1000.0 / s.probe_s)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) for the highest percentile
    that has at least ten samples beyond it; (0, 0, n) if none."""
    n = len(values)
    for pct in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - pct / 100.0) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            return q[int(pct * 10) - 1], pct, n
    return 0.0, 0.0, n


def latency_metrics(samples: list[Sample]) -> dict[str, float]:
    out: dict[str, float] = {}
    by_cls: dict[str, list[float]] = defaultdict(list)
    for s in samples:
        by_cls[s.cls].append(s.ms)
    for cls, kinds in LATENCY.items():
        vals = by_cls.get(cls, [])
        out[f"{cls}_ms.p50"] = statistics.median(vals) if vals else 0.0
        if "tail" in kinds:
            v, pct, n = tail(vals)
            out[f"{cls}_ms.tail"], out[f"{cls}_ms.tail_pct"], out[f"{cls}_ms.tail_n"] = v, pct, n
    meta = [s for s in samples if s.cls in ("plan", "meta_table")]
    meta_ms = sum(s.ms for s in meta)
    out["meta_entries_per_s"] = (
        1000.0 * sum(s.stats.get("entries_read", 0) for s in meta) / meta_ms if meta_ms else 0.0
    )
    scan = [s for s in samples if s.cls == "scan"]
    scan_ms = sum(s.ms for s in scan)
    out["scan_rows_per_s"] = (
        1000.0 * sum(s.stats.get("rows_out", 0) for s in scan) / scan_ms if scan_ms else 0.0
    )
    out["error_rate"] = sum(1 for s in samples if s.error) / len(samples)
    return out


def _op_of(j: Job, samples: list[Sample]) -> int | None:
    if j.group and j.group.startswith("perfbench-"):
        return int(j.group.rsplit("-", 1)[1])
    for s in samples:
        if s.start_ms <= j.start <= s.end_ms:
            return s.op_id
    return None


def layer_metrics(tracer: Tracer, samples: list[Sample], jobs: list[Job]) -> dict[str, float]:
    """Per-layer numbers from the traced phase. Times and counts of a
    layer are averaged per operation of the class that layer serves
    (avro, metadata and manifest_io: per operation of any class)."""
    ops = {s.op_id: s for s in samples}
    n_cls = defaultdict(int)
    for s in samples:
        n_cls[s.cls] += 1
    jobs_of: dict[int, list[Job]] = defaultdict(list)
    ungrouped = 0
    for j in jobs:
        if not (j.group and j.group.startswith("perfbench-")):
            ungrouped += 1
        oid = _op_of(j, samples)
        if oid in ops:
            jobs_of[oid].append(j)
    spans_of: dict[int, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.op in ops:
            spans_of[sp.op].append(sp)

    t: dict[str, float] = defaultdict(float)
    per_cls: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for oid, s in ops.items():
        jl = jobs_of[oid]
        iv = clip([(j.start, j.end) for j in jl], s.start_ms, s.end_ms)
        job_union = union_ms(iv)
        c = per_cls[s.cls]
        c["wall"] += s.ms
        c["jobs"] += len(jl)
        c["job_wall_ms"] += job_union
        c["job_sum_ms"] += sum(j.end - j.start for j in jl)
        c["executor_cpu_ms"] += sum(j.cpu_ms for j in jl)
        c["shuffle_bytes"] += sum(j.shuffle_bytes for j in jl)
        c["spill_bytes"] += sum(j.spill_bytes for j in jl)
        layered = 0.0
        for sp in spans_of[oid]:
            if sp.name == "spark.action":
                c["driver_ms"] += self_ms(sp, iv)
            own = self_ms(sp, iv)
            parent = sp.parent.name if sp.parent else ""
            if not sp.name.startswith("op."):
                layered += own
            a = sp.attrs
            n = sp.name
            if n == "avro.decode":
                t["avro.decode_ms"] += own
                t["avro.decode_records"] += a.get("records", 0)
                t["avro.decode_bytes"] += a.get("bytes", 0)
            elif n == "avro.encode":
                t["avro.encode_ms"] += own
                t["avro.encode_records"] += a.get("records", 0)
                t["avro.encode_bytes"] += a.get("bytes", 0)
                if s.cls == "commit":
                    t["commit.manifests_written"] += a.get("manifests", 0)
                    t["commit.manifest_list_rows"] += a.get("list_rows", 0)
            elif n == "metadata.parse":
                t["metadata.parse_ms"] += own
                t["metadata.parse_calls"] += 1
                t["metadata.json_bytes"] += a.get("bytes", 0)
            elif n == "manifest_io.map_manifests":
                t["manifest_io.ms"] += sp.ms
                t["manifest_io.tasks"] += a.get("tasks", 0)
                t["manifest_io.calls_driver"] += a.get("driver", 0)
                t["manifest_io.calls_parallel"] += a.get("parallel", 0)
            elif n in ("snapshots.plan_scan", "snapshots.files_at"):
                t["plan.self_ms"] += own
            elif n == "snapshots.manifest_files_at" and parent == "snapshots.plan_scan":
                t["plan.manifests_listed"] += a.get("listed", 0)
            elif n.startswith(("tables.", "manifest2json.")) or n == "snapshots.manifest_paths_at":
                t["meta_table.self_ms"] += own
            elif n.startswith("commit.") and n != "commit.expire_snapshots":
                t["commit.meta_self_ms"] += own
                if not parent.startswith("commit."):
                    t["commit.metadata_bytes_written"] += a.get("metadata_bytes", 0)
                    t["commit.retries"] += a.get("retries", 0)
            elif n == "ingest.commit_batch":
                t["ingest.stage_ms"] += sp.ms - sum(
                    ch.ms for ch in sp.children if ch.name.startswith("commit.")
                )
                t["ingest.bytes_staged"] += a.get("bytes", 0)
            elif n == "dml.delete_where":
                t["dml.self_ms"] += own
                t["dml.delete_files"] += a.get("delete_files", 0)
            elif n.startswith("rewrite_data."):
                t["maintenance.files_rewritten"] += a.get("files", 0)
                t["maintenance.bytes_rewritten"] += a.get("bytes", 0)
            elif n == "commit.expire_snapshots":
                t["maintenance.snapshots_expired"] += a.get("expired", 0)
                t["maintenance.files_deleted"] += a.get("deleted", 0)
            elif n == "deletes.read_mor":
                t["mor.plan_ms"] += own
            elif n == "deletes.mor_entries_at" and parent == "deletes.read_mor":
                t["mor.plan_ms"] += own
                t["mor.data_files"] += a.get("data_files", 0)
                t["mor.delete_files"] += a.get("delete_files", 0)
        c["layered"] += layered
        st = s.stats
        if s.cls == "plan":
            for k in ("manifests_opened", "entries_read", "files_selected"):
                t[f"plan.{k}"] += st.get(k, 0)
        t["manifest2json.bytes_out"] += st.get("bytes_out", 0)
        t["dml.rows_deleted"] += st.get("rows_deleted", 0)
        t["mor.rows_out"] += st.get("rows_out", 0)
        if s.cls == "curate":
            t[f"curate.{s.name}_ms"] += s.ms
            t[f"_n.{s.name}"] += 1

    out = {k: 0.0 for k in PER_LAYER}
    total_ops = max(1, len(samples))
    serves = {
        "plan.": "plan", "meta_table.": "meta_table", "manifest2json.": "meta_table",
        "commit.": "commit", "ingest.": "commit", "dml.": "dml",
        "maintenance.": "maintenance", "mor.": "scan",
    }
    for k, v in t.items():
        if k.startswith("_n."):
            continue
        if k.startswith("curate."):
            out[k] = v / t[f"_n.{k[len('curate.'):-len('_ms')]}"]
            continue
        cls = next((c for p, c in serves.items() if k.startswith(p)), None)
        out[k] = v / (n_cls[cls] if cls else total_ops) if (cls is None or n_cls[cls]) else 0.0
    out["plan.prune_ratio"] = (
        1.0 - t["plan.manifests_opened"] / t["plan.manifests_listed"]
        if t["plan.manifests_listed"] else 0.0
    )
    out["plan.select_ratio"] = (
        t["plan.files_selected"] / t["plan.entries_read"] if t["plan.entries_read"] else 0.0
    )
    ingested = t["ingest.bytes_staged"]
    out["maintenance.write_amp"] = t["maintenance.bytes_rewritten"] / ingested if ingested else 0.0
    for cls in CLASSES:
        c, n = per_cls.get(cls), n_cls[cls]
        if not c or not n:
            continue
        out[f"spark.{cls}.jobs"] = c["jobs"] / n
        out[f"spark.{cls}.job_wall_ms"] = c["job_wall_ms"] / n
        out[f"spark.{cls}.ms_per_job"] = c["job_sum_ms"] / c["jobs"] if c["jobs"] else 0.0
        out[f"spark.{cls}.executor_cpu_ms"] = c["executor_cpu_ms"] / n
        out[f"spark.{cls}.shuffle_bytes"] = c["shuffle_bytes"] / n
        out[f"spark.{cls}.spill_bytes"] = c["spill_bytes"] / n
        out[f"spark.{cls}.driver_ms"] = c["driver_ms"] / n
        out[f"driver.{cls}.self_ms"] = (c["wall"] - c["job_wall_ms"]) / n
        out[f"trace.{cls}.accounted_pct"] = 100.0 * (c["layered"] + c["job_wall_ms"]) / c["wall"]
    out["spark.ungrouped.jobs"] = float(ungrouped)
    return out
