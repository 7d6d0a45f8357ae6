"""Benchmark runner.

    python3 perfbench/run.py --workload meta_plan --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Builds the workload's inputs
from the seed under ``.perfbench_work/`` (removed on exit), starts a
local Spark session pinned to this machine, and drives the library
as a closed loop with one client: the next operation starts only
after the previous one returned and passed its check.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs an
untraced phase and then a traced phase of ``--seconds`` each and
prints the per-layer metrics (class latencies from the untraced
phase, layer numbers from the traced one, and the tracing overhead
between them). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# inputs, tables and Spark scratch of one run (removed on exit), and
# the span files of traced runs (kept)
WORK_DIR = ".perfbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory in whole GiB, from 1g to 4g."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def pin_environment(work: str) -> None:
    """Must run before the library or Spark is imported."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    # executor Python workers import the library by name (manifest
    # decode fans out to them)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.path.insert(1, ROOT)


def start_session(work: str):
    from iceberg_tools_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def host_probe(spark, reps: int = 5) -> list[float]:
    """Seconds, per repetition, of a fixed job through the Python
    workers (4 tasks, no data). It calls no library code; on a shared
    host its time tracks how fast the operations can run right now
    (scheduling, the JVM, worker round trips), which can change by a
    factor of two within minutes as other tenants come and go."""
    sc = spark.sparkContext
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        sc.parallelize(range(64), 4).map(lambda x: x * x).sum()
        out.append(time.perf_counter() - t)
    return out


def measure(workload, schedule, seconds: float, first_id: int, tracer=None, sc=None, probe=None):
    """Run operations until `seconds` have passed and at least one full
    schedule cycle is done (or the schedule ends). With `probe` (a
    callable returning seconds), the host is probed before the first
    operation and after each one, outside the operations' windows,
    and each sample records the mean of the probes on either side."""
    from metrics import Sample
    from spans import now_ms

    samples = []
    last_probe = probe() if probe else None
    t_end = time.perf_counter() + seconds
    for op in schedule:
        op_id = first_id + len(samples)
        root = None
        if tracer is not None:
            tracer.op = op_id
            sc.setJobGroup(f"perfbench-{op_id}", op.cls)
            root = tracer.open(f"op.{op.cls}")
        start = now_ms()
        try:
            res, error = op.run(), None
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            res, error = None, f"{type(e).__name__}: {e}"
        end = now_ms()
        if root is not None:
            tracer.close(root)
            tracer.op = None
        stats = {}
        if error is None:
            try:
                error = op.check(res)
                stats = op.stats(res)
            except Exception as e:  # noqa: BLE001 - a check that cannot run is a failure
                error = f"check raised {type(e).__name__}: {e}"
        status = f"FAILED: {error}" if error else "ok"
        print(f"[perfbench] op {op_id} {op.name} {end - start:.0f} ms {status}", file=sys.stderr)
        sample = Sample(op_id, op.cls, op.name, start, end, error, stats)
        if probe:
            next_probe = probe()
            sample.probe_s = (last_probe + next_probe) / 2
            last_probe = next_probe
        samples.append(sample)
        if len(samples) >= workload.cycle and time.perf_counter() >= t_end:
            break
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return samples


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be present in this checkout: fail
    # before building anything when it is not
    if not os.path.isdir(os.path.join(ROOT, "iceberg_tools_spark")):
        print(f"iceberg_tools_spark not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{os.getpid()}")
    pin_environment(work)
    spark = None
    try:
        from metrics import (
            END_TO_END,
            PER_LAYER,
            latency_metrics,
            layer_metrics,
            ops_per_probe,
            ops_per_s,
        )
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        workload.setup(spark, work, args.seed)
        t2 = time.perf_counter()
        workload.warmup()
        t3 = time.perf_counter()
        schedule = workload.schedule()
        print(
            f"[perfbench] session {t1 - t0:.1f} s, setup {t2 - t1:.1f} s, warm-up {t3 - t2:.1f} s",
            file=sys.stderr,
        )

        if args.trace:
            from spans import Tracer, dump, install, now_ms, spark_jobs

            # untraced, traced, untraced: comparing the traced phase
            # with both neighbours cancels a steady drift (JIT warming,
            # table growth) out of the tracing overhead
            half = args.seconds / 2
            probe = host_probe(spark)
            before = measure(workload, schedule, half, 0)
            tracer = Tracer()
            uninstall = install(tracer)
            since = now_ms()
            try:
                traced = measure(
                    workload, schedule, args.seconds, len(before), tracer, spark.sparkContext
                )
            finally:
                uninstall()
            until = now_ms()
            after = measure(workload, schedule, half, len(before) + len(traced))
            probe += host_probe(spark)
            jobs = spark_jobs(spark.sparkContext, since, until)
            spans_file = os.path.join(
                ROOT, WORK_DIR, "spans", f"{args.workload}-seed{args.seed}.jsonl"
            )
            dump(tracer, jobs, spans_file)
            print(f"[perfbench] spans written to {spans_file}", file=sys.stderr)
            samples = before + traced + after
            plain_rate = (ops_per_s(before, workload.cycle) + ops_per_s(after, workload.cycle)) / 2
            metrics = {
                **latency_metrics(before + after),
                **layer_metrics(tracer, traced, jobs),
                "ops_per_s": plain_rate,
                "host.probe_ms": statistics.median(probe) * 1000.0,
                "session.start_ms": (t1 - t0) * 1000.0,
                "session.warmup_ms": (t3 - t2) * 1000.0,
                "trace.overhead_pct": 100.0
                * (1.0 - ops_per_s(traced, workload.cycle) / plain_rate),
            }
            units = PER_LAYER
        else:
            host_probe(spark)  # its first run after the warm-up is an outlier
            samples = measure(
                workload, schedule, args.seconds, 0, probe=lambda: host_probe(spark, 1)[0]
            )
            metrics = {
                "setup_s": t3 - t0,
                "ops_per_probe": ops_per_probe(samples, workload.cycle),
                "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            }
            units = END_TO_END
        failed = sum(1 for s in samples if s.error)
        result = {
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
