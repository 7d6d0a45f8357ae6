"""Per-query measurement tool: one warm session, three subcommands.

Each subcommand starts a session on ``$SPARK_GRAFT_CPUS`` cores, warms
it the way ``bench.py`` does (every TPC-H table through the noop sink
plus one pandas UDF, so first-run numbers are comparable) and runs the
named registry queries from ``$SPARK_GRAFT_SF_DIR`` (default sf0.1)
through the noop sink. Not part of the driver contract; the official
comparable stays ``bench.py``.

Usage:
    python scripts/query_tool.py jobs <query> [<query> ...]
    python scripts/query_tool.py measure --round rN <tag> [--reps N] <query> [...]
    python scripts/query_tool.py profile <query> [<query> ...]

``jobs`` prints one JSON line per query: {"name", "jobs",
"jobs_all_threads", "sec"} over 2 reps (the second rep's count is the
steady-state one; the first may include one-time fixture/codegen
warm-up jobs). The count is the job-count × scheduling-latency lever
of the scenario/latency gates, read from the status tracker.

``measure`` first prints {"calibration_sec"} (a fixed 200M-row sum),
then one JSON line per query: {"name", "sec", "cal_units",
"exchanges", "python_evals", "smj", "bhj", "shj", "bnlj"}, and writes
each query's ``explain("formatted")`` to
``plans/<round>/<name>_<tag>.txt``.

``profile`` cProfiles one warm pass per query and prints the top of
the cumulative-time table (driver-side wall attribution: which
collect/count/createDataFrame call dominates).
"""

from __future__ import annotations

import argparse
import cProfile
import gc
import io
import json
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def _warm_session(app: str):
    """A session warmed like bench.py's, and the registry's queries."""
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from iceberg_tools_spark import registry
    from iceberg_tools_spark.session import get_spark
    from iceberg_tools_spark.sources.readers import TABLES, load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(app, cpus=cpus)
    for tbl in TABLES:
        _noop(load_table(spark, sf_dir, tbl))

    @pandas_udf("long")
    def _warm(s):
        return s

    _noop(spark.range(32).select(_warm(F.col("id"))))
    return spark, sf_dir, registry.queries()


def jobs(names: list[str]) -> None:
    spark, sf_dir, available = _warm_session("count_jobs")
    sc = spark.sparkContext

    def _jobs_so_far() -> int:
        # every job retained in the status store (default retention
        # 1000, far above any gate's count per invocation, so
        # before/after deltas are exact here)
        return sc._jsc.sc().statusStore().jobsList(None).size()

    for name in names:
        fn = available[name]
        out = {"name": name, "jobs": [], "jobs_all_threads": [], "sec": []}
        for rep in range(2):
            group = f"cj_{name}_{rep}"
            before = _jobs_so_far()
            sc.setJobGroup(group, name)
            out["sec"].append(_timed(lambda: _noop(fn(spark, sf_dir))))
            sc.setJobGroup(None, None)
            # the group-scoped count misses jobs submitted from other
            # threads (streaming micro-batches, pools); the status
            # store's job list catches them all
            out["jobs"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            out["jobs_all_threads"].append(_jobs_so_far() - before)
        print(json.dumps(out), flush=True)


def measure(names: list[str], tag: str, round_: str, reps: int) -> None:
    spark, sf_dir, available = _warm_session("measure")
    from iceberg_tools_spark.plans.checks import plan_string

    calibration = _timed(
        lambda: _noop(spark.range(200_000_000).selectExpr("sum(id)"))
    )
    print(json.dumps({"calibration_sec": calibration}))
    plans_dir = os.path.join(REPO, "plans", round_)
    os.makedirs(plans_dir, exist_ok=True)
    sc = spark.sparkContext
    for name in names:
        fn = available[name]
        secs = []
        for _ in range(reps):
            gc.collect()
            sc.setJobDescription(f"measure:{name}")
            secs.append(_timed(lambda: _noop(fn(spark, sf_dir))))
            sc.setJobDescription(None)
        plan = plan_string(fn(spark, sf_dir))
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(
            json.dumps(
                {
                    "name": name,
                    "sec": secs,
                    "cal_units": [round(s / calibration, 3) for s in secs],
                    "exchanges": plan.count("Exchange"),
                    "python_evals": plan.count("EvalPython")
                    + plan.count("MapInArrow")
                    + plan.count("MapInPandas")
                    + plan.count("FlatMapGroupsInPandas"),
                    "smj": plan.count("SortMergeJoin"),
                    "bhj": plan.count("BroadcastHashJoin"),
                    "shj": plan.count("ShuffledHashJoin"),
                    "bnlj": plan.count("BroadcastNestedLoopJoin"),
                }
            )
        )


def profile(names: list[str]) -> None:
    spark, sf_dir, available = _warm_session("profile")
    for name in names:
        fn = available[name]
        _noop(fn(spark, sf_dir))  # untimed warm pass
        pr = cProfile.Profile()
        t0 = time.perf_counter()
        pr.enable()
        _noop(fn(spark, sf_dir))
        pr.disable()
        wall = time.perf_counter() - t0
        s = io.StringIO()
        pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(35)
        print(f"==== {name}: wall {wall:.2f}s ====")
        print("\n".join(s.getvalue().splitlines()[:60]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("jobs").add_argument("names", nargs="+")
    m = sub.add_parser("measure")
    m.add_argument("--round", required=True, help="plans/<round>/ gets the plans, e.g. r18")
    m.add_argument("--reps", type=int, default=2)
    m.add_argument("tag")
    m.add_argument("names", nargs="+")
    sub.add_parser("profile").add_argument("names", nargs="+")
    a = ap.parse_args()
    if a.cmd == "jobs":
        jobs(a.names)
    elif a.cmd == "measure":
        measure(a.names, a.tag, a.round, a.reps)
    else:
        profile(a.names)


if __name__ == "__main__":
    main()
