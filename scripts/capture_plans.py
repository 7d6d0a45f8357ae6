"""Write plans/<round>/<name>_<tag>.txt for the named queries (and the
geo planning frame), without timing — evidence capture for the
optimization round. Usage:
    python scripts/capture_plans.py --round rN <tag> <query> [...]
Special names: geo_plan (the plan_scan decision-table frame with a
geo_bbox predicate), mor_read (read_mor over the delete-bearing MoR
fixture — shows the positional-delete scan consolidation).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", required=True, help="plans/<round>/ gets the plans, e.g. r18")
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+")
    a = ap.parse_args()
    tag, names = a.tag, a.names

    from iceberg_tools_spark import registry
    from iceberg_tools_spark.plans.checks import plan_string
    from iceberg_tools_spark.session import get_spark

    spark = get_spark("plancap", cpus=cpus)
    plans_dir = os.path.join(repo, "plans", a.round)
    os.makedirs(plans_dir, exist_ok=True)
    available = registry.queries()

    def emit(name: str, df) -> None:
        p = plan_string(df)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(p)
        print(
            name,
            "exchanges", p.count("Exchange"),
            "python", p.count("EvalPython") + p.count("MapInArrow")
            + p.count("MapInPandas") + p.count("FlatMapGroupsInPandas"),
            "scans", p.count("Scan parquet"),
        )

    for name in names:
        if name == "geo_plan":
            import glob
            import shutil
            import tempfile

            from iceberg_tools_spark.iceberg.deletes import MOR_DIR  # noqa: F401
            from iceberg_tools_spark.iceberg.snapshots import geo_scan_rows  # noqa: F401
            # build the same scratch geo table the gate builds, then
            # capture ONE plan_scan frame's plan
            import pyarrow as pa
            import pyarrow.parquet as pq

            from iceberg_tools_spark.iceberg.commit import (
                append_snapshot,
                create_table,
            )
            from iceberg_tools_spark.iceberg.conversions import wkb_point
            from iceberg_tools_spark.iceberg.snapshots import plan_scan

            root = tempfile.mkdtemp(prefix="geo_plan_")
            mp = create_table(
                os.path.join(root, "t"),
                [
                    {"id": 1, "name": "id", "required": False, "type": "long"},
                    {"id": 2, "name": "shape", "required": False,
                     "type": "geometry"},
                ],
                format_version=3,
            )
            troot = os.path.join(root, "t")
            pq.write_table(
                pa.table({"id": pa.array([1], "int64"),
                          "shape": pa.array([b"\x00"], pa.binary())}),
                os.path.join(troot, "data", "west.parquet"),
            )
            res = append_snapshot(mp, [{
                "path": "data/west.parquet", "partition": {},
                "lower_bounds": [{"key": 2, "value": wkb_point(0, 0)}],
                "upper_bounds": [{"key": 2, "value": wkb_point(10, 10)}],
            }])
            df = plan_scan(
                spark, res["metadata_path"], res["snapshot_id"],
                geo_bbox={2: (5, 5, 20, 20)}, base_dir=troot,
            )
            emit("geo_plan", df)
            shutil.rmtree(root, ignore_errors=True)
        elif name == "mor_read":
            import glob

            from iceberg_tools_spark.iceberg.deletes import MOR_DIR, read_mor

            mp = sorted(glob.glob(os.path.join(MOR_DIR, "*.metadata.json")))[-1]
            import json

            snap = json.load(open(mp))["current-snapshot-id"]
            emit("mor_read", read_mor(spark, mp, snap))
        elif name == "mor_read_multi":
            # ONE delete commit carrying THREE positional-delete
            # files (the shape the r16 consolidation targets): the
            # by-sequence multi-path read plans ONE delete scan node
            # per COMMIT, not one per file (VERDICT r16 #5 evidence)
            from iceberg_tools_spark.iceberg.commit import (
                _scratch_table,
                commit_delete_snapshot,
                write_position_deletes,
            )
            from iceberg_tools_spark.iceberg.deletes import MOR_DIR, read_mor

            root = _scratch_table("planmulti_", MOR_DIR)
            mp = os.path.join(root, "v2.metadata.json")
            entries = []
            for i, (tgt, part, ps) in enumerate([
                ("data/category=x/A.parquet", {"category": "x"}, [0, 1]),
                ("data/category=x/C.parquet", {"category": "x"}, [2]),
                ("data/category=z/D.parquet", {"category": "z"}, [3, 4]),
            ]):
                rel = write_position_deletes(
                    root, f"data/deletes/multi{i}.parquet",
                    [(tgt, p) for p in ps],
                )
                entries.append({"path": rel, "partition": part, "content": 1})
            r1 = commit_delete_snapshot(mp, entries, spec_id=0)
            emit(
                "mor_read_multi",
                read_mor(spark, r1["metadata_path"], r1["snapshot_id"], root),
            )
        elif name == "mor_read_multi_perfile":
            # the PRE-r16 per-file shape, reconstructed for contrast:
            # same three delete files read one-scan-per-file + union
            from functools import reduce

            from pyspark.sql import DataFrame
            from pyspark.sql import functions as F

            from iceberg_tools_spark.iceberg.commit import (
                _scratch_table,
                write_position_deletes,
            )
            from iceberg_tools_spark.iceberg.deletes import MOR_DIR

            root = _scratch_table("planmultiref_", MOR_DIR)
            paths = []
            for i, (tgt, ps) in enumerate([
                ("data/category=x/A.parquet", [0, 1]),
                ("data/category=x/C.parquet", [2]),
                ("data/category=z/D.parquet", [3, 4]),
            ]):
                rel = write_position_deletes(
                    root, f"data/deletes/multi{i}.parquet",
                    [(tgt, p) for p in ps],
                )
                paths.append(os.path.join(root, rel))
            frames = [
                spark.read.parquet(p).select(
                    "file_path", "pos", F.lit(10).alias("pd_seq")
                )
                for p in paths
            ]
            emit(
                "mor_read_multi_perfile", reduce(DataFrame.unionByName, frames)
            )
        else:
            emit(name, available[name](spark, sf_dir))


if __name__ == "__main__":
    main()
