from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from iceberg_tools_spark.session import get_spark

    s = get_spark("iceberg_tools_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from iceberg_tools_spark.parity import duck_connection

    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


@contextmanager
def spark_job_ids(spark):
    """The ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count pin")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def regenerated_fixture_diffs(script: str, fixture_dir: str, out_dir: str) -> list[str]:
    """Run ``scripts/<script>`` with its ``OUT_DIR`` global pointed at
    ``out_dir`` (the committed fixture is never written) and return the
    non-parquet files that differ from ``fixture_dir``, or that only one
    side has. Parquet bytes pin the installed pyarrow, not the engine."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        f"{script[:-3]}_scratch", REPO_ROOT / "scripts" / script
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.OUT_DIR = out_dir
    mod.main()

    def files(root: str) -> dict[str, bytes]:
        out = {}
        for dirpath, _, names in os.walk(root):
            for fn in names:
                if not fn.endswith(".parquet"):
                    p = os.path.join(dirpath, fn)
                    with open(p, "rb") as f:
                        out[os.path.relpath(p, root)] = f.read()
        return out

    want, got = files(fixture_dir), files(out_dir)
    return sorted(rel for rel in want.keys() | got.keys() if want.get(rel) != got.get(rel))
