"""Write-audit-publish AUDIT gates: declarative data-quality checks
evaluated on a STAGED snapshot before it becomes current.

The workflow Iceberg's WAP properties exist for (the reference's
metadata model — snapshots readable through branch refs before
``current-snapshot-id`` moves — is exactly what makes it possible):
a writer stages its commit on a branch ref, an auditor queries the
staged state, and only a passing audit publishes. This module adds
the auditor: a small declarative check vocabulary covering the
gates real ingestion pipelines run (row-count deltas, null ratios,
key uniqueness, accepted values, bounds).

Scale shape: checks that only concern the NEW data (null ratio,
accepted values, bounds) scan ONLY the files the staged snapshot
added — changelog-sized, not table-sized; the two whole-table
checks (row-count delta via snapshot summaries = metadata-only;
key uniqueness = one groupBy over the staged MoR state, the one
genuinely corpus-scale check and the one a 100 TB deployment
schedules deliberately). All checks evaluate in ONE Spark action
per data granularity (added-scan checks share a single aggregate
row; metadata checks are driver-side JSON).

``audit_and_publish`` is the transactional composition: every
check passes → fast-forward publish; any failure → the staging ref
is dropped (abort) and main never moves.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .deletes import mor_entries_at, mor_frame, read_mor
from .metadata import parse_metadata


def _staged_snapshot(raw: dict, ref: str) -> dict:
    staged = raw.get("refs", {}).get(ref)
    if staged is None:
        raise ValueError(f"no staged ref {ref!r}")
    sid = staged["snapshot-id"]
    return next(s for s in raw["snapshots"] if s["snapshot-id"] == sid)


def _added_frame(
    spark: SparkSession, meta, snap: dict, base_dir: str
) -> DataFrame | None:
    """Rows of the files the staged snapshot ADDED (changelog-sized
    scan), or None when it added none."""
    data, _dels = mor_entries_at(meta, snap["snapshot-id"], base_dir)
    added = [e for e in data if e.get("snapshot_id") == snap["snapshot-id"]]
    if not added:
        return None
    return mor_frame(spark, added)


def _total_records(raw: dict, snapshot_id: int | None, base_dir: str) -> int:
    """total-records at a snapshot: the summary claim when present,
    else computed from the manifest list (KB metadata read) — some
    tables (and the MoR fixture) omit summary totals."""
    if snapshot_id is None:
        return 0
    snap = next(s for s in raw["snapshots"] if s["snapshot-id"] == snapshot_id)
    claimed = snap.get("summary", {}).get("total-records")
    if claimed is not None:
        return int(claimed)
    from .snapshots import _local, read_manifest_list

    loc = raw.get("location")
    total = 0
    for m in read_manifest_list(_local(snap["manifest-list"], base_dir, loc)):
        if m.get("content", 0) == 0:
            total += m.get("added_rows_count", 0) + m.get("existing_rows_count", 0)
    return total


def audit_staged(
    spark: SparkSession,
    metadata_path: str,
    ref: str,
    checks: list[dict[str, Any]],
    *,
    base_dir: str | None = None,
) -> list[dict[str, Any]]:
    """Evaluate ``checks`` against the snapshot staged on ``ref``.
    Returns one result dict per check: {check_idx, check_type,
    target, passed, observed}.

    Check vocabulary (``type`` key):

    * ``row_count_delta``: staged total-records − current
      total-records within [min, max] (snapshot summaries —
      metadata-only, no scan).
    * ``not_null``: null ratio of ``column`` over the ADDED rows
      ≤ ``max_null_ratio``.
    * ``accepted_values``: every ADDED row's ``column`` ∈
      ``values``.
    * ``min_max``: ADDED rows' ``column`` within [lo, hi].
    * ``unique_key``: no duplicate ``columns`` tuple in the FULL
      staged state (the one table-scale check).
    """
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    raw = meta.raw
    snap = _staged_snapshot(raw, ref)
    sid = snap["snapshot-id"]

    # ---- metadata-only inputs
    cur_id = raw.get("current-snapshot-id")
    delta = _total_records(raw, sid, base_dir) - _total_records(
        raw, cur_id, base_dir
    )

    # ---- one shared aggregate over the ADDED rows for every
    # added-scan check; the unique_key full-state count(s) are
    # INDEPENDENT read-only actions, so they submit from a small
    # driver pool and overlap the added-rows job (guide §2.6: the
    # later job's tasks back-fill the earlier job's tail instead of
    # serializing two scheduling latencies; r17)
    added_checks = [
        (i, c) for i, c in enumerate(checks)
        if c["type"] in ("not_null", "accepted_values", "min_max")
    ]
    unique_checks = [
        (i, c) for i, c in enumerate(checks) if c["type"] == "unique_key"
    ]

    def _added_obs() -> dict[int, tuple[bool, str]]:
        obs: dict[int, tuple[bool, str]] = {}
        if not added_checks:
            return obs
        df = _added_frame(spark, meta, snap, base_dir)
        aggs, metas = [], []
        for i, c in added_checks:
            col = c["column"]
            if c["type"] == "not_null":
                aggs.append(
                    (F.sum(F.col(col).isNull().cast("long"))
                     / F.count(F.lit(1))).alias(f"a{i}")
                )
            elif c["type"] == "accepted_values":
                aggs.append(
                    F.sum((~F.col(col).isin(list(c["values"]))).cast("long"))
                    .alias(f"a{i}")
                )
            else:  # min_max
                aggs.append(
                    F.sum(
                        ((F.col(col) < F.lit(c["lo"])) | (F.col(col) > F.lit(c["hi"])))
                        .cast("long")
                    ).alias(f"a{i}")
                )
            metas.append((i, c))
        if df is None:
            for i, c in metas:
                obs[i] = (True, "no files added")
        else:
            row = df.agg(*aggs).collect()[0]
            for i, c in metas:
                v = row[f"a{i}"]
                if c["type"] == "not_null":
                    ok = (v or 0.0) <= c["max_null_ratio"]
                    obs[i] = (bool(ok), f"null_ratio={v or 0.0:.6f}")
                else:
                    bad = int(v or 0)
                    obs[i] = (bad == 0, f"violations={bad}")
        return obs

    def _unique_dupes(cols: list[str]) -> int:
        state = read_mor(spark, metadata_path, sid, base_dir)
        return (
            state.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )

    from concurrent.futures import ThreadPoolExecutor

    unique_obs: dict[int, int] = {}
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_added = pool.submit(_added_obs)
        fut_unique = {
            i: pool.submit(_unique_dupes, list(c["columns"]))
            for i, c in unique_checks
        }
        added_obs = fut_added.result()
        unique_obs = {i: f.result() for i, f in fut_unique.items()}

    results = []
    for i, c in enumerate(checks):
        t = c["type"]
        if t == "row_count_delta":
            ok = c.get("min", 0) <= delta <= c.get("max", 1 << 62)
            results.append((i, t, "table", bool(ok), f"delta={delta}"))
        elif t in ("not_null", "accepted_values", "min_max"):
            ok, obs = added_obs[i]
            results.append((i, t, c["column"], ok, obs))
        elif t == "unique_key":
            dupes = unique_obs[i]
            results.append(
                (i, t, ",".join(c["columns"]), dupes == 0, f"duplicate_keys={dupes}")
            )
        else:
            raise ValueError(f"unknown audit check type {t!r}")
    return [
        dict(zip(("check_idx", "check_type", "target", "passed", "observed"), r))
        for r in results
    ]


def abort_staged(metadata_path: str, ref: str) -> dict[str, Any]:
    """Drop a staging ref without publishing (the audit-failed
    path). The snapshot stays in ``snapshots`` until expiry —
    exactly how Iceberg WAP aborts behave."""
    meta = parse_metadata(metadata_path)
    raw = json.loads(json.dumps(meta.raw))
    if ref not in raw.get("refs", {}):
        raise ValueError(f"no staged ref {ref!r}")
    sid = raw["refs"][ref]["snapshot-id"]
    del raw["refs"][ref]
    from .commit import commit_version

    new_path = commit_version(metadata_path, raw)
    return {"metadata_path": new_path, "aborted_snapshot_id": sid}


def audit_and_publish(
    spark: SparkSession,
    metadata_path: str,
    ref: str,
    checks: list[dict[str, Any]],
    *,
    base_dir: str | None = None,
) -> dict[str, Any]:
    """Run the audit; publish on all-pass, abort the ref otherwise.
    Returns {published: bool, results: [...], metadata_path,
    snapshot_id}."""
    results = audit_staged(spark, metadata_path, ref, checks, base_dir=base_dir)
    if all(r["passed"] for r in results):
        from .commit import publish_snapshot

        pub = publish_snapshot(metadata_path, ref)
        return {"published": True, "results": results, **pub}
    ab = abort_staged(metadata_path, ref)
    return {
        "published": False,
        "results": results,
        "metadata_path": ab["metadata_path"],
        "snapshot_id": ab["aborted_snapshot_id"],
    }


# ------------------------------------------------ driver-gate query


def wap_audit_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: two staged appends on the MoR fixture — one
    CLEAN (passes every check → published, main advances) and one
    DIRTY (null category + duplicate ids + out-of-range → audit
    fails, ref aborted, main unchanged). Output: every check result
    for both stages plus the final main row count. Golden oracle.
    (``sf_dir`` unused: fixture-scoped like every meta_* gate.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .commit import _scratch_table, append_snapshot
    from .deletes import MOR_DIR

    root = _scratch_table("wap_audit_", MOR_DIR)
    mp0 = os.path.join(root, "v2.metadata.json")

    def _stage(mp: str, name: str, ids, cats, ref: str) -> str:
        rel = f"data/category=w/id_trunc=400/{name}.parquet"
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "category": pa.array(cats, pa.string()),
            }),
            p,
        )
        return append_snapshot(
            mp, [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
            stage_ref=ref,
        )["metadata_path"]

    checks = [
        {"type": "row_count_delta", "min": 1, "max": 100},
        {"type": "not_null", "column": "category", "max_null_ratio": 0.0},
        {"type": "min_max", "column": "id", "lo": 0, "hi": 999},
        {"type": "unique_key", "columns": ["id"]},
    ]

    before = read_mor(
        spark, mp0, parse_metadata(mp0).current_snapshot_id, root
    ).count()

    rows: list[tuple] = []
    # clean stage: ids 400-409, all categorized
    mp1 = _stage(mp0, "CLEAN", list(range(400, 410)), ["w"] * 10, "wap-ok")
    res1 = audit_and_publish(spark, mp1, "wap-ok", checks, base_dir=root)
    for r in res1["results"]:
        rows.append(("clean", r["check_idx"], r["check_type"], r["passed"]))
    rows.append(("clean", 99, "published", res1["published"]))

    # dirty stage on the published head: a null category, a
    # duplicate of id 400 (now live), and id 5000 out of range
    mp2 = _stage(
        res1["metadata_path"], "DIRTY", [400, 5000, 600], ["w", None, "w"], "wap-bad"
    )
    res2 = audit_and_publish(spark, mp2, "wap-bad", checks, base_dir=root)
    for r in res2["results"]:
        rows.append(("dirty", r["check_idx"], r["check_type"], r["passed"]))
    rows.append(("dirty", 99, "published", res2["published"]))

    # final state: main holds exactly the clean rows, none dirty
    final = read_mor(spark, res2["metadata_path"], res1["snapshot_id"], root)
    rows.append(("final", 100, "main_rows", final.count() == before + 10))

    schema = T.StructType(
        [
            T.StructField("stage", T.StringType()),
            T.StructField("check_idx", T.LongType()),
            T.StructField("check_type", T.StringType()),
            T.StructField("passed", T.BooleanType()),
        ]
    )
    return local_frame(spark, rows, schema).orderBy("stage", "check_idx")


WAP_AUDIT_SQL = """
SELECT stage, CAST(check_idx AS BIGINT) AS check_idx, check_type, passed
FROM (VALUES
  ('clean', 0, 'row_count_delta', TRUE),
  ('clean', 1, 'not_null',        TRUE),
  ('clean', 2, 'min_max',         TRUE),
  ('clean', 3, 'unique_key',      TRUE),
  ('clean', 99, 'published',      TRUE),
  ('dirty', 0, 'row_count_delta', TRUE),
  ('dirty', 1, 'not_null',        FALSE),
  ('dirty', 2, 'min_max',         FALSE),
  ('dirty', 3, 'unique_key',      FALSE),
  ('dirty', 99, 'published',      FALSE),
  ('final', 100, 'main_rows',     TRUE)
) t(stage, check_idx, check_type, passed)
ORDER BY stage, check_idx
"""
