"""Executor-parallel manifest parsing (VERDICT r8 #1): the
distributed path must produce bit-identical results to the
driver-sequential path for every consumer — plan_scan, MoR entry
listing, and the $entries/$files metadata tables."""

from __future__ import annotations

import glob
import os

import pytest

from iceberg_tools_spark.iceberg import manifest_io
from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table
from iceberg_tools_spark.iceberg.deletes import mor_entries_at
from iceberg_tools_spark.iceberg.metadata import parse_metadata
from iceberg_tools_spark.iceberg.snapshots import manifest_files_at, plan_scan
from iceberg_tools_spark.iceberg.tables import manifest_entries_df

N_COMMITS = 20  # one small manifest each: tests force the placement


@pytest.fixture(scope="module")
def many_manifest_table(spark, tmp_path_factory):
    """A table with one manifest per commit, far below the default
    byte budget: each both-placement test forces the side it runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("mio") / "t")
    os.makedirs(root)
    mp = create_table(
        root, [("id", "long"), ("cat", "string")],
        partition_by=[("cat", "identity", "cat")],
    )
    for i in range(N_COMMITS):
        cat = f"c{i % 4}"
        rel = f"data/f{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "id": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                "cat": pa.array([cat] * 10, pa.string()),
            }),
            os.path.join(root, rel),
        )
        mp = append_snapshot(mp, [{"path": rel, "partition": {"cat": cat}}])[
            "metadata_path"
        ]
    return root, mp


def _force_threshold(monkeypatch, value):
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", value)


def _fixture_tasks(many_manifest_table) -> list[tuple[None, str]]:
    root, mp = many_manifest_table
    meta = parse_metadata(mp)
    mrows = manifest_files_at(meta, meta.current_snapshot_id, os.path.dirname(mp))
    return [(None, m["local_path"]) for m in mrows]


def test_fixture_crosses_threshold(spark, many_manifest_table, monkeypatch):
    """The fixture's manifests decode on the driver by default and on
    executors once the budget is forced down to one byte."""
    tasks = _fixture_tasks(many_manifest_table)
    assert len(tasks) == N_COMMITS
    assert not manifest_io._on_executors(spark, tasks)
    _force_threshold(monkeypatch, 1)
    assert manifest_io._on_executors(spark, tasks)


# ---- placement by bytes ---------------------------------------------


def test_placement_by_bytes_off_the_driver(spark, many_manifest_table, monkeypatch):
    """Placement compares the bytes executors take off the driver's
    path with the budget: no tasks or no session decode on the driver
    whatever the budget, and a lone manifest saves nothing. Two
    manifests save the smaller one; twenty on eight cores save all but
    an eighth. One byte more stays on the driver, exactly that fans
    out."""
    tasks = _fixture_tasks(many_manifest_table)
    sizes = [os.path.getsize(p) for _, p in tasks]
    cores = spark.sparkContext.defaultParallelism
    assert len(tasks) > cores and max(sizes) <= sum(sizes) / cores

    for threshold in (0, 1, sum(sizes), 10**9):
        _force_threshold(monkeypatch, threshold)
        assert not manifest_io._on_executors(spark, [])
        assert not manifest_io._on_executors(None, tasks)
    _force_threshold(monkeypatch, 1)
    assert not manifest_io._on_executors(spark, tasks[:1])
    _force_threshold(monkeypatch, 0)
    assert manifest_io._on_executors(spark, tasks[:1])
    for some, saved in (
        (tasks[:2], min(sizes[:2])),
        (tasks, int(sum(sizes) - sum(sizes) / cores)),
    ):
        _force_threshold(monkeypatch, saved + 1)
        assert not manifest_io._on_executors(spark, some)
        _force_threshold(monkeypatch, saved)
        assert manifest_io._on_executors(spark, some)


def test_large_manifests_fan_out_and_stop_summing(spark, tmp_path, monkeypatch):
    """At the default budget, a manifest over half the budget decodes
    on the driver alone and with a second, which is all fanning out
    could spare; a third tips the placement to one Spark job, and the
    sum stops there: the fourth is never statted."""
    from iceberg_tools_spark.avro.writer import write_container

    from .conftest import spark_job_ids

    size = manifest_io.PARALLEL_THRESHOLD // 2 + 1
    paths = []
    for i in range(4):
        entries = [_entry(1, f"data/m{i}/{j:06d}-{'x' * 1000}.parquet") for j in range(size // 1000 + 1)]
        p = tmp_path / f"large-{i}.avro"
        p.write_bytes(write_container(_ENTRY_SCHEMA, entries))
        assert p.stat().st_size >= size
        paths.append(str(p))
    tasks = list(enumerate(paths))
    assert not manifest_io._on_executors(spark, tasks[:1])
    assert not manifest_io._on_executors(spark, tasks[:2])
    statted = []
    real = os.path.getsize

    def counting(path):
        statted.append(path)
        return real(path)

    monkeypatch.setattr(manifest_io.os.path, "getsize", counting)
    assert manifest_io._on_executors(spark, tasks)
    assert statted == paths[:3]

    def worker(ctx, blob):
        return [(ctx, sum(1 for _ in manifest_io.read_manifest(blob)))]

    with spark_job_ids(spark) as ids:
        got = manifest_io.map_manifests(spark, tasks, worker)
    assert len(ids) == 1
    assert got == manifest_io.map_manifests(None, tasks, worker)


def test_mor_entries_parallel_equals_sequential(
    spark, many_manifest_table, monkeypatch
):
    root, mp = many_manifest_table
    meta = parse_metadata(mp)
    sid = meta.current_snapshot_id
    bd = os.path.dirname(mp)
    _force_threshold(monkeypatch, 10**9)  # force driver path
    seq_data, seq_dels = mor_entries_at(meta, sid, bd)
    _force_threshold(monkeypatch, 0)  # force executor path
    par_data, par_dels = mor_entries_at(meta, sid, bd)
    assert par_data == seq_data  # identical dicts, identical ORDER
    assert par_dels == seq_dels
    assert len(par_data) == N_COMMITS


def test_plan_scan_parallel_equals_sequential(
    spark, many_manifest_table, monkeypatch
):
    root, mp = many_manifest_table
    meta = parse_metadata(mp)
    sid = meta.current_snapshot_id

    def rows(threshold):
        _force_threshold(monkeypatch, threshold)
        return sorted(
            map(tuple, plan_scan(spark, mp, sid).collect())
        )

    assert rows(0) == rows(10**9)
    # and the pruned form agrees too (level-1 pruning stays driver-side)
    def pruned(threshold):
        _force_threshold(monkeypatch, threshold)
        return sorted(
            r.file_path
            for r in plan_scan(
                spark, mp, sid, partition_pred={"cat": "c1"}
            ).collect()
            if r.selected
        )

    p1, p2 = pruned(0), pruned(10**9)
    assert p1 == p2 and len(p1) == N_COMMITS // 4


def test_entries_df_parallel_equals_sequential(
    spark, many_manifest_table, monkeypatch
):
    root, mp = many_manifest_table
    meta = parse_metadata(mp)
    mrows = manifest_files_at(meta, meta.current_snapshot_id, os.path.dirname(mp))
    paths = [m["local_path"] for m in mrows]

    _force_threshold(monkeypatch, 10**9)
    seq = sorted(map(tuple, manifest_entries_df(spark, paths, meta.raw).collect()))
    _force_threshold(monkeypatch, 0)
    par = sorted(map(tuple, manifest_entries_df(spark, paths, meta.raw).collect()))
    assert par == seq
    assert len(par) >= N_COMMITS


def test_map_manifests_preserves_task_order(spark, tmp_path, monkeypatch):
    """flatMap keeps partition order: rows come back exactly in task
    order, so parallel consumers see the sequential shape."""
    paths = []
    for i in range(6):
        p = str(tmp_path / f"blob{i}")
        with open(p, "wb") as f:
            f.write(bytes([i]))
        paths.append(p)

    def worker(ctx, blob):
        return [(ctx, blob[0])]

    tasks = [(i, p) for i, p in enumerate(paths)]
    _force_threshold(monkeypatch, 0)
    out = manifest_io.map_manifests(spark, tasks, worker)
    assert out == [(i, i) for i in range(6)]
    # driver path agrees
    assert manifest_io.map_manifests(None, tasks, worker) == out


# ---- distributed orphan listing (VERDICT r8 #2) ----------------


def test_distributed_listing_matches_walk(spark, tmp_path):
    """The executor-sharded listing returns exactly the files a
    driver os.walk finds, at any tree shape (deep hive dirs, files
    at the surface, empty dirs)."""
    import os

    from iceberg_tools_spark.iceberg.maintenance import distributed_listing

    root = str(tmp_path / "data")
    made = []
    for rel in (
        "surface.parquet",
        "a=1/f1.parquet",
        "a=1/b=x/f2.parquet",
        "a=1/b=y/deep/f3.parquet",
        "a=2/f4.parquet",
    ):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"x")
        made.append(os.path.abspath(p))
    os.makedirs(os.path.join(root, "a=3/empty"), exist_ok=True)

    for fanout in (1, 2, 100):
        got = distributed_listing(spark, root, fanout_target=fanout)
        assert sorted(r.file_path for r in got.collect()) == sorted(made)
        assert all(r.mtime_ms > 0 for r in got.collect())


def test_referenced_paths_df_matches_set(spark, tmp_path):
    """VERDICT r12 #3: the orphan anti-join's reference side as a
    DISTRIBUTED frame — collected, it equals the driver-set form
    exactly (both fanouts of map_manifests), so the anti-join's
    protection semantics are unchanged while manifest-entry paths
    stay executor-side."""
    import shutil

    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.maintenance import (
        referenced_paths,
        referenced_paths_df,
    )

    root = str(tmp_path / "t")
    shutil.copytree(MOR_DIR, root)
    mp = os.path.join(root, "v2.metadata.json")
    want = referenced_paths(mp)
    got = {r.file_path for r in referenced_paths_df(spark, mp).collect()}
    assert got == want and len(want) > 5
    # the threshold=0 path forces executor-side parsing end to end
    import iceberg_tools_spark.iceberg.manifest_io as mio

    old = mio.PARALLEL_THRESHOLD
    try:
        mio.PARALLEL_THRESHOLD = 0
        got2 = {r.file_path for r in referenced_paths_df(spark, mp).collect()}
    finally:
        mio.PARALLEL_THRESHOLD = old
    assert got2 == want


def test_orphan_delete_distributed_batch(spark, tmp_path, monkeypatch):
    """Above the threshold, the unlink itself runs in executors —
    same result, orphans gone, referenced files intact."""
    import os
    import shutil

    from iceberg_tools_spark.iceberg import maintenance as M
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, read_mor

    root = str(tmp_path / "t")
    shutil.copytree(MOR_DIR, root)
    strays = []
    for i in range(12):
        p = os.path.join(root, "data", f"stray={i % 3}", f"s{i}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"junk")
        strays.append(os.path.abspath(p))
    monkeypatch.setattr(M, "DISTRIBUTED_DELETE_THRESHOLD", 4)
    res = M.delete_orphan_files(spark, os.path.join(root, "v2.metadata.json"))
    assert res["removed"] == 12
    assert sorted(res["orphans"]) == sorted(strays)
    assert not any(os.path.exists(p) for p in strays)
    assert read_mor(spark, os.path.join(root, "v2.metadata.json"), 2004).count() == 323


def test_orphan_age_gate_uses_walk_mtime(spark, tmp_path):
    """older_than_ms gates on the mtime captured during the listing
    — young strays are reported, not removed."""
    import os
    import shutil
    import time

    from iceberg_tools_spark.iceberg.maintenance import delete_orphan_files

    root = str(tmp_path / "t")
    shutil.copytree(MOR_DIR_IMPORT := __import__(
        "iceberg_tools_spark.iceberg.deletes", fromlist=["MOR_DIR"]
    ).MOR_DIR, root)
    old = os.path.join(root, "data", "old-stray.parquet")
    young = os.path.join(root, "data", "young-stray.parquet")
    for p in (old, young):
        with open(p, "wb") as f:
            f.write(b"junk")
    past = time.time() - 3600
    os.utime(old, (past, past))
    res = delete_orphan_files(
        spark, os.path.join(root, "v2.metadata.json"),
        older_than_ms=60_000,
    )
    assert res["orphans"] == [os.path.abspath(old)]
    assert res["too_young"] == [os.path.abspath(young)]
    assert os.path.exists(young) and not os.path.exists(old)


def test_map_manifests_empty_tasks(spark, monkeypatch):
    """Zero manifests (an empty snapshot's plan) short-circuits on
    both paths, as a list and as a frame."""
    from iceberg_tools_spark.iceberg.manifest_io import manifest_frame, map_manifests

    def worker(ctx, blob):
        raise AssertionError("must not be called")

    for threshold in (0, 1, 10**9):
        _force_threshold(monkeypatch, threshold)
        assert map_manifests(spark, [], worker) == []
        assert map_manifests(None, [], worker) == []
        assert manifest_frame(spark, [], worker, "p string").collect() == []


def test_map_manifests_worker_error_propagates(spark, tmp_path, monkeypatch):
    """A worker exception surfaces (wrapped by Spark on the parallel
    path) instead of silently dropping a manifest."""
    import pytest

    from iceberg_tools_spark.iceberg.manifest_io import map_manifests

    p = str(tmp_path / "blob")
    with open(p, "wb") as f:
        f.write(b"xx")

    def worker(ctx, blob):
        raise ValueError("boom-manifest")

    with pytest.raises(ValueError, match="boom-manifest"):
        map_manifests(None, [(0, p)], worker)
    _force_threshold(monkeypatch, 0)
    with pytest.raises(Exception, match="boom-manifest"):
        map_manifests(spark, [(0, p)], worker)


def test_orphan_age_split_single_listing_job(spark, tmp_path, monkeypatch):
    """ADVICE r9: the young/old split happens driver-side on ONE
    collected orphan list — the distributed listing + anti-join must
    execute exactly once regardless of older_than_ms."""
    import os

    from iceberg_tools_spark.iceberg import maintenance as m

    calls = {"n": 0}
    real = m.distributed_listing

    def counting(spark_, data_root, **kw):
        calls["n"] += 1
        # force materialization per call-site action by checkpointing:
        # each ACTION on the returned frame would re-enter the RDD scan,
        # so pin the frame and count entries into the builder instead
        return real(spark_, data_root, **kw).localCheckpoint()

    monkeypatch.setattr(m, "distributed_listing", counting)

    from iceberg_tools_spark.iceberg.commit import _scratch_table
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    root = _scratch_table("orphan_once_", MOR_DIR)
    mp = os.path.join(root, "v2.metadata.json")
    stray = os.path.join(root, "data", "stray.bin")
    with open(stray, "wb") as f:
        f.write(b"x")
    res = m.delete_orphan_files(
        spark, mp, older_than_ms=0, dry_run=True
    )
    assert calls["n"] == 1
    assert [os.path.basename(p) for p in res["orphans"]] == ["stray.bin"]


# ---- one reader, one inheritance rule -----------------------------


def _entry(status, path, snapshot_id=None, seq=None):
    return {
        "status": status, "snapshot_id": snapshot_id, "sequence_number": seq,
        "file_sequence_number": None,
        "data_file": {"file_path": path, "record_count": 1},
    }


_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "file_sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": {"type": "record", "name": "r2", "fields": [
            {"name": "file_path", "type": "string"},
            {"name": "record_count", "type": "long"},
        ]}},
    ],
}


def test_read_manifest_inherits_from_the_list_row_only(tmp_path):
    """Given its list row, a null snapshot id takes the manifest's
    ``added_snapshot_id`` and a null sequence number the manifest's
    when the entry is ADDED or that number is 0; given only bytes,
    the stored values come back."""
    from iceberg_tools_spark.avro.writer import write_container
    from iceberg_tools_spark.iceberg.manifest_io import read_manifest, sequence_number

    stored = [
        _entry(1, "added"),
        _entry(0, "existing"),
        _entry(2, "deleted"),
        _entry(0, "explicit", snapshot_id=3, seq=4),
    ]
    p = tmp_path / "m.avro"
    p.write_bytes(write_container(_ENTRY_SCHEMA, stored))
    row = {"local_path": str(p), "added_snapshot_id": 9, "sequence_number": 7}

    assert list(read_manifest(p.read_bytes())) == stored
    got = list(read_manifest(row))
    assert got == list(read_manifest(p.read_bytes(), row))
    assert [(e["snapshot_id"], e["sequence_number"], e["file_sequence_number"]) for e in got] == [
        (9, 7, 7), (9, None, None), (9, None, None), (3, 4, None),
    ]
    assert sequence_number(got[0]) == 7
    with pytest.raises(ValueError, match="'existing'.*no sequence_number"):
        sequence_number(got[1])
    # sequence number 0 (a v1 list carries none): every null inherits 0
    v1 = read_manifest({"local_path": str(p), "added_snapshot_id": 9})
    assert [e["sequence_number"] for e in v1] == [0, 0, 0, 4]


def _three_appends(root: str, null_ids: bool) -> tuple[str, list[str], list[int]]:
    """Three appends of one file each (f0, f1, f2), one manifest per
    append. ``null_ids`` rewrites every manifest with its ADDED entries'
    ``snapshot_id`` null, as the v2 spec lets a writer leave it for the
    manifest list to supply. Returns the version after each append,
    and the snapshot ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.avro.reader import AvroContainerFile
    from iceberg_tools_spark.avro.writer import write_container

    mp = create_table(root, [("id", "long")])
    versions, sids = [], []
    for i in range(3):
        rel = f"data/f{i}.parquet"
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), os.path.join(root, rel))
        res = append_snapshot(mp, [{"path": rel, "partition": {}}])
        mp = res["metadata_path"]
        versions.append(mp)
        sids.append(res["snapshot_id"])
    if null_ids:
        for p in glob.glob(os.path.join(root, "metadata", "manifest-*.avro")):
            f = AvroContainerFile(open(p, "rb").read())
            entries = [{**e, "snapshot_id": None} if e["status"] == 1 else e for e in f]
            with open(p, "wb") as out:
                out.write(write_container(f.schema, entries))
    return root, versions, sids


@pytest.mark.parametrize("null_ids", [False, True], ids=["explicit", "inherited"])
def test_added_sets_agree_whether_ids_are_explicit_or_inherited(spark, tmp_path, null_ids):
    """Every consumer of "the files snapshot S added" reads them through
    ``manifest_io.read_manifest`` with the list row, so a table whose
    ADDED entries carry null snapshot ids answers exactly as its
    explicit-id twin: the incremental scan, the concurrency
    validation, cherry-pick, the summary audit and the WAP audit's
    entry ids."""
    from iceberg_tools_spark.avro.reader import AvroContainerFile
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot
    from iceberg_tools_spark.iceberg.concurrency import _added_data_entries_between
    from iceberg_tools_spark.iceberg.snapshots import audit_snapshot_summaries, files_added_between

    root, versions, (s1, s2, s3) = _three_appends(str(tmp_path / "t"), null_ids)
    head = versions[-1]
    name = os.path.basename

    got = {(r.snapshot_id, name(r.file_path)) for r in files_added_between(spark, head, s1, s3).collect()}
    assert got == {(s2, "f1.parquet"), (s3, "f2.parquet")}

    meta = parse_metadata(head)
    added = _added_data_entries_between(meta, s1, s3, os.path.dirname(head))
    assert sorted(name(d["file_path"]) for d in added) == ["f1.parquet", "f2.parquet"]

    data, _ = mor_entries_at(meta, s3, os.path.dirname(head))
    assert {name(e["file_path"]): e["snapshot_id"] for e in data} == {
        "f0.parquet": s1, "f1.parquet": s2, "f2.parquet": s3,
    }

    audit = audit_snapshot_summaries(spark, head, os.path.dirname(head)).collect()
    assert [(r.snapshot_id, r.added_files_actual, r.consistent) for r in audit] == [
        (s1, 1, True), (s2, 1, True), (s3, 1, True),
    ]

    res = cherrypick_snapshot(head, s2)
    new = parse_metadata(res["metadata_path"])
    snap = next(s for s in new.snapshots if s["snapshot-id"] == res["snapshot_id"])
    assert snap["summary"]["added-data-files"] == "1"
    man = os.path.join(root, "metadata", f"manifest-{res['snapshot_id']}.avro")
    assert [name(e["data_file"]["file_path"]) for e in AvroContainerFile(open(man, "rb").read())] == [
        "f1.parquet"
    ]


def test_rewrite_merges_two_engine_written_manifests(tmp_path):
    """Manifests the engine writes name their records as Java does, so
    two manifests of one spec carry one schema text: they share one
    compiled decoder and merge in one manifest rewrite."""
    from iceberg_tools_spark.avro import reader
    from iceberg_tools_spark.iceberg.rewrite import rewrite_manifests

    root, versions, sids = _three_appends(str(tmp_path / "t"), null_ids=False)
    paths = sorted(glob.glob(os.path.join(root, "metadata", "manifest-*.avro")))[:2]
    reader._DECODERS.clear()
    for p in paths:
        list(manifest_io.read_manifest(open(p, "rb").read()))
    assert len(reader._DECODERS) == 1
    rows = manifest_files_at(parse_metadata(versions[1]), sids[1], root)
    assert sorted(os.path.basename(r["local_path"]) for r in rows) == [
        os.path.basename(p) for p in paths
    ]
    (stats,) = rewrite_manifests([rows], str(tmp_path / "out"))
    assert stats["entries_in"] == stats["entries_out"] == 2
    merged = list(manifest_io.read_manifest(open(stats["out_path"], "rb").read()))
    assert [(e["status"], e["snapshot_id"]) for e in merged] == [(0, sids[0]), (0, sids[1])]


def test_rewrite_from_list_rows_writes_inherited_fields(tmp_path):
    """ADDED entries leave their snapshot id and sequence number to the
    manifest list. Merged from the list rows, the rewritten EXISTING
    entries carry both explicitly, so a read through any later list row
    has them (``mor_entries_at`` needs the sequence number); merged
    from bare paths, a null sequence number is refused like a null
    snapshot id."""
    from iceberg_tools_spark.iceberg.rewrite import rewrite_manifests

    root, versions, sids = _three_appends(str(tmp_path / "t"), null_ids=True)
    rows = manifest_files_at(parse_metadata(versions[1]), sids[1], root)
    (stats,) = rewrite_manifests([rows], str(tmp_path / "out"))
    stored = list(manifest_io.read_manifest(open(stats["out_path"], "rb").read()))
    assert [(e["status"], e["snapshot_id"], e["sequence_number"]) for e in stored] == [
        (0, sids[0], 1), (0, sids[1], 2),
    ]
    later = {**rows[0], "local_path": stats["out_path"], "sequence_number": 3,
             "added_snapshot_id": sids[2]}
    read = list(manifest_io.read_manifest(later))
    assert [(e["snapshot_id"], manifest_io.sequence_number(e)) for e in read] == [
        (sids[0], 1), (sids[1], 2),
    ]

    root, versions, sids = _three_appends(str(tmp_path / "u"), null_ids=False)
    rows = manifest_files_at(parse_metadata(versions[1]), sids[1], root)
    with pytest.raises(ValueError, match=r"inherited \(null\) sequence_number"):
        rewrite_manifests([[r["local_path"] for r in rows]], str(tmp_path / "out2"))
