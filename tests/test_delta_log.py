"""Pure-Python Delta transaction-log reader: replay, time travel,
checkpoint path, and malformed-input behavior over the hand-built
protocol-valid fixture (scripts/gen_delta_fixture.py)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from iceberg_tools_spark.sources.delta_log import (
    DELTA_FIXTURE,
    delta_live_files,
    latest_checkpoint,
    read_delta_log,
    replay_log,
)


def _names(paths):
    return sorted(os.path.basename(p) for p in paths)


def test_replay_head_and_time_travel():
    assert _names(delta_live_files(DELTA_FIXTURE)) == [
        "f3.parquet", "f4.parquet", "f5.parquet",
    ]
    assert _names(delta_live_files(DELTA_FIXTURE, 0)) == ["f1.parquet", "f2.parquet"]
    assert _names(delta_live_files(DELTA_FIXTURE, 1)) == ["f1.parquet", "f3.parquet"]
    assert _names(delta_live_files(DELTA_FIXTURE, 2)) == [
        "f1.parquet", "f3.parquet", "f4.parquet",
    ]
    with pytest.raises(ValueError, match="not in log"):
        replay_log(DELTA_FIXTURE, 9)


def test_checkpoint_alone_reconstructs_state(tmp_path):
    # delete the JSON commits the checkpoint covers: replay must
    # still produce the exact head state from checkpoint + tail
    root = tmp_path / "t"
    shutil.copytree(DELTA_FIXTURE, root)
    for v in (0, 1, 2):
        os.remove(root / "_delta_log" / f"{v:020d}.json")
    assert _names(delta_live_files(str(root))) == [
        "f3.parquet", "f4.parquet", "f5.parquet",
    ]
    # and the metaData (partition columns) survives via the checkpoint
    _, meta, _ = replay_log(str(root))
    assert meta["partitionColumns"] == ["cat"]


def test_stale_checkpoint_pointer_falls_back(tmp_path):
    root = tmp_path / "t"
    shutil.copytree(DELTA_FIXTURE, root)
    with open(root / "_delta_log" / "_last_checkpoint", "w") as f:
        json.dump({"version": 99, "size": 1}, f)
    v, path = latest_checkpoint(str(root))
    assert v == 2 and path.endswith("00000000000000000002.checkpoint.parquet")
    assert _names(delta_live_files(str(root))) == [
        "f3.parquet", "f4.parquet", "f5.parquet",
    ]


def test_not_a_delta_table(tmp_path):
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        replay_log(str(tmp_path))


def test_read_injects_partition_columns(spark):
    # Delta does NOT store partition columns in the parquet — the
    # read must surface `cat` from the layout/log anyway
    df = read_delta_log(spark, DELTA_FIXTURE)
    assert set(df.columns) == {"id", "val", "cat"}
    got = {(r["cat"], r["count"]) for r in df.groupBy("cat").count().collect()}
    assert got == {("x", 10), ("y", 5), ("z", 20)}
    # time travel through the same surface
    assert read_delta_log(spark, DELTA_FIXTURE, version=1).count() == 60


def test_non_hive_layout_injects_from_partition_values(spark, tmp_path):
    # same log, but paths carry no key=value segments: the reader
    # must fall back to explicit partitionValues injection
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t"
    (root / "_delta_log").mkdir(parents=True)
    meta = {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": "{}", "partitionColumns": ["cat"],
        "configuration": {}, "createdTime": 0,
    }
    for i, (name, cat, ids) in enumerate(
        [("a.parquet", "x", [1, 2]), ("b.parquet", "y", [3])]
    ):
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), root / name)
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": meta},
        {"add": {"path": "a.parquet", "partitionValues": {"cat": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {"cat": "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    rows = {(r["id"], r["cat"]) for r in read_delta_log(spark, str(root)).collect()}
    assert rows == {(1, "x"), (2, "x"), (3, "y")}


def test_migrate_delta_to_iceberg_row_for_row(spark, tmp_path):
    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.sources.migrate import migrate_delta_to_iceberg

    target = str(tmp_path / "ice")
    res = migrate_delta_to_iceberg(spark, DELTA_FIXTURE, target)
    migrated = read_mor(spark, res["metadata_path"], res["snapshot_id"], target)
    src = read_delta_log(spark, DELTA_FIXTURE)
    assert sorted(map(tuple, migrated.collect())) == sorted(map(tuple, src.collect()))
    # one file per partition, identity-partitioned
    assert res["n_files"] == 3
    # the migrated table is a full citizen: time travel + metadata
    import json as _json

    raw = _json.loads(open(res["metadata_path"]).read())
    assert raw["properties"]["migrated-from"] == "delta"
    assert raw["properties"]["migrated-delta-version"] == "3"
    spec = raw["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [("cat", "identity")]


def test_migrate_historical_version(spark, tmp_path):
    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.sources.migrate import migrate_delta_to_iceberg

    target = str(tmp_path / "ice1")
    res = migrate_delta_to_iceberg(spark, DELTA_FIXTURE, target, version=1)
    migrated = read_mor(spark, res["metadata_path"], res["snapshot_id"], target)
    assert migrated.count() == 60  # f1 + f3 at delta v1
    src = read_delta_log(spark, DELTA_FIXTURE, version=1)
    assert sorted(map(tuple, migrated.collect())) == sorted(map(tuple, src.collect()))


def test_export_then_migrate_round_trip(spark, tmp_path):
    # Iceberg → Delta → Iceberg: full interop circle, row-for-row
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA, read_mor
    from iceberg_tools_spark.sources.migrate import (
        export_iceberg_to_delta,
        migrate_delta_to_iceberg,
    )

    delta_root = str(tmp_path / "delta")
    export_iceberg_to_delta(spark, MOR_METADATA, 2004, delta_root, base_dir=MOR_DIR)
    # partition columns survive only as identity (category); the
    # truncate[100] field exports as a plain data column
    _, meta, _ = replay_log(delta_root)
    assert meta["partitionColumns"] == ["category"]

    back_root = str(tmp_path / "ice")
    res = migrate_delta_to_iceberg(spark, delta_root, back_root)
    back = read_mor(spark, res["metadata_path"], res["snapshot_id"], back_root)
    src = read_mor(spark, MOR_METADATA, 2004, MOR_DIR)
    assert sorted(map(tuple, back.select("id", "category").collect())) == sorted(
        map(tuple, src.select("id", "category").collect())
    )


def test_delta_adds_between():
    from iceberg_tools_spark.sources.delta_log import delta_adds_between

    per = delta_adds_between(DELTA_FIXTURE, 0, 3)
    assert sorted(per) == [1, 2, 3]
    assert [a["path"] for a in per[1]] == ["cat=x/f3.parquet"]
    assert [a["path"] for a in per[3]] == ["cat=y/f5.parquet"]
    with pytest.raises(ValueError, match="empty version range"):
        delta_adds_between(DELTA_FIXTURE, 2, 2)


def test_delta_incremental_stream_matches_batch(spark, tmp_path):
    from iceberg_tools_spark.sources.delta_log import delta_incremental_stream
    from iceberg_tools_spark.streaming.jobs import run_to_memory

    # the fixture range contains data-changing removes: an add-only
    # stream refuses by default (the ignoreDeletes contract, r12)
    with pytest.raises(ValueError, match="ignore_deletes"):
        delta_incremental_stream(
            spark, DELTA_FIXTURE, 0, 3, str(tmp_path / "staging")
        )
    stream, n = delta_incremental_stream(
        spark, DELTA_FIXTURE, 0, 3, str(tmp_path / "staging"),
        ignore_deletes=True,
    )
    assert n == 3  # one batch per version 1..3
    rows = run_to_memory(stream, "delta_inc_test").collect()
    got = sorted((r["id"], r["cat"], r["_delta_version"]) for r in rows)
    # adds only: f3 (v1), f4 (v2), f5 (v3) — f2's remove is not an add
    assert len(got) == 10 + 20 + 5
    assert {v for _, _, v in got} == {1, 2, 3}
    assert all(c == "z" for _, c, v in got if v == 2)


def test_replicate_delta_stream_per_version_commits(spark, tmp_path):
    # continuous Delta → Iceberg replication: one exactly-once
    # Iceberg commit per Delta version; replica rows == the adds
    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.sources.migrate import replicate_delta_stream
    from iceberg_tools_spark.streaming.ingest import (
        STREAM_BATCH_PROP,
        STREAM_QUERY_PROP,
    )

    target = str(tmp_path / "replica")
    res = replicate_delta_stream(
        spark, DELTA_FIXTURE, target, 0, 3, str(tmp_path / "work")
    )
    assert res["n_versions"] == 3
    head = res["head"]
    meta = parse_metadata(head)
    stream_snaps = [
        s for s in meta.snapshots
        if s.get("summary", {}).get(STREAM_QUERY_PROP) == "delta-replication"
    ]
    assert len(stream_snaps) == 3  # one commit per Delta version
    rows = read_mor(spark, head, meta.raw["current-snapshot-id"], target).collect()
    # the replica carries ALL adds of v1..v3 (add-only replication)
    got = sorted((r["id"], r["cat"], r["_delta_version"]) for r in rows)
    assert len(got) == 35 and {v for _, _, v in got} == {1, 2, 3}
    # partition column survives in-file through the sink
    assert all(c in ("x", "y", "z") for _, c, _ in got)


# --------------------- checkpoint WRITE + replication (r9)


def _mk_iceberg_appends(spark, tmp_path, n_commits):
    """Iceberg table with one tiny append per commit."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table

    root = str(tmp_path / "ice")
    os.makedirs(root)
    mp = create_table(root, [("id", "long"), ("cat", "string")])
    for i in range(n_commits):
        rel = f"data/f{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "id": pa.array(range(i * 5, i * 5 + 5), pa.int64()),
                "cat": pa.array([f"c{i % 3}"] * 5, pa.string()),
            }),
            os.path.join(root, rel),
        )
        mp = append_snapshot(mp, [{"path": rel, "partition": {}}])["metadata_path"]
    return root, mp


def test_replication_writes_checkpoints_and_opens_via_them(spark, tmp_path):
    """VERDICT r8 #7: a 22-version replica carries parquet
    checkpoints + _last_checkpoint, opens through the newest one,
    and reads identically to the source."""
    import json
    import os

    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.sources.delta_log import (
        latest_checkpoint,
        read_delta_log,
        replay_log,
    )
    from iceberg_tools_spark.sources.migrate import replicate_iceberg_to_delta

    ice_root, mp = _mk_iceberg_appends(spark, tmp_path, 22)
    target = str(tmp_path / "delta")
    res = replicate_iceberg_to_delta(
        spark, mp, target, checkpoint_interval=10
    )
    assert res["n_versions"] == 22  # seed + 21 incremental commits
    assert res["n_checkpoints"] == 2  # v10 and v20
    cp = latest_checkpoint(target)
    assert cp is not None and cp[0] == 20
    with open(os.path.join(target, "_delta_log", "_last_checkpoint")) as f:
        assert json.load(f)["version"] == 20

    # replica rows == source rows
    meta = parse_metadata(mp)
    src = sorted(
        (r.id, r.cat)
        for r in read_mor(spark, mp, meta.current_snapshot_id).collect()
    )
    got = sorted((r.id, r.cat) for r in read_delta_log(spark, target).collect())
    assert got == src and len(got) == 110

    # checkpoint-opened state == JSON-only replay (checkpoints gone)
    adds_cp, meta_cp, v = replay_log(target)
    import glob
    import shutil

    nocp = str(tmp_path / "nocp")
    shutil.copytree(target, nocp)
    for p in glob.glob(os.path.join(nocp, "_delta_log", "*.checkpoint.parquet")):
        os.remove(p)
    os.remove(os.path.join(nocp, "_delta_log", "_last_checkpoint"))
    adds_json, meta_json, v2 = replay_log(nocp)
    assert v == v2
    assert sorted(a["path"] for a in adds_cp) == sorted(a["path"] for a in adds_json)
    assert meta_cp["partitionColumns"] == meta_json["partitionColumns"]


def test_checkpoint_write_on_fixture_roundtrip(spark, tmp_path):
    """write_delta_checkpoint at head of the hand-built fixture:
    a re-open via the new checkpoint sees the exact head state,
    including the remove-after-checkpoint tombstone."""
    import os
    import shutil

    from iceberg_tools_spark.sources.delta_log import (
        DELTA_FIXTURE,
        delta_live_files,
        latest_checkpoint,
        write_delta_checkpoint,
    )

    root = str(tmp_path / "t")
    shutil.copytree(DELTA_FIXTURE, root)
    before = [os.path.relpath(p, root) for p in delta_live_files(root)]
    res = write_delta_checkpoint(root)
    assert latest_checkpoint(root)[0] == res["version"]
    after = [os.path.relpath(p, root) for p in delta_live_files(root)]
    assert after == before


def test_append_delta_commit_auto_checkpoint(tmp_path):
    import os

    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        latest_checkpoint,
        replay_log,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    meta_action = {"metaData": {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": "{\"type\":\"struct\",\"fields\":[]}",
        "partitionColumns": [], "configuration": {},
        "createdTime": 0,
    }}
    import pyarrow as pa
    import pyarrow.parquet as pq

    for v in range(7):
        acts = [meta_action] if v == 0 else []
        rel = f"f{v}.parquet"
        pq.write_table(pa.table({"id": pa.array([v], pa.int64())}),
                       os.path.join(root, rel))
        acts.append({"add": {"path": rel, "partitionValues": {},
                             "size": 1, "modificationTime": 0,
                             "dataChange": True}})
        out = append_delta_commit(root, acts, checkpoint_interval=3)
        assert out["version"] == v
        assert out["checkpointed"] == (v in (3, 6))
    assert latest_checkpoint(root)[0] == 6
    adds, _, v = replay_log(root)
    assert v == 6 and len(adds) == 7


def test_full_fidelity_replication_every_version(spark, tmp_path):
    """replicate_delta_versions: Iceberg snapshot 8000+v reads
    exactly Delta version v — adds, the MERGE remove, and the head
    remove all preserved; removed-file count and per-snapshot
    delta-version summaries recorded."""
    import json
    import os

    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.sources.delta_log import (
        DELTA_FIXTURE,
        read_delta_log,
    )
    from iceberg_tools_spark.sources.migrate import replicate_delta_versions

    tgt = str(tmp_path / "t")
    res = replicate_delta_versions(spark, DELTA_FIXTURE, tgt)
    assert res["n_versions"] == 4 and res["n_removed_files"] == 2
    mp = res["metadata_path"]
    for v in range(4):
        delta = sorted(
            (r.id, r.cat)
            for r in read_delta_log(spark, DELTA_FIXTURE, v).collect()
        )
        ice = sorted(
            (r.id, r.cat) for r in read_mor(spark, mp, 8000 + v).collect()
        )
        assert ice == delta, f"version {v} diverged"
    raw = parse_metadata(mp).raw
    summaries = {
        s["snapshot-id"]: s.get("summary", {}) for s in raw["snapshots"]
    }
    assert summaries[8001]["delta-version"] == "1"
    # replica files live under data/ mirroring the Delta rel paths
    assert os.path.exists(os.path.join(tgt, "data", "cat=x", "f1.parquet"))


def test_checkpoint_carries_unexpired_remove_tombstones(tmp_path):
    """ADVICE r9 / PROTOCOL.md: checkpoints must carry remove
    tombstones younger than the retention window; a re-added path
    drops its tombstone; expired tombstones are pruned."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        latest_checkpoint,
        replay_log,
        replay_tombstones,
        write_delta_checkpoint,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    meta_action = {"metaData": {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": "{\"type\":\"struct\",\"fields\":[]}",
        "partitionColumns": [], "configuration": {},
        "createdTime": 0,
    }}

    def add(rel):
        pq.write_table(pa.table({"id": pa.array([1], pa.int64())}),
                       os.path.join(root, rel))
        return {"add": {"path": rel, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    t0 = 1_700_000_000_000
    append_delta_commit(root, [meta_action, add("a.parquet"),
                               add("b.parquet")], checkpoint_interval=None)
    append_delta_commit(
        root,
        [{"remove": {"path": "a.parquet", "deletionTimestamp": t0,
                     "dataChange": True}},
         {"remove": {"path": "b.parquet", "deletionTimestamp": t0 - 10,
                     "dataChange": True}}],
        checkpoint_interval=None,
    )
    append_delta_commit(root, [add("c.parquet")], checkpoint_interval=None)
    # retention window: a.parquet (t0) is young, b.parquet (t0-10)
    # already expired
    res = write_delta_checkpoint(root, retention_ms=5, now_ms=t0 + 4)
    cp = latest_checkpoint(root)
    assert cp[0] == res["version"] == 2
    rows = pq.read_table(cp[1]).to_pylist()
    removes = [r["remove"]["path"] for r in rows if r["remove"] is not None]
    assert removes == ["a.parquet"]

    # a reader opening THROUGH the checkpoint (JSON commits gone)
    # still sees the tombstone and the live state
    for v in (0, 1):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    adds, _, v = replay_log(root)
    assert sorted(a["path"] for a in adds) == ["c.parquet"]
    assert list(replay_tombstones(root)) == ["a.parquet"]

    # re-adding the path drops its tombstone from the next checkpoint
    append_delta_commit(root, [add("a.parquet")], checkpoint_interval=None)
    write_delta_checkpoint(root, retention_ms=10**12, now_ms=t0 + 4)
    rows = pq.read_table(latest_checkpoint(root)[1]).to_pylist()
    assert [r["remove"] for r in rows if r["remove"] is not None] == []
    adds, _, _ = replay_log(root)
    assert sorted(a["path"] for a in adds) == ["a.parquet", "c.parquet"]


def test_replicate_iceberg_to_delta_with_removes_and_mor_fold(spark, tmp_path):
    """VERDICT r9 #8: a delete-bearing Iceberg chain replicates to
    Delta with remove tombstones and MoR-folded rewrites — every
    replica version reads equal to the Iceberg table at the matching
    snapshot."""
    import os

    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA, read_mor
    from iceberg_tools_spark.iceberg.snapshots import ancestor_chain
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.sources.delta_log import read_delta_log, replay_tombstones
    from iceberg_tools_spark.sources.migrate import replicate_iceberg_to_delta

    tgt = str(tmp_path / "replica")
    res = replicate_iceberg_to_delta(spark, MOR_METADATA, tgt, base_dir=MOR_DIR)
    meta = parse_metadata(MOR_METADATA)
    chain = list(reversed(ancestor_chain(meta, res["to_snapshot"])))
    assert res["n_versions"] == len(chain)
    # the MoR delete commit maps each delete kind to its Delta dual:
    # the two positionally-deleted files (A, C) take deletion
    # vectors on their verbatim copies, the equality-deleted file
    # (D) folds and tombstones its pre-fold copy
    assert res["n_dv_files"] == 2
    assert res["n_folded_files"] == 1
    assert res["n_removed_files"] >= 1
    for v, sid in enumerate(chain):
        ice = sorted(
            map(tuple, read_mor(spark, MOR_METADATA, sid, MOR_DIR).collect())
        )
        delta = sorted(map(tuple, read_delta_log(spark, tgt, v).collect()))
        assert delta == ice, f"replica v{v} != iceberg snapshot {sid}"
    # tombstones are replayable (remove actions made it into the log)
    assert len(replay_tombstones(tgt)) == res["n_removed_files"]
    # the folded copies physically exist; the stale ones were only
    # tombstoned, never unlinked (Delta semantics: VACUUM's job)
    fold = [f for f in os.listdir(tgt) if "-fold-" in f]
    assert len(fold) == res["n_folded_files"]


# ---- deletion vectors (r10) --------------------------------------


def test_z85_spec_vector_and_roundtrip():
    """The ZeroMQ Z85 reference vector (spec 32) plus an arbitrary
    16-byte roundtrip."""
    from iceberg_tools_spark.sources.delta_log import z85_decode, z85_encode

    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    raw = bytes(range(16))
    assert z85_decode(z85_encode(raw)) == raw
    import pytest as _pytest

    with _pytest.raises(ValueError):
        z85_encode(b"abc")  # len % 4 != 0
    with _pytest.raises(ValueError):
        z85_decode("~~~~~")  # invalid alphabet


def test_delta_dv_merge_replaces_not_stacks(spark, tmp_path):
    """A second DV commit on the same file must carry the UNION of
    positions in ONE descriptor (the protocol's replace invariant),
    and the on-disk .bin resolves through the u-path UUID naming."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        commit_delta_dv,
        dv_positions,
        read_delta_log,
        replay_log,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(
        pa.table({"id": pa.array(list(range(10)), pa.int64())}),
        os.path.join(root, "f.parquet"),
    )
    append_delta_commit(root, [
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [1, 3]}, checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [3, 7]}, checkpoint_interval=None)
    adds, _, _ = replay_log(root)
    (dv,) = [a["deletionVector"] for a in adds if a.get("deletionVector")]
    assert dv["storageType"] == "u" and dv["cardinality"] == 3
    assert dv_positions(root, dv) == [1, 3, 7]
    got = sorted(r.id for r in read_delta_log(spark, root).collect())
    assert got == [0, 2, 4, 5, 6, 8, 9]
    # deleting positions of a non-live file is an error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a live file"):
        commit_delta_dv(root, {"ghost.parquet": [0]})


def test_delta_dv_inline_storage_roundtrip(spark, tmp_path):
    """An inline ('i') descriptor — Z85 of the unframed body —
    resolves to the same positions as its on-disk twin."""
    from iceberg_tools_spark.iceberg.puffin import encode_dv_blob
    from iceberg_tools_spark.sources.delta_log import dv_positions, z85_encode

    body = encode_dv_blob([2, 5, 1_000_000])[4:-4]  # strip frame
    pad = (-len(body)) % 4
    dv = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(body + b"\x00" * pad),
        "offset": None,
        "sizeInBytes": len(body),
        "cardinality": 3,
    }
    # trailing NUL padding (Z85 needs %4) is trailing bytes to the
    # codec — only a pad-free body decodes; assert the exact contract
    if pad == 0:
        assert dv_positions(str(tmp_path), dv) == [2, 5, 1_000_000]
    else:
        import pytest as _pytest

        with _pytest.raises(ValueError):
            dv_positions(str(tmp_path), dv)
    with __import__("pytest").raises(ValueError, match="storageType"):
        dv_positions(str(tmp_path), {"storageType": "z", "pathOrInlineDv": ""})


def test_full_fidelity_replication_folds_dvs(spark, tmp_path):
    """A DV-bearing Delta version replicates to Iceberg by FOLDING
    the file's survivors under a versioned name — replica snapshot
    8000+v reads exactly Delta version v both before and after the
    DV commit (the pre-DV snapshot keeps the unfolded copy)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        commit_delta_dv,
        read_delta_log,
    )
    from iceberg_tools_spark.sources.migrate import replicate_delta_versions

    root = str(tmp_path / "src")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(
        pa.table({"id": pa.array(list(range(20)), pa.int64()),
                  "cat": pa.array([str(i % 2) for i in range(20)])}),
        os.path.join(root, "f.parquet"),
    )
    append_delta_commit(root, [
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "cat", "type": "string", "nullable": True, "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [0, 5, 19]}, checkpoint_interval=None)

    tgt = str(tmp_path / "replica")
    res = replicate_delta_versions(spark, root, tgt)
    assert res["n_versions"] == 2
    for v in (0, 1):
        delta = sorted(map(tuple, read_delta_log(spark, root, v).collect()))
        ice = sorted(map(tuple, read_mor(
            spark, res["metadata_path"], 8000 + v).collect()))
        assert ice == delta, f"version {v} diverged"
    assert len(sorted(map(tuple, read_delta_log(spark, root, 1).collect()))) == 17
    # the folded copy exists under its versioned name; the original
    # verbatim copy survives for the pre-DV snapshot
    assert os.path.exists(os.path.join(tgt, "data", "dv1-f.parquet"))
    assert os.path.exists(os.path.join(tgt, "data", "f.parquet"))


# ---- Change Data Feed (r10) --------------------------------------


def test_cdf_reconstruction_matches_live_set_diff(spark):
    """A version with no cdc actions reconstructs its changes from
    data-changing add/remove actions; on the fixture's v3 (one add +
    one remove) the reconstructed inserts/deletes equal the live-set
    difference between v2 and v3 — an independent derivation."""
    from iceberg_tools_spark.sources.delta_log import (
        DELTA_FIXTURE,
        read_delta_cdf,
        read_delta_log,
    )

    cdf = read_delta_cdf(spark, DELTA_FIXTURE, 3, 3)
    got_ins = sorted(
        (r.id, r.cat) for r in cdf.filter("_change_type = 'insert'").collect()
    )
    got_del = sorted(
        (r.id, r.cat) for r in cdf.filter("_change_type = 'delete'").collect()
    )
    v2 = {(r.id, r.cat) for r in read_delta_log(spark, DELTA_FIXTURE, 2).collect()}
    v3 = {(r.id, r.cat) for r in read_delta_log(spark, DELTA_FIXTURE, 3).collect()}
    assert got_ins == sorted(v3 - v2) and got_ins
    assert got_del == sorted(v2 - v3) and got_del
    assert set(r._commit_version for r in cdf.collect()) == {3}


def test_cdf_dv_commit_without_change_file_reconstructs(spark, tmp_path):
    """A DV commit's remove+re-add pair is dataChange-TRUE (upstream
    semantics — ADVICE r12: false made the delete invisible to every
    change consumer). Without a cdc file the version reads through
    reconstruction: the newly-dead row as a delete plus a
    delete+re-insert churn of the survivors — net-correct for an
    insert/delete fold. A fully-redundant re-delete is a no-op
    commit and stays change-silent."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        commit_delta_dv,
        read_delta_cdf,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
                   os.path.join(root, "f.parquet"))
    append_delta_commit(root, [
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [1]}, checkpoint_interval=None)
    got = read_delta_cdf(spark, root, 0).collect()
    assert {r._commit_version for r in got} == {0, 1}
    # v1 reconstruction: deletes of the 3 then-live rows, re-inserts
    # of the 2 survivors — id 2 (position 1) nets out deleted
    v1 = sorted((r.id, r._change_type)
                for r in read_delta_cdf(spark, root, 1, 1).collect())
    assert v1 == [(1, "delete"), (1, "insert"), (2, "delete"),
                  (3, "delete"), (3, "insert")]
    # re-deleting the same position is a NO-OP commit: no churn, no
    # new DV bin, and the CDF range is change-silent
    commit_delta_dv(root, {"f.parquet": [1]}, checkpoint_interval=None,
                    write_cdf=True)
    with _pytest.raises(ValueError, match="no changes"):
        read_delta_cdf(spark, root, 2, 2)


def test_replication_cdf_nets_to_iceberg_changelog(spark, tmp_path):
    """Cross-format changelog equality: replicate the MoR fixture
    with CDF emission, then for EVERY replicated snapshot the
    replica's CDF — netted (a fold reads as delete-old + insert-new;
    EXCEPT-ALL both ways cancels the carried-over rows) — equals the
    Iceberg row-level changelog of that snapshot."""
    from iceberg_tools_spark.iceberg.changelog import changelog_between
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import ancestor_chain
    from iceberg_tools_spark.sources.delta_log import read_delta_cdf
    from iceberg_tools_spark.sources.migrate import replicate_iceberg_to_delta

    tgt = str(tmp_path / "replica")
    res = replicate_iceberg_to_delta(
        spark, MOR_METADATA, tgt, base_dir=MOR_DIR, write_cdf=True
    )
    assert res["n_cdf_files"] >= 1  # the MoR delete snapshot
    meta = parse_metadata(MOR_METADATA)
    chain = list(reversed(ancestor_chain(meta, res["to_snapshot"])))
    cols = ["id", "category"]
    for v in range(1, len(chain)):
        cdf = read_delta_cdf(spark, tgt, v, v).select(*cols, "_change_type")
        ins = cdf.filter("_change_type = 'insert'").select(*cols)
        dels = cdf.filter("_change_type = 'delete'").select(*cols)
        net_ins = sorted(map(tuple, ins.exceptAll(dels).collect()))
        net_del = sorted(map(tuple, dels.exceptAll(ins).collect()))
        cl = changelog_between(spark, MOR_METADATA, chain[v - 1], chain[v], MOR_DIR)
        want_ins = sorted(map(tuple, cl.filter(
            "change_type = 'INSERT'").select(*cols).collect()))
        want_del = sorted(map(tuple, cl.filter(
            "change_type = 'DELETE'").select(*cols).collect()))
        assert net_ins == want_ins, f"v{v} inserts diverge"
        assert net_del == want_del, f"v{v} deletes diverge"
