"""Delta V2 (UUID-named, sidecar) checkpoints — PROTOCOL.md "V2
Spec Checkpoints", round 13. Spec-derived writer → reader
round-trips (the Puffin/Roaring/FLAC fixture discipline), plus the
discovery, protocol-gating, cleanup, and vacuum interactions."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_tools_spark.sources.delta_log import (
    append_delta_commit,
    check_reader_support,
    cleanup_delta_log,
    commit_delta_dv,
    enable_v2_checkpoints,
    latest_checkpoint_parts,
    read_delta_log,
    replay_log,
    replay_tombstones,
    write_delta_checkpoint,
    write_delta_checkpoint_v2,
)

NOW = 1_700_000_000_000
DAY = 24 * 3600 * 1000


def _schema(*fields):
    return json.dumps({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in fields
    ]})


def _make_table(root: str, n_files: int = 3) -> None:
    """v0: protocol(3/7) + metaData + n_files adds of 10 ids each."""
    os.makedirs(os.path.join(root, "_delta_log"))
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema(("id", "long")),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
    ]
    for i in range(n_files):
        rel = f"f{i}.parquet"
        ids = list(range(i * 10, i * 10 + 10))
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       os.path.join(root, rel))
        actions.append({"add": {
            "path": rel, "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
        }})
    append_delta_commit(root, actions, checkpoint_interval=None)


def _dml(root: str) -> None:
    """v1 protocol upgrade (v2Checkpoint), v2 DV delete, v3 remove of
    f2 with a recent tombstone — state with adds + DV + tombstone."""
    enable_v2_checkpoints(root)
    commit_delta_dv(root, {"f0.parquet": [0, 1]}, checkpoint_interval=None)
    append_delta_commit(root, [
        {"remove": {"path": "f2.parquet", "deletionTimestamp": NOW - 1000,
                    "dataChange": True}},
        {"commitInfo": {"operation": "DELETE", "timestamp": NOW - 1000}},
    ], checkpoint_interval=None)


@pytest.mark.parametrize("top_format", ["parquet", "json"])
def test_v2_checkpoint_replay_equals_classic(spark, tmp_path, top_format):
    """The v2 checkpoint (multi-sidecar, either top-level format)
    replays to EXACTLY the state a classic checkpoint of the same
    version replays to — adds, DV descriptors, tombstones, protocol
    feature lists."""
    import shutil

    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    _make_table(root_a)
    _dml(root_a)
    shutil.copytree(root_a, root_b)

    write_delta_checkpoint(root_a, now_ms=NOW)  # classic
    res = write_delta_checkpoint_v2(
        root_b, max_actions_per_sidecar=1, top_format=top_format, now_ms=NOW
    )
    assert res["n_sidecars"] >= 3  # 2 adds + 1 tombstone, 1 per sidecar
    # drop the covered commits in BOTH: replay must go through the
    # respective checkpoints
    for root in (root_a, root_b):
        head = max(
            int(n[:20]) for n in os.listdir(os.path.join(root, "_delta_log"))
            if n.endswith(".json") and n[:20].isdigit()
        )
        for v in range(head):
            os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))

    def state(root):
        adds, meta, v = replay_log(root)
        return (
            sorted((a["path"], json.dumps(a.get("deletionVector"),
                                          sort_keys=True)) for a in adds),
            meta.get("__protocol__"),
            sorted(replay_tombstones(root)),
            v,
        )

    sa, sb = state(root_a), state(root_b)
    assert sa == sb
    assert "v2Checkpoint" in sb[1]["readerFeatures"]  # lists survived
    # and the rows agree through both
    got_a = sorted(r.id for r in read_delta_log(spark, root_a).collect())
    got_b = sorted(r.id for r in read_delta_log(spark, root_b).collect())
    assert got_a == got_b == list(range(2, 20))


def test_v2_checkpoint_requires_feature(tmp_path):
    root = str(tmp_path / "t")
    _make_table(root)
    with pytest.raises(ValueError, match="v2Checkpoint"):
        write_delta_checkpoint_v2(root, now_ms=NOW)
    # and reader support: a v2Checkpoint-featured table now OPENS
    enable_v2_checkpoints(root)
    _, meta, v = replay_log(root)
    check_reader_support(root, v, proto=meta["__protocol__"])


def test_incomplete_sidecar_set_never_selected(tmp_path):
    """A v2 checkpoint whose sidecar vanished (a writer died, or a
    bad cleanup) is skipped by discovery — the table replays from
    the JSON log instead of silently missing state."""
    root = str(tmp_path / "t")
    _make_table(root)
    _dml(root)
    res = write_delta_checkpoint_v2(root, now_ms=NOW)
    cp = latest_checkpoint_parts(root)
    assert cp is not None and cp[0] == res["version"]
    assert cp[1][0] == res["path"]
    os.remove(res["paths"][1])  # kill the sidecar
    assert latest_checkpoint_parts(root) is None
    # full JSON log still present: replay unaffected
    adds, _, _ = replay_log(root)
    assert sorted(a["path"] for a in adds) == ["f0.parquet", "f1.parquet"]


def test_torn_v2_top_treated_as_incomplete(spark, tmp_path):
    """ADVICE r13 medium: a torn/corrupt v2 top (a writer died
    mid-write) must read as an INCOMPLETE checkpoint — skipped by
    discovery — not poison every read of the table with
    ArrowInvalid/JSONDecodeError."""
    root = str(tmp_path / "t")
    _make_table(root)
    _dml(root)
    d = os.path.join(root, "_delta_log")
    # torn parquet top at the head version
    head = max(
        int(n[:20]) for n in os.listdir(d)
        if n.endswith(".json") and n[:20].isdigit()
    )
    torn = os.path.join(d, f"{head:020d}.checkpoint.torn00.parquet")
    with open(torn, "wb") as f:
        f.write(b"PAR1\x00\x03garbage-not-a-footer")
    assert latest_checkpoint_parts(root) is None  # skipped, no raise
    # the full JSON log is intact: reads keep working
    assert sorted(r.id for r in read_delta_log(spark, root).collect()) == \
        list(range(2, 20))
    # a GOOD top at the same version is still found despite the torn
    # sibling sorting first
    res = write_delta_checkpoint_v2(root, top_format="json", now_ms=NOW)
    assert res["version"] == head
    cp = latest_checkpoint_parts(root)
    assert cp is not None and cp[0] == head and cp[1][0] == res["path"]


def test_v2_parquet_top_write_is_atomic(tmp_path):
    """The parquet top lands via tmp + os.replace (like the JSON
    branch): no .tmp residue, and the final file parses."""
    root = str(tmp_path / "t")
    _make_table(root)
    _dml(root)
    res = write_delta_checkpoint_v2(root, top_format="parquet", now_ms=NOW)
    d = os.path.join(root, "_delta_log")
    assert not [n for n in os.listdir(d) if n.endswith(".tmp")]
    assert pq.read_table(res["path"]).num_rows >= 2


def test_cleanup_reaps_superseded_v2_tops_and_orphan_sidecars(tmp_path):
    """Log cleanup: a v2 top superseded by a NEWER checkpoint goes
    (age-gated), its now-unreferenced sidecars go, and the newest
    checkpoint's sidecars stay."""
    root = str(tmp_path / "t")
    _make_table(root)
    enable_v2_checkpoints(root)
    old = write_delta_checkpoint_v2(root, now_ms=NOW)
    commit_delta_dv(root, {"f0.parquet": [3]}, checkpoint_interval=None)
    new = write_delta_checkpoint_v2(root, now_ms=NOW)
    assert new["version"] > old["version"]
    # age everything in the log dir past the retention cutoff
    for dp, _dns, fns in os.walk(os.path.join(root, "_delta_log")):
        for fn in fns:
            p = os.path.join(dp, fn)
            t = (NOW - 40 * DAY) / 1000
            os.utime(p, (t, t))
    res = cleanup_delta_log(root, now_ms=NOW)
    assert old["path"] in res["removed_checkpoints"]
    for sc in old["paths"][1:]:
        if sc not in new["paths"]:
            assert sc in res["removed_checkpoints"]
    for sc in new["paths"]:
        assert sc not in res["removed_checkpoints"]
    # the table still opens through the surviving checkpoint
    adds, _, _ = replay_log(root)
    assert {a["path"] for a in adds} == {"f0.parquet", "f1.parquet",
                                         "f2.parquet"}


@pytest.mark.parametrize("top_format", ["parquet", "json"])
def test_vacuum_protects_v2_checkpoint_state(spark, tmp_path, top_format):
    """VACUUM derives checkpoint-side protection from v2 sidecars
    (Spark parquet read) and a JSON top's inline actions — live
    files, DV bins, and recent tombstones all survive after the
    covered commits are gone."""
    from iceberg_tools_spark.sources.delta_log import vacuum_delta

    root = str(tmp_path / "t")
    _make_table(root)
    _dml(root)
    res = write_delta_checkpoint_v2(root, top_format=top_format, now_ms=NOW)
    for v in range(res["version"]):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    stray = os.path.join(root, "stray.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), stray)
    for dp, _dns, fns in os.walk(root):
        if "_delta_log" in dp:
            continue
        for fn in fns:
            p = os.path.join(dp, fn)
            t = (NOW - 30 * DAY) / 1000
            os.utime(p, (t, t))
    out = vacuum_delta(spark, root, now_ms=NOW)
    assert out["candidates"] == [stray] and out["removed"] == 1
    assert out["n_tombstone_protected"] >= 1
    assert sorted(r.id for r in read_delta_log(spark, root).collect()) == \
        list(range(2, 20))
    assert os.path.exists(os.path.join(root, "f2.parquet"))  # tombstone


def test_protocol_features_survive_classic_checkpoint(tmp_path):
    """The classic checkpoint's protocol struct carries the feature
    lists (they used to be dropped — any feature-gated read through
    a checkpoint-only table would have un-gated silently)."""
    from iceberg_tools_spark.sources.delta_log import log_state

    root = str(tmp_path / "t")
    _make_table(root)
    commit_delta_dv(root, {"f0.parquet": [0]}, checkpoint_interval=None)
    write_delta_checkpoint(root, now_ms=NOW)
    head = max(v for v, _ in __import__(
        "iceberg_tools_spark.sources.delta_log", fromlist=["list_commits"]
    ).list_commits(root))
    for v in range(head + 1):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    # no JSON commits left at all: protocol comes from the checkpoint
    proto = log_state(root, head).protocol
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]

def test_auto_checkpoint_cadence_writes_v2_when_featured(spark, tmp_path):
    """append_delta_commit's checkpoint cadence dispatches on the
    table's protocol: a v2Checkpoint-featured table gets V2
    checkpoints (the spec's expectation once the feature is active);
    legacy tables keep classic ones."""
    root = str(tmp_path / "t")
    _make_table(root)
    enable_v2_checkpoints(root)  # v1
    # v2..: append commits with a cadence of 3 → checkpoint at v3
    for i in range(3, 6):
        rel = f"g{i}.parquet"
        pq.write_table(pa.table({"id": pa.array([100 + i], pa.int64())}),
                       os.path.join(root, rel))
        res = append_delta_commit(root, [
            {"add": {"path": rel, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ], checkpoint_interval=3, now_ms=NOW)
    assert res["version"] == 4
    d = os.path.join(root, "_delta_log")
    v2_tops = [n for n in os.listdir(d)
               if n.startswith(f"{3:020d}.checkpoint.") and "v2-" in n]
    assert v2_tops, sorted(os.listdir(d))
    assert os.path.isdir(os.path.join(d, "_sidecars"))
    cp = latest_checkpoint_parts(root)
    assert cp is not None and cp[0] == 3 and len(cp[1]) >= 2
    # state replays exactly through it after dropping covered commits
    for v in range(3):
        os.remove(os.path.join(d, f"{v:020d}.json"))
    got = sorted(r.id for r in read_delta_log(spark, root).collect())
    assert got == list(range(30)) + [103, 104, 105]

@pytest.mark.parametrize("form", ["classic", "v2"])
def test_dv_bin_protection_through_checkpoints(spark, tmp_path, form):
    """DV bin lifecycle under VACUUM, through both checkpoint forms:
    the LIVE descriptor's bin survives even when aged past retention
    (protected set), a SUPERSEDED bin inside the retention window
    survives via the mtime race gate, and once aged past retention it
    reaps — the documented time-travel trade. A whole-file remove
    whose tombstone carries the dropped DV protects that bin for the
    tombstone's retention window (descriptor round-trips the
    checkpoint's columnar remove struct)."""
    from iceberg_tools_spark.sources.delta_log import (
        dv_storage_path,
        vacuum_delta,
    )

    root = str(tmp_path / "t")
    _make_table(root, n_files=2)
    enable_v2_checkpoints(root)
    commit_delta_dv(root, {"f0.parquet": [0]}, checkpoint_interval=None)
    adds, _, _ = replay_log(root)
    old_desc = next(a for a in adds if a["path"] == "f0.parquet")[
        "deletionVector"]
    old_bin = dv_storage_path(root, old_desc)
    # supersede f0's DV, then drop f1 with a tombstone CARRYING a DV
    commit_delta_dv(root, {"f0.parquet": [1]}, checkpoint_interval=None)
    commit_delta_dv(root, {"f1.parquet": [0]}, checkpoint_interval=None)
    adds, _, _ = replay_log(root)
    f1_desc = next(a for a in adds if a["path"] == "f1.parquet")[
        "deletionVector"]
    f1_bin = dv_storage_path(root, f1_desc)
    live_desc = next(a for a in adds if a["path"] == "f0.parquet")[
        "deletionVector"]
    live_bin = dv_storage_path(root, live_desc)
    append_delta_commit(root, [
        {"remove": {"path": "f1.parquet", "deletionTimestamp": NOW - 1000,
                    "dataChange": True, "deletionVector": f1_desc}},
        {"commitInfo": {"operation": "DELETE", "timestamp": NOW - 1000}},
    ], checkpoint_interval=None)
    if form == "classic":
        write_delta_checkpoint(root, now_ms=NOW)
    else:
        write_delta_checkpoint_v2(root, now_ms=NOW)
    head = max(
        int(n[:20]) for n in os.listdir(os.path.join(root, "_delta_log"))
        if n.endswith(".json") and n[:20].isdigit()
    )
    for v in range(head):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    # the tombstone's DV descriptor survived the columnar round-trip
    tomb = replay_tombstones(root)["f1.parquet"]
    assert tomb.get("deletionVector", {}).get("storageType")
    # age every data-plane file past retention: only the protected
    # set can save them now
    for dp, _dns, fns in os.walk(root):
        if "_delta_log" in dp:
            continue
        for fn in fns:
            os.utime(os.path.join(dp, fn), ((NOW - 30 * DAY) / 1000,) * 2)
    out = vacuum_delta(spark, root, now_ms=NOW)
    assert os.path.exists(live_bin)        # live descriptor: protected
    assert os.path.exists(f1_bin)          # recent tombstone's DV bin
    if old_bin not in (live_bin, f1_bin):
        # superseded bin past retention: reapable (the documented
        # time-travel trade; within retention the mtime gate holds it)
        assert old_bin in out["candidates"] or not os.path.exists(old_bin)
    assert sorted(r.id for r in read_delta_log(spark, root).collect()) == \
        list(range(2, 10))
