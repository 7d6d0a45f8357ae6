"""Delta protocol completeness (round 12): column mapping reads,
reader-feature gating, and checkpoint-gated log cleanup."""

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
    read_delta_cdf,
    read_delta_log,
    write_delta_checkpoint,
    write_delta_dv_file,
)

NOW = 1_700_000_000_000
DAY = 24 * 3600 * 1000


def _mapped_meta():
    """Schema with column-mapping metadata: logical (id, cat),
    physical (col-aaa, col-bbb); cat is the partition column."""
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "cat", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
    ]
    return {"metaData": {
        "id": "cm", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": ["cat"],
        "configuration": {"delta.columnMapping.mode": "name"},
        "createdTime": 0,
    }}


def _write_physical(root, name, ids):
    # data files carry the PHYSICAL column name; partition column is
    # log-only, per Delta layout
    pq.write_table(
        pa.table({"col-aaa": pa.array(ids, pa.int64())}),
        os.path.join(root, name),
    )


def test_column_mapping_read(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_physical(root, "a.parquet", [1, 2])
    _write_physical(root, "b.parquet", [3])
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _mapped_meta(),
        # partitionValues keyed by the PHYSICAL name
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {"col-bbb": "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    df = read_delta_log(spark, root)
    assert set(df.columns) == {"id", "cat"}  # logical names surface
    rows = {(r["id"], r["cat"]) for r in df.collect()}
    assert rows == {(1, "x"), (2, "x"), (3, "y")}


def test_column_mapping_read_with_dv(spark, tmp_path):
    # mapping composes with merge-on-read: the DV anti-join keys on
    # paths/row-index, never on column names
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_physical(root, "a.parquet", [1, 2, 3, 4])
    desc = write_delta_dv_file(root, {"a.parquet": [1, 2]})["a.parquet"]
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors", "columnMapping"]}},
        _mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
    ], checkpoint_interval=None)
    rows = {(r["id"], r["cat"]) for r in read_delta_log(spark, root).collect()}
    assert rows == {(1, "x"), (4, "x")}


def test_column_mapping_cdf(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_physical(root, "a.parquet", [1, 2])
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    cdf = read_delta_cdf(spark, root, 0, 0)
    got = sorted((r.id, r.cat, r._change_type) for r in cdf.collect())
    assert got == [(1, "x", "insert"), (2, "x", "insert")]


def test_reader_feature_gating(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}),
                   os.path.join(root, "a.parquet"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["unknownFutureFeature"],
                      "writerFeatures": ["unknownFutureFeature"]}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    # silently misreading a feature-gated table would be wrong —
    # the gate names the missing capability instead (a genuinely
    # unknown future feature;
    # v2Checkpoint joined the SUPPORTED set in r13, typeWidening in
    # r14)
    with pytest.raises(ValueError, match="unknownFutureFeature"):
        read_delta_log(spark, root)
    with pytest.raises(ValueError, match="unknownFutureFeature"):
        read_delta_cdf(spark, root, 0)
    with pytest.raises(ValueError, match="minReaderVersion 4"):
        check_reader_support_at(root, {"minReaderVersion": 4})


def check_reader_support_at(root, proto):
    # helper: inject a protocol action then gate
    append_delta_commit(root, [{"protocol": proto}], checkpoint_interval=None)
    from iceberg_tools_spark.sources.delta_log import list_commits
    return check_reader_support(root, list_commits(root)[-1][0])


def _three_commits(root):
    os.makedirs(os.path.join(root, "_delta_log"))
    for v in range(3):
        pq.write_table(pa.table({"id": pa.array([v], pa.int64())}),
                       os.path.join(root, f"f{v}.parquet"))
        acts = []
        if v == 0:
            acts.append({"metaData": {
                "id": "x", "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct", "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}}]}),
                "partitionColumns": [], "configuration": {}, "createdTime": 0,
            }})
        acts.append({"add": {"path": f"f{v}.parquet", "partitionValues": {},
                             "size": 1, "modificationTime": 0,
                             "dataChange": True}})
        acts.append({"commitInfo": {"operation": "WRITE",
                                    "timestamp": NOW - (40 - v) * DAY}})
        append_delta_commit(root, acts, checkpoint_interval=None)


def test_log_cleanup_requires_checkpoint_and_respects_retention(spark, tmp_path):
    root = str(tmp_path / "t")
    _three_commits(root)
    # no checkpoint: every commit is load-bearing, nothing removable
    res = cleanup_delta_log(root, now_ms=NOW)
    assert res["removed_commits"] == []
    write_delta_checkpoint(root, 2, now_ms=NOW)
    plan = cleanup_delta_log(root, now_ms=NOW, dry_run=True)
    # v0 (40d old) and v1 (39d) are past the 30d retention; v2 is
    # the checkpoint version and never touched
    assert [os.path.basename(p) for p in plan["removed_commits"]] == [
        f"{0:020d}.json", f"{1:020d}.json"]
    assert os.path.exists(plan["removed_commits"][0])  # dry run
    res = cleanup_delta_log(root, now_ms=NOW)
    assert len(res["removed_commits"]) == 2
    # state still replays exactly through the checkpoint
    assert sorted(r.id for r in read_delta_log(spark, root).collect()) == [0, 1, 2]
    # CDF of the cleaned range gives the guided resume error
    with pytest.raises(ValueError, match="earliest readable version is 2"):
        read_delta_cdf(spark, root, 0)


def test_log_cleanup_retention_keeps_recent_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    _three_commits(root)
    write_delta_checkpoint(root, 2, now_ms=NOW)
    # a 60-day retention keeps everything
    res = cleanup_delta_log(root, retention_ms=60 * DAY, now_ms=NOW)
    assert res["removed_commits"] == [] and res["removed_checkpoints"] == []


def test_column_mapping_preserves_filter_pushdown(spark, tmp_path):
    """The physical→logical rename is a projection LAST in the plan;
    a filter on the LOGICAL name must still push down to the parquet
    scan under the PHYSICAL name — the 100 TB contract that aliasing
    never turns scans into full reads."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_physical(root, "a.parquet", list(range(100)))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    df = read_delta_log(spark, root).filter("id > 90")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("col-aaa" in ln and "GreaterThan" in ln
                          for ln in pushed), plan
    assert sorted(r.id for r in df.collect()) == list(range(91, 100))


def test_multipart_checkpoint_roundtrip(spark, tmp_path):
    """Multi-part checkpoints (<v>.checkpoint.<part>.<total>.parquet):
    the writer splits past max_actions_per_part, the reader opens
    through ALL parts, and an incomplete part group is never
    selected — at real scale one parquet of millions of actions is
    the open-latency bottleneck."""
    from iceberg_tools_spark.sources.delta_log import (
        latest_checkpoint,
        latest_checkpoint_parts,
        read_delta_log,
        replay_log,
        write_delta_checkpoint,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    acts = [{"metaData": {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }}]
    for i in range(8):
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}),
                       os.path.join(root, f"f{i}.parquet"))
        acts.append({"add": {"path": f"f{i}.parquet", "partitionValues": {},
                             "size": 1, "modificationTime": 0,
                             "dataChange": True}})
    append_delta_commit(root, acts, checkpoint_interval=None)
    pq.write_table(pa.table({"id": pa.array([8], pa.int64())}),
                   os.path.join(root, "f8.parquet"))
    append_delta_commit(root, [
        {"add": {"path": "f8.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    res = write_delta_checkpoint(root, max_actions_per_part=4)
    # 11 rows (protocol + metaData + 9 adds) → 3 parts of ≤4
    assert len(res["paths"]) == 3
    v, parts = latest_checkpoint_parts(root)
    assert v == 1 and len(parts) == 3
    assert latest_checkpoint(root) == (1, parts[0])
    # replay THROUGH the parts alone: delete the covered JSON commit
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    adds, meta, _ = replay_log(root)
    assert len(adds) == 9 and meta["partitionColumns"] == []
    # an append on top still replays (checkpoint + JSON tail)
    pq.write_table(pa.table({"id": pa.array([100], pa.int64())}),
                   os.path.join(root, "g.parquet"))
    append_delta_commit(root, [
        {"add": {"path": "g.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    got = sorted(r.id for r in read_delta_log(spark, root).collect())
    assert got == list(range(9)) + [100]


def test_incomplete_multipart_checkpoint_never_selected(tmp_path):
    from iceberg_tools_spark.sources.delta_log import (
        latest_checkpoint_parts,
        write_delta_checkpoint,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    append_delta_commit(root, [
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": "{}", "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    res = write_delta_checkpoint(root, max_actions_per_part=1)
    assert len(res["paths"]) == 3  # protocol + metaData + 1 add
    # simulate a writer dying mid-checkpoint: part 2 of 3 vanishes
    os.remove(res["paths"][1])
    assert latest_checkpoint_parts(root) is None
    # ...and with a complete SINGLE checkpoint alongside, that wins
    res2 = write_delta_checkpoint(root)
    v, parts = latest_checkpoint_parts(root)
    assert v == 0 and parts == [res2["path"]]


def test_incremental_stream_skips_dv_readds(spark, tmp_path):
    """A DV delete re-adds a path whose rows already streamed —
    re-emitting it would duplicate every surviving row downstream.
    The incremental listing skips same-commit re-adds by default
    (the pair is dataChange-TRUE per upstream — ADVICE r12); the
    raw listing still shows it, and the add-only stream now sees the
    delete and refuses without the ignore_deletes opt-in."""
    from iceberg_tools_spark.sources.delta_log import (
        commit_delta_dv,
        delta_adds_between,
        delta_incremental_stream,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
                   os.path.join(root, "f.parquet"))
    append_delta_commit(root, [
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [0]}, checkpoint_interval=None)
    assert delta_adds_between(root, 0, 1) == {1: []}
    raw = delta_adds_between(root, 0, 1, data_change_only=False)
    assert [a["path"] for a in raw[1]] == ["f.parquet"]
    # the DV delete is dataChange-true: the add-only stream raises
    # without the opt-in...
    with pytest.raises(ValueError, match="ignore_deletes"):
        delta_incremental_stream(spark, root, 0, 1, str(tmp_path / "stage"))
    # ...and WITH it, the re-add is skipped (rows already streamed),
    # so the range carries no new rows at all
    with pytest.raises(ValueError, match="no adds in range"):
        delta_incremental_stream(spark, root, 0, 1, str(tmp_path / "stage"),
                                 ignore_deletes=True)


def test_cdf_stream_matches_batch_and_carries_deletes(spark, tmp_path):
    """The streaming CDF source: stream rows == the batch change
    feed, per version, INCLUDING delete rows — the closure of the
    add-only stream's documented limitation."""
    from iceberg_tools_spark.sources.delta_log import (
        commit_delta_dv,
        delta_cdf_stream,
        read_delta_cdf,
    )
    from iceberg_tools_spark.streaming.jobs import run_to_memory

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1, 2, 3, 4], pa.int64())}),
                   os.path.join(root, "f.parquet"))
    append_delta_commit(root, [
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    # v1: reconstruction-read DV delete (no cdc file); v2:
    # CDF-emitting DV delete (cdc read alone)
    commit_delta_dv(root, {"f.parquet": [0]}, checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [2]}, checkpoint_interval=None,
                    write_cdf=True)
    stream, n = delta_cdf_stream(spark, root, 0, 2, str(tmp_path / "stage"))
    assert n == 3  # every version changed rows (v1 via reconstruction)
    got = sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in run_to_memory(stream, "cdf_stream_test").collect()
    )
    want = sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for v in (0, 1, 2)
        for r in read_delta_cdf(spark, root, v, v).collect()
    )
    assert got == want
    assert (3, "delete", 2) in got  # deletes are first-class rows


def test_cdf_plan_is_two_scans(spark, tmp_path):
    """Plan contract (VERDICT r10 #5's design, pinned): however many
    versions the range spans, the CDF plan holds exactly ONE parquet
    scan per branch — one over all explicit change files, one over
    all reconstruction files — not one per action."""
    from iceberg_tools_spark.sources.delta_log import (
        commit_delta_dv,
        read_delta_cdf,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    acts = [{"metaData": {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}}]}),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }}]
    append_delta_commit(root, acts + [
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    pq.write_table(pa.table({"id": pa.array(list(range(6)), pa.int64())}),
                   os.path.join(root, "f0.parquet"))
    # four more reconstruction versions + two CDF-emitting DV commits
    for i in range(1, 5):
        pq.write_table(pa.table({"id": pa.array([10 * i], pa.int64())}),
                       os.path.join(root, f"f{i}.parquet"))
        append_delta_commit(root, [
            {"add": {"path": f"f{i}.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ], checkpoint_interval=None)
    commit_delta_dv(root, {"f0.parquet": [1]}, checkpoint_interval=None,
                    write_cdf=True)
    commit_delta_dv(root, {"f0.parquet": [3]}, checkpoint_interval=None,
                    write_cdf=True)
    df = read_delta_cdf(spark, root, 0, 6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected 2 parquet scans, got {n_scans}:\n{plan}"


def test_dv_commit_upgrades_legacy_protocol(spark, tmp_path):
    """A DV commit into a minReaderVersion-1 table must upgrade the
    protocol IN THE SAME COMMIT — a real reader honoring the legacy
    declaration would ignore the deletionVector field and resurrect
    every masked row."""
    from iceberg_tools_spark.sources.delta_log import (
        commit_delta_dv,
        list_commits,
        log_state,
        protocol_upgrade_action,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
                   os.path.join(root, "f.parquet"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    commit_delta_dv(root, {"f.parquet": [1]}, checkpoint_interval=None,
                    write_cdf=True)
    v = list_commits(root)[-1][0]
    proto = log_state(root, v).protocol
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    assert {"deletionVectors", "changeDataFeed"} <= set(proto["writerFeatures"])
    # legacy-implied writer features enumerated per the upgrade rule
    assert {"appendOnly", "invariants"} <= set(proto["writerFeatures"])
    # idempotent: a second DV commit adds no further protocol action
    commit_delta_dv(root, {"f.parquet": [2]}, checkpoint_interval=None)
    with open(list_commits(root)[-1][1]) as f:
        assert not any("protocol" in json.loads(ln) for ln in f if ln.strip())
    # and the pure upgrade-computation contract
    assert protocol_upgrade_action(
        proto, reader_features={"deletionVectors"}
    ) is None


def test_replication_upgrades_protocol_on_first_dv(spark, tmp_path):
    """Iceberg→Delta replication: the commit that first maps a
    positional delete onto a Delta DV carries the protocol upgrade;
    append-only replicas stay legacy."""
    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        commit_delete_snapshot,
        create_table,
    )
    from iceberg_tools_spark.sources.delta_log import (
        list_commits,
        log_state,
    )
    from iceberg_tools_spark.sources.migrate import replicate_iceberg_to_delta

    root = str(tmp_path / "ice")
    os.makedirs(root)
    mp = create_table(root, [("id", "long")])
    loc = json.load(open(mp))["location"]
    pq.write_table(pa.table({"id": pa.array(list(range(5)), pa.int64())}),
                   os.path.join(root, "data/f.parquet"))
    mp = append_snapshot(mp, [{"path": "data/f.parquet", "partition": {}}])[
        "metadata_path"]
    os.makedirs(os.path.join(root, "data/deletes"))
    pq.write_table(
        pa.table({"file_path": pa.array([f"{loc}/data/f.parquet"]),
                  "pos": pa.array([1], pa.int64())}),
        os.path.join(root, "data/deletes/d.parquet"),
    )
    mp = commit_delete_snapshot(
        mp, [{"path": "data/deletes/d.parquet", "partition": {}, "content": 1}]
    )["metadata_path"]
    tgt = str(tmp_path / "delta")
    replicate_iceberg_to_delta(spark, mp, tgt, now_ms=1700000001000)
    # v0 (append-only seed) stays legacy; v1 (the DV) upgrades
    assert log_state(tgt, 0).protocol["minReaderVersion"] == 1
    proto = log_state(tgt, list_commits(tgt)[-1][0]).protocol
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    # our own gate accepts the upgraded replica
    got = sorted(r.id for r in read_delta_log(spark, tgt).collect())
    assert got == [0, 2, 3, 4]


def test_verbatim_replication_of_column_mapped_source(spark, tmp_path):
    """VERDICT r13 #5: verbatim full-fidelity replication of a
    COLUMN-MAPPED source works — the Iceberg replica declares
    ``schema.name-mapping.default`` binding each field id to the
    source's physical name, so zero files rewrite and every version
    reads under logical names, composing with a DV fold mid-log."""
    import json as _json

    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.sources.delta_log import commit_delta_dv
    from iceberg_tools_spark.sources.migrate import replicate_delta_versions

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_physical(root, "a.parquet", [1, 2])
    _write_physical(root, "b.parquet", [3, 4, 5])
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    append_delta_commit(root, [
        {"add": {"path": "b.parquet", "partitionValues": {"col-bbb": "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    # v2: a DV delete on the mapped file — mapping × DV composition
    commit_delta_dv(root, {"a.parquet": [0]}, checkpoint_interval=None)

    res = replicate_delta_versions(spark, root, str(tmp_path / "full"))
    mp = res["metadata_path"]
    # the replica DECLARES the mapping (spec property, physical names)
    props = parse_metadata(mp).raw["properties"]
    nm = {m["field-id"]: m["names"]
          for m in _json.loads(props["schema.name-mapping.default"])}
    assert nm[1][0] == "col-aaa" and nm[2][0] == "col-bbb"
    # per-version equality under LOGICAL names, zero rewrites of
    # non-DV files (verbatim copies carry physical names)
    for v in range(3):
        delta = sorted(map(tuple, read_delta_log(spark, root, v)
                           .select("id", "cat").collect()))
        ice = sorted(map(tuple, read_mor(spark, mp, 8000 + v)
                         .select("id", "cat").collect()))
        assert ice == delta, f"version {v} diverged"
    assert sorted(map(tuple, read_mor(spark, mp, 8002)
                      .select("id", "cat").collect())) == [
        (2, "x"), (3, "y"), (4, "y"), (5, "y")
    ]
    a_copy = os.path.join(str(tmp_path / "full"), "data", "a.parquet")
    assert open(a_copy, "rb").read() == open(
        os.path.join(root, "a.parquet"), "rb").read()
    # MIXED table: a LOGICAL-named file joins the replica (what a
    # later rewrite/compaction writes) — the name-mapping bind must
    # be per-file (coalesce), not a global rename: verbatim files'
    # rows keep their values, the new file's rows read too
    from iceberg_tools_spark.iceberg.commit import append_snapshot

    tgt = str(tmp_path / "full")
    pq.write_table(
        pa.table({
            "id": pa.array([100, 101], pa.int64()),
            "cat": pa.array(["z", "z"]),
        }),
        os.path.join(tgt, "data", "logical.parquet"),
    )
    res2 = append_snapshot(mp, [{"path": "data/logical.parquet",
                                 "partition": {"cat": "z"}}])
    mixed = sorted(map(tuple, read_mor(
        spark, res2["metadata_path"], res2["snapshot_id"]
    ).select("id", "cat").collect()))
    assert mixed == [
        (2, "x"), (3, "y"), (4, "y"), (5, "y"), (100, "z"), (101, "z")
    ]


def test_verbatim_replication_of_nested_column_mapped_source(spark, tmp_path):
    """r15 (VERDICT r14 missing #3, the last mapping refusal): a
    NESTED column-mapped source replicates VERBATIM — the Iceberg
    replica's name mapping carries the spec's nested ``fields``
    entries binding struct-internal physical names, the schema
    tree gets fresh ids at every depth, and reads bind struct
    internals through one positional CAST. Composes with a DV fold
    on the nested file and per-version equality."""
    import json as _json

    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.sources.delta_log import commit_delta_dv
    from iceberg_tools_spark.sources.migrate import replicate_delta_versions

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_nested_physical(root, "a.parquet", [1, 2])
    _write_nested_physical(root, "b.parquet", [3, 4, 5])
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _nested_mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    append_delta_commit(root, [
        {"add": {"path": "b.parquet", "partitionValues": {"col-bbb": "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    # v2: DV delete of id=1 (row 0 of a.parquet) — mapping x DV
    commit_delta_dv(root, {"a.parquet": [0]}, checkpoint_interval=None)

    res = replicate_delta_versions(spark, root, str(tmp_path / "full"))
    mp = res["metadata_path"]
    raw = parse_metadata(mp).raw
    # fresh ids at every depth; last-column-id covers nested slots
    schema = raw["schemas"][0]
    info = next(f for f in schema["fields"] if f["name"] == "info")
    inner_ids = {f["name"]: f["id"] for f in info["type"]["fields"]}
    tags_t = next(f for f in info["type"]["fields"]
                  if f["name"] == "tags")["type"]
    all_ids = {f["id"] for f in schema["fields"]} | set(inner_ids.values()) \
        | {tags_t["element-id"]}
    assert len(all_ids) == 6 and raw["last-column-id"] == max(all_ids)
    # the mapping carries NESTED fields entries with physical names
    nm = _json.loads(raw["properties"]["schema.name-mapping.default"])
    by_id = {m["field-id"]: m for m in nm}
    assert by_id[info["id"]]["names"][0] == "col-sss"
    nested = {e["names"][0]: e for e in by_id[info["id"]]["fields"]}
    assert nested["col-xxx"]["field-id"] == inner_ids["score"]
    assert nested["col-yyy"]["field-id"] == inner_ids["tags"]
    assert nested["col-yyy"]["fields"][0] == {
        "field-id": tags_t["element-id"], "names": ["element"],
    }
    # per-version equality under LOGICAL names at every depth
    for v in range(3):
        delta = sorted(
            (r["id"], r["info"]["score"], tuple(r["info"]["tags"]), r["cat"])
            for r in read_delta_log(spark, root, v).collect()
        )
        ice = sorted(
            (r["id"], r["info"]["score"], tuple(r["info"]["tags"]), r["cat"])
            for r in read_mor(spark, mp, 8000 + v).collect()
        )
        assert ice == delta, f"version {v} diverged"
    assert sorted(r["info"]["score"] for r in
                  read_mor(spark, mp, 8002).collect()) == [20, 30, 40, 50]
    # non-DV files are byte-identical verbatim copies
    b_copy = os.path.join(str(tmp_path / "full"), "data", "b.parquet")
    assert open(b_copy, "rb").read() == open(
        os.path.join(root, "b.parquet"), "rb").read()


def test_incremental_stream_renames_mapped_columns(spark, tmp_path):
    from iceberg_tools_spark.sources.delta_log import delta_incremental_stream
    from iceberg_tools_spark.streaming.jobs import run_to_memory

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _mapped_meta(),
    ], checkpoint_interval=None)
    _write_physical(root, "a.parquet", [1, 2])
    append_delta_commit(root, [
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    stream, n = delta_incremental_stream(
        spark, root, 0, 1, str(tmp_path / "stage"))
    assert n == 1
    rows = run_to_memory(stream, "cm_inc_test").collect()
    got = sorted((r["id"], r["cat"], r["_delta_version"]) for r in rows)
    assert got == [(1, "x", 1), (2, "x", 1)]


def test_direct_file_consumers_gate_on_protocol(spark, tmp_path):
    """The incremental stream and the verbatim replication consume
    data files directly — they owe the same guided refusal the
    readers give on an unsupported protocol."""
    from iceberg_tools_spark.sources.delta_log import delta_incremental_stream
    from iceberg_tools_spark.sources.migrate import replicate_delta_versions

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}),
                   os.path.join(root, "a.parquet"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["unknownFutureFeature"],
                      "writerFeatures": ["unknownFutureFeature"]}},
        {"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
    ], checkpoint_interval=None)
    append_delta_commit(root, [
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    with pytest.raises(ValueError, match="unknownFutureFeature"):
        delta_incremental_stream(spark, root, 0, 1, str(tmp_path / "stage"))
    with pytest.raises(ValueError, match="unknownFutureFeature"):
        replicate_delta_versions(spark, root, str(tmp_path / "full"))

def _nested_mapped_meta():
    """Column mapping with a NESTED schema: logical
    (id, info struct<score:long, tags:array<string>>, cat), physical
    names col-aaa / col-sss {col-xxx, col-yyy} / col-bbb at EVERY
    level — what a real column-mapped writer emits (VERDICT r12 #6:
    struct-internal physical names used to pass through unmapped)."""
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "info", "nullable": True,
         "type": {"type": "struct", "fields": [
             {"name": "score", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "col-xxx"}},
             {"name": "tags", "type": {"type": "array",
                                       "elementType": "string",
                                       "containsNull": True},
              "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "col-yyy"}},
         ]},
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-sss"}},
        {"name": "cat", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 5,
                      "delta.columnMapping.physicalName": "col-bbb"}},
    ]
    return {"metaData": {
        "id": "cmn", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": ["cat"],
        "configuration": {"delta.columnMapping.mode": "name"},
        "createdTime": 0,
    }}


def _write_nested_physical(root, name, ids):
    pq.write_table(
        pa.table({
            "col-aaa": pa.array(ids, pa.int64()),
            "col-sss": pa.array(
                [{"col-xxx": i * 10, "col-yyy": [f"t{i}"]} for i in ids],
                pa.struct([("col-xxx", pa.int64()),
                           ("col-yyy", pa.list_(pa.string()))]),
            ),
        }),
        os.path.join(root, name),
    )


def test_nested_column_mapping_read(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_nested_physical(root, "a.parquet", [1, 2])
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _nested_mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    df = read_delta_log(spark, root)
    assert set(df.columns) == {"id", "info", "cat"}
    # struct-INTERNAL fields surface under their logical names
    assert [f.name for f in df.schema["info"].dataType.fields] == \
        ["score", "tags"]
    rows = sorted(
        (r["id"], r["info"]["score"], tuple(r["info"]["tags"]), r["cat"])
        for r in df.collect()
    )
    assert rows == [(1, 10, ("t1",), "x"), (2, 20, ("t2",), "x")]
    # and a query addressing the nested logical name works end to end
    got = sorted(r[0] for r in df.select("info.score").collect())
    assert got == [10, 20]


def test_nested_column_mapping_composes_with_dv_and_cdf(spark, tmp_path):
    """mapping × DV × nested schema: the DV anti-join keys on paths/
    row-index (physical-name-free), then the nested rename lands —
    and the CDF read renames nested fields per frame."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_nested_physical(root, "a.parquet", [1, 2, 3, 4])
    desc = write_delta_dv_file(root, {"a.parquet": [1, 2]})["a.parquet"]
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors", "columnMapping"]}},
        _nested_mapped_meta(),
        {"add": {"path": "a.parquet", "partitionValues": {"col-bbb": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
    ], checkpoint_interval=None)
    rows = sorted(
        (r["id"], r["info"]["score"], r["cat"])
        for r in read_delta_log(spark, root).collect()
    )
    assert rows == [(1, 10, "x"), (4, 40, "x")]
    cdf = read_delta_cdf(spark, root, 0, 0)
    got = sorted((r["id"], r["info"]["score"], r["_change_type"])
                 for r in cdf.collect())
    assert got == [(1, 10, "insert"), (4, 40, "insert")]


def test_domain_metadata_and_writer_features_pass_through(spark, tmp_path):
    """Clustered tables (real current writers) stamp domainMetadata
    actions and clustering/domainMetadata WRITER features — readers
    must pass both through: writer features never gate reads, and
    unknown action kinds are ignored by replay AND by checkpoint
    state (the spec's forward-compat rule for actions)."""
    from iceberg_tools_spark.sources.delta_log import write_delta_checkpoint

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1, 2], "int64")}),
                   os.path.join(root, "a.parquet"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["clustering", "domainMetadata",
                                         "appendOnly"]}},
        {"metaData": {
            "id": "dm", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"domainMetadata": {"domain": "delta.clustering",
                            "configuration": "{\"clusteringColumns\":[]}",
                            "removed": False}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    assert sorted(r["id"] for r in read_delta_log(spark, root).collect()) == [1, 2]
    # ...and through a checkpoint with every covered commit gone —
    # PRESERVING the domain (PROTOCOL.md writer obligation): a
    # clustering-aware foreign reader of our checkpoint still sees it
    from iceberg_tools_spark.sources.delta_log import replay_log

    write_delta_checkpoint(root, now_ms=NOW)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    append_delta_commit(root, [
        {"commitInfo": {"operation": "x", "timestamp": NOW}},
    ], checkpoint_interval=None)
    assert sorted(r["id"] for r in read_delta_log(spark, root).collect()) == [1, 2]
    _, meta, _ = replay_log(root)
    assert meta["__domains__"]["delta.clustering"]["configuration"] == (
        "{\"clusteringColumns\":[]}"
    )
    # a removed=true tombstone CLEARS the domain; the next checkpoint
    # may drop it entirely
    append_delta_commit(root, [
        {"domainMetadata": {"domain": "delta.clustering",
                            "configuration": "", "removed": True}},
    ], checkpoint_interval=None)
    write_delta_checkpoint(root, now_ms=NOW)
    _, meta2, _ = replay_log(root)
    assert "delta.clustering" not in meta2.get("__domains__", {})


def test_domain_metadata_survives_v2_checkpoint(spark, tmp_path):
    """Domains survive V2 (sidecar) checkpoints too, via BOTH
    top-level formats."""
    from iceberg_tools_spark.sources.delta_log import (
        enable_v2_checkpoints,
        replay_log,
        write_delta_checkpoint_v2,
    )

    for fmt in ("json", "parquet"):
        root = str(tmp_path / f"t_{fmt}")
        os.makedirs(os.path.join(root, "_delta_log"))
        pq.write_table(pa.table({"id": pa.array([1], "int64")}),
                       os.path.join(root, "a.parquet"))
        append_delta_commit(root, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint",
                                             "domainMetadata"]}},
            {"metaData": {
                "id": "dm2", "format": {"provider": "parquet",
                                        "options": {}},
                "schemaString": json.dumps({"type": "struct", "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}}]}),
                "partitionColumns": [], "configuration": {},
                "createdTime": 0,
            }},
            {"domainMetadata": {"domain": "app.x", "configuration": "c1",
                                "removed": False}},
            {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
        ], checkpoint_interval=None)
        write_delta_checkpoint_v2(root, top_format=fmt, now_ms=NOW)
        os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
        append_delta_commit(root, [
            {"commitInfo": {"operation": "x", "timestamp": NOW}},
        ], checkpoint_interval=None)
        _, meta, _ = replay_log(root)
        assert meta["__domains__"]["app.x"]["configuration"] == "c1", fmt
        assert sorted(
            r["id"] for r in read_delta_log(spark, root).collect()
        ) == [1], fmt


def test_v2_checkpoint_pointer_size_counts_domains(tmp_path):
    """ADVICE r14 (low): the `_last_checkpoint` advisory size must
    count the domainMetadata rows the v2 top carries — files +
    protocol + checkpointMetadata + metaData + domains."""
    from iceberg_tools_spark.sources.delta_log import (
        write_delta_checkpoint_v2,
    )

    root = str(tmp_path / "t_sz")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1], "int64")}),
                   os.path.join(root, "a.parquet"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"],
                      "writerFeatures": ["v2Checkpoint",
                                         "domainMetadata"]}},
        {"metaData": {
            "id": "dm3", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"domainMetadata": {"domain": "app.x", "configuration": "c1",
                            "removed": False}},
        {"domainMetadata": {"domain": "app.y", "configuration": "c2",
                            "removed": False}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    write_delta_checkpoint_v2(root, now_ms=NOW)
    with open(os.path.join(root, "_delta_log", "_last_checkpoint")) as f:
        ptr = json.load(f)
    # 1 add + protocol + checkpointMetadata + metaData + 2 domains
    assert ptr["size"] == 6


def test_in_commit_timestamps(spark, tmp_path):
    """PROTOCOL.md "In-Commit Timestamps": once enabled, every
    commit carries a MONOTONIC commitInfo.inCommitTimestamp as the
    FIRST action, and timestamp time travel uses it instead of file
    mtimes — the whole point: a copied/restored log (fresh mtimes)
    must keep its history semantics."""
    from iceberg_tools_spark.sources.delta_log import (
        commit_timestamps,
        version_at_timestamp,
    )

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1], "int64")}),
                   os.path.join(root, "a.parquet"))
    pq.write_table(pa.table({"id": pa.array([2], "int64")}),
                   os.path.join(root, "b.parquet"))
    t0 = 1700000000000
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": [],
                      "writerFeatures": ["inCommitTimestamp"]}},
        {"metaData": {
            "id": "ict", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [],
            "configuration": {"delta.enableInCommitTimestamps": "true"},
            "createdTime": 0,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None, now_ms=t0)
    # a LATER commit with an EARLIER wall clock still stamps
    # monotonically (spec: ict(v) > ict(v-1)), and continuation works
    # without re-sending metaData
    append_delta_commit(root, [
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None, now_ms=t0 - 5000)
    stamps = dict(commit_timestamps(root))
    assert stamps[0] == t0
    assert stamps[1] == t0 + 1  # clamped monotonic, not the stale clock
    # commitInfo is the FIRST action of both commits
    for v in (0, 1):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json")) as f:
            first = json.loads(f.readline())
        assert "commitInfo" in first, v
    # time travel by ICT — mtimes are NOW (way past t0) and must not
    # matter
    assert version_at_timestamp(root, t0) == 0
    assert version_at_timestamp(root, t0 + 1) == 1
    with pytest.raises(ValueError, match="precedes"):
        version_at_timestamp(root, t0 - 10_000)
    df = read_delta_log(spark, root, timestamp_ms=t0)
    assert [r["id"] for r in df.collect()] == [1]


def _row_tracking_table(root, *, config=None):
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([10, 11, 12], "int64")}),
                   os.path.join(root, "a.parquet"))
    pq.write_table(pa.table({"id": pa.array([20, 21], "int64")}),
                   os.path.join(root, "b.parquet"))
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": [],
                      "writerFeatures": ["rowTracking", "domainMetadata"]}},
        {"metaData": {
            "id": "rt", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [],
            "configuration": {"delta.enableRowTracking": "true",
                              **(config or {})},
            "createdTime": 0,
        }},
        {"domainMetadata": {"domain": "delta.rowTracking",
                            "configuration": json.dumps(
                                {"rowIdHighWaterMark": 4}),
                            "removed": False}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "baseRowId": 0, "defaultRowCommitVersion": 0}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "baseRowId": 3, "defaultRowCommitVersion": 0}},
    ], checkpoint_interval=None)


def test_row_tracking_read(spark, tmp_path):
    """PROTOCOL.md "Row Tracking": _row_id = baseRowId + position,
    _row_commit_version = defaultRowCommitVersion; DV-deleted rows
    keep their neighbors' ids stable; fields survive checkpoints."""
    from iceberg_tools_spark.sources.delta_log import (
        commit_delta_dv,
        replay_log,
        write_delta_checkpoint,
    )

    root = str(tmp_path / "t")
    _row_tracking_table(root)
    df = read_delta_log(spark, root, with_row_tracking=True)
    got = sorted((r["id"], r["_row_id"], r["_row_commit_version"])
                 for r in df.collect())
    assert got == [(10, 0, 0), (11, 1, 0), (12, 2, 0),
                   (20, 3, 0), (21, 4, 0)]
    # DV delete of position 1 in a.parquet: row ids 0 and 2 persist
    commit_delta_dv(root, {"a.parquet": [1]}, checkpoint_interval=None)
    got2 = sorted((r["id"], r["_row_id"]) for r in read_delta_log(
        spark, root, with_row_tracking=True).collect())
    assert got2 == [(10, 0), (12, 2), (20, 3), (21, 4)]
    # the metadata survives a checkpoint with every covered commit
    # deleted
    write_delta_checkpoint(root, now_ms=NOW)
    append_delta_commit(root, [
        {"commitInfo": {"operation": "touch", "timestamp": NOW}},
    ], checkpoint_interval=None)
    for v, p in [(v, os.path.join(root, "_delta_log", f"{v:020d}.json"))
                 for v in (0, 1)]:
        os.remove(p)
    adds, _, _ = replay_log(root)
    assert {a["path"]: a.get("baseRowId") for a in adds} == {
        "a.parquet": 0, "b.parquet": 3}
    got3 = sorted((r["id"], r["_row_id"]) for r in read_delta_log(
        spark, root, with_row_tracking=True).collect())
    assert got3 == got2


def test_row_tracking_materialized_columns_win(spark, tmp_path):
    """Files rewritten by UPDATE carry materialized row-id columns
    that override the fresh derivation (the spec's preserved-row-id
    rule); the config names the physical columns."""
    root = str(tmp_path / "t")
    _row_tracking_table(root, config={
        "delta.rowTracking.materializedRowIdColumnName": "_mat_rid",
        "delta.rowTracking.materializedRowCommitVersionColumnName":
            "_mat_cv",
    })
    # c.parquet: a rewrite of a.parquet's rows — preserved ids 0-2,
    # written at commit version 1
    pq.write_table(
        pa.table({
            "id": pa.array([110, 111, 112], "int64"),
            "_mat_rid": pa.array([0, 1, 2], "int64"),
            "_mat_cv": pa.array([1, 1, 1], "int64"),
        }),
        os.path.join(root, "c.parquet"),
    )
    append_delta_commit(root, [
        {"remove": {"path": "a.parquet", "deletionTimestamp": NOW,
                    "dataChange": False}},
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": False,
                 "baseRowId": 5, "defaultRowCommitVersion": 1}},
    ], checkpoint_interval=None)
    df = read_delta_log(spark, root, with_row_tracking=True)
    got = sorted((r["id"], r["_row_id"], r["_row_commit_version"])
                 for r in df.collect())
    # rewritten rows KEEP ids 0-2 (not fresh 5-7); b.parquet fresh
    assert got == [(20, 3, 0), (21, 4, 0),
                   (110, 0, 1), (111, 1, 1), (112, 2, 1)]
    # the materialized carrier columns never leak into the result
    assert "_mat_rid" not in df.columns and "_mat_cv" not in df.columns


def test_row_tracking_requires_backfill(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    pq.write_table(pa.table({"id": pa.array([1], "int64")}),
                   os.path.join(root, "a.parquet"))
    append_delta_commit(root, [
        {"metaData": {
            "id": "nort", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], checkpoint_interval=None)
    with pytest.raises(ValueError, match="baseRowId"):
        read_delta_log(spark, root, with_row_tracking=True)


def test_ict_enablement_provenance_properties(tmp_path):
    """Enabling ICT AFTER table creation stamps the spec's
    provenance properties (enablement version + timestamp) in the
    SAME commit; enabling AT creation (v0) does not need them."""
    from iceberg_tools_spark.sources.delta_log import replay_log

    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    base_meta = {
        "id": "ictp", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}}]}),
        "partitionColumns": [], "configuration": {}, "createdTime": 0,
    }
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["inCommitTimestamp"]}},
        {"metaData": base_meta},
    ], checkpoint_interval=None)
    # v1 ENABLES: provenance lands in the same commit's metaData
    enabling = dict(base_meta)
    enabling["configuration"] = {"delta.enableInCommitTimestamps": "true"}
    append_delta_commit(root, [{"metaData": enabling}],
                        checkpoint_interval=None, now_ms=NOW)
    _, meta, _ = replay_log(root)
    cfg = meta["configuration"]
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "1"
    assert cfg["delta.inCommitTimestampEnablementTimestamp"] == str(NOW)
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as f:
        first = json.loads(f.readline())
    assert first["commitInfo"]["inCommitTimestamp"] == NOW
