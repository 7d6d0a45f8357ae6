"""Append-snapshot commit round-trips: the write path feeding every
reader/planner this repo already certifies.

Strategy: copy the physical MoR fixture to a tmp table, commit new
data files with `append_snapshot`, and verify through the EXISTING
surfaces — time travel, incremental scan, the MoR reader, the
streamed increment, and manifest2json — rather than through the
writer's own eyes."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from iceberg_tools_spark.iceberg.commit import append_snapshot
from iceberg_tools_spark.iceberg.deletes import MOR_DIR, read_mor
from iceberg_tools_spark.iceberg.snapshots import files_added_between, files_at


@pytest.fixture()
def table(tmp_path):
    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    return str(root)


def _write_g(root: str, n: int = 7, start: int = 400) -> str:
    rel = "data/category=w/id_trunc=400/G.parquet"
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids = list(range(start, start + n))
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "category": pa.array(["w"] * n, pa.string()),
        }),
        path,
    )
    return rel


def _commit_g(root: str, **kw):
    rel = _write_g(root)
    return append_snapshot(
        os.path.join(root, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        **kw,
    )


def test_commit_then_time_travel_and_increment(spark, table):
    res = _commit_g(table)
    meta_path, sid = res["metadata_path"], res["snapshot_id"]
    assert sid == 2005 and res["sequence_number"] == 5

    # time travel at the new snapshot sees all five old files + G
    files = files_at(spark, meta_path, sid).collect()
    names = sorted(r.file_path.rsplit("/", 1)[-1] for r in files)
    assert names == ["A.parquet", "B.parquet", "C.parquet", "D.parquet",
                     "F.parquet", "G.parquet"]
    # footer-derived stats landed in the manifest
    g = next(r for r in files if r.file_path.endswith("G.parquet"))
    assert g.record_count == 7

    # incremental scan attributes exactly G to (2004, 2005]
    inc = files_added_between(spark, meta_path, 2004, sid).collect()
    assert [r.file_path.rsplit("/", 1)[-1] for r in inc] == ["G.parquet"]


def test_commit_mor_read_applies_old_deletes(spark, table):
    res = _commit_g(table)
    got = sorted(r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect())
    # 323 surviving fixture rows (deletes still applied) + 7 new
    assert len(got) == 330
    assert got[-7:] == list(range(400, 407))


def test_commit_streams_as_increment(spark, table, tmp_path):
    from iceberg_tools_spark.streaming.incremental import incremental_scan_stream
    from iceberg_tools_spark.streaming.jobs import run_to_memory

    res = _commit_g(table)
    stream = incremental_scan_stream(
        spark, res["metadata_path"], 2004, res["snapshot_id"], str(tmp_path / "stage")
    )
    got = run_to_memory(stream, "commit_increment")
    assert sorted(r.id for r in got.collect()) == list(range(400, 407))


def test_commit_manifest2json_readable(table):
    import io
    import json

    from iceberg_tools_spark.iceberg.manifest2json import manifest2json

    res = _commit_g(table)
    buf = io.StringIO()
    assert manifest2json(res["manifest_path"], res["metadata_path"], buf) == 0
    recs = json.loads(buf.getvalue())
    assert len(recs) == 1
    assert recs[0]["data_file"]["file_path"].endswith("G.parquet")
    assert recs[0]["status"] == 1  # ADDED
    # union-labelled like the reference's encoder; null seq inherited
    assert recs[0]["snapshot_id"] == {"long": 2005}
    assert recs[0]["sequence_number"] is None


def test_commit_chains(spark, table):
    res1 = _commit_g(table)
    rel2 = "data/category=v/id_trunc=500/H.parquet"
    path2 = os.path.join(table, rel2)
    os.makedirs(os.path.dirname(path2), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([500], pa.int64()),
                  "category": pa.array(["v"], pa.string())}),
        path2,
    )
    res2 = append_snapshot(
        res1["metadata_path"],
        [{"path": rel2, "partition": {"category": "v", "id_trunc": 500}}],
    )
    assert res2["snapshot_id"] == 2006 and res2["sequence_number"] == 6
    inc = files_added_between(spark, res2["metadata_path"], 2004, 2006).collect()
    assert sorted(r.file_path.rsplit("/", 1)[-1] for r in inc) == ["G.parquet", "H.parquet"]
    # chain attribution: each file to its own snapshot
    by_snap = {r.file_path.rsplit("/", 1)[-1]: r.snapshot_id for r in inc}
    assert by_snap == {"G.parquet": 2005, "H.parquet": 2006}


def test_commit_is_deterministic(tmp_path):
    outs = []
    for sub in ("a", "b"):
        root = tmp_path / sub
        shutil.copytree(MOR_DIR, root)
        res = _commit_g(str(root))
        outs.append(
            (
                open(res["manifest_path"], "rb").read(),
                open(res["manifest_list_path"], "rb").read(),
                open(res["metadata_path"]).read(),
            )
        )
    assert outs[0] == outs[1]


def test_commit_rejects_bad_partition_and_empty(table):
    with pytest.raises(ValueError, match="does not match spec"):
        rel = _write_g(table)
        append_snapshot(
            os.path.join(table, "v2.metadata.json"),
            [{"path": rel, "partition": {"category": "w"}}],  # missing id_trunc
        )
    with pytest.raises(ValueError, match="no data files"):
        append_snapshot(os.path.join(table, "v2.metadata.json"), [])


def test_delete_commit_round_trip(spark, table):
    """Write path for MoR deletes: commit a positional-delete
    snapshot and watch the ordinary reader drop exactly those rows
    — and NOT from files written after the delete."""
    from iceberg_tools_spark.iceberg.commit import (
        commit_delete_snapshot,
        write_position_deletes,
    )

    res1 = _commit_g(table)  # snapshot 2005 adds G (ids 400..406)
    rel = write_position_deletes(
        table, "data/deletes/pd2.parquet",
        [("data/category=w/id_trunc=400/G.parquet", 0),
         ("data/category=w/id_trunc=400/G.parquet", 1)],
    )
    res2 = commit_delete_snapshot(
        res1["metadata_path"],
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400},
          "content": 1}],
    )
    assert res2["snapshot_id"] == 2006 and res2["sequence_number"] == 6
    got = sorted(r.id for r in read_mor(spark, res2["metadata_path"], 2006).collect())
    # 330 live at 2005 minus ids 400, 401
    assert len(got) == 328 and 400 not in got and 401 not in got and 402 in got

    # a file appended AFTER the delete snapshot is untouched by it
    rel3 = "data/category=w/id_trunc=400/I.parquet"
    path3 = os.path.join(table, rel3)
    pq.write_table(
        pa.table({"id": pa.array([450, 451], pa.int64()),
                  "category": pa.array(["w", "w"], pa.string())}),
        path3,
    )
    res3 = append_snapshot(
        res2["metadata_path"],
        [{"path": rel3, "partition": {"category": "w", "id_trunc": 400}}],
    )
    got3 = sorted(r.id for r in read_mor(spark, res3["metadata_path"], 2007).collect())
    assert 450 in got3 and 451 in got3 and len(got3) == 330


def test_position_deletes_on_created_table(spark, tmp_path):
    """``write_position_deletes`` resolves the table location from the
    current ``metadata/vN.metadata.json`` of a ``create_table`` table
    (past v9, where name order and version order part ways) and the
    committed delete removes exactly its rows."""
    from iceberg_tools_spark.iceberg.commit import (
        commit_delete_snapshot,
        create_table,
        write_position_deletes,
    )

    root = str(tmp_path / "t")
    mp = create_table(root, [("id", "long")], location="file:///warehouse/t")
    for i in range(10):
        rel = f"data/f{i}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(range(10 * i, 10 * i + 10), pa.int64())}),
            os.path.join(root, rel),
        )
        mp = append_snapshot(mp, [{"path": rel, "partition": {}}])["metadata_path"]
    assert os.path.basename(mp) == "v11.metadata.json"
    rel = write_position_deletes(
        root, "data/deletes/pd.parquet", [("data/f3.parquet", 4), ("data/f3.parquet", 0)]
    )
    stored = pq.read_table(os.path.join(root, rel)).to_pylist()
    assert stored == [
        {"file_path": "file:///warehouse/t/data/f3.parquet", "pos": p} for p in (0, 4)
    ]
    res = commit_delete_snapshot(mp, [{"path": rel, "partition": {}, "content": 1}])
    got = read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect()
    assert sorted(r.id for r in got) == [i for i in range(100) if i not in (30, 34)]


def test_delete_commit_validation(table):
    from iceberg_tools_spark.iceberg.commit import commit_delete_snapshot

    with pytest.raises(ValueError, match="content 1"):
        commit_delete_snapshot(
            os.path.join(table, "v2.metadata.json"),
            [{"path": "x", "partition": {}, "content": 0}],
        )
    with pytest.raises(ValueError, match="equality_ids"):
        commit_delete_snapshot(
            os.path.join(table, "v2.metadata.json"),
            [{"path": "x", "partition": {}, "content": 2}],
        )


def test_expire_snapshots_execution(spark, tmp_path):
    """Executor for the expiry plan: expired snapshots leave the
    metadata, their now-unreferenced manifest lists/manifests are
    reported (and deleted on request), and every surviving read
    surface still works."""
    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR

    root = tmp_path / "ms"
    shutil.copytree(MS_DIR, root)
    mp = os.path.join(root, "v2.metadata.json")
    before = parse_metadata(mp)
    res = expire_snapshots(mp, keep_last=2, delete_files=True)
    assert res["expired"] and set(res["expired"]).isdisjoint(
        {s["snapshot-id"] for s in parse_metadata(res["metadata_path"]).snapshots}
    )
    after = parse_metadata(res["metadata_path"])
    assert after.current_snapshot_id == before.current_snapshot_id
    assert len(after.snapshots) == len(before.snapshots) - len(res["expired"])
    # snapshot-log trimmed in lockstep
    assert {e["snapshot-id"] for e in after.raw["snapshot-log"]} == {
        s["snapshot-id"] for s in after.snapshots
    }
    # reported files were deleted; current snapshot still reads
    assert res["removable"] and all(not os.path.exists(p) for p in res["removable"])
    live = files_at(spark, res["metadata_path"], after.current_snapshot_id, str(root))
    assert live.count() > 0

    # idempotent second call: nothing left to expire at keep_last=2
    res2 = expire_snapshots(res["metadata_path"], keep_last=2)
    assert res2["expired"] == []


def test_expire_never_drops_current(tmp_path):
    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR

    root = tmp_path / "ms"
    shutil.copytree(MS_DIR, root)
    mp = os.path.join(root, "v2.metadata.json")
    cur = parse_metadata(mp).current_snapshot_id
    res = expire_snapshots(mp, keep_last=0)
    assert cur not in res["expired"]


def test_commit_null_partition_value(spark, table):
    """A commit mixing null and non-null partition values must not
    TypeError in the summary min/max (bounds computed over non-null
    values only, contains_null set)."""
    rel = "data/category=x/N.parquet"
    path = os.path.join(table, rel)
    pq.write_table(
        pa.table({"id": pa.array([900], pa.int64()),
                  "category": pa.array([None], pa.string())}),
        path,
    )
    res = append_snapshot(
        os.path.join(table, "v2.metadata.json"),
        [
            {"path": rel, "partition": {"category": None, "id_trunc": 900}},
            {"path": "data/category=y/B.parquet",
             "partition": {"category": "y", "id_trunc": 100}},
        ],
    )
    files = files_at(spark, res["metadata_path"], res["snapshot_id"]).collect()
    assert any(r.file_path.endswith("N.parquet") for r in files)


def test_commit_explicit_zero_record_count(table):
    """An explicit record_count of 0 is honored, not silently
    replaced by the parquet footer's count."""
    rel = _write_g(table)  # actually holds 7 rows
    res = append_snapshot(
        os.path.join(table, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400},
          "record_count": 0, "file_size_in_bytes": 1}],
    )
    import json as _json

    meta = _json.load(open(res["metadata_path"]))
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == res["snapshot_id"])
    assert snap["summary"]["added-records"] == "0"


def test_commit_metadata_log_uri_is_root_relative(table):
    """metadata-log records the file's ACTUAL root-relative URI (the
    fixture keeps metadata.json at the table root, not metadata/)."""
    import json as _json

    res = _commit_g(table)
    meta = _json.load(open(res["metadata_path"]))
    assert meta["metadata-log"][-1]["metadata-file"] == (
        "file:///tmp/mor_table/v2.metadata.json"
    )


def test_schema_evolution_add_column(spark, table):
    """Add-column evolution: new schema id, old schemas retained,
    existing data still readable (schema-on-read: the added columns
    simply don't constrain old parquet)."""
    from iceberg_tools_spark.iceberg.evolution import evolve_schema
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    mp = os.path.join(table, "v2.metadata.json")
    res = evolve_schema(mp, add=[("score", "double"), ("note", "string")])
    meta = parse_metadata(res["metadata_path"])
    names = [f["name"] for f in meta.current_schema["fields"]]
    assert names == ["id", "category", "score", "note"]
    assert len(meta.schemas) == 2  # old schema retained
    ids = [f["id"] for f in meta.current_schema["fields"]]
    assert ids == sorted(ids) == [1, 2, 3, 4]  # fresh ids past last-column-id
    # old data still reads via the MoR reader (schema-on-read)
    assert read_mor(spark, res["metadata_path"], 2004).count() == 323

    with pytest.raises(ValueError, match="already exists"):
        evolve_schema(res["metadata_path"], add=[("id", "long")])
    with pytest.raises(ValueError, match="no changes"):
        evolve_schema(res["metadata_path"], add=[])


def test_refs_tag_and_branch(spark, table):
    """Tags pin, branches move, readers resolve by name."""
    from iceberg_tools_spark.iceberg.commit import resolve_ref, set_ref

    mp = os.path.join(table, "v2.metadata.json")
    r1 = set_ref(mp, "v-before-deletes", snapshot_id=2002, ref_type="tag")
    r2 = set_ref(r1["metadata_path"], "nightly", ref_type="branch")
    mp2 = r2["metadata_path"]
    assert resolve_ref(mp2, "v-before-deletes") == 2002
    assert resolve_ref(mp2, "nightly") == 2004
    assert resolve_ref(mp2, "main") == 2004
    # time travel THROUGH the tag
    files = files_at(spark, mp2, resolve_ref(mp2, "v-before-deletes")).collect()
    assert sorted(r.file_path.rsplit("/", 1)[-1] for r in files) == [
        "A.parquet", "B.parquet", "C.parquet", "D.parquet"
    ]
    # tags are immutable; branches move
    with pytest.raises(ValueError, match="immutable"):
        set_ref(mp2, "v-before-deletes", snapshot_id=2003, ref_type="tag")
    r3 = set_ref(mp2, "nightly", snapshot_id=2003, ref_type="branch")
    assert resolve_ref(r3["metadata_path"], "nightly") == 2003
    with pytest.raises(ValueError, match="unknown ref"):
        resolve_ref(mp2, "nope")
    with pytest.raises(ValueError, match="not in table"):
        set_ref(mp2, "x", snapshot_id=999)


def test_eq_delete_commit_round_trip(spark, table):
    """Equality-delete write path: committed eq delete applies on
    MoR reads (seq-gated) and surfaces as that commit's changelog
    DELETE rows."""
    from iceberg_tools_spark.iceberg.changelog import changelog_between
    from iceberg_tools_spark.iceberg.commit import (
        commit_delete_snapshot,
        write_equality_deletes,
    )

    rel = write_equality_deletes(
        table, "data/deletes/ed_t.parquet", [{"id": 120}, {"id": 130}]
    )
    res = commit_delete_snapshot(
        os.path.join(table, "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "y"}, "content": 2,
          "equality_ids": [1]}],
        spec_id=0,
    )
    y_ids = {
        r.id
        for r in read_mor(spark, res["metadata_path"], res["snapshot_id"])
        .filter("category = 'y'")
        .collect()
    }
    assert y_ids == set(range(101, 151)) - {120, 130}
    ch = changelog_between(
        spark, res["metadata_path"], 2004, res["snapshot_id"]
    ).collect()
    assert {(r.change_type, r.id) for r in ch} == {("DELETE", 120), ("DELETE", 130)}
    # partition gate: an eq delete scoped to partition z cannot kill
    # a category-y row even when the id matches
    rel2 = write_equality_deletes(
        table, "data/deletes/ed_t2.parquet", [{"id": 140}]
    )
    res2 = commit_delete_snapshot(
        res["metadata_path"],
        [{"path": rel2, "partition": {"category": "z"}, "content": 2,
          "equality_ids": [1]}],
        spec_id=0,
    )
    y2 = {
        r.id
        for r in read_mor(spark, res2["metadata_path"], res2["snapshot_id"])
        .filter("category = 'y'")
        .collect()
    }
    assert 140 in y2


# ------------------------------------------------ rollback


def test_rollback_requires_ancestor(spark, tmp_path):
    import shutil

    import pytest

    from iceberg_tools_spark.iceberg.commit import rollback_to
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR

    root = tmp_path / "ms"
    shutil.copytree(MS_DIR, root)
    mp = str(root / "v2.metadata.json")
    # 1004 sits on the abandoned branch: not an ancestor of 1003
    with pytest.raises(ValueError, match="not an ancestor"):
        rollback_to(mp, 1004)
    res = rollback_to(mp, 1004, allow_non_ancestor=True)
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    assert parse_metadata(res["metadata_path"]).current_snapshot_id == 1004


def test_rollback_records_log_and_keeps_snapshots(spark, tmp_path):
    import shutil

    from iceberg_tools_spark.iceberg.commit import rollback_to
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import files_at

    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    res = rollback_to(str(root / "v2.metadata.json"), 2002)
    raw = parse_metadata(res["metadata_path"]).raw
    assert raw["current-snapshot-id"] == 2002
    assert raw["snapshot-log"][-1]["snapshot-id"] == 2002
    assert len(raw["snapshots"]) == 4  # nothing deleted
    # rolled-past snapshots still time-travel
    assert files_at(spark, res["metadata_path"], 2004).count() == 5


def test_rollback_to_current_or_unknown_raises(tmp_path):
    import shutil

    import pytest

    from iceberg_tools_spark.iceberg.commit import rollback_to
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    mp = str(root / "v2.metadata.json")
    with pytest.raises(ValueError, match="already current"):
        rollback_to(mp, 2004)
    with pytest.raises(ValueError, match="not in table metadata"):
        rollback_to(mp, 9999)


# ------------------------------------------------ write-audit-publish


def test_staged_commit_leaves_main_untouched(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot, resolve_ref
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    rel = "data/category=w/id_trunc=400/H.parquet"
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([401], pa.int64()),
                  "category": pa.array(["w"])}), p
    )
    res = append_snapshot(
        str(root / "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-x",
    )
    raw = parse_metadata(res["metadata_path"]).raw
    assert raw["current-snapshot-id"] == 2004  # main unmoved
    assert resolve_ref(res["metadata_path"], "wap-x") == res["snapshot_id"]
    assert raw["snapshot-log"][-1]["snapshot-id"] != res["snapshot_id"]  # no log entry yet


def test_publish_requires_fast_forward(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        publish_snapshot,
        rollback_to,
    )
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    rel = "data/category=w/id_trunc=400/H.parquet"
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array([401], pa.int64()),
                  "category": pa.array(["w"])}), p
    )
    res = append_snapshot(
        str(root / "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-x",
    )
    # roll main back: the staged snapshot's parent is no longer
    # current → publish must refuse the non-fast-forward
    res2 = rollback_to(res["metadata_path"], 2002)
    with pytest.raises(ValueError, match="fast-forward impossible"):
        publish_snapshot(res2["metadata_path"], "wap-x")
    with pytest.raises(ValueError, match="no staged ref"):
        publish_snapshot(res2["metadata_path"], "nope")


def test_snapshot_summary_totals(spark, tmp_path):
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.sortorder import commit_sort_order, rewrite_sorted

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    rel = "data/category=w/id_trunc=400/G.parquet"
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(range(400, 407), pa.int64()),
                  "category": pa.array(["w"] * 7)}), p
    )
    res = append_snapshot(
        str(root / "v2.metadata.json"),
        [{"path": rel, "partition": {"category": "w", "id_trunc": 400}}],
    )
    snap = parse_metadata(res["metadata_path"]).snapshots[-1]
    # A100+B50+C100+D50+F40+G7 manifest-entry rows; 6 data files;
    # pd1+ed1 delete files
    assert snap["summary"]["total-records"] == "347"
    assert snap["summary"]["total-data-files"] == "6"
    assert snap["summary"]["total-delete-files"] == "2"
    # after a full sorted rewrite the totals equal the LIVE fold
    res2 = commit_sort_order(res["metadata_path"], [("id", "asc")])
    res3 = rewrite_sorted(spark, res2["metadata_path"], target_files=2)
    snap3 = parse_metadata(res3["metadata_path"]).snapshots[-1]
    assert snap3["summary"]["total-records"] == "330"  # 347 − 17 dead
    assert snap3["summary"]["total-delete-files"] == "0"


def test_expire_protects_ref_pinned_snapshots(spark):
    """Round 8: a snapshot pinned by a tag or branch must survive
    expiry (Iceberg's RemoveSnapshots ref protection) — and the
    time-travel read through the tag still works afterwards."""
    from iceberg_tools_spark.iceberg.commit import (
        _scratch_table,
        expire_snapshots,
        resolve_ref,
        set_ref,
    )
    from iceberg_tools_spark.iceberg.maintenance import plan_expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_DIR, files_at

    root = _scratch_table("expire_ref_", MS_DIR)
    mp = os.path.join(root, "v2.metadata.json")
    tagged = set_ref(mp, "audit-1001", snapshot_id=1001, ref_type="tag")
    plan = plan_expire_snapshots(
        parse_metadata(tagged["metadata_path"]), keep_last=1
    )
    by_id = {p["snapshot_id"]: p for p in plan}
    assert by_id[1001]["action"] == "keep"
    assert by_id[1001]["reason"] == "ref-protected"
    assert by_id[1002]["action"] == "expire"  # unpinned sibling ages out
    res = expire_snapshots(tagged["metadata_path"], keep_last=1)
    assert 1001 not in res["expired"] and 1002 in res["expired"]
    meta = parse_metadata(res["metadata_path"])
    assert any(s["snapshot-id"] == 1001 for s in meta.snapshots)
    sid = resolve_ref(res["metadata_path"], "audit-1001")
    assert files_at(spark, res["metadata_path"], sid, root).count() > 0


def _scratch_mor(tmp_path):
    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    return root


def _write_rows(root, rel, ids, category):
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "category": pa.array([category] * len(ids))}), p
    )


def test_cherrypick_reparents_staged_append(spark, tmp_path):
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    _write_rows(root, "data/category=w/id_trunc=400/W.parquet", list(range(400, 405)), "w")
    _write_rows(root, "data/category=w/id_trunc=500/X.parquet", list(range(500, 503)), "w")
    staged = append_snapshot(
        mpath,
        [{"path": "data/category=w/id_trunc=400/W.parquet",
          "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-y",
    )
    moved = append_snapshot(
        staged["metadata_path"],
        [{"path": "data/category=w/id_trunc=500/X.parquet",
          "partition": {"category": "w", "id_trunc": 500}}],
    )
    picked = cherrypick_snapshot(moved["metadata_path"], staged["snapshot_id"])
    live = read_mor(spark, picked["metadata_path"], picked["snapshot_id"], str(root))
    ids = {r["id"] for r in live.collect()}
    assert {400, 401, 402, 403, 404} <= ids and {500, 501, 502} <= ids
    meta = parse_metadata(picked["metadata_path"])
    snap = next(s for s in meta.snapshots if s["snapshot-id"] == picked["snapshot_id"])
    assert snap["parent-snapshot-id"] == moved["snapshot_id"]
    assert snap["summary"]["source-snapshot-id"] == str(staged["snapshot_id"])


def test_cherrypick_refuses_non_append(tmp_path):
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    # snapshot 2003 is the fixture's MoR delete commit
    with pytest.raises(ValueError, match="supports append"):
        cherrypick_snapshot(mpath, 2003)


def test_cherrypick_wap_duplicate_publish_guard(tmp_path):
    from iceberg_tools_spark.iceberg.commit import cherrypick_snapshot

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    _write_rows(root, "data/category=w/id_trunc=400/W.parquet", [400], "w")
    staged = append_snapshot(
        mpath,
        [{"path": "data/category=w/id_trunc=400/W.parquet",
          "partition": {"category": "w", "id_trunc": 400}}],
        stage_ref="wap-z",
        extra_summary={"wap.id": "dup-1"},
    )
    picked = cherrypick_snapshot(staged["metadata_path"], staged["snapshot_id"])
    with pytest.raises(ValueError, match="already published"):
        cherrypick_snapshot(picked["metadata_path"], staged["snapshot_id"])


def test_ref_retention_policies(tmp_path):
    # spec ref properties: max-ref-age-ms removes the ref;
    # min-snapshots-to-keep / max-snapshot-age-ms protect branch
    # ancestors beyond the head
    import json

    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.maintenance import (
        plan_expire_snapshots,
        plan_ref_retention,
    )
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    raw = json.loads(open(mpath).read())
    # fixture snapshots 2001..2004 at increasing timestamps; head 2004
    ts = {s["snapshot-id"]: s["timestamp-ms"] for s in raw["snapshots"]}
    now = max(ts.values()) + 10_000
    raw["refs"] = {
        "main": {"snapshot-id": 2004, "type": "branch",
                 "min-snapshots-to-keep": 2},
        "old-tag": {"snapshot-id": 2002, "type": "tag",
                    "max-ref-age-ms": 1},          # aged out → removed
        "audit": {"snapshot-id": 2003, "type": "branch",
                  "max-ref-age-ms": 10_000_000,    # young enough
                  "min-snapshots-to-keep": 1,
                  "max-snapshot-age-ms": 1},       # ancestors too old
    }
    open(mpath, "w").write(json.dumps(raw))
    meta = parse_metadata(mpath)

    rr = plan_ref_retention(meta, now)
    assert rr["removed_refs"] == ["old-tag"]
    # main protects 2004+2003 (min 2); audit protects its head 2003
    assert set(rr["protected"]) == {2004, 2003}

    plan = {p["snapshot_id"]: p for p in plan_expire_snapshots(
        meta, keep_last=1, now_ms=now
    )}
    assert plan[2002]["action"] == "expire"     # old-tag no longer pins it
    assert plan[2003]["action"] == "keep"
    assert plan[2003]["reason"] == "ref-protected"

    res = expire_snapshots(mpath, keep_last=1, now_ms=now)
    assert res["removed_refs"] == ["old-tag"]
    assert 2002 in res["expired"] and 2001 in res["expired"]
    raw2 = json.loads(open(res["metadata_path"]).read())
    assert set(raw2["refs"]) == {"main", "audit"}
    assert {s["snapshot-id"] for s in raw2["snapshots"]} == {2003, 2004}


def test_ref_retention_without_now_keeps_legacy_behavior(tmp_path):
    import json

    from iceberg_tools_spark.iceberg.maintenance import plan_expire_snapshots
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    raw = json.loads(open(mpath).read())
    raw["refs"] = {"old-tag": {"snapshot-id": 2002, "type": "tag",
                               "max-ref-age-ms": 1}}
    open(mpath, "w").write(json.dumps(raw))
    plan = {p["snapshot_id"]: p for p in plan_expire_snapshots(
        parse_metadata(mpath), keep_last=1
    )}
    # no now_ms → blanket head-pinning, properties ignored
    assert plan[2002]["action"] == "keep"


def test_metadata_log_retention_properties(tmp_path):
    import json

    root = _scratch_mor(tmp_path)
    mpath = str(root / "v2.metadata.json")
    raw = json.loads(open(mpath).read())
    raw["properties"]["write.metadata.previous-versions-max"] = "2"
    raw["properties"]["write.metadata.delete-after-commit.enabled"] = "true"
    open(mpath, "w").write(json.dumps(raw))

    mp = mpath
    paths = []
    for i in range(4):
        _write_rows(root, f"data/category=w/L{i}.parquet", [700 + i], "w")
        res = append_snapshot(
            mp, [{"path": f"data/category=w/L{i}.parquet",
                  "partition": {"category": "w", "id_trunc": 700}}]
        )
        paths.append(res["metadata_path"])
        mp = res["metadata_path"]

    raw = json.loads(open(mp).read())
    assert len(raw["metadata-log"]) == 2  # capped on every commit
    # the newest predecessors survive; the oldest commit-written
    # version files were physically deleted
    import os

    assert os.path.exists(paths[-2])
    assert not os.path.exists(paths[0])


def test_metadata_log_unbounded_without_property(tmp_path):
    import json

    root = _scratch_mor(tmp_path)
    mp = str(root / "v2.metadata.json")
    before = len(json.loads(open(mp).read()).get("metadata-log", []))
    for i in range(3):
        _write_rows(root, f"data/category=w/M{i}.parquet", [800 + i], "w")
        res = append_snapshot(
            mp, [{"path": f"data/category=w/M{i}.parquet",
                  "partition": {"category": "w", "id_trunc": 800}}]
        )
        mp = res["metadata_path"]
    raw = json.loads(open(mp).read())
    assert len(raw["metadata-log"]) == before + 3  # default: unbounded


# ---- one version step: every table-version writer keeps the history


def _stage_append(mp: str, root: str) -> str:
    """Stage an append on branch ``audit-1`` (main does not move)."""
    rel = _write_ids(root, "S1", [411])
    part = {"category": "w", "id_trunc": 400}
    return append_snapshot(mp, [{"path": rel, "partition": part}], stage_ref="audit-1")[
        "metadata_path"
    ]


def _age_a_tag(mp: str, root: str) -> str:
    """Add a tag whose max-ref-age has passed, so expiry drops the ref
    while every snapshot stays."""
    import json

    raw = json.load(open(mp))
    raw["refs"] = {"old-tag": {"snapshot-id": 2002, "type": "tag", "max-ref-age-ms": 1}}
    open(mp, "w").write(json.dumps(raw))
    return mp


def _writers():
    from iceberg_tools_spark.iceberg import audits, commit, evolution, sortorder
    from iceberg_tools_spark.iceberg.rewrite_data import rewrite_data_files
    from iceberg_tools_spark.iceberg.rewrite_deletes import rewrite_position_deletes

    part = {"category": "w", "id_trunc": 400}
    return {
        "append_snapshot": (None, lambda spark, mp, root: append_snapshot(
            mp, [{"path": _write_ids(root, "V1", [420]), "partition": part}])),
        "expire_snapshots": (None, lambda spark, mp, root: commit.expire_snapshots(
            mp, keep_last=1)),
        "expire_snapshots_refs_only": (_age_a_tag, lambda spark, mp, root: commit.expire_snapshots(
            mp, keep_last=10, now_ms=1_800_000_000_000)),
        "set_ref": (None, lambda spark, mp, root: commit.set_ref(mp, "t1", snapshot_id=2002)),
        "rollback_to": (None, lambda spark, mp, root: commit.rollback_to(mp, 2002)),
        "publish_snapshot": (_stage_append, lambda spark, mp, root: commit.publish_snapshot(
            mp, "audit-1")),
        "abort_staged": (_stage_append, lambda spark, mp, root: audits.abort_staged(
            mp, "audit-1")),
        "update_table_properties": (None, lambda spark, mp, root: commit.update_table_properties(
            mp, set_props={"owner": "tests"})),
        "rewrite_data_files": (None, lambda spark, mp, root: rewrite_data_files(spark, mp)),
        "rewrite_position_deletes": (None, lambda spark, mp, root: rewrite_position_deletes(
            spark, mp)),
        "commit_sort_order": (None, lambda spark, mp, root: sortorder.commit_sort_order(
            mp, [("id", "asc")])),
        "evolve_schema": (None, lambda spark, mp, root: evolution.evolve_schema(
            mp, add=[("note", "string")])),
        "evolve_partition_spec": (None, lambda spark, mp, root: evolution.evolve_partition_spec(
            mp, add=[("id_bucket", "bucket[4]", "id")])),
    }


@pytest.mark.parametrize("writer", sorted(_writers()))
def test_every_table_version_writer_keeps_the_history(spark, tmp_path, writer):
    """Each writer's new version logs its base in metadata-log, keeps
    ``last-updated-ms`` from going backwards, honours
    ``write.metadata.previous-versions-max`` and moves an existing
    version hint."""
    import json

    from iceberg_tools_spark.iceberg.catalog import write_version_hint

    root = str(_scratch_mor(tmp_path))
    mp = os.path.join(root, "v2.metadata.json")
    raw = json.load(open(mp))
    raw["properties"]["write.metadata.previous-versions-max"] = "2"
    raw["metadata-log"] = [
        {"timestamp-ms": 1_700_000_000_000 + i, "metadata-file": f"file:///tmp/mor_table/v0-{i}.metadata.json"}
        for i in range(2)
    ]
    open(mp, "w").write(json.dumps(raw))
    write_version_hint(mp)

    setup, run = _writers()[writer]
    if setup is not None:
        mp = setup(mp, root)
    base = json.load(open(mp))
    new_path = run(spark, mp, root)["metadata_path"]
    new = json.load(open(new_path))

    assert new["metadata-log"][-1]["metadata-file"] == (
        f"file:///tmp/mor_table/{os.path.basename(mp)}"
    )
    assert len(new["metadata-log"]) == 2  # capped at previous-versions-max
    assert new["last-updated-ms"] >= base["last-updated-ms"]
    assert open(os.path.join(root, "version-hint.text")).read() == (
        os.path.basename(new_path).split(".")[0].lstrip("v")
    )


def test_create_table_api(spark, tmp_path):
    """create_table → append → evolve spec → read: the public
    CREATE TABLE entry point composes with the whole write path."""
    import glob
    import json
    import os

    import pyspark.sql.functions as F

    from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table
    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.evolution import evolve_partition_spec

    root = str(tmp_path / "ct")
    mp = create_table(
        root, [("id", "long"), ("cat", "string")],
        partition_by=[("cat", "identity", "cat")],
        properties={"owner": "tests"},
    )
    raw = json.load(open(mp))
    assert raw["partition-specs"][0]["fields"][0]["field-id"] == 1000
    assert raw["last-partition-id"] == 1000
    assert raw["properties"]["owner"] == "tests"

    spark.range(10).select(F.col("id"), F.lit("x").alias("cat")).coalesce(
        1
    ).write.parquet(root + "/stage")
    part = glob.glob(root + "/stage/part-*.parquet")[0]
    os.replace(part, root + "/data/f.parquet")
    res = append_snapshot(mp, [{"path": "data/f.parquet", "partition": {"cat": "x"}}])
    assert read_mor(spark, res["metadata_path"], res["snapshot_id"]).count() == 10
    # spec evolution continues partition field ids from the created spec
    evo = evolve_partition_spec(
        res["metadata_path"], add=[("id_bucket", "bucket[4]", "id")]
    )
    raw2 = json.load(open(evo["metadata_path"]))
    assert raw2["last-partition-id"] == 1001

    import pytest

    with pytest.raises(ValueError, match="not in schema"):
        create_table(str(tmp_path / "bad"),
                     [("id", "long")], partition_by=[("x", "identity", "nope")])


def _schema_ids(node) -> list[int]:
    """Every field id at every depth of a field list or type."""
    if isinstance(node, list):
        return [i for n in node for i in _schema_ids(n)]
    if not isinstance(node, dict):
        return []
    own = [node[k] for k in ("id", "element-id", "key-id", "value-id") if k in node]
    return own + [i for k in ("type", "fields", "element", "key", "value")
                  for i in _schema_ids(node.get(k))]


def test_create_table_counts_nested_ids(tmp_path):
    """``last-column-id`` covers struct fields, list elements and map
    keys/values, so a column added later gets a fresh id."""
    import json

    from iceberg_tools_spark.iceberg.commit import create_table
    from iceberg_tools_spark.iceberg.evolution import evolve_schema

    fields = [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "s", "required": False, "type": {
            "type": "struct", "fields": [
                {"id": 5, "name": "a", "required": False, "type": "int"},
                {"id": 6, "name": "b", "required": False, "type": "string"},
            ]}},
        {"id": 3, "name": "tags", "required": False, "type": {
            "type": "list", "element-id": 7, "element": "string",
            "element-required": False}},
        {"id": 4, "name": "attrs", "required": False, "type": {
            "type": "map", "key-id": 8, "key": "string", "value-id": 9,
            "value": {"type": "struct", "fields": [
                {"id": 10, "name": "v", "required": False, "type": "long"},
            ]}, "value-required": False}},
    ]
    mp = create_table(str(tmp_path / "t"), fields)
    assert json.load(open(mp))["last-column-id"] == 10
    res = evolve_schema(mp, add=[("c", "long"), ("d", "string")])
    raw = json.load(open(res["metadata_path"]))
    ids = _schema_ids(raw["schemas"][-1]["fields"])
    assert len(ids) == len(set(ids)) == 12
    assert raw["last-column-id"] == max(ids) == 12


def test_update_table_properties_roundtrip(spark, tmp_path):
    """SET/UNSET TBLPROPERTIES: properties-only metadata commits —
    no snapshot added, metadata-log extended, catalog resolution
    follows the new version."""
    import json
    import os

    from iceberg_tools_spark.iceberg.catalog import current_metadata_path
    from iceberg_tools_spark.iceberg.commit import (
        create_table,
        update_table_properties,
    )

    wh = str(tmp_path / "wh")
    root = os.path.join(wh, "db", "t")
    os.makedirs(root)
    mp = create_table(root, [("id", "long")], properties={"a": "1"})
    r1 = update_table_properties(mp, set_props={"b": "2"})
    assert r1["properties"] == {"a": "1", "b": "2"}
    r2 = update_table_properties(r1["metadata_path"], unset=["a"])
    assert r2["properties"] == {"b": "2"}
    raw = json.load(open(r2["metadata_path"]))
    assert raw["snapshots"] == []  # properties commits add no snapshot
    assert len(raw["metadata-log"]) == 2
    assert current_metadata_path(wh, "db.t") == r2["metadata_path"]

    import pytest

    with pytest.raises(ValueError, match="no changes"):
        update_table_properties(r2["metadata_path"])


# ---- exclusive install: lost updates and crash points -------------


def _write_ids(root: str, name: str, ids: list[int]) -> str:
    rel = f"data/category=w/id_trunc=400/{name}.parquet"
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "category": pa.array(["w"] * len(ids), pa.string()),
        }),
        path,
    )
    return rel


def test_second_writer_on_same_base_raises_not_overwrites(table):
    """Two appends staged against the same v2 both name v3. The first
    installs it; the second raises CommitConflictError instead of
    replacing v3 (which silently dropped snapshot 9001), and its retry
    through the rebase path keeps both snapshots."""
    from iceberg_tools_spark.iceberg.concurrency import (
        CommitConflictError,
        commit_append_concurrent,
    )
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    base = os.path.join(table, "v2.metadata.json")
    part = {"category": "w", "id_trunc": 400}
    first = append_snapshot(
        base, [{"path": _write_ids(table, "A1", [401]), "partition": part}],
        snapshot_id=9001,
    )
    v3 = first["metadata_path"]
    v3_bytes = open(v3, "rb").read()
    second = [{"path": _write_ids(table, "B1", [402]), "partition": part}]
    with pytest.raises(CommitConflictError, match="v3.metadata.json"):
        append_snapshot(base, second, snapshot_id=9002)
    assert open(v3, "rb").read() == v3_bytes  # the winner is intact

    res = commit_append_concurrent(base, v3, second, snapshot_id=9002)
    assert res["retried"] and res["metadata_path"].endswith("v4.metadata.json")
    ids = [s["snapshot-id"] for s in parse_metadata(res["metadata_path"]).snapshots]
    assert ids[-2:] == [9001, 9002]


_CRASH_POINTS = ("after_manifest", "after_manifest_list", "before_link", "before_hint")


class _Crash(Exception):
    pass


def _raise_crash(*_a, **_kw):
    raise _Crash


def _files(root: str) -> set[str]:
    return {os.path.join(dp, f) for dp, _, fns in os.walk(root) for f in fns}


def _arm_crash(mp, point: str) -> None:
    from iceberg_tools_spark.iceberg import catalog, commit

    if point == "after_manifest":
        # the manifest's partition summaries are built right after
        # its file is written, before the manifest list
        mp.setattr(commit, "partition_summaries", _raise_crash)
    elif point == "after_manifest_list":
        mp.setattr(commit, "install_metadata", _raise_crash)
    elif point == "before_link":
        mp.setattr(os, "link", _raise_crash)
    else:
        mp.setattr(catalog, "write_version_hint", _raise_crash)


@given(point=st.sampled_from(_CRASH_POINTS), prior=st.integers(0, 2))
@example(point="after_manifest", prior=1)
@example(point="after_manifest_list", prior=0)
@example(point="before_link", prior=2)
@example(point="before_hint", prior=1)
@settings(max_examples=8, deadline=None)
def test_crash_at_any_commit_step_leaves_a_complete_version(spark, point, prior):
    """A commit (manifest → manifest list → temp metadata → link →
    version hint) that dies at any step leaves the catalog resolving
    a complete, parseable version — the old one, or the new one when
    only the hint was lost — and every leftover of the dead commit
    shows up in the orphan-file anti-join."""
    import tempfile

    from iceberg_tools_spark.iceberg import catalog
    from iceberg_tools_spark.iceberg.commit import create_table
    from iceberg_tools_spark.iceberg.maintenance import (
        find_orphan_files,
        referenced_paths,
        referenced_paths_df,
    )
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    with tempfile.TemporaryDirectory() as wh:
        root = os.path.join(wh, "db", "t")

        def commit_next(k: int) -> None:
            rel = f"data/f{k}.parquet"
            pq.write_table(pa.table({"id": pa.array([k], pa.int64())}), os.path.join(root, rel))
            head = catalog.current_metadata_path(wh, "db.t")
            res = append_snapshot(head, [{"path": rel, "partition": {}}])
            catalog.write_version_hint(res["metadata_path"])

        create_table(root, [("id", "long")])
        for k in range(prior):
            commit_next(k)
        before = _files(root)

        with pytest.MonkeyPatch.context() as mp:
            _arm_crash(mp, point)
            with pytest.raises(_Crash):
                commit_next(prior)

        cur = catalog.current_metadata_path(wh, "db.t")
        meta = parse_metadata(cur)  # parseable
        survived = point == "before_hint"
        assert len(meta.snapshots) == prior + survived
        assert all(os.path.exists(p) for p in referenced_paths(cur, root))  # complete

        after = _files(root)
        listing = spark.createDataFrame(
            [(p,) for p in sorted(after) if not p.endswith("version-hint.text")],
            "file_path string",
        )
        orphans = {
            r.file_path
            for r in find_orphan_files(listing, referenced_paths_df(spark, cur, root)).collect()
        }
        assert orphans == (set() if survived else after - before)
        names = sorted(os.path.basename(p) for p in orphans)
        sid = prior + 1
        expected = {
            "after_manifest": [f"f{prior}.parquet", f"manifest-{sid}.avro"],
            "after_manifest_list": [f"f{prior}.parquet", f"manifest-{sid}.avro", f"snap-{sid}.avro"],
            "before_link": [f"f{prior}.parquet", f"manifest-{sid}.avro", f"snap-{sid}.avro"],
            "before_hint": [],
        }[point]
        if point == "before_link":
            assert names[0].startswith(f".v{prior + 2}.metadata.json.")
            names = names[1:]
        assert names == expected


def test_scratch_dirs_removed_at_exit_whoever_makes_the_first(tmp_path):
    """A scratch directory made before the first scratch table copy is
    removed at process exit too, and so is the later table copy."""
    import subprocess
    import sys

    fixture = tmp_path / "fixture"
    fixture.mkdir()
    (fixture / "f.txt").write_text("x")
    code = (
        "from iceberg_tools_spark.iceberg import commit\n"
        "print(commit._scratch_dir('first_'))\n"
        f"print(commit._scratch_table('second_', {str(fixture)!r}))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    made = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    ).stdout.split()
    assert len(made) == 2
    assert not any(os.path.exists(p) for p in made)
