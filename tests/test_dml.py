"""Row-level DML tests (iceberg/dml.py): DELETE WHERE round-trips
through the MoR reader and changelog, chained deletes, partition
scoping of staged files, and the no-match guard."""

from __future__ import annotations

import os

import pytest

from iceberg_tools_spark.iceberg.changelog import changelog_between
from iceberg_tools_spark.iceberg.commit import _scratch_table
from iceberg_tools_spark.iceberg.deletes import MOR_DIR, mor_entries_at, read_mor
from iceberg_tools_spark.iceberg.dml import delete_where
from iceberg_tools_spark.iceberg.metadata import parse_metadata


@pytest.fixture()
def table():
    return _scratch_table("dml_t_", MOR_DIR)


def test_delete_where_round_trip(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    res = delete_where(spark, mp, "category = 'z' AND id >= 290")
    ids = sorted(r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect())
    # 323 live at 2004 minus z-ids 290..300 (11 rows)
    assert len(ids) == 312
    assert all(not (290 <= i <= 300) for i in ids)
    # pre-existing deletes still apply (pd1: 1-10/151-155, ed1: 260/270)
    assert 260 not in ids and 1 not in ids and 151 not in ids


def test_delete_where_changelog_is_exactly_the_victims(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    res = delete_where(spark, mp, "id IN (20, 160, 320)")
    ch = changelog_between(spark, res["metadata_path"], 2004, res["snapshot_id"]).collect()
    assert {(r.change_type, r.id, r.category) for r in ch} == {
        ("DELETE", 20, "x"), ("DELETE", 160, "x"), ("DELETE", 320, "w"),
    }


def test_delete_where_stages_per_partition(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    res = delete_where(spark, mp, "id IN (20, 160, 320)")
    # victims span x (A, C) and w (F): staged delete files are
    # partition-scoped, and the committed entries carry matching
    # partitions
    assert res["n_partitions"] == 2
    meta = parse_metadata(res["metadata_path"])
    _, dels = mor_entries_at(meta, res["snapshot_id"], table)
    new = [e for e in dels if "_staged-" in e["rel"]]
    # victims span specs: x rows (A, C — spec 0) and the w row
    # (F — spec 1, whose partition carries id_trunc); the commit
    # wrote one delete manifest per spec with matching partitions
    assert {tuple(sorted(e["partition"].items())) for e in new} == {
        (("category", "x"),),
        (("category", "w"), ("id_trunc", 300)),
    }
    assert {e["spec_id"] for e in new} == {0, 1}
    for e in new:
        assert e["content"] == 1  # POSITION_DELETES


def test_delete_where_already_dead_rows_dont_match(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    # ids 1-10 are dead via pd1: the victim scan runs over LIVE rows
    with pytest.raises(ValueError, match="matched no live rows"):
        delete_where(spark, mp, "id = 5")


def test_delete_where_chained(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    r1 = delete_where(spark, mp, "id = 50")
    r2 = delete_where(spark, r1["metadata_path"], "id = 60")
    ids = {r.id for r in read_mor(spark, r2["metadata_path"], r2["snapshot_id"]).collect()}
    assert 50 not in ids and 60 not in ids
    assert len(ids) == 321


def test_update_where_round_trip(spark, table):
    from iceberg_tools_spark.iceberg.dml import update_where

    mp = os.path.join(table, "v2.metadata.json")
    res = update_where(spark, mp, "id IN (115, 125)", {"id": "id + 1000"})
    ids = sorted(r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect())
    assert len(ids) == 323  # row count preserved
    assert 115 not in ids and 125 not in ids
    assert 1115 in ids and 1125 in ids
    # both manifests (delete + data) landed in ONE snapshot
    meta = parse_metadata(res["metadata_path"])
    assert meta.current_snapshot_id == res["snapshot_id"]
    data, dels = mor_entries_at(meta, res["snapshot_id"], table)
    assert any("_upd-" in e["rel"] for e in data)
    assert any("_upd-del-" in e["rel"] for e in dels)


def test_update_where_changelog_delta(spark, table):
    from iceberg_tools_spark.iceberg.dml import update_where

    mp = os.path.join(table, "v2.metadata.json")
    res = update_where(spark, mp, "id = 230", {"id": "id * 10"})
    ch = changelog_between(spark, res["metadata_path"], 2004, res["snapshot_id"]).collect()
    assert {(r.change_type, r.id) for r in ch} == {("DELETE", 230), ("INSERT", 2300)}


def test_update_where_partition_source_guard(spark, table):
    from iceberg_tools_spark.iceberg.dml import update_where

    mp = os.path.join(table, "v2.metadata.json")
    # category is a partition source of spec 0 (identity) — updating
    # it would file rows under a stale partition
    with pytest.raises(ValueError, match="partition sources"):
        update_where(spark, mp, "id = 115", {"category": "'zz'"})
    # id IS a partition source of spec 1 (truncate) — victims in F
    # trip the guard, victims only in spec-0 files do not
    with pytest.raises(ValueError, match="partition sources"):
        update_where(spark, mp, "id = 320", {"id": "id + 1"})
    res = update_where(spark, mp, "id = 115", {"id": "id + 1000"})
    assert res["snapshot_id"] > 2004


def test_update_where_rejects_unknown_column(spark, table):
    from iceberg_tools_spark.iceberg.dml import update_where

    mp = os.path.join(table, "v2.metadata.json")
    with pytest.raises(ValueError, match="not in table schema"):
        update_where(spark, mp, "id = 115", {"nope": "1"})


def _merge(spark, mp, rows, **kw):
    from iceberg_tools_spark.iceberg.dml import merge_into

    source = spark.createDataFrame(rows, "id bigint, category string")
    return merge_into(spark, mp, source, "t.id = s.id", **kw)


def test_merge_upsert_round_trip(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    res = _merge(
        spark, mp, [(118, "y"), (990, "x")],
        when_matched=("update", {"id": "t.id + 1000"}),
        when_not_matched_insert=True,
    )
    ids = {r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect()}
    assert 118 not in ids and 1118 in ids and 990 in ids
    assert len(ids) == 324  # 323 + 1 inserted


def test_merge_matched_delete(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    res = _merge(spark, mp, [(118, "ignored")], when_matched=("delete",))
    ids = {r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect()}
    assert 118 not in ids and len(ids) == 322


def test_merge_insert_only_is_append(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    res = _merge(spark, mp, [(991, "x"), (992, "z")], when_not_matched_insert=True)
    meta = parse_metadata(res["metadata_path"])
    snap = next(s for s in meta.raw["snapshots"] if s["snapshot-id"] == res["snapshot_id"])
    assert snap["summary"]["operation"] == "append"
    ids = {r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect()}
    assert {991, 992} <= ids
    # inserts landed under their identity partitions
    _, _ = mor_entries_at(meta, res["snapshot_id"], table)
    data, _ = mor_entries_at(meta, res["snapshot_id"], table)
    new = [e for e in data if "_merge-ins-" in e["rel"]]
    # inserts land under the DEFAULT spec (1: identity(category) +
    # truncate[100](id)) with derived partition values
    assert {(e["partition"]["category"], e["partition"]["id_trunc"]) for e in new} == {
        ("x", 900), ("z", 900),
    }
    assert all(e["spec_id"] == 1 for e in new)


def test_merge_cardinality_violation_raises(spark, table):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    mp = os.path.join(table, "v2.metadata.json")
    with pytest.raises(Exception, match="cardinality"):
        _merge(
            spark, mp, [(118, "a"), (118, "b")],
            when_matched=("delete",),
        )


def test_merge_no_clause_and_no_effect(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    with pytest.raises(ValueError, match="no-op"):
        _merge(spark, mp, [(1, "x")])
    with pytest.raises(ValueError, match="empty commit"):
        _merge(spark, mp, [(99999, "x")], when_matched=("delete",))


def test_staged_delete_bounds_skip_untargeted_files(spark, tmp_path):
    # delete_where over rows living ONLY in A stamps referenced-path
    # bounds on the staged delete file; planning then refuses to
    # attach it to C even though C shares A's partition and passes
    # the sequence gate — the 100 TB fan-out reducer
    import shutil

    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, plan_scan_tasks
    from iceberg_tools_spark.iceberg.dml import delete_where
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    res = delete_where(spark, str(root / "v2.metadata.json"), "id BETWEEN 20 AND 30")
    meta = parse_metadata(res["metadata_path"])
    rows = plan_scan_tasks(meta, res["snapshot_id"], str(root))
    new_delete = [r for r in rows if r[2] and f"-{2004}" in str(r[2])] or [
        r for r in rows if r[2] and "_staged-2004" in r[2]
    ]
    attached_to = {r[0].rsplit("/", 1)[-1] for r in new_delete}
    assert "A.parquet" in attached_to
    assert "C.parquet" not in attached_to  # bounds prove it targets A only
    # the old bound-less fixture deletes stay conservatively attached
    pd1_rows = {r[0].rsplit("/", 1)[-1] for r in rows if r[2] and "pd1" in r[2]}
    assert {"A.parquet", "C.parquet"} <= pd1_rows


def test_delete_where_accepts_keys_dataframe(spark, table):
    """DataFrame-predicate form (VERDICT r6 #1): victims resolve via
    an executor-side null-safe semi-join on the keys frame — result
    identical to the equivalent SQL predicate."""
    mp = os.path.join(table, "v2.metadata.json")
    keys = spark.createDataFrame([(i,) for i in range(290, 301)], "id bigint")
    res = delete_where(spark, mp, keys)
    ids = sorted(
        r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect()
    )
    assert len(ids) == 312
    assert all(not (290 <= i <= 300) for i in ids)


def test_delete_where_keys_rejects_unknown_column(spark, table):
    mp = os.path.join(table, "v2.metadata.json")
    keys = spark.createDataFrame([(1,)], "nope bigint")
    with pytest.raises(ValueError, match="not in table"):
        delete_where(spark, mp, keys)


def test_merge_insert_null_partition_source(spark, table):
    """A source row whose partition-source value is null must stage
    and commit under an explicit null partition value (ADVICE r6:
    default to_json dropped null struct fields, so the staged pjson
    missed the field and _build_entries rejected the entry)."""
    from iceberg_tools_spark.iceberg.metadata import parse_metadata as _pm

    mp = os.path.join(table, "v2.metadata.json")
    res = _merge(spark, mp, [(995, None)], when_not_matched_insert=True)
    rows = read_mor(spark, res["metadata_path"], res["snapshot_id"])
    assert rows.filter("id = 995 AND category IS NULL").count() == 1
    meta = _pm(res["metadata_path"])
    data, _ = mor_entries_at(meta, res["snapshot_id"], table)
    (new,) = [e for e in data if "_merge-ins-" in e["rel"]]
    # derived partition: category null, truncate[100](995) = 900
    assert new["partition"] == {"category": None, "id_trunc": 900}


def test_delete_where_default_base_dir_on_created_table(spark, tmp_path):
    """A ``create_table`` table keeps its metadata under
    ``metadata/``; DELETE WHERE without ``base_dir`` resolves the table
    root from the metadata path and stages its delete files under the
    root's ``data/``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table

    root = str(tmp_path / "t")
    mp = create_table(root, [("id", "long")])
    pq.write_table(pa.table({"id": pa.array(range(10), pa.int64())}), f"{root}/data/f.parquet")
    mp = append_snapshot(mp, [{"path": "data/f.parquet", "partition": {}}])["metadata_path"]
    res = delete_where(spark, mp, "id < 3")
    staged = res["staged_files"]
    assert staged and all(p.startswith("data/deletes/") for p in staged)
    assert all(os.path.exists(os.path.join(root, p)) for p in staged)
    got = sorted(r.id for r in read_mor(spark, res["metadata_path"], res["snapshot_id"]).collect())
    assert got == list(range(3, 10))
