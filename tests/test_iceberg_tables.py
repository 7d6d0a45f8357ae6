"""Metadata tables, maintenance planners, and stats pruning over the
reference fixture + synthetic metadata."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from iceberg_tools_spark.iceberg import manifest_io, tables
from iceberg_tools_spark.iceberg.maintenance import (
    compact_parquet,
    find_orphan_files,
    plan_compaction,
    plan_expire_snapshots,
)
from iceberg_tools_spark.iceberg.metadata import parse_metadata
from iceberg_tools_spark.iceberg.pruning import prune_files, pruning_stats


def test_meta_files_from_fixture(spark):
    import json

    df = tables.meta_files(spark, "unused")
    rows = df.collect()
    assert len(rows) == 2
    assert all(r.file_format == "PARQUET" for r in rows)
    lb0 = json.loads(rows[0].lower_bounds_json)
    assert lb0["1"] == "value:1;type:long"
    assert lb0["2"] == "value:a;type:string"
    assert json.loads(rows[1].upper_bounds_json)["1"] == "value:2;type:long"


def _fixture_files_df(spark):
    meta = parse_metadata(tables.FIXTURE_METADATA)
    return tables.files_df(spark, [tables.FIXTURE_MANIFEST], meta.raw)


def test_meta_partitions_rollup(spark):
    rows = tables.meta_partitions(spark, "unused").collect()
    # fixture has two single-file partitions (data=a, data=b)
    assert len(rows) == 2
    assert all(r.file_count == 1 and r.record_count == 1 for r in rows)


# ------------------------------------------------- $partitions fold

# U+FF21 sorts before U+1F600 by code point and after it in UTF-16
_CATS = ["a", "b", None, "\u00e9", "\uff21", "\U0001f600"]


def _spark_partitions(live):
    """The Spark rollup ``partitions_df`` replaced, kept as its oracle."""
    from pyspark.sql import functions as F

    return (
        live.groupBy("partition_json")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_in_bytes").alias("total_size_in_bytes"),
            F.min("file_size_in_bytes").alias("min_file_size"),
            F.max("file_size_in_bytes").alias("max_file_size"),
        )
        .orderBy("partition_json")
    )


@st.composite
def _partition_tables(draw):
    """Appends of (category, bucket, records, bytes) files, under an
    unpartitioned, an identity or an evolved spec (a bucket field added
    after the first append); ``dv`` writes a deletion vector for the
    first file and replaces it, leaving a DELETED entry."""
    data_file = st.tuples(
        st.sampled_from(_CATS), st.integers(0, 3), st.integers(0, 9), st.integers(1, 999)
    )
    return {
        "spec": draw(st.sampled_from(["unpartitioned", "identity", "evolved"])),
        "appends": draw(st.lists(st.lists(data_file, min_size=1, max_size=4), max_size=3)),
        "dv": draw(st.booleans()),
    }


def _write_partition_table(root: str, table: dict) -> tuple[str, list[str]]:
    """The table's metadata path and its head's manifest paths, data
    and delete (none when nothing was appended)."""
    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        commit_delete_snapshot,
        create_table,
    )
    from iceberg_tools_spark.iceberg.evolution import evolve_partition_spec
    from iceberg_tools_spark.iceberg.snapshots import manifest_files_at

    spec = table["spec"]
    mp = create_table(
        root, [("id", "long"), ("cat", "string")],
        partition_by=[] if spec == "unpartitioned" else [("cat", "identity", "cat")],
    )

    def part(cat, bucket, evolved):
        if spec == "unpartitioned":
            return {}
        return {"cat": cat, "id_bucket": bucket} if evolved else {"cat": cat}

    for i, files in enumerate(table["appends"]):
        mp = append_snapshot(mp, [
            {"path": f"data/a{i}-{j}.parquet",
             "partition": part(cat, bucket, spec == "evolved" and i > 0),
             "record_count": records, "file_size_in_bytes": size}
            for j, (cat, bucket, records, size) in enumerate(files)
        ])["metadata_path"]
        if spec == "evolved" and i == 0:
            mp = evolve_partition_spec(mp, add=[("id_bucket", "bucket[4]", "id")])["metadata_path"]
    if table["dv"] and table["appends"]:
        cat, bucket = table["appends"][0][0][:2]
        ref = f"{parse_metadata(mp).raw['location']}/data/a0-0.parquet"
        for n, replace in ((1, None), (2, {ref})):
            dv = {
                "path": f"data/dv{n}.puffin", "spec_id": 0, "content": 1,
                "partition": part(cat, bucket, False),
                "file_format": "PUFFIN", "referenced_data_file": ref,
                "content_offset": 4, "content_size_in_bytes": 20,
                "record_count": 1, "file_size_in_bytes": 30 + n,
            }
            mp = commit_delete_snapshot(mp, [dv], replace_dv_refs=replace)["metadata_path"]
    meta = parse_metadata(mp)
    if meta.current_snapshot_id is None:
        return mp, []
    return mp, [m["local_path"] for m in manifest_files_at(meta, meta.current_snapshot_id, root)]


_MIXED_PARTITIONS = {
    "spec": "evolved",
    "appends": [
        [("\U0001f600", 0, 3, 10), ("\uff21", 0, 1, 20), (None, 0, 0, 5), ("a", 0, 2, 7)],
        [("\uff21", 1, 4, 9), (None, 3, 1, 1), ("\u00e9", 2, 5, 50)],
    ],
    "dv": True,
}


@pytest.mark.parametrize("threshold", [1, 10**9], ids=["executor", "driver"])
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(table=_partition_tables())
@example(table=_MIXED_PARTITIONS)
@example(table={"spec": "unpartitioned", "appends": [[("a", 0, 1, 1)] * 2], "dv": True})
@example(table={"spec": "identity", "appends": [], "dv": False})
def test_partitions_df_equals_the_spark_rollup(spark, monkeypatch, threshold, table):
    """The fold collects exactly the rows, order and schema (nullability
    included) of the Spark groupBy/agg/orderBy over ``files_df``, on the
    executor and on the driver placement."""
    import shutil
    import tempfile

    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
    root = tempfile.mkdtemp(prefix="partitions-")
    try:
        mp, paths = _write_partition_table(root, table)
        raw = parse_metadata(mp).raw
        got = tables.partitions_df(spark, paths, raw)
        want = _spark_partitions(tables.files_df(spark, paths, raw))
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    finally:
        shutil.rmtree(root)


@pytest.mark.parametrize("threshold", [1, 10**9], ids=["executor", "driver"])
def test_meta_partitions_equals_the_spark_rollup(spark, monkeypatch, tmp_path, threshold):
    """``meta_partitions`` is the same fold over the fixture manifest:
    pointed at each manifest of a generated table, it collects what the
    Spark rollup of ``meta_manifest_entries`` collects."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
    mp, paths = _write_partition_table(str(tmp_path / "t"), _MIXED_PARTITIONS)
    monkeypatch.setattr(tables, "FIXTURE_METADATA", mp)
    for path in paths:
        monkeypatch.setattr(tables, "FIXTURE_MANIFEST", path)
        got = tables.meta_partitions(spark, "unused")
        entries = tables.meta_manifest_entries(spark, "unused")
        want = _spark_partitions(entries.filter(F.col("status") != 2))
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_meta_snapshots_and_history(spark):
    snaps = tables.meta_snapshots(spark, "unused").collect()
    assert len(snaps) >= 1
    assert all(r.snapshot_id is not None for r in snaps)
    hist = tables.meta_history(spark, "unused").collect()
    assert len(hist) >= 1
    assert any(r.is_current_ancestor for r in hist)


# ------------------------------------------------------- maintenance


def test_plan_compaction_invariants(spark):
    files = spark.createDataFrame(
        [("p1", f"f{i}", s) for i, s in enumerate([10, 20, 30, 40, 50, 60])]
        + [("p2", "big", 500)],
        "partition_json string, file_path string, file_size_in_bytes long",
    )
    plan = plan_compaction(files, target_size_bytes=100).collect()
    # every file appears exactly once
    all_files = [f for r in plan for f in r.files]
    assert sorted(all_files) == sorted(["f0", "f1", "f2", "f3", "f4", "f5", "big"])
    # group size exceeds target only for oversized single files
    for r in plan:
        assert r.group_bytes <= 100 + 60 or r.n_files == 1


def test_plan_expire_snapshots():
    meta = parse_metadata(
        {
            "format-version": 2,
            "current-schema-id": 0,
            "schemas": [{"schema-id": 0, "fields": []}],
            "current-snapshot-id": 3,
            "snapshots": [
                {"snapshot-id": 1, "timestamp-ms": 1000},
                {"snapshot-id": 2, "timestamp-ms": 2000},
                {"snapshot-id": 3, "timestamp-ms": 3000},
            ],
        }
    )
    plan = plan_expire_snapshots(meta, keep_last=1)
    actions = {p["snapshot_id"]: p["action"] for p in plan}
    assert actions == {1: "expire", 2: "expire", 3: "keep"}


def test_find_orphans(spark):
    listing = spark.createDataFrame([("a",), ("b",), ("c",)], "file_path string")
    files = spark.createDataFrame([("a",), ("c",)], "file_path string")
    orphans = {r.file_path for r in find_orphan_files(listing, files).collect()}
    assert orphans == {"b"}


def test_compact_parquet_executor(spark, tmp_path):
    src = spark.range(0, 10000).withColumnRenamed("id", "v")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    src.repartition(16).write.parquet(in_dir)  # 16 small files
    n = compact_parquet(spark, in_dir, out_dir, target_file_bytes=10**9)
    assert n == 1
    assert spark.read.parquet(out_dir).count() == 10000


# ----------------------------------------------------------- pruning


def test_prune_files_on_fixture_bounds(spark):
    entries = _fixture_files_df(spark)
    # fixture: file A has id∈[1,1], file B id∈[2,2]
    kept = prune_files(entries, field_id=1, lo=2, hi=None).collect()
    assert len(kept) == 1 and kept[0].upper_bounds[1] == "value:2;type:long"
    stats = pruning_stats(entries, field_id=1, lo=3)
    assert stats == {"total_files": 2, "kept_files": 0, "skipped_files": 2}
    # string column (field 2): value ranges a..a / b..b
    kept2 = prune_files(entries, field_id=2, lo="b", hi=None, cast_to="string").collect()
    assert len(kept2) == 1


# ------------------------------------------------ orphan deletion


def test_orphan_delete_protects_all_snapshots(spark, tmp_path):
    # after rewrite_data_files, the replaced A.parquet is still
    # referenced by snapshots 2001-2004 -> protected; only true
    # strays are removed, and a dry run removes nothing
    import os
    import shutil

    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.maintenance import delete_orphan_files
    from iceberg_tools_spark.iceberg.rewrite_data import rewrite_data_files

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    mp = str(root / "v2.metadata.json")
    res = rewrite_data_files(spark, mp, target_rels=["data/category=x/A.parquet"])
    stray = root / "data" / "leftover.parquet"
    stray.write_bytes(b"junk")
    dry = delete_orphan_files(spark, res["metadata_path"], dry_run=True)
    assert dry["removed"] == 0 and stray.exists()
    assert [os.path.basename(p) for p in dry["orphans"]] == ["leftover.parquet"]
    out = delete_orphan_files(spark, res["metadata_path"])
    assert out["removed"] == 1 and not stray.exists()
    # A.parquet survives: old snapshots still reference it
    assert (root / "data" / "category=x" / "A.parquet").exists()


def test_orphan_delete_after_expiry_frees_old_files(spark, tmp_path):
    # compose with expiry: once every snapshot referencing only-old
    # files is expired, those files become deletable orphans
    import shutil

    from iceberg_tools_spark.iceberg.commit import expire_snapshots
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, read_mor
    from iceberg_tools_spark.iceberg.maintenance import delete_orphan_files
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.rewrite_data import rewrite_data_files

    root = tmp_path / "t"
    shutil.copytree(MOR_DIR, root)
    mp = str(root / "v2.metadata.json")
    res = rewrite_data_files(spark, mp)  # folds all pos-deletes
    res2 = expire_snapshots(res["metadata_path"], keep_last=1)
    out = delete_orphan_files(spark, res2["metadata_path"])
    # the replaced originals (A, C) are now unreferenced
    names = {p.rsplit("/", 1)[-1] for p in out["orphans"]}
    assert {"A.parquet", "C.parquet"} <= names
    meta = parse_metadata(res2["metadata_path"])
    live = read_mor(
        spark, res2["metadata_path"], meta.current_snapshot_id, base_dir=str(root)
    )
    assert live.count() == 323  # table unharmed
