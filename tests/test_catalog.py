"""Hadoop-style filesystem catalog: hint resolution, listing
fallback, by-name MoR reads."""

from __future__ import annotations

import os
import shutil

import pytest

from iceberg_tools_spark.iceberg.catalog import (
    current_metadata_path,
    list_tables,
    load_table,
    table_location,
    write_version_hint,
)
from iceberg_tools_spark.iceberg.deletes import MOR_DIR


def _mk_warehouse(tmp_path, identifier="db.events"):
    root = tmp_path / "wh" / os.path.join(*identifier.split("."))
    shutil.copytree(MOR_DIR, root)
    mdir = root / "metadata"
    mdir.mkdir(exist_ok=True)  # the MoR fixture ships a metadata/ dir
    for n in os.listdir(root):
        if n.endswith(".metadata.json"):
            shutil.move(str(root / n), str(mdir / n))
    return str(tmp_path / "wh")


def test_resolution_prefers_valid_hint(tmp_path):
    wh = _mk_warehouse(tmp_path)
    mdir = os.path.join(table_location(wh, "db.events"), "metadata")
    # fixture ships only v2 → listing resolves v2
    assert current_metadata_path(wh, "db.events").endswith("v2.metadata.json")
    # add a v3 and hint at v2: the hint is a starting point — a
    # commit past the hint (v3 next to v2) must resolve, like
    # HadoopTableOperations probing upward from the hinted version
    shutil.copy(os.path.join(mdir, "v2.metadata.json"), os.path.join(mdir, "v3.metadata.json"))
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("2")
    assert current_metadata_path(wh, "db.events").endswith("v3.metadata.json")
    # stale hint (version gone) → highest-listing fallback
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("9")
    assert current_metadata_path(wh, "db.events").endswith("v3.metadata.json")
    # corrupt hint → fallback, not a crash
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("not-a-number")
    assert current_metadata_path(wh, "db.events").endswith("v3.metadata.json")


def test_write_version_hint_roundtrip(tmp_path):
    wh = _mk_warehouse(tmp_path)
    mdir = os.path.join(table_location(wh, "db.events"), "metadata")
    hint = write_version_hint(os.path.join(mdir, "v2.metadata.json"))
    with open(hint) as f:
        assert f.read() == "2"
    assert current_metadata_path(wh, "db.events").endswith("v2.metadata.json")
    with pytest.raises(ValueError):
        write_version_hint(os.path.join(mdir, "nope.json"))


def test_list_tables_nested_namespaces(tmp_path):
    wh = _mk_warehouse(tmp_path, "db.events")
    _mk_warehouse(tmp_path, "db.raw.docs")
    _mk_warehouse(tmp_path, "analytics.sessions")
    assert list_tables(wh) == ["analytics.sessions", "db.events", "db.raw.docs"]
    assert list_tables(wh, "db") == ["db.events", "db.raw.docs"]
    assert list_tables(wh, "nope") == []


def test_missing_table_raises(tmp_path):
    wh = _mk_warehouse(tmp_path)
    with pytest.raises(FileNotFoundError):
        current_metadata_path(wh, "db.ghost")


def test_load_table_by_name(spark, tmp_path):
    wh = _mk_warehouse(tmp_path)
    df = load_table(spark, wh, "db.events")
    assert df.count() == 323  # the fixture's head-2004 MoR row count
    # time travel through the same by-name surface (A+B+C+D, before
    # the 2003 delete commit: 300 rows)
    assert load_table(spark, wh, "db.events", snapshot_id=2002).count() == 300


def test_cli_tools(tmp_path, capsys):
    import json as _json

    from iceberg_tools_spark.__main__ import main
    from iceberg_tools_spark.sources.delta_log import DELTA_FIXTURE

    wh = _mk_warehouse(tmp_path)
    assert main(["catalog-list", wh]) == 0
    assert capsys.readouterr().out.strip() == "db.events"
    assert main(["catalog-resolve", wh, "db.events"]) == 0
    assert capsys.readouterr().out.strip().endswith("v2.metadata.json")
    assert main(["catalog-resolve", wh, "db.ghost"]) == 1
    capsys.readouterr()

    assert main(["delta2json", DELTA_FIXTURE]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    head = _json.loads(lines[0])
    assert head == {
        "version": 3, "partitionColumns": ["cat"], "n_live_files": 3,
        "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
        "columnMapping": "none",
    }
    assert len(lines) == 4
    assert main(["delta2json", "--version=0", DELTA_FIXTURE]) == 0
    head0 = _json.loads(capsys.readouterr().out.splitlines()[0])
    assert head0["n_live_files"] == 2
    assert main(["delta2json", "--version=bad", DELTA_FIXTURE]) == 1
    capsys.readouterr()
    assert main(["nope"]) == 1


def test_gzip_metadata_parse_and_resolution(tmp_path):
    """Spec-legal gzip table metadata (.metadata.json.gz) parses and
    resolves through the catalog."""
    import gzip
    import json

    from iceberg_tools_spark.iceberg.catalog import current_metadata_path
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    src = json.load(open("tests/fixtures/multi_snapshot/v2.metadata.json"))
    mdir = tmp_path / "db" / "t" / "metadata"
    mdir.mkdir(parents=True)
    gz = mdir / "v2.metadata.json.gz"
    with gzip.open(gz, "wt", encoding="utf-8") as f:
        json.dump(src, f)
    meta = parse_metadata(str(gz))
    assert meta.table_uuid == src["table-uuid"]
    assert [s["snapshot-id"] for s in meta.snapshots] == [
        s["snapshot-id"] for s in src["snapshots"]
    ]
    # bytes form with gzip magic
    assert parse_metadata(gz.read_bytes()).table_uuid == src["table-uuid"]
    # catalog resolution sees the gz version
    assert current_metadata_path(str(tmp_path), "db.t") == str(gz)


def test_as_of_timestamp_travel(spark):
    """AS OF TIMESTAMP resolves through the snapshot log; staged
    (branch-only) snapshots are invisible to it."""
    import pytest

    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import MS_METADATA, snapshot_as_of

    meta = parse_metadata(MS_METADATA)
    log = sorted(meta.raw["snapshot-log"], key=lambda e: e["timestamp-ms"])
    first, last = log[0], log[-1]
    assert snapshot_as_of(meta, first["timestamp-ms"]) == first["snapshot-id"]
    # between the first two commits → still the first snapshot
    assert snapshot_as_of(meta, log[1]["timestamp-ms"] - 1) == first["snapshot-id"]
    assert snapshot_as_of(meta, last["timestamp-ms"] + 10_000) == last["snapshot-id"]
    with pytest.raises(ValueError, match="no snapshot"):
        snapshot_as_of(meta, first["timestamp-ms"] - 1)


def test_create_table_visible_to_catalog(spark, tmp_path):
    """ADVICE r8: a table made by the public CREATE TABLE entry
    point under a warehouse must be discoverable by name — metadata
    under metadata/ with version-hint stamped, and every subsequent
    commit resolvable (stale hint falls back to the listing)."""
    import glob
    import os

    import pyspark.sql.functions as F

    from iceberg_tools_spark.iceberg.catalog import (
        current_metadata_path,
        list_tables,
        load_table,
    )
    from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table

    wh = str(tmp_path / "wh")
    root = os.path.join(wh, "db", "t1")
    os.makedirs(root)
    mp = create_table(root, [("id", "long"), ("cat", "string")],
                      partition_by=[("cat", "identity", "cat")])
    assert mp.endswith(os.path.join("metadata", "v1.metadata.json"))
    assert os.path.exists(os.path.join(root, "metadata", "version-hint.text"))
    assert list_tables(wh) == ["db.t1"]
    assert current_metadata_path(wh, "db.t1") == mp

    spark.range(7).select(F.col("id"), F.lit("x").alias("cat")).coalesce(
        1
    ).write.parquet(root + "/stage")
    (part,) = glob.glob(root + "/stage/part-*.parquet")
    os.replace(part, root + "/data/f.parquet")
    res = append_snapshot(mp, [{"path": "data/f.parquet",
                                "partition": {"cat": "x"}}])
    # the commit wrote v2 next to v1; hint is stale → listing wins
    assert current_metadata_path(wh, "db.t1") == res["metadata_path"]
    assert load_table(spark, wh, "db.t1").count() == 7


def _import_parquet(spark, tmp_path, target):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.sources.parquet_import import import_parquet_table

    lake = tmp_path / "lake"
    for p, ids in (("a", range(0, 4)), ("b", range(4, 7))):
        (lake / f"p={p}").mkdir(parents=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       lake / f"p={p}" / "f.parquet")
    res = import_parquet_table(spark, str(lake), target)
    assert res["n_rows"] == 7
    return res


def _migrate_delta(spark, tmp_path, target):
    from iceberg_tools_spark.sources.delta_log import DELTA_FIXTURE
    from iceberg_tools_spark.sources.migrate import migrate_delta_to_iceberg

    return migrate_delta_to_iceberg(spark, DELTA_FIXTURE, target)


@pytest.mark.parametrize("birth", [_import_parquet, _migrate_delta],
                         ids=["parquet_import", "delta_migrate"])
def test_imported_and_migrated_tables_resolve_by_name(spark, tmp_path, birth):
    """A table born by an import or a migration under a warehouse is
    found by name, and reads the rows the function committed."""
    from iceberg_tools_spark.iceberg.deletes import read_mor

    wh = str(tmp_path / "wh")
    res = birth(spark, tmp_path, os.path.join(wh, "db", "born"))
    assert list_tables(wh) == ["db.born"]
    assert current_metadata_path(wh, "db.born") == res["metadata_path"]
    by_name = load_table(spark, wh, "db.born")
    committed = read_mor(spark, res["metadata_path"], res["snapshot_id"])
    assert by_name.count() > 0
    assert sorted(by_name.collect()) == sorted(committed.collect())


def test_install_metadata_racing_writers_one_wins(tmp_path):
    """More writers than cores race to install the same version: one
    links it, every other gets CommitConflictError, the file holds
    exactly the winner's bytes and no temp file is left behind."""
    import json
    import sys
    import threading

    from iceberg_tools_spark.iceberg.catalog import (
        CommitConflictError,
        install_metadata,
    )

    target = str(tmp_path / "v2.metadata.json")
    n = 4 * (os.cpu_count() or 1)
    barrier = threading.Barrier(n)
    won, lost = [], []

    def writer(i: int) -> None:
        barrier.wait(timeout=30)
        try:
            install_metadata(target, {"writer": i, "pad": "x" * 4096})
            won.append(i)
        except CommitConflictError:
            lost.append(i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(won) == 1 and len(lost) == n - 1
    assert json.load(open(target))["writer"] == won[0]
    assert os.listdir(tmp_path) == ["v2.metadata.json"]
