"""One Delta change reader: ``delta_cdf_versions`` splits
``read_delta_cdf`` by version from one read of the log, the consumers
that fold a change feed version by version iterate it, and the
incremental stream turns its adds into rows with the same
``_action_rows`` (so it honours deletion vectors)."""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_tools_spark.iceberg import rewrite_data
from iceberg_tools_spark.sources import delta_log as dl
from iceberg_tools_spark.sources.delta_log import (
    append_delta_commit,
    commit_delta_dv,
    delta_cdf_stream,
    delta_cdf_versions,
    delta_incremental_stream,
    read_delta_cdf,
    write_delta_dv_file,
)
from iceberg_tools_spark.sources.migrate import delta_grouped_ivm, replicate_delta_cdf
from iceberg_tools_spark.streaming.jobs import run_to_memory

from .test_delta_protocol import _nested_mapped_meta, _write_nested_physical
from .test_delta_schema_evolution import _evolving_source
from .test_delta_type_widening import _widened_table


def _meta(fields, part_cols=(), config=None):
    return {"metaData": {
        "id": "cv", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in fields
        ]}),
        "partitionColumns": list(part_cols),
        "configuration": dict(config or {}), "createdTime": 0,
    }}


def _write(root, name, cols):
    pq.write_table(pa.table(cols), os.path.join(root, name))


def _add(path, pv=None, **extra):
    return {"add": {"path": path, "partitionValues": dict(pv or {}), "size": 1,
                    "modificationTime": 0, "dataChange": True, **extra}}


def _ids(ids):
    return {"id": pa.array(ids, pa.int64())}


# ------------------------------------------------ the log shapes


def _dv_cdc_and_metadata_only(root):
    """v0 two files; v1 DV delete without a cdc file; v2 metaData
    only; v3 a dataChange-false re-add; v4 DV delete WITH a cdc
    file; v5 an append."""
    os.makedirs(os.path.join(root, "_delta_log"))
    _write(root, "f0.parquet", _ids(list(range(10))))
    _write(root, "f1.parquet", _ids(list(range(10, 15))))
    fields = [("id", "long")]
    append_delta_commit(root, [
        _meta(fields, config={"delta.enableChangeDataFeed": "true"}),
        _add("f0.parquet"), _add("f1.parquet"),
    ], checkpoint_interval=None)
    commit_delta_dv(root, {"f0.parquet": [1, 3]}, checkpoint_interval=None)
    append_delta_commit(root, [_meta(fields, config={
        "delta.enableChangeDataFeed": "true", "owner": "x"})], checkpoint_interval=None)
    append_delta_commit(root, [_add("f1.parquet", dataChange=False)],
                        checkpoint_interval=None)
    commit_delta_dv(root, {"f0.parquet": [5], "f1.parquet": [0]},
                    checkpoint_interval=None, write_cdf=True)
    _write(root, "f2.parquet", _ids([20, 21, 22]))
    append_delta_commit(root, [_add("f2.parquet")], checkpoint_interval=None)


def _add_column(root):
    """ADD COLUMN at v1, then a cdc-writing DV delete of a file
    written before it."""
    _evolving_source(root)
    commit_delta_dv(root, {"a.parquet": [0]}, checkpoint_interval=None,
                    write_cdf=True)


def _nested_mapping(root):
    """Nested column mapping with partition values keyed by physical
    names: v0 an add carrying a DV, v1 an add, v2 a remove carrying
    the DV its file died with."""
    os.makedirs(os.path.join(root, "_delta_log"))
    _write_nested_physical(root, "a.parquet", [1, 2, 3, 4])
    _write_nested_physical(root, "b.parquet", [5, 6])
    desc = write_delta_dv_file(root, {"a.parquet": [1, 2]})["a.parquet"]
    append_delta_commit(root, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors", "columnMapping"]}},
        _nested_mapped_meta(),
        _add("a.parquet", {"col-bbb": "x"}, deletionVector=desc),
    ], checkpoint_interval=None)
    append_delta_commit(root, [_add("b.parquet", {"col-bbb": "y"})],
                        checkpoint_interval=None)
    append_delta_commit(root, [{"remove": {
        "path": "a.parquet", "deletionTimestamp": 0, "dataChange": True,
        "partitionValues": {"col-bbb": "x"}, "deletionVector": desc}}],
        checkpoint_interval=None)


def _non_hive_partitions(root):
    """Partition values only in the log (flat paths): one file
    carries the partition column physically, the others do not; a
    DV on an add and a remove that omits its partitionValues."""
    os.makedirs(os.path.join(root, "_delta_log"))
    _write(root, "a.parquet", {**_ids([0, 1, 2, 3]), "cat": pa.array(["x"] * 4)})
    _write(root, "b.parquet", _ids([10, 11]))
    _write(root, "c.parquet", _ids([20]))
    desc = write_delta_dv_file(root, {"a.parquet": [1, 3]})["a.parquet"]
    append_delta_commit(root, [
        _meta([("id", "long"), ("cat", "string")], part_cols=["cat"]),
        _add("a.parquet", {"cat": "x"}, deletionVector=desc),
        _add("b.parquet", {"cat": "y"}),
    ], checkpoint_interval=None)
    append_delta_commit(root, [_add("c.parquet", {"cat": "z"})],
                        checkpoint_interval=None)
    append_delta_commit(root, [{"remove": {
        "path": "b.parquet", "deletionTimestamp": 0, "dataChange": True}}],
        checkpoint_interval=None)


_SHAPES = {
    "dv_cdc_and_metadata_only": (_dv_cdc_and_metadata_only, [(0, 5), (2, 5), (1, 4)]),
    "add_column": (_add_column, [(0, 2), (1, 2)]),
    "nested_mapping": (_nested_mapping, [(0, 2), (1, 2)]),
    "type_widening": (_widened_table, [(0, 2), (1, 2)]),
    "non_hive_partitions": (_non_hive_partitions, [(0, 2)]),
}


def _scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Scan parquet")


def _rows(df) -> Counter:
    return Counter(repr(r) for r in df.collect())


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_versions_equal_the_range_read(spark, tmp_path, shape):
    """Each version's frame is the range read filtered to it: the same
    schema (the end version's) and the same row multiset, one scan per
    version, and exactly the versions the range read carries."""
    build, ranges = _SHAPES[shape]
    root = str(tmp_path / "t")
    build(root)
    for f, t in ranges:
        whole = read_delta_cdf(spark, root, f, t)
        per = list(delta_cdf_versions(spark, root, f, t))
        have = sorted({r[0] for r in whole.select("_commit_version").distinct().collect()})
        assert [v for v, _frame in per] == have, (f, t)
        for v, frame in per:
            assert frame.schema == whole.schema, (f, t, v)
            assert _rows(frame) == _rows(whole.where(F.col("_commit_version") == v)), (f, t, v)
            assert _scans(frame) <= 2, (f, t, v)


def test_metadata_only_versions_yield_no_frame(spark, tmp_path):
    root = str(tmp_path / "t")
    _dv_cdc_and_metadata_only(root)
    assert [v for v, _f in delta_cdf_versions(spark, root, 0, 5)] == [0, 1, 4, 5]
    assert list(delta_cdf_versions(spark, root, 2, 3)) == []


def test_every_protocol_action_in_the_range_is_gated(spark, tmp_path):
    """A version whose protocol demands an unknown reader feature is
    refused even when a later version lifts the demand: the per-version
    reads this replaces gated each version's own protocol."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write(root, "a.parquet", _ids([1]))
    append_delta_commit(root, [_meta([("id", "long")]), _add("a.parquet")],
                        checkpoint_interval=None)
    append_delta_commit(root, [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["unknownFutureFeature"],
        "writerFeatures": ["unknownFutureFeature"]}}], checkpoint_interval=None)
    append_delta_commit(root, [{"protocol": {
        "minReaderVersion": 1, "minWriterVersion": 2}}], checkpoint_interval=None)
    assert dl.log_state(root).protocol == {"minReaderVersion": 1, "minWriterVersion": 2}
    with pytest.raises(ValueError, match="unknownFutureFeature"):
        delta_cdf_versions(spark, root, 0, 2)
    with pytest.raises(ValueError, match="unknownFutureFeature"):
        read_delta_cdf(spark, root, 0)
    assert [v for v, _f in delta_cdf_versions(spark, root, 2, 2)] == []


def _twelve_versions(root):
    """A checkpoint-free 12-version log: appends, DV deletes with and
    without cdc files, and a metadata-only version."""
    os.makedirs(os.path.join(root, "_delta_log"))
    fields = [("id", "long"), ("cat", "string")]
    _write(root, "f0.parquet", {**_ids(list(range(8))), "cat": pa.array(["a", "b"] * 4)})
    append_delta_commit(root, [_meta(fields), _add("f0.parquet")], checkpoint_interval=None)
    for v in range(1, 12):
        if v in (3, 7):
            commit_delta_dv(root, {"f0.parquet": [v]}, checkpoint_interval=None,
                            write_cdf=v == 7)
        elif v == 9:
            append_delta_commit(root, [_meta(fields, config={"k": "v"})],
                                checkpoint_interval=None)
        else:
            _write(root, f"f{v}.parquet",
                   {**_ids([100 * v, 100 * v + 1]), "cat": pa.array(["a", "b"])})
            append_delta_commit(root, [_add(f"f{v}.parquet")], checkpoint_interval=None)
    assert dl.latest_checkpoint(root) is None
    assert [v for v, _p in dl.list_commits(root)] == list(range(12))


def test_per_version_consumers_read_the_log_linearly(spark, tmp_path, monkeypatch):
    """On a V-version log without checkpoints each per-version consumer
    opens at most 2·V+1 commit files: one state read at the end version
    and one commit-range pass (the per-version reads opened 89-102)."""
    root = str(tmp_path / "t")
    _twelve_versions(root)
    opened = []
    real_open = open

    def counting_open(path, *a, **k):
        if "_delta_log" in str(path) and str(path).endswith(".json"):
            opened.append(path)
        return real_open(path, *a, **k)

    monkeypatch.setattr(dl, "open", counting_open, raising=False)
    runs = {
        "replicate_delta_cdf": lambda: replicate_delta_cdf(
            spark, root, str(tmp_path / "replica")),
        "delta_cdf_stream": lambda: delta_cdf_stream(
            spark, root, 0, 11, str(tmp_path / "stage")),
        "delta_grouped_ivm": lambda: delta_grouped_ivm(
            spark, root, ["cat"], ["id"]).collect(),
    }
    for name, run in runs.items():
        opened.clear()
        run()
        assert 0 < len(opened) <= 2 * 12 + 1, (name, len(opened))


def test_incremental_stream_honours_deletion_vectors(spark, tmp_path):
    """A RESTORE-shaped re-add of a file with its deletion vector
    streams only the rows the DV keeps, as the change feed reports."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    _write(root, "a.parquet", _ids(list(range(10))))
    append_delta_commit(root, [_meta([("id", "long")]), _add("a.parquet")],
                        checkpoint_interval=None)
    commit_delta_dv(root, {"a.parquet": [1, 3]}, checkpoint_interval=None)
    dv_add = dl.log_state(root, 1).adds["a.parquet"]
    assert dv_add.get("deletionVector")
    append_delta_commit(root, [{"remove": {
        "path": "a.parquet", "deletionTimestamp": 0, "dataChange": True}}],
        checkpoint_interval=None)
    append_delta_commit(root, [{"add": dv_add}], checkpoint_interval=None)

    want = [0, 2, 4, 5, 6, 7, 8, 9]
    cdf = read_delta_cdf(spark, root, 3, 3).collect()
    assert sorted(r.id for r in cdf) == want
    assert {r._change_type for r in cdf} == {"insert"}
    stream, n = delta_incremental_stream(spark, root, 2, 3, str(tmp_path / "stage"))
    assert n == 1
    got = sorted((r.id, r._delta_version)
                 for r in run_to_memory(stream, "dv_inc_stream").collect())
    assert got == [(i, 3) for i in want]


def test_incremental_batch_is_one_scan(spark, tmp_path, monkeypatch):
    """However many adds a version has, its staged batch is one
    parquet scan (partition values and DVs ride broadcast joins)."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_delta_log"))
    append_delta_commit(root, [_meta([("id", "long")], part_cols=["cat"])],
                        checkpoint_interval=None)
    adds = []
    for i in range(4):
        _write(root, f"p{i}.parquet", _ids([i, 10 + i]))
        adds.append(_add(f"p{i}.parquet", {"cat": f"c{i % 2}"}))
    append_delta_commit(root, adds, checkpoint_interval=None)
    batches = []
    real = rewrite_data._write_single_parquet

    def capture(df, out_path):
        batches.append(df)
        real(df, out_path)

    monkeypatch.setattr(rewrite_data, "_write_single_parquet", capture)
    stream, n = delta_incremental_stream(spark, root, 0, 1, str(tmp_path / "stage"))
    assert n == 1 and len(batches) == 1
    assert _scans(batches[0]) == 1
    got = sorted((r.id, r.cat, r._delta_version)
                 for r in run_to_memory(stream, "inc_one_scan").collect())
    assert got == sorted((j, f"c{i % 2}", 1) for i in range(4) for j in (i, 10 + i))
