"""The one Delta log reader: every ``_delta_log`` consumer filters the
``log_actions`` stream or the reconciled ``log_state``, so a log with
a gap fails every consumer with the same error, and a checkpoint
write reads the log once."""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import iceberg_tools_spark.sources.delta_log as dl
from iceberg_tools_spark.sources.migrate import (
    delta_grouped_ivm,
    replicate_delta_cdf,
    replicate_delta_versions,
)

NOW = 1_700_000_000_000
_SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
]})


def _add(name: str, cat: str = "x", **extra) -> dict:
    return {"add": {"path": f"cat={cat}/{name}", "partitionValues": {"cat": cat},
                    "size": 1, "modificationTime": 0, "dataChange": True, **extra}}


def _write(root: str, name: str, ids: list[int], cat: str = "x") -> None:
    path = os.path.join(root, f"cat={cat}", name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)


def _table(root: str, n_versions: int, **commit_kw) -> None:
    """v0: protocol + metaData + f0; v1..: one add each."""
    os.makedirs(os.path.join(root, "_delta_log"))
    for v in range(n_versions):
        _write(root, f"f{v}.parquet", [v])
        acts = [_add(f"f{v}.parquet")]
        if v == 0:
            acts[:0] = [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                              "schemaString": _SCHEMA, "partitionColumns": ["cat"],
                              "configuration": {}, "createdTime": 0}},
            ]
        dl.append_delta_commit(root, acts, **commit_kw)


def _cleaned_log(root: str) -> None:
    """A checkpoint at v3 with commits v0 and v1 cleaned from the log:
    v3 and later read through the checkpoint, v0..v2 cannot be read."""
    _table(root, 5, checkpoint_interval=None)
    dl.write_delta_checkpoint(root, 3, now_ms=NOW)
    for v in (0, 1):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))


# reader → (the read, the earliest readable version its error names):
# a state read needs the checkpoint at v3, a commit-range read only
# the commits, and v2's survives
_GAP_READS = {
    "replay_log": (lambda spark, root, tmp: dl.replay_log(root, 1), 3),
    "replay_tombstones": (lambda spark, root, tmp: dl.replay_tombstones(root, 2), 3),
    "check_reader_support": (
        lambda spark, root, tmp: dl.check_reader_support(root, 1), 3),
    "delta_adds_between": (
        lambda spark, root, tmp: dl.delta_adds_between(root, 0, 3), 2),
    "delta_incremental_stream": (
        lambda spark, root, tmp: dl.delta_incremental_stream(
            spark, root, 0, 3, os.path.join(tmp, "stage")), 2),
    "read_delta_cdf": (lambda spark, root, tmp: dl.read_delta_cdf(spark, root, 0, 3), 2),
    "delta_cdf_versions": (
        lambda spark, root, tmp: dl.delta_cdf_versions(spark, root, 0, 3), 2),
    "delta_cdf_stream": (
        lambda spark, root, tmp: dl.delta_cdf_stream(
            spark, root, 0, 3, os.path.join(tmp, "stage")), 2),
    # the IVM seeds with a state read at version 0
    "delta_grouped_ivm": (
        lambda spark, root, tmp: delta_grouped_ivm(spark, root, ["cat"], ["id"]), 3),
    "replicate_delta_versions": (
        lambda spark, root, tmp: replicate_delta_versions(
            spark, root, os.path.join(tmp, "full")), 2),
    "replicate_delta_cdf": (
        lambda spark, root, tmp: replicate_delta_cdf(
            spark, root, os.path.join(tmp, "cdf")), 2),
}


@pytest.mark.parametrize("reader", sorted(_GAP_READS))
def test_every_reader_raises_the_one_gap_error(spark, tmp_path, reader):
    root = str(tmp_path / "t")
    _cleaned_log(root)
    read, earliest = _GAP_READS[reader]
    with pytest.raises(
        ValueError,
        match=r"commit\(s\) \[[\d, ]+\] are missing from the log \(cleaned or "
        rf"never written\); earliest readable version is {earliest}$",
    ):
        read(spark, root, str(tmp_path))


def test_reads_resume_where_the_gap_error_says(spark, tmp_path):
    root = str(tmp_path / "t")
    _cleaned_log(root)

    def earliest(read) -> int:
        with pytest.raises(ValueError) as exc:
            read()
        return int(re.search(r"earliest readable version is (\d+)$",
                             str(exc.value)).group(1))

    n = earliest(lambda: dl.read_delta_cdf(spark, root, 0, 4))
    assert {r.id for r in dl.read_delta_cdf(spark, root, n, 4).collect()} == {2, 3, 4}
    n = earliest(lambda: dl.delta_adds_between(root, 0, 4))
    assert list(dl.delta_adds_between(root, n - 1, 4)) == [2, 3, 4]
    n = earliest(lambda: dl.log_state(root, 1))
    assert sorted(dl.log_state(root, n).adds) == [f"cat=x/f{v}.parquet" for v in range(4)]


def test_reads_at_and_after_the_checkpoint_still_work(spark, tmp_path):
    root = str(tmp_path / "t")
    _cleaned_log(root)
    assert dl.log_state(root, 3).checkpoint == 3
    assert sorted(dl.log_state(root).adds) == [f"cat=x/f{v}.parquet" for v in range(5)]
    assert {r.id for r in dl.read_delta_cdf(spark, root, 3).collect()} == {3, 4}
    assert list(dl.delta_adds_between(root, 2, 4)) == [3, 4]


def test_state_read_starts_from_the_newest_checkpoint_at_or_below(tmp_path):
    """Time travel below the newest checkpoint starts from an older
    complete one, so a cleaned log stays readable from there."""
    root = str(tmp_path / "t")
    _table(root, 6, checkpoint_interval=2)  # checkpoints at v2 and v4
    for v in (0, 1, 2):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    st = dl.log_state(root, 3)
    assert (st.version, st.checkpoint) == (3, 2)
    assert sorted(st.adds) == [f"cat=x/f{v}.parquet" for v in range(4)]
    assert st.protocol == {"minReaderVersion": 1, "minWriterVersion": 2}
    with pytest.raises(ValueError, match="earliest readable version is 2$"):
        dl.log_state(root, 1)
    # a commit-range read resumes where the commit itself survives
    with pytest.raises(ValueError, match="earliest readable version is 3$"):
        dl.delta_adds_between(root, 0, 5)


def test_a_mid_log_hole_fails_loudly(tmp_path):
    root = str(tmp_path / "t")
    _table(root, 4, checkpoint_interval=None)
    os.remove(os.path.join(root, "_delta_log", f"{2:020d}.json"))
    with pytest.raises(ValueError, match="no checkpoint covers the gap"):
        dl.commit_timestamps(root)


def test_log_cleanup_removes_a_prefix_only(tmp_path):
    """A commit inside the retention window keeps every later commit,
    even one stamped older, so cleanup never leaves a hole."""
    root = str(tmp_path / "t")
    _table(root, 4, checkpoint_interval=None)
    day = 24 * 3600 * 1000
    for v, age in enumerate((40, 10, 40, 40)):
        path = os.path.join(root, "_delta_log", f"{v:020d}.json")
        lines = [json.loads(ln) for ln in open(path)]
        lines.insert(0, {"commitInfo": {"timestamp": NOW - age * day}})
        with open(path, "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in lines))
    dl.write_delta_checkpoint(root, 3, now_ms=NOW)
    res = dl.cleanup_delta_log(root, now_ms=NOW)
    assert [os.path.basename(p) for p in res["removed_commits"]] == [f"{0:020d}.json"]
    assert [v for v, _ts in dl.commit_timestamps(root)] == [1, 2, 3]


def _stamp(root: str, ages_days: tuple[int, ...]) -> None:
    """Lead each commit with a commitInfo stamped ``age`` days before NOW."""
    for v, age in enumerate(ages_days):
        path = os.path.join(root, "_delta_log", f"{v:020d}.json")
        lines = [json.loads(ln) for ln in open(path)]
        lines.insert(0, {"commitInfo": {"timestamp": NOW - age * 24 * 3600 * 1000}})
        with open(path, "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in lines))


def test_a_log_holed_before_its_checkpoint_stays_usable(spark, tmp_path):
    """Commits cleaned one by one (an older cleanup removed every
    expired pre-checkpoint commit, leaving a younger one stranded
    between holes) only cost the history: timestamps, timestamp time
    travel, VACUUM and cleanup serve the versions the checkpoint
    covers, and cleanup removes the stranded commit once it expires."""
    root = str(tmp_path / "t")
    _table(root, 5, checkpoint_interval=None)
    _stamp(root, (40, 10, 40, 3, 2))
    dl.write_delta_checkpoint(root, 3, now_ms=NOW)
    for v in (0, 2):
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))

    day = 24 * 3600 * 1000
    assert [v for v, _ts in dl.commit_timestamps(root)] == [1, 3, 4]
    assert dl.version_at_timestamp(root, NOW - 3 * day) == 3
    rows = dl.read_delta_log(spark, root, timestamp_ms=NOW - 3 * day).collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="earliest readable version is 3$"):
        dl.read_delta_log(spark, root, timestamp_ms=NOW - 10 * day)
    assert dl.vacuum_delta(spark, root, now_ms=NOW, dry_run=True)["dry_run"] is True

    assert dl.cleanup_delta_log(root, now_ms=NOW)["removed_commits"] == []
    res = dl.cleanup_delta_log(root, now_ms=NOW + 30 * day)
    assert [os.path.basename(p) for p in res["removed_commits"]] == [f"{1:020d}.json"]
    assert [v for v, _ts in dl.commit_timestamps(root)] == [3, 4]


# ---- a checkpoint write reads the log once ------------------------


@pytest.fixture
def read_counter(monkeypatch):
    """Counts, per path, full checkpoint-part reads, v2 sidecar
    probes and opens of JSON commits made by ``delta_log``."""
    counts: dict[tuple[str, str], int] = {}
    orig_rows = dl._checkpoint_part_rows

    def rows(path, columns=None):
        key = ("probe" if columns == ["sidecar"] else "part", os.path.basename(path))
        counts[key] = counts.get(key, 0) + 1
        return orig_rows(path, columns)

    def counting_open(path, *a, **k):
        if re.search(r"_delta_log/\d{20}\.json$", str(path)):
            key = ("commit", os.path.basename(path))
            counts[key] = counts.get(key, 0) + 1
        return open(path, *a, **k)

    monkeypatch.setattr(dl, "_checkpoint_part_rows", rows)
    monkeypatch.setattr(dl, "open", counting_open, raising=False)
    return counts


def _log_with_checkpoint(root: str, v2: bool) -> None:
    """Six commits with a removed file and a domain, a multi-part or
    two-sidecar v2 checkpoint at v4 (after the v2 feature commit for
    v2), then a tail commit."""
    _table(root, 4, checkpoint_interval=None)
    dl.append_delta_commit(root, [
        {"remove": {"path": "cat=x/f1.parquet", "deletionTimestamp": NOW - 1000,
                    "dataChange": True}},
        {"domainMetadata": {"domain": "app.d", "configuration": "c", "removed": False}},
    ], checkpoint_interval=None)
    if v2:
        dl.enable_v2_checkpoints(root)
        dl.write_delta_checkpoint_v2(root, now_ms=NOW, max_actions_per_sidecar=2)
    else:
        dl.write_delta_checkpoint(root, now_ms=NOW, max_actions_per_part=2)
    _write(root, "g.parquet", [9])
    dl.append_delta_commit(root, [_add("g.parquet")], checkpoint_interval=None)


def _rows(paths: list[str]) -> list[list[dict]]:
    out = []
    for p in paths:
        if p.endswith(".json"):
            rows = [json.loads(ln) for ln in open(p) if ln.strip()]
        else:
            rows = pq.read_table(p).to_pylist()
        for r in rows:
            if r.get("sidecar"):
                r["sidecar"]["modificationTime"] = 0  # the file's mtime
        out.append(rows)
    return out


def _assert_read_once(counts: dict) -> None:
    assert counts, "nothing was read"
    assert all(n == 1 for n in counts.values()), counts


@pytest.mark.parametrize("v2", [False, True], ids=["classic", "v2"])
def test_a_checkpoint_write_reads_the_log_once(tmp_path, read_counter, v2):
    """``write_delta_checkpoint``, ``write_delta_checkpoint_v2`` and
    the ``append_delta_commit`` cadence reconcile the log in one pass:
    each checkpoint part is read in full at most once, a v2 top is
    probed for its sidecars at most once, each JSON commit is opened
    at most once. The checkpoint they write is the same whichever
    of them writes it, and the same as one written from the JSON
    commits alone."""
    write = dl.write_delta_checkpoint_v2 if v2 else dl.write_delta_checkpoint
    base = str(tmp_path / "base")
    _log_with_checkpoint(base, v2)
    first_part = os.path.basename(dl.latest_checkpoint_parts(base)[1][0])
    roots = {k: str(tmp_path / k) for k in ("direct", "cadence", "json_only")}
    for root in roots.values():
        shutil.copytree(base, root)
    # json_only: the same log with every checkpoint artifact removed
    log = os.path.join(roots["json_only"], "_delta_log")
    for name in os.listdir(log):
        if ".checkpoint." in name or name == "_last_checkpoint":
            os.remove(os.path.join(log, name))
    shutil.rmtree(os.path.join(log, "_sidecars"), ignore_errors=True)

    for root in roots.values():
        _write(root, "h.parquet", [7])
    for root in (roots["direct"], roots["json_only"]):
        dl.append_delta_commit(root, [_add("h.parquet")], checkpoint_interval=None)

    read_counter.clear()
    direct = write(roots["direct"], now_ms=NOW)
    _assert_read_once(read_counter)
    assert ("part", first_part) in read_counter

    read_counter.clear()
    head = dl.list_commits(roots["cadence"])[-1][0]
    out = dl.append_delta_commit(
        roots["cadence"], [_add("h.parquet")], checkpoint_interval=head + 1, now_ms=NOW
    )
    assert out["checkpointed"]
    _assert_read_once(read_counter)

    from_json = write(roots["json_only"], now_ms=NOW)
    cadence_cp = dl.latest_checkpoint_parts(roots["cadence"])
    assert cadence_cp[0] == direct["version"] == from_json["version"]
    assert _rows(direct["paths"]) == _rows(cadence_cp[1]) == _rows(from_json["paths"])
    state = dl.log_state(roots["cadence"])
    assert state.checkpoint == direct["version"]
    assert sorted(state.adds) == sorted(dl.log_state(roots["json_only"]).adds)


def _row(**kv) -> dict:
    return {"protocol": None, "metaData": None, "domainMetadata": None,
            "add": None, "remove": None, **kv}


def _file(path: str) -> dict:
    return {"path": path, "partitionValues": [("cat", "x")], "size": 1,
            "modificationTime": 0, "dataChange": True, "deletionVector": None,
            "baseRowId": None, "defaultRowCommitVersion": None}


def test_classic_checkpoint_rows(tmp_path):
    """The rows of a classic checkpoint, in order: protocol, metaData,
    domains, live adds by path, unexpired tombstones by path."""
    root = str(tmp_path / "t")
    _log_with_checkpoint(root, v2=False)
    res = dl.write_delta_checkpoint(root, now_ms=NOW)
    assert res["version"] == 5 and res["size"] == 8
    assert _rows(res["paths"]) == [[
        _row(protocol={"minReaderVersion": 1, "minWriterVersion": 2,
                       "readerFeatures": None, "writerFeatures": None}),
        _row(metaData={"id": "t", "format": {"provider": "parquet", "options": []},
                       "schemaString": _SCHEMA, "partitionColumns": ["cat"],
                       "configuration": [], "createdTime": 0}),
        _row(domainMetadata={"domain": "app.d", "configuration": "c", "removed": False}),
        _row(add=_file("cat=x/f0.parquet")),
        _row(add=_file("cat=x/f2.parquet")),
        _row(add=_file("cat=x/f3.parquet")),
        _row(add=_file("cat=x/g.parquet")),
        _row(remove={"path": "cat=x/f1.parquet", "deletionTimestamp": NOW - 1000,
                     "dataChange": True, "deletionVector": None}),
    ]]
