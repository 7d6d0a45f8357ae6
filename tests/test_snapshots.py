"""Multi-snapshot metadata surface: manifest lists, time travel,
incremental scans, EXISTING/DELETED statuses, rewrite-manifests
round trip (VERDICT r4 "Next round" #3-5)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from iceberg_tools_spark.iceberg import snapshots as S
from iceberg_tools_spark.iceberg.manifest2json import manifest2json
from iceberg_tools_spark.iceberg.metadata import parse_metadata
from iceberg_tools_spark.iceberg.rewrite import (
    plan_manifest_groups,
    rewrite_manifests,
)

SF = "/root/testdata/sf0.01"  # ignored by fixture-bound queries


def test_fixture_regenerates_byte_identical(tmp_path):
    """The generator is deterministic — regenerating into a temp dir
    produces byte-identical Avro and JSON."""
    import importlib.util

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "gen_multi_snapshot_fixture.py",
    )
    spec = importlib.util.spec_from_file_location("genms_regen", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.OUT_DIR = str(tmp_path)
    mod.main()
    for name in os.listdir(S.MS_DIR):
        a = open(os.path.join(S.MS_DIR, name), "rb").read()
        b = open(os.path.join(str(tmp_path), name), "rb").read()
        assert a == b, f"{name} differs from regenerated output"


def test_manifest_list_reader_counts():
    meta = parse_metadata(S.MS_METADATA)
    snap = S.snapshot_by_id(meta, 1003)
    mlist = S.read_manifest_list(S._local(snap["manifest-list"], S.MS_DIR))
    assert len(mlist) == 1
    m = mlist[0]
    assert (m["existing_files_count"], m["deleted_files_count"]) == (3, 1)
    assert (m["existing_rows_count"], m["deleted_rows_count"]) == (250, 50)


def test_ancestor_chain_skips_abandoned_branch():
    meta = parse_metadata(S.MS_METADATA)
    assert S.ancestor_chain(meta, 1003) == [1003, 1002, 1001]
    assert S.ancestor_chain(meta, 1004) == [1004, 1002, 1001]


def test_files_at_each_snapshot(spark):
    expect = {
        1001: {"A", "B"},
        1002: {"A", "B", "C", "D"},
        1003: {"A", "C", "D"},
        1004: {"A", "B", "C", "D", "E"},
    }
    for sid, names in expect.items():
        got = {
            os.path.basename(r.file_path).removesuffix(".parquet")
            for r in S.files_at(spark, S.MS_METADATA, sid, S.MS_DIR).collect()
        }
        assert got == names, f"snapshot {sid}"


def test_incremental_scan_rejects_cross_branch(spark):
    # 1004 is not an ancestor of 1003 — incremental is undefined
    with pytest.raises(ValueError, match="not an ancestor"):
        S.files_added_between(spark, S.MS_METADATA, 1004, 1003, S.MS_DIR)


def test_incremental_scan_is_exactly_the_appends(spark):
    rows = S.files_added_between(spark, S.MS_METADATA, 1001, 1003, S.MS_DIR).collect()
    got = sorted(os.path.basename(r.file_path) for r in rows)
    assert got == ["C.parquet", "D.parquet"]
    assert all(r.snapshot_id == 1002 for r in rows)
    # full-history increment from the root snapshot includes nothing
    # from the rewrite (1003 adds no files)
    rows = S.files_added_between(spark, S.MS_METADATA, 1001, 1002, S.MS_DIR).collect()
    assert sorted(os.path.basename(r.file_path) for r in rows) == ["C.parquet", "D.parquet"]


def test_incremental_scan_empty_range(spark):
    """from == to is a legal empty increment, not an error."""
    df = S.files_added_between(spark, S.MS_METADATA, 1003, 1003, S.MS_DIR)
    assert df.count() == 0
    assert "file_path" in df.columns


def test_history_marks_abandoned_branch_not_ancestor(spark):
    rows = {r.snapshot_id: r.is_current_ancestor
            for r in S.meta_history_multi(spark, SF).collect()}
    assert rows == {1001: True, 1002: True, 1004: False, 1003: True}


def test_status_distribution_covers_existing_and_deleted(spark):
    rows = S.meta_entry_status_dist(spark, SF).collect()
    assert len(rows) > 2  # VERDICT bar: spark_rows > 2
    by_key = {(r.snapshot_id, r.status_name): (r.n_entries, r.n_rows) for r in rows}
    assert by_key[(1003, "EXISTING")] == (3, 250)
    assert by_key[(1003, "DELETED")] == (1, 50)
    assert by_key[(1004, "ADDED")] == (5, 320)


# ------------------------------------------------ scan planning


def test_scan_plan_manifest_level_pruning(spark):
    """category='z' at snapshot 1004: summaries prove m1 (x..y) and
    m4 (y..y) irrelevant; production mode never opens them."""
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    df = plan_scan(
        spark, S.MS_METADATA, 1004,
        partition_pred={"category": "z"}, field_id=1, lo=260, hi=400,
        base_dir=S.MS_DIR,
    )
    rows = df.collect()
    # only m2's entries appear at all (pruned manifests unread)
    assert {r.manifest_name for r in rows} == {"m2.avro"}
    sel = [os.path.basename(r.file_path) for r in rows if r.selected]
    assert sel == ["D.parquet"]


def test_scan_plan_summary_is_conservative(spark):
    """'y' sits inside m2's x..z summary range even though m2 holds
    no y-partition file — the manifest survives level 1 (ranges are
    conservative) and its files fall to the exact match at level 2."""
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    df = plan_scan(
        spark, S.MS_METADATA, 1004,
        partition_pred={"category": "y"}, base_dir=S.MS_DIR, debug=True,
    )
    by_m = {}
    for r in df.collect():
        by_m.setdefault(r.manifest_name, set()).add(
            (os.path.basename(r.file_path), r.manifest_pruned, r.selected)
        )
    assert all(not p for (_, p, _) in by_m["m2.avro"])  # survived level 1
    assert all(not s for (_, _, s) in by_m["m2.avro"])  # but nothing selected
    selected = {f for rows in by_m.values() for (f, _, s) in rows if s}
    assert selected == {"B.parquet", "E.parquet"}


def test_scan_plan_rejects_unknown_partition_field(spark):
    """A typo'd predicate key must raise, not silently over-select."""
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    with pytest.raises(ValueError, match="not partition fields"):
        plan_scan(
            spark, S.MS_METADATA, 1003,
            partition_pred={"catgory": "z"}, base_dir=S.MS_DIR,
        )


def test_ancestor_chain_raises_on_cycle(spark):
    """Corrupt metadata with a parent cycle fails fast instead of
    hanging the driver — in the ancestor walk and in the $history
    table built on it."""
    from iceberg_tools_spark.iceberg.tables import history_df

    meta = parse_metadata(S.MS_METADATA)
    by_id = {s["snapshot-id"]: s for s in meta.snapshots}
    by_id[1001]["parent-snapshot-id"] = 1002  # 1001 <-> 1002 cycle
    try:
        with pytest.raises(ValueError, match="cycle"):
            S.ancestor_chain(meta, 1003)
        with pytest.raises(ValueError, match="cycle"):
            history_df(spark, meta)
    finally:
        by_id[1001].pop("parent-snapshot-id", None)


def test_scan_plan_bounds_only(spark):
    """No partition predicate: manifest level passes everything,
    the id-bound interval alone selects files (live set at 1003)."""
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    df = plan_scan(
        spark, S.MS_METADATA, 1003, field_id=1, lo=1, hi=160, base_dir=S.MS_DIR,
    )
    sel = sorted(os.path.basename(r.file_path) for r in df.collect() if r.selected)
    # A (1-100) and C (151-250) overlap [1,160]; D (251-300) pruned;
    # B is DELETED at 1003 so it never enters the plan
    assert sel == ["A.parquet", "C.parquet"]


# names mix ASCII with characters whose code-point (= UTF-8 byte)
# order differs from Java's UTF-16 order: U+FF21 sorts before an
# astral U+1F600 by code point and after it by UTF-16 unit
_NAME_CHARS = "aZ_é中Ａ\U0001f600"
_PLAN_KW = {
    "all": {},
    "category": {"partition_pred": {"category": "y"}},
    "bounds": {"field_id": 1, "lo": 3, "hi": 6},
    "geo": {"geo_bbox": {2: (2.0, 2.0, 6.0, 6.0)}},
}


@st.composite
def _scan_tables(draw):
    """Manifests as (relative name, entries) in manifest-list order.
    Names may share a basename in two directories; an entry is
    (path stem, category, low id, deleted)."""
    stem = st.text(_NAME_CHARS, min_size=1, max_size=2)
    names = draw(st.lists(
        st.tuples(st.sampled_from(["", "a/"]), stem).map("".join),
        min_size=1, max_size=5, unique=True,
    ))
    entry = st.tuples(stem, st.sampled_from("xyz"), st.integers(0, 9), st.booleans())
    return {
        "manifests": [
            (f"{name}.avro", draw(st.lists(entry, min_size=1, max_size=4)))
            for name in names
        ],
        "plan": draw(st.sampled_from(sorted(_PLAN_KW))),
        "debug": draw(st.booleans()),
    }


def _write_scan_table(root: str, manifests: list) -> tuple[str, int]:
    """A v3 table (id, geometry shape, identity-partitioned category)
    whose one snapshot lists ``manifests`` in the given order. A file
    whose low id is not a multiple of 3 has id bounds [lo, lo + 2]
    and shape box [lo, lo + 1]²; the others have no bounds."""
    from iceberg_tools_spark.iceberg.commit import SnapshotProducer, create_table
    from iceberg_tools_spark.iceberg.conversions import to_bytes, wkb_point

    mp = create_table(
        root, [("id", "long"), ("shape", "geometry"), ("category", "string")],
        partition_by=[("category", "identity", "category")], format_version=3,
    )
    producer = SnapshotProducer(mp, root, snapshot_id=7)
    rows = []
    for name, entries in manifests:
        os.makedirs(os.path.dirname(os.path.join(root, "metadata", name)), exist_ok=True)
        records = []
        for path, category, lo, deleted in entries:
            bounded = lo % 3 != 0
            records.append({
                "status": 2 if deleted else 1,
                "snapshot_id": 7,
                "sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": f"{producer.loc}/data/{path}.parquet",
                    "file_format": "PARQUET",
                    "partition": {"category": category},
                    "record_count": 1,
                    "file_size_in_bytes": 10,
                    "lower_bounds": [
                        {"key": 1, "value": to_bytes("long", lo)},
                        {"key": 2, "value": wkb_point(lo, lo)},
                    ] if bounded else None,
                    "upper_bounds": [
                        {"key": 1, "value": to_bytes("long", lo + 2)},
                        {"key": 2, "value": wkb_point(lo + 1, lo + 1)},
                    ] if bounded else None,
                },
            })
        rows.append(producer.write_manifest(name, records, spec_id=0, content=0))
    res = producer.commit(rows, {"operation": "append"})
    return res["metadata_path"], res["snapshot_id"]


_MIXED_TABLE = {
    # the list is not in name order, paths inside a manifest are not
    # in path order, two manifests are both named "m.avro", and names
    # and paths are non-ASCII
    "manifests": [
        ("\U0001f600.avro", [("\U0001f600", "x", 4, False), ("Ａ", "y", 1, False)]),
        ("a/m.avro", [("z", "y", 4, False), ("c", "x", 2, True), ("é", "y", 5, False)]),
        ("m.avro", [("\U0001f600", "y", 3, False), ("d", "z", 4, False)]),
        ("Ａ.avro", [("a", "x", 7, False)]),
    ],
}


@pytest.mark.parametrize("threshold", [0, 10**9], ids=["executor", "driver"])
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(table=_scan_tables())
@example(table={**_MIXED_TABLE, "plan": "category", "debug": True})
@example(table={**_MIXED_TABLE, "plan": "geo", "debug": False})
def test_plan_scan_rows_come_in_sorted_order(spark, monkeypatch, threshold, table):
    """Without a Spark sort, ``plan_scan`` still collects exactly what
    ``orderBy("manifest_name", "file_path")`` of the same frame
    collects, on the executor and on the driver placement; rows with
    equal keys compare as multisets."""
    import shutil
    import tempfile
    from collections import Counter

    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
    root = tempfile.mkdtemp(prefix="plan-order-")
    try:
        mp, sid = _write_scan_table(root, table["manifests"])
        df = plan_scan(
            spark, mp, sid, base_dir=root, debug=table["debug"],
            **_PLAN_KW[table["plan"]],
        )
        got = df.collect()
        want = df.orderBy("manifest_name", "file_path").collect()
    finally:
        shutil.rmtree(root)
    assert [(r.manifest_name, r.file_path) for r in got] == [
        (r.manifest_name, r.file_path) for r in want
    ]
    assert Counter(got) == Counter(want)


def test_plan_scan_same_basename_manifests_place_as_one_task(spark, monkeypatch, tmp_path):
    """Manifests sharing a basename decode in one task, and placement
    counts only the task's own file: like any lone manifest, the pair
    stays on the driver at a budget of one byte and fans out at zero,
    with the same rows either way."""
    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    from .conftest import spark_job_ids

    mp, sid = _write_scan_table(str(tmp_path), [
        ("m.avro", [("b", "x", 1, False)]),
        ("a/m.avro", [("a", "y", 2, False)]),
    ])

    def collect(threshold):
        monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
        df = plan_scan(spark, mp, sid, base_dir=str(tmp_path))
        with spark_job_ids(spark) as ids:
            rows = df.collect()
        return rows, len(ids)

    driver, driver_jobs = collect(1)
    fanned, fanned_jobs = collect(0)
    assert (driver_jobs, fanned_jobs) == (0, 1)
    assert len(driver) == 2 and driver == fanned


# ------------------------------------------------ rewrite executor


def _m2j(path: str) -> list[dict]:
    import io

    buf = io.StringIO()
    manifest2json(path, S.MS_METADATA, buf)
    return json.loads(buf.getvalue())


def _live_set(records: list[dict]) -> dict[str, tuple]:
    """file_path → (snapshot_id, record_count, bounds) for non-
    DELETED entries of manifest2json output."""
    out = {}
    for r in records:
        if r["status"] == 2:
            continue
        df = r["data_file"]
        out[df["file_path"]] = (
            r["snapshot_id"],
            df["record_count"],
            json.dumps(df.get("lower_bounds"), sort_keys=True),
            json.dumps(df.get("upper_bounds"), sort_keys=True),
        )
    return out


def test_rewrite_round_trip_parity(tmp_path):
    """manifest2json of the rewritten manifest == original live-file
    set, statuses all EXISTING, snapshot ids preserved."""
    meta = parse_metadata(S.MS_METADATA)
    paths = S.manifest_paths_at(meta, 1002, S.MS_DIR)
    groups = plan_manifest_groups(paths, target_bytes=1 << 20)
    assert len(groups) == 1 and sorted(groups[0]) == sorted(paths)
    stats = rewrite_manifests(groups, str(tmp_path))
    assert stats[0]["entries_in"] == 4 and stats[0]["entries_out"] == 4

    orig = []
    for p in paths:
        orig.extend(_m2j(p))
    new = _m2j(stats[0]["out_path"])
    assert _live_set(new) == _live_set(orig)
    assert all(r["status"] == 0 for r in new)  # all EXISTING
    # unions are label-wrapped in manifest2json output (reference
    # IcebergEncoder convention): snapshot_id == {"long": N}
    assert {r["snapshot_id"]["long"] for r in new} == {1001, 1002}


def test_rewrite_drops_tombstones(tmp_path):
    """Rewriting the delete-bearing manifest (m3) drops the DELETED
    entry and keeps the 3 EXISTING ones."""
    meta = parse_metadata(S.MS_METADATA)
    paths = S.manifest_paths_at(meta, 1003, S.MS_DIR)
    stats = rewrite_manifests([paths], str(tmp_path))
    assert stats[0]["tombstones_dropped"] == 1
    new = _m2j(stats[0]["out_path"])
    assert len(new) == 3
    assert {os.path.basename(r["data_file"]["file_path"]) for r in new} == {
        "A.parquet", "C.parquet", "D.parquet"
    }


def test_rewrite_rejects_mixed_schemas(tmp_path):
    from iceberg_tools_spark.iceberg.tables import TYPED_BOUNDS_MANIFEST

    meta = parse_metadata(S.MS_METADATA)
    paths = S.manifest_paths_at(meta, 1001, S.MS_DIR)
    with pytest.raises(ValueError, match="schema differs"):
        rewrite_manifests([[paths[0], TYPED_BOUNDS_MANIFEST]], str(tmp_path))


def test_plan_manifest_groups_matches_spark_planner(spark):
    """The pure-Python first-fit is pinned to plan_compaction: same
    files, same target → identical groups."""
    from iceberg_tools_spark.iceberg.maintenance import plan_compaction

    meta = parse_metadata(S.MS_METADATA)
    paths = sorted(
        {p for sid in (1001, 1002, 1003, 1004) for p in S.manifest_paths_at(meta, sid, S.MS_DIR)}
    )
    target = 2000  # forces multiple groups at the fixture's sizes
    listing = spark.createDataFrame(
        [("", p, os.path.getsize(p)) for p in paths],
        "partition_json string, file_path string, file_size_in_bytes long",
    )
    spark_groups = [
        sorted(r.files)
        for r in plan_compaction(listing, target).orderBy("group_id").collect()
    ]
    local_groups = [sorted(g) for g in plan_manifest_groups(paths, target)]
    assert spark_groups == local_groups


def test_plan_groups_split_respects_target():
    meta = parse_metadata(S.MS_METADATA)
    paths = sorted(
        {p for sid in (1001, 1002, 1003, 1004) for p in S.manifest_paths_at(meta, sid, S.MS_DIR)}
    )
    groups = plan_manifest_groups(paths, target_bytes=2000)
    assert len(groups) > 1
    assert sorted(p for g in groups for p in g) == paths


def test_rewrite_rejects_inherited_snapshot_id(tmp_path):
    """An ADDED entry with a null (manifest-list-inherited)
    snapshot_id must raise: re-statusing it EXISTING with a null id
    would silently lose attribution (ADVICE r5)."""
    import pytest as _pytest

    from iceberg_tools_spark.avro.writer import write_container
    from iceberg_tools_spark.iceberg.rewrite import rewrite_manifest_group
    from scripts.gen_mor_fixture import SPEC0_FIELDS, manifest_schema

    schema = manifest_schema(SPEC0_FIELDS, "s0")
    entry = {
        "status": 1,  # ADDED
        "snapshot_id": None,  # inherited
        "sequence_number": None,
        "data_file": {
            "content": 0,
            "file_path": "file:///t/data/category=x/X.parquet",
            "file_format": "PARQUET",
            "partition": {"category": "x"},
            "record_count": 1,
            "file_size_in_bytes": 10,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
            "sort_order_id": None,
        },
    }
    src = tmp_path / "null-snap.avro"
    src.write_bytes(write_container(schema, [entry]))
    with _pytest.raises(ValueError, match="inherited"):
        rewrite_manifest_group([str(src)], str(tmp_path / "out.avro"))


def test_geo_bbox_pruning(spark, tmp_path):
    """v3 geospatial planning: geometry bounds are WKB points
    (lower = min-corner, upper = max-corner of the file's bbox);
    `plan_scan(geo_bbox=...)` keeps exactly the files whose box
    INTERSECTS the query box, keeps files without bounds
    (conservative), and composes with partition predicates."""
    import json

    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        create_table,
    )
    from iceberg_tools_spark.iceberg.conversions import wkb_point
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    root = str(tmp_path / "geo")
    mp = create_table(
        root,
        [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "shape", "required": False,
             "type": "geometry"},
        ],
        format_version=3,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    # three files with disjoint bboxes + one with NO bounds
    boxes = {"west.parquet": (0, 0, 10, 10),
             "east.parquet": (100, 0, 110, 10),
             "north.parquet": (0, 100, 10, 110)}
    for name in [*boxes, "unbounded.parquet"]:
        pq.write_table(
            pa.table({"id": pa.array([1], "int64"),
                      "shape": pa.array([b"\x00"], pa.binary())}),
            os.path.join(root, "data", name),
        )
        entry = {"path": f"data/{name}", "partition": {}}
        if name in boxes:
            xmin, ymin, xmax, ymax = boxes[name]
            entry["lower_bounds"] = [
                {"key": 2, "value": wkb_point(xmin, ymin)}]
            entry["upper_bounds"] = [
                {"key": 2, "value": wkb_point(xmax, ymax)}]
        files.append(entry)
    res = append_snapshot(mp, files)

    def plan(bbox):
        rows = plan_scan(
            spark, res["metadata_path"], res["snapshot_id"],
            geo_bbox={2: bbox}, base_dir=root,
        ).collect()
        return sorted(
            os.path.basename(r.file_path) for r in rows if r.selected
        )

    # a box overlapping only the west file (+ the unbounded one)
    assert plan((5, 5, 20, 20)) == ["unbounded.parquet", "west.parquet"]
    # a box straddling west and east in x but matching only east's y
    assert plan((9, -5, 105, 5)) == [
        "east.parquet", "unbounded.parquet", "west.parquet"]
    # a box in empty space selects only the unbounded file
    assert plan((50, 50, 60, 60)) == ["unbounded.parquet"]
    # touching edges count as intersecting (closed boxes)
    assert plan((10, 10, 11, 11)) == ["unbounded.parquet", "west.parquet"]


def _geo_wkb_cases() -> list[bytes | None]:
    """Geometry bounds in every byte-order / type-code / degenerate
    payload variant, then an absent one."""
    import math
    import struct

    from iceberg_tools_spark.iceberg.conversions import wkb_point

    def le(code, *coords):
        return b"\x01" + struct.pack("<I", code) + struct.pack(f"<{len(coords)}d", *coords)

    def be(code, *coords):
        return b"\x00" + struct.pack(">I", code) + struct.pack(f">{len(coords)}d", *coords)

    return [
        wkb_point(0.0, 0.0),
        wkb_point(-0.0, 0.0),
        wkb_point(10.0, 10.0),
        wkb_point(-5.25, 1e-300),
        wkb_point(5e-324, -5e-324),          # subnormals
        wkb_point(1.7976931348623157e308, -1.7976931348623157e308),
        wkb_point(math.inf, -math.inf),
        wkb_point(math.nan, 3.0),            # NaN x → NULL x key
        wkb_point(1.5, 2.5, z=7.0),          # XYZ (code 1001)
        le(3001, 1.0, 2.0, 3.0, 4.0),        # XYZM
        be(1, 42.0, -42.0),                  # big-endian XY
        be(1001, 0.125, -0.125, 9.0),        # big-endian XYZ
        # EWKB: Z flag + SRID flag (srid bytes precede coords)
        b"\x01" + struct.pack("<I", 0xA0000001) + struct.pack("<I", 4326)
        + struct.pack("<dd", 7.5, -7.5),
        le(2, 1.0, 2.0),                     # LINESTRING → None
        b"\x05" + b"\x00" * 20,              # bad byte-order marker
        b"\x01\x01\x00\x00\x00\x00",         # truncated
        b"",                                  # empty
        None,                                 # absent bound
    ]


def test_geo_bound_keys_match_struct_decode():
    """The worker-side WKB decode feeding geo scan planning
    (``pruning.geo_keys``, over a bound's raw bytes): for every
    byte-order / type-code / degenerate-payload variant it must agree
    with the reference decode — `parse_wkb_point` mapped through
    `double_sort_key` — including the conservative NULL on
    unparseable input, NaN coordinates, and the −0.0 == +0.0
    canonicalization; a bound of a non-binary type decides nothing;
    and the keys must sort exactly like the doubles they encode."""
    import math

    from iceberg_tools_spark.iceberg.conversions import (
        double_sort_key,
        parse_wkb_point,
        to_bytes,
        wkb_point,
    )
    from iceberg_tools_spark.iceberg.pruning import geo_keys

    for c in _geo_wkb_cases():
        got = geo_keys("geometry", c)
        ref = parse_wkb_point(c) if c is not None else None
        if ref is None:
            assert got == (None, None), (c, got)
        else:
            x, y = ref
            assert got == (
                None if math.isnan(x) else double_sort_key(x),
                None if math.isnan(y) else double_sort_key(y),
            ), (c, ref, got)
    # a bound of a field that is not in the schema decides nothing
    assert geo_keys(None, wkb_point(1.0, 2.0)) == (None, None)
    # a bound of a non-binary type decides nothing
    assert geo_keys("long", to_bytes("long", 42)) == (None, None)

    # order-isomorphism: keys sort exactly like the doubles they encode
    vals = [-math.inf, -1e300, -2.5, -5e-324, 0.0, 5e-324, 1.0, 64.0, 1e300, math.inf]
    keys = [double_sort_key(v) for v in vals]
    assert keys == sorted(keys)


# ------------------------------------------------ the pruning oracle
#
# plan_scan's level 2 as it was before it moved into the manifest
# worker: every live entry rendered (bounds as "value:<v>;type:<t>",
# geometry bounds as bbox-corner sort keys) into one frame, and the
# file decision one Spark expression over it — get_json_object for
# the partition, regexp_extract + cast for the bounds. Kept as the
# oracle the worker-side evaluator (iceberg/pruning.py) must match.


def _oracle_geo_bound_keys(bmap, fid):
    import math

    from iceberg_tools_spark.iceberg.conversions import double_sort_key, parse_wkb_point

    v = (bmap or {}).get(fid)
    if not v or not v.startswith("value:0x"):
        return (None, None)
    try:
        pt = parse_wkb_point(bytes.fromhex(v[8:].split(";", 1)[0]))
    except ValueError:
        return (None, None)
    if pt is None:
        return (None, None)
    x, y = pt
    return (
        None if math.isnan(x) else double_sort_key(x),
        None if math.isnan(y) else double_sort_key(y),
    )


def _oracle_plan_scan(
    spark, metadata_path, snapshot_id, *, partition_pred=None, source_pred=None,
    field_id=None, lo=None, hi=None, cast_to="bigint", geo_bbox=None,
    base_dir=None, debug=False,
):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from iceberg_tools_spark.iceberg.conversions import double_sort_key
    from iceberg_tools_spark.iceberg.metadata import field_id_types
    from iceberg_tools_spark.iceberg.tables import ENTRIES_SCHEMA, _entries_worker
    from iceberg_tools_spark.session import local_frame

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    specs = S.partition_specs_by_id(meta) or {0: S.partition_spec_fields(meta)}
    pred = S._normalize_partition_pred(partition_pred or {}, specs)
    all_fields = {fname for spec in specs.values() for fname, _ in spec}
    derived = S._project_source_pred(meta, source_pred) if source_pred else {}
    geo_fids = sorted(geo_bbox) if geo_bbox else []
    ctx = {"fid_types": field_id_types(meta.raw)}
    rows = []
    for mrow in S.manifest_files_at(meta, snapshot_id, base_dir):
        if mrow.get("content", 0) != 0:
            continue
        spec_id = mrow.get("partition_spec_id", 0)
        m_pruned = S._manifest_partition_pruned(
            mrow, specs[spec_id], {**pred, **derived.get(spec_id, {})}
        )
        if m_pruned and not debug:
            continue
        with open(mrow["local_path"], "rb") as f:
            entries = _entries_worker(ctx, f.read())
        tag = (os.path.basename(mrow["manifest_path"]), spec_id, m_pruned)
        for r in entries:
            if r[0] == 2:
                continue
            keys = []
            for fid in geo_fids:
                keys.extend(_oracle_geo_bound_keys(r[12], fid))
                keys.extend(_oracle_geo_bound_keys(r[13], fid))
            rows.append((*tag, *r, *keys))
    schema = T.StructType([
        T.StructField("manifest_name", T.StringType()),
        T.StructField("spec_id", T.IntegerType()),
        T.StructField("manifest_pruned", T.BooleanType()),
        *ENTRIES_SCHEMA.fields,
        *[T.StructField(f"_geo{fid}_{c}", T.LongType())
          for fid in geo_fids for c in ("lox", "loy", "hix", "hiy")],
    ])
    entries = local_frame(spark, rows, schema)

    def _json_scalar(v):
        return "true" if v is True else "false" if v is False else str(v)

    def bound_value(col):
        return F.regexp_extract(col, r"^value:(.*);type:[^;]*$", 1).cast(cast_to)

    part_match = F.lit(True)
    for fname in sorted(all_fields):
        if fname in pred:
            want = pred[fname]
            got = F.get_json_object("partition_json", f"$.{fname}")
            this_match = got.isNull() if want is None else (got == F.lit(_json_scalar(want)))
            spec_ids_with = [sid for sid, sp in specs.items() if fname in {fn for fn, _ in sp}]
            part_match = part_match & F.when(
                F.col("spec_id").isin(spec_ids_with), this_match
            ).otherwise(F.lit(True))
    for sid, dmap in derived.items():
        for fname, want in sorted(dmap.items()):
            got = F.get_json_object("partition_json", f"$.{fname}")
            this_match = got.isNull() if want is None else (got == F.lit(_json_scalar(want)))
            part_match = part_match & F.when(F.col("spec_id") == sid, this_match).otherwise(F.lit(True))
    bounds_overlap = F.lit(True)
    if field_id is not None:
        lower = bound_value(F.element_at("lower_bounds", F.lit(field_id)))
        upper = bound_value(F.element_at("upper_bounds", F.lit(field_id)))
        if hi is not None:
            bounds_overlap = bounds_overlap & (lower.isNull() | (lower <= F.lit(hi)))
        if lo is not None:
            bounds_overlap = bounds_overlap & (upper.isNull() | (upper >= F.lit(lo)))
    for gfid, (xmin, ymin, xmax, ymax) in sorted((geo_bbox or {}).items()):
        def _k(v):
            return F.lit(double_sort_key(float(v)))

        disjoint = (
            (F.col(f"_geo{gfid}_hix") < _k(xmin))
            | (F.col(f"_geo{gfid}_lox") > _k(xmax))
            | (F.col(f"_geo{gfid}_hiy") < _k(ymin))
            | (F.col(f"_geo{gfid}_loy") > _k(ymax))
        )
        bounds_overlap = bounds_overlap & ~F.coalesce(disjoint, F.lit(False))
    file_pruned = ~(part_match & bounds_overlap)
    return entries.select(
        "manifest_name", "file_path", "partition_json", "record_count",
        "manifest_pruned", file_pruned.alias("file_pruned"),
        (~F.col("manifest_pruned") & ~file_pruned).alias("selected"),
    )


# (field id, name, Iceberg type, typed-value strategy); the table's
# columns, then a bound key that names no column
_EPOCH_DAY = dt.date(1970, 1, 1)
_TEXTS = st.text("ab5-:. T0129é中", max_size=6) | st.sampled_from(
    ["2024-01-05", "12", "-3", " 7 ", "1.5", "NaN", "x", ""]
)


def _prune_fields():
    from decimal import Decimal

    return [
        (1, "id", "long", st.integers(-40, 40) | st.sampled_from([-(2**63), 2**63 - 1])),
        (2, "i", "int", st.integers(-40, 40)),
        (3, "d", "double", st.floats(-40, 40) | st.sampled_from(
            [float("nan"), float("inf"), -0.0, 1e-8, 2.5e300])),
        (4, "f", "float", st.floats(-40, 40, width=32) | st.just(float("nan"))),
        (5, "day", "date", st.dates(dt.date(1969, 11, 1), dt.date(1970, 3, 1))),
        (6, "ts", "timestamp", st.datetimes(dt.datetime(1969, 12, 1), dt.datetime(1970, 2, 1))),
        (7, "s", "string", _TEXTS),
        (8, "dec", "decimal(9, 2)", st.decimals(-40, 40, places=2) | st.just(Decimal(7))),
        (9, "shape", "geometry", st.tuples(
            st.sampled_from([0.0, 1.0, 2.0, 5.0, float("nan")]),
            st.sampled_from([0.0, 1.0, 2.0, 5.0, float("nan")]))
         | st.sampled_from(_geo_wkb_cases()[:-1])),  # raw WKB variants
    ]


def _bound_bytes(typ, v):
    from iceberg_tools_spark.iceberg.conversions import to_bytes, wkb_point

    if typ == "date":
        return to_bytes("date", (v - _EPOCH_DAY).days)
    if typ == "timestamp":
        d = v - dt.datetime(1970, 1, 1)
        return to_bytes("timestamp", (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, bytes):
        return v  # raw: the untyped key, a WKB variant or a corrupt bound
    if typ == "geometry":
        return wkb_point(*v)
    return to_bytes(typ, v)


def _endpoints(cast_to):
    return {
        "bigint": st.integers(-45, 45),
        "double": st.floats(-45, 45) | st.sampled_from([float("nan"), float("-inf")]),
        "string": st.text("ab5-:. T0129é中", max_size=4),
        "date": st.dates(dt.date(1969, 11, 1), dt.date(1970, 3, 1)),
        "timestamp": st.datetimes(dt.datetime(1969, 12, 1), dt.datetime(1970, 2, 1)),
    }[cast_to]


@st.composite
def _prune_cases(draw, cast_to):
    fields = _prune_fields() + [(99, None, "unknown-field", st.binary(min_size=1, max_size=3))]

    def bounds():
        if draw(st.integers(0, 5)) == 0:
            return None  # no bounds map at all
        return {
            fid: draw(strat) for fid, _n, _t, strat in fields
            if draw(st.integers(0, 4))  # a missing key one time in five
        }

    manifests = []
    for m in range(draw(st.integers(1, 3))):
        spec_id = draw(st.sampled_from([0, 1]))
        files = []
        for k in range(draw(st.integers(1, 4))):
            part = {"category": draw(st.sampled_from(["x", "y", None]))}
            if spec_id == 1:
                part |= {
                    "id_bucket": draw(st.sampled_from([0, 1, 2, 3, None])),
                    "s_trunc": draw(st.sampled_from(["ab", "b5", None])),
                    "ts_day": draw(st.sampled_from([-1, 0, 1])),
                }
            files.append((f"m{m}f{k}", part, bounds(), bounds(), draw(st.booleans())))
        manifests.append((f"m{m}.avro", spec_id, files))
    endpoint = st.none() | _endpoints(cast_to)
    return {
        "manifests": manifests,
        "lo": draw(endpoint),
        "hi": draw(endpoint),
        "partition_pred": draw(st.sampled_from(
            [{}, {"category": "x"}, {"category": None}, {"id_bucket": 1},
             {"category": "y", "s_trunc": "ab"}])),
        "source_pred": draw(st.sampled_from(
            [None, {"id": 7}, {"s": "ab5"}, {"ts": dt.datetime(1970, 1, 1, 3)},
             {"category": "x", "id": 260}])),
        "geo_bbox": draw(st.none() | st.sampled_from(
            [{9: (0.0, 0.0, 1.0, 1.0)}, {9: (2.0, 2.0, 6.0, 6.0)}, {9: (1.0, float("nan"), 5.0, 5.0)}])),
        "debug": draw(st.booleans()),
    }


def _write_prune_table(root, manifests):
    """A v3 table over the _prune_fields columns plus ``category``:
    spec 0 is identity(category), spec 1 adds bucket[4](id),
    truncate[2](s) and day(ts). One snapshot lists ``manifests``."""
    from iceberg_tools_spark.iceberg.commit import SnapshotProducer, create_table
    from iceberg_tools_spark.iceberg.evolution import evolve_partition_spec

    cols = [(name, typ) for _fid, name, typ, _s in _prune_fields()] + [("category", "string")]
    mp = create_table(root, cols, partition_by=[("category", "identity", "category")], format_version=3)
    mp = evolve_partition_spec(mp, add=[
        ("id_bucket", "bucket[4]", "id"), ("s_trunc", "truncate[2]", "s"), ("ts_day", "day", "ts"),
    ])["metadata_path"]
    types = {fid: typ for fid, _n, typ, _s in _prune_fields()} | {99: "unknown-field"}
    producer = SnapshotProducer(mp, root, snapshot_id=7)

    def encode(bmap):
        if bmap is None:
            return None
        return [{"key": fid, "value": _bound_bytes(types[fid], v)} for fid, v in bmap.items()]

    rows = []
    for name, spec_id, files in manifests:
        records = [{
            "status": 2 if deleted else 1,
            "snapshot_id": 7,
            "sequence_number": None,
            "data_file": {
                "content": 0,
                "file_path": f"{producer.loc}/data/{path}.parquet",
                "file_format": "PARQUET",
                "partition": part,
                "record_count": 1,
                "file_size_in_bytes": 10,
                "lower_bounds": encode(lower),
                "upper_bounds": encode(upper),
            },
        } for path, part, lower, upper, deleted in files]
        rows.append(producer.write_manifest(name, records, spec_id=spec_id, content=0))
    res = producer.commit(rows, {"operation": "append"})
    return res["metadata_path"], res["snapshot_id"]


# (bound type, cast_to) pairs where the worker deliberately reads the
# typed value instead of the old cast of its rendered text: a date or
# timestamp bound IS a date/timestamp (the text cast read its day or
# microsecond count as a year, or raised), a number is never one (the
# text cast read 4-7 digit values as years), a string is never a
# number or a date (the text cast parsed it), and a field the schema
# does not type raises (the old regexp_extract gave '' and compared it)
_TYPED = {
    (t, c) for t in ("long", "int", "decimal(9, 2)", "date", "timestamp")
    for c in ("date", "timestamp")
} | {("string", c) for c in ("bigint", "double", "date", "timestamp")} | {
    ("unknown-field", "string")
}


def _typed_bound(typ, cast_to, v):
    """The typed rule for the _TYPED pairs, from the drawn Python
    values (dates and datetimes), independent of pruning.py."""
    if typ == "date" and cast_to == "date" or typ == "timestamp" and cast_to == "timestamp":
        return v
    if typ == "timestamp":
        return v.date()
    if typ == "date":
        return dt.datetime.combine(v, dt.time())
    raise ValueError(f"a {typ} bound is not a {cast_to}")


def _outcome(build):
    """("raises", message) or ("rows", Counter of row tuples)."""
    from collections import Counter

    try:
        return ("rows", Counter(tuple(r) for r in build().collect()))
    except Exception as e:  # noqa: BLE001 - Spark and Python errors alike
        return ("raises", str(e))


@pytest.mark.parametrize("threshold", [0, 10**9], ids=["executor", "driver"])
@pytest.mark.parametrize("cast_to", ["bigint", "double", "string", "date", "timestamp"])
@settings(
    max_examples=3, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow,
                           HealthCheck.data_too_large],
)
@given(data=st.data())
def test_worker_pruning_matches_the_spark_expression(spark, monkeypatch, threshold, cast_to, data):
    """For every bound field (long, int, double, float, date,
    timestamp, string, decimal, geometry and an untyped key) against
    ``cast_to``: the worker-side decision equals the old Spark
    expression's, raising exactly when it raised (a ValueError naming
    the field), on both placements; with null, missing and NaN
    bounds, two partition specs, source predicates projected through
    bucket, truncate and day, geo boxes and ``debug``. Deliberate
    differences: a null partition value against a wanted value is
    pruned (the expression left file_pruned and selected NULL), and
    the _TYPED pairs follow :func:`_typed_bound`."""
    import shutil
    import tempfile

    from iceberg_tools_spark.iceberg import manifest_io

    case = data.draw(_prune_cases(cast_to))
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
    types = {fid: typ for fid, _n, typ, _s in _prune_fields()} | {99: "unknown-field"}
    drawn = {
        path: (lower, upper)
        for _m, _sid, files in case["manifests"] for path, _p, lower, upper, _d in files
    }
    root = tempfile.mkdtemp(prefix="prune-oracle-")
    try:
        mp, sid = _write_prune_table(root, case["manifests"])
        kw = {k: case[k] for k in ("partition_pred", "source_pred", "geo_bbox", "debug")}
        for fid, typ in sorted(types.items()):
            pkw = {**kw, "field_id": fid, "lo": case["lo"], "hi": case["hi"], "cast_to": cast_to}
            got = _outcome(lambda: S.plan_scan(spark, mp, sid, base_dir=root, **pkw))
            if (typ, cast_to) in _TYPED:
                want = _typed_want(spark, mp, sid, root, kw, pkw, typ, drawn)
            else:
                want = _outcome(lambda: _oracle_plan_scan(spark, mp, sid, base_dir=root, **pkw))
                if want[0] == "rows":
                    want = ("rows", _null_partition_pruned(want[1]))
            assert got[0] == want[0], (fid, typ, got, want)
            if got[0] == "raises":
                assert f"field {fid} in " in got[1], got[1]
            else:
                assert got[1] == want[1], (fid, typ)
    finally:
        shutil.rmtree(root)


def _null_partition_pruned(rows):
    """The oracle's rows with its NULL decisions (a null partition
    value against a wanted value) read as pruned."""
    from collections import Counter

    out = Counter()
    for (m, path, pj, rc, mp_, fp, sel), n in rows.items():
        if fp is None:
            fp, sel = True, False
        out[(m, path, pj, rc, mp_, fp, sel)] += n
    return out


def _typed_want(spark, mp, sid, root, kw, pkw, typ, drawn):
    """The _TYPED pairs: the oracle decides partitions and boxes, the
    typed rule the bounds, read in the expression's order (only for a
    file whose partition does not rule it out, the upper bound only
    when the lower one keeps it)."""
    from collections import Counter

    def oracle(**k):
        got = _outcome(lambda: _oracle_plan_scan(spark, mp, sid, base_dir=root, **k))
        assert got[0] == "rows"
        return {r[1]: r for r in got[1]}

    by_partition = oracle(**{**kw, "geo_bbox": None})
    fid, lo, hi, cast_to = pkw["field_id"], pkw["lo"], pkw["hi"], pkw["cast_to"]
    out = []
    try:
        for path, (m, _p, pj, rc, mp_, fp, _sel) in oracle(**kw).items():
            by_bounds = False
            if by_partition[path][5] is not True:
                lower, upper = drawn[os.path.basename(path)[: -len(".parquet")]]
                if hi is not None and fid in (lower or {}):
                    by_bounds = _typed_bound(typ, cast_to, lower[fid]) > hi
                if lo is not None and fid in (upper or {}) and not by_bounds:
                    by_bounds = _typed_bound(typ, cast_to, upper[fid]) < lo
            pruned = fp is not False or by_bounds
            out.append((m, path, pj, rc, mp_, pruned, not (mp_ or pruned)))
    except ValueError as e:
        return ("raises", str(e))
    return ("rows", Counter(out))


def test_worker_pruning_deliberate_differences(spark, tmp_path):
    """Where the worker-side decision deliberately departs from the old
    Spark expression, each case side by side with the oracle."""
    def plans(mp, sid, root, **kw):
        got = _outcome(lambda: S.plan_scan(spark, mp, sid, base_dir=root, **kw))
        old = _outcome(lambda: _oracle_plan_scan(spark, mp, sid, base_dir=root, **kw))
        return got, old

    def decisions(outcome):
        kind, rows = outcome
        if kind == "raises":
            return kind
        return sorted((os.path.basename(r[1])[: -len(".parquet")], r[5], r[6]) for r in rows)

    part = {"category": "x"}
    root = str(tmp_path / "t")
    mp, sid = _write_prune_table(root, [("m0.avro", 0, [
        # a null partition value; a string bound across a line break;
        # a date bound; a long bound; an untyped key; a numeric string
        ("null_cat", {"category": None}, None, None, False),
        ("multiline", part, {7: "a\nb"}, {7: "a\nb"}, False),
        ("dated", part, {5: dt.date(2024, 1, 5), 1: 7000, 99: b"\x01"},
         {5: dt.date(2024, 1, 5), 1: 7000, 99: b"\x01"}, False),
        ("numeric_text", {"category": "y"}, {7: "12"}, {7: "12"}, False),
    ])])
    ok = {"partition_pred": {"category": "x"}}
    on_x = {"partition_pred": {"category": "x"}, "source_pred": {"category": "x"}}

    # 1. a null partition value against a wanted one: NULL → pruned
    got, old = plans(mp, sid, root, **ok)
    assert ("null_cat", None, None) in decisions(old)
    assert ("null_cat", True, False) in decisions(got)
    # 2. a string bound with a line break is compared as itself (the
    # regexp's '.' stops at line terminators: it read '')
    kw = {**on_x, "field_id": 7, "hi": "a", "cast_to": "string"}
    got, old = plans(mp, sid, root, **kw)
    assert ("multiline", False, True) in decisions(old)
    assert ("multiline", True, False) in decisions(got)
    # 3. a date bound read as a date: the text cast read the day count
    # 19727 as the year 19727
    kw = {**on_x, "field_id": 5, "hi": dt.date(9999, 1, 1), "cast_to": "date"}
    got, old = plans(mp, sid, root, **kw)
    assert ("dated", True, False) in decisions(old)
    assert ("dated", False, True) in decisions(got)
    # 4. a number is not a date: the text cast read 7000 as a year
    kw = {**on_x, "field_id": 1, "hi": dt.date(9999, 1, 1), "cast_to": "date"}
    got, old = plans(mp, sid, root, **kw)
    assert ("dated", False, True) in decisions(old)
    assert decisions(got) == "raises" and "field 1 in " in got[1]
    # 5. an untyped key raises: regexp_extract gave '' and compared it
    kw = {**on_x, "field_id": 99, "lo": "a", "cast_to": "string"}
    got, old = plans(mp, sid, root, **kw)
    assert ("dated", True, False) in decisions(old)
    assert decisions(got) == "raises" and "field 99 in " in got[1]
    # 6. a string is not a number: the text cast read '12' as 12
    kw = {"partition_pred": {"category": "y"}, "field_id": 7, "hi": 5}
    got, old = plans(mp, sid, root, **kw)
    assert ("numeric_text", True, False) in decisions(old)
    assert decisions(got) == "raises" and "field 7 in " in got[1]
    # 7. a corrupt bound of a field the predicate does not read no
    # longer fails the plan (every bound used to be rendered)
    croot = str(tmp_path / "corrupt")
    cmp_, csid = _write_prune_table(croot, [("m0.avro", 0, [
        ("corrupt", part, {3: b"\x01\x02\x03", 1: 4}, None, False),
    ])])
    got, old = plans(cmp_, csid, croot, field_id=1, hi=0)
    assert decisions(old) == "raises"
    assert decisions(got) == [("corrupt", True, False)]
    # 8. predicate values are compared only as cast_to: a string
    # endpoint for bigint raises (Spark cast '5' to bigint)
    got, old = plans(mp, sid, root, **{**on_x, "field_id": 1, "lo": "5"})
    assert decisions(old) != "raises"
    with pytest.raises(ValueError, match="cannot be compared as bigint"):
        S.plan_scan(spark, mp, sid, base_dir=root, field_id=1, lo="5")

