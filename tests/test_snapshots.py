"""Multi-snapshot metadata surface: manifest lists, time travel,
incremental scans, EXISTING/DELETED statuses, rewrite-manifests
round trip (VERDICT r4 "Next round" #3-5)."""

from __future__ import annotations

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


@pytest.mark.parametrize("threshold", [1, 10**9], ids=["executor", "driver"])
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


def test_geo_bound_keys_match_struct_decode():
    """The parse-pass WKB decode feeding geo scan planning (r16
    optimization: keys are decoded where the manifest row is born,
    so the planning filter is plain bigint comparisons): for every
    byte-order / type-code / degenerate-payload variant,
    `_geo_bound_keys` must agree with the reference decode —
    `parse_wkb_point` mapped through `double_sort_key` — including
    the conservative NULL on unparseable input, NaN coordinates, and
    the −0.0 == +0.0 canonicalization; and the keys must sort
    exactly like the doubles they encode."""
    import math
    import struct

    from iceberg_tools_spark.iceberg.conversions import (
        double_sort_key,
        parse_wkb_point,
        wkb_point,
    )
    from iceberg_tools_spark.iceberg.snapshots import _geo_bound_keys

    def le(code, *coords):
        return b"\x01" + struct.pack("<I", code) + struct.pack(f"<{len(coords)}d", *coords)

    def be(code, *coords):
        return b"\x00" + struct.pack(">I", code) + struct.pack(f">{len(coords)}d", *coords)

    cases: list[bytes | None] = [
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
    for c in cases:
        bmap = {2: f"value:0x{c.hex()};type:geometry"} if c is not None else None
        got = _geo_bound_keys(bmap, 2)
        ref = parse_wkb_point(c) if c is not None else None
        if ref is None:
            assert got == (None, None), (c, got)
        else:
            x, y = ref
            assert got == (
                None if math.isnan(x) else double_sort_key(x),
                None if math.isnan(y) else double_sort_key(y),
            ), (c, ref, got)
    # non-hex garbage inside a plausible rendering must NULL out
    assert _geo_bound_keys({2: "value:0xzz;type:geometry"}, 2) == (None, None)
    # a non-binary bound rendering (wrong type) must NULL out
    assert _geo_bound_keys({2: "value:42;type:long"}, 2) == (None, None)

    # order-isomorphism: keys sort exactly like the doubles they encode
    vals = [-math.inf, -1e300, -2.5, -5e-324, 0.0, 5e-324, 1.0, 64.0, 1e300, math.inf]
    keys = [double_sort_key(v) for v in vals]
    assert keys == sorted(keys)
