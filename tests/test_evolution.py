"""Schema evolution: evolve-commit validation, field-id projection
reads, fixture determinism.

The projection rules under test are the Iceberg spec's "Column
Projection" section (resolve by field id; fill null for ids absent
from a file; apply int→long / float→double widenings file-side),
implemented via Spark's native parquet field-id machinery — see
iceberg_tools_spark/iceberg/evolution.py.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from iceberg_tools_spark.iceberg import evolution as evo
from iceberg_tools_spark.iceberg.metadata import parse_metadata

EVO_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "evolution")
V5 = os.path.join(EVO_DIR, "v5.metadata.json")


# ------------------------------------------------ evolve_schema commits


def _scratch(tmp_path):
    root = tmp_path / "t"
    shutil.copytree(EVO_DIR, root)
    return str(root)


def test_field_ids_stable_across_chain():
    raw = parse_metadata(V5).raw
    schemas = {s["schema-id"]: {f["name"]: f for f in s["fields"]} for s in raw["schemas"]}
    # renamed twice, id constant
    assert schemas[0]["name"]["id"] == schemas[1]["title"]["id"] == schemas[2]["headline"]["id"] == 2
    # promotion keeps id, widens type
    assert schemas[0]["id"]["type"] == "int" and schemas[2]["id"]["type"] == "long"
    assert schemas[0]["score"]["type"] == "float" and schemas[2]["score"]["type"] == "double"
    # dropped id absent from later schemas; added id past last-column-id
    assert "scrap" not in schemas[1] and all(f["id"] != 4 for f in schemas[1].values())
    assert schemas[1]["extra"]["id"] == 5 and raw["last-column-id"] == 5
    assert raw["current-schema-id"] == 2


def test_illegal_promotions_raise(tmp_path):
    root = _scratch(tmp_path)
    v5 = os.path.join(root, "v5.metadata.json")
    for target in ("int", "string", "float"):
        with pytest.raises(ValueError, match="illegal promotion|no column"):
            evo.evolve_schema(v5, promote={"score": target})
    with pytest.raises(ValueError, match="illegal promotion"):
        evo.evolve_schema(v5, promote={"headline": "long"})


def test_decimal_promotion_rules():
    assert evo._legal_promotion("decimal(9,2)", "decimal(18,2)")
    assert evo._legal_promotion("decimal(9,2)", "decimal(9,2)")
    assert not evo._legal_promotion("decimal(9,2)", "decimal(18,3)")  # scale change
    assert not evo._legal_promotion("decimal(18,2)", "decimal(9,2)")  # narrowing


def test_rename_collision_and_unknown_raise(tmp_path):
    root = _scratch(tmp_path)
    v5 = os.path.join(root, "v5.metadata.json")
    with pytest.raises(ValueError, match="collides"):
        evo.evolve_schema(v5, rename={"headline": "extra"})
    with pytest.raises(ValueError, match="no column"):
        evo.evolve_schema(v5, rename={"nope": "x"})
    with pytest.raises(ValueError, match="already exists"):
        evo.evolve_schema(v5, add=[("extra", "string")])
    with pytest.raises(ValueError, match="no changes"):
        evo.evolve_schema(v5)


def test_drop_partition_source_raises(tmp_path):
    # the MoR fixture partitions by identity(category, id 2) +
    # truncate(id, id 1): both sources must refuse to drop
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    root = tmp_path / "mor"
    shutil.copytree(MOR_DIR, root)
    v2 = str(root / "v2.metadata.json")
    with pytest.raises(ValueError, match="partition source"):
        evo.evolve_schema(v2, drop=["category"])
    with pytest.raises(ValueError, match="partition source"):
        evo.evolve_schema(v2, drop=["id"])


def test_drop_plus_rename_same_column_raises(tmp_path):
    root = _scratch(tmp_path)
    v5 = os.path.join(root, "v5.metadata.json")
    with pytest.raises(ValueError, match="both dropped"):
        evo.evolve_schema(v5, drop=["extra"], rename={"extra": "y"})


def test_old_schemas_retained_and_log_grows(tmp_path):
    root = _scratch(tmp_path)
    v5 = os.path.join(root, "v5.metadata.json")
    res = evo.evolve_schema(v5, add=[("audit", "long")])
    raw = parse_metadata(res["metadata_path"]).raw
    assert [s["schema-id"] for s in raw["schemas"]] == [0, 1, 2, 3]
    assert raw["last-column-id"] == 6
    assert raw["metadata-log"][-1]["metadata-file"].endswith("v5.metadata.json")
    assert os.path.basename(res["metadata_path"]) == "v6.metadata.json"


# ------------------------------------------------ projection reads


def test_projected_read_matches_expected(spark):
    rows = [tuple(r) for r in evo.schema_evolution_read(spark, "").collect()]
    assert rows == [
        (1, "alpha", 1.5, None),
        (2, "beta", 2.25, None),
        (3, "gamma", 3.0, None),
        (4, "delta", 4.75, None),
        (5, "epsilon", 5.5, None),
        (6, "zeta", 6.125, "x6"),
        (7, "eta", 7.0, "x7"),
        (8, "theta", 8.5, "x8"),
    ]


def test_projected_schema_is_current_schema(spark):
    df = evo.schema_evolution_read(spark, "")
    assert df.schema.simpleString() == (
        "struct<id:bigint,headline:string,score:double,extra:string>"
    )


def test_time_travel_projects_old_data_through_new_schema(spark):
    # snapshot 3001 predates the evolution; reading it through the
    # CURRENT schema still binds by id (the spec's projection rule
    # is snapshot-independent)
    df = evo.read_table_projected(spark, V5, snapshot_id=3001).orderBy("id")
    rows = [tuple(r) for r in df.collect()]
    assert [r[0] for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0] == (1, "alpha", 1.5, None)


def test_single_scan_no_per_file_union(spark):
    # the 100 TB posture: ONE parquet scan node regardless of how
    # many historical schemas the files span
    plan = evo.schema_evolution_read(spark, "")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "InMemoryFileIndex(2 paths)" in plan  # both files, one scan


def test_missing_field_ids_fail_loudly(spark, tmp_path):
    # a file WITHOUT field ids must error (ignoreMissing stays
    # false), not silently null out — honest until name-mapping
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _scratch(tmp_path)
    # overwrite fileB with an id-less parquet of the same shape
    pq.write_table(
        pa.table({"id": pa.array([9], pa.int64())}),
        os.path.join(root, "data", "fileB.parquet"),
    )
    with pytest.raises(Exception, match="[Ff]ield [Ii]d|FIELD_ID"):
        evo.read_table_projected(
            spark, os.path.join(root, "v5.metadata.json")
        ).collect()


def test_oracle_parity_evolution(spark, duck):
    got = [tuple(r) for r in evo.schema_evolution_read(spark, "").collect()]
    want = duck.sql(evo.SCHEMA_EVOLUTION_READ_SQL).fetchall()
    assert got == [tuple(w) for w in want]
    got2 = [tuple(r) for r in evo.meta_schemas(spark, "").collect()]
    want2 = duck.sql(evo.META_SCHEMAS_SQL).fetchall()
    assert got2 == [tuple(w) for w in want2]


# ------------------------------------------------ determinism


def test_fixture_regeneration_is_deterministic(tmp_path):
    from .conftest import regenerated_fixture_diffs

    out = str(tmp_path / "fixture")
    assert regenerated_fixture_diffs("gen_evolution_fixture.py", EVO_DIR, out) == []


def test_evolution_metadata_is_valid_json_chain():
    prev_schemas = 0
    for v in range(1, 6):
        with open(os.path.join(EVO_DIR, f"v{v}.metadata.json")) as f:
            raw = json.load(f)
        assert len(raw["schemas"]) >= prev_schemas
        prev_schemas = len(raw["schemas"])


# ------------------------------------------------ name mapping


def test_default_name_mapping_carries_historical_aliases():
    from iceberg_tools_spark.iceberg.evolution import default_name_mapping

    nm = default_name_mapping(parse_metadata(V5))
    by_id = {m["field-id"]: m["names"] for m in nm}
    assert by_id[2] == ["name", "title", "headline"]  # oldest → newest
    assert by_id[4] == ["scrap"]  # dropped fields stay mappable
    assert by_id[5] == ["extra"]


def _strip_ids(path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    pq.write_table(pa.table({n: t[n] for n in t.schema.names}), path)


def test_name_mapping_read_equals_id_read(spark, tmp_path):
    from iceberg_tools_spark.iceberg.evolution import (
        read_table_projected_with_mapping,
        schema_evolution_read,
    )

    root = _scratch(tmp_path)
    _strip_ids(os.path.join(root, "data", "fileA.parquet"))
    got = [
        tuple(r)
        for r in read_table_projected_with_mapping(
            spark, os.path.join(root, "v5.metadata.json")
        )
        .orderBy("id")
        .collect()
    ]
    want = [tuple(r) for r in schema_evolution_read(spark, "").collect()]
    assert got == want


def test_name_mapping_unmatched_column_nulls(spark, tmp_path):
    # an id-less file whose columns match NO alias for a field
    # yields null there (the spec's unmatched rule), not an error
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.evolution import read_table_projected_with_mapping

    root = _scratch(tmp_path)
    fa = os.path.join(root, "data", "fileA.parquet")
    t = pq.read_table(fa)
    pq.write_table(
        pa.table({("wat" if n == "name" else n): t[n] for n in t.schema.names}), fa
    )
    rows = (
        read_table_projected_with_mapping(spark, os.path.join(root, "v5.metadata.json"))
        .orderBy("id")
        .collect()
    )
    assert [r["headline"] for r in rows[:5]] == [None] * 5  # fileA: no alias hit
    assert rows[5]["headline"] == "zeta"  # fileB unaffected


def test_name_mapping_scan_count_is_per_signature_not_per_file(spark, tmp_path):
    # two id-less files written under the SAME historical schema
    # share one scan; the id-bearing file keeps its own
    import shutil as _sh

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.evolution import read_table_projected_with_mapping

    root = _scratch(tmp_path)
    fa = os.path.join(root, "data", "fileA.parquet")
    _strip_ids(fa)
    fa2 = os.path.join(root, "data", "fileA2.parquet")
    _sh.copyfile(fa, fa2)
    res = append_snapshot(
        os.path.join(root, "v5.metadata.json"),
        [{"path": "data/fileA2.parquet", "partition": {}}],
    )
    df = read_table_projected_with_mapping(spark, res["metadata_path"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2  # one per signature, not 3
    assert df.count() == 13


def test_initial_default_fills_pre_add_files_only(spark, tmp_path):
    # v3 initial-default: files written BEFORE the column exists
    # read the default; files written after keep their values —
    # including genuine NULLs (coalesce would get this wrong)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.evolution import (
        evolve_schema,
        read_table_projected,
    )
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    root = _scratch(tmp_path)
    v5 = os.path.join(root, "v5.metadata.json")
    res = evolve_schema(v5, add=[("priority", "long", 7)])
    meta = parse_metadata(res["metadata_path"])
    cur = next(
        s for s in meta.raw["schemas"]
        if s["schema-id"] == meta.raw["current-schema-id"]
    )
    fld = next(f for f in cur["fields"] if f["name"] == "priority")
    assert fld["initial-default"] == 7 and fld["write-default"] == 7

    # a post-add file with real values AND a genuine NULL, written
    # with field ids so the id-resolved reader places it
    pid = fld["id"]
    id_f = next(f for f in cur["fields"] if f["name"] == "id")
    schema = pa.schema([
        pa.field("id", pa.int64(), metadata={b"PARQUET:field_id": str(id_f["id"]).encode()}),
        pa.field("priority", pa.int64(), metadata={b"PARQUET:field_id": str(pid).encode()}),
    ])
    pq.write_table(
        pa.table({"id": pa.array([900, 901], pa.int64()),
                  "priority": pa.array([11, None], pa.int64())}, schema=schema),
        os.path.join(root, "data", "fileP.parquet"),
    )
    res2 = append_snapshot(
        res["metadata_path"], [{"path": "data/fileP.parquet", "partition": {}}]
    )
    df = read_table_projected(spark, res2["metadata_path"])
    by_id = {r["id"]: r["priority"] for r in df.collect()}
    assert by_id[900] == 11
    assert by_id[901] is None          # post-add NULL stays NULL
    # every pre-add row reads the default, not NULL
    pre = [v for k, v in by_id.items() if k not in (900, 901)]
    assert pre and all(v == 7 for v in pre)


# ---------------------------------------- partition-spec evolution


def test_evolve_partition_spec_validation(tmp_path):
    import json as _json

    from iceberg_tools_spark.iceberg.evolution import evolve_partition_spec

    root = tmp_path / "t"
    (root / "metadata").mkdir(parents=True)
    meta0 = {
        "format-version": 2, "table-uuid": "u", "location": f"file://{root}",
        "last-sequence-number": 0, "last-updated-ms": 0, "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "cat", "required": False, "type": "string"},
        ]}],
        "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-sort-order-id": 0, "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {}, "snapshots": [], "snapshot-log": [], "metadata-log": [],
    }
    mp = str(root / "v1.metadata.json")
    _json.dump(meta0, open(mp, "w"))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no changes"):
        evolve_partition_spec(mp)
    with _pytest.raises(ValueError, match="unknown source column"):
        evolve_partition_spec(mp, add=[("x", "identity", "nope")])

    r1 = evolve_partition_spec(mp, add=[("cat", "identity", "cat")])
    raw = _json.load(open(r1["metadata_path"]))
    assert raw["default-spec-id"] == 1
    assert raw["last-partition-id"] == 1000
    assert raw["partition-specs"][1]["fields"][0]["field-id"] == 1000

    with _pytest.raises(ValueError, match="already in spec"):
        evolve_partition_spec(r1["metadata_path"], add=[("cat", "identity", "cat")])

    # add then remove: field-ids keep growing, removed field gone
    r2 = evolve_partition_spec(
        r1["metadata_path"], add=[("b", "bucket[4]", "id")], remove=["cat"]
    )
    raw2 = _json.load(open(r2["metadata_path"]))
    spec2 = raw2["partition-specs"][2]
    assert [f["name"] for f in spec2["fields"]] == ["b"]
    assert spec2["fields"][0]["field-id"] == 1001

    with _pytest.raises(ValueError, match="not in current spec"):
        evolve_partition_spec(r2["metadata_path"], remove=["cat"])


def test_spec_evolution_write_roundtrip_plan(spark):
    from iceberg_tools_spark.iceberg.evolution import (
        spec_evolution_write_roundtrip,
    )

    rows = {r.file_name: r for r in spec_evolution_write_roundtrip(spark, "").collect()}
    assert rows["base.parquet"].selected  # spec-0 file not prunable
    assert all(
        r.selected == name.startswith(("base", "evo-x"))
        for name, r in rows.items()
    )
    assert rows["base.parquet"].total_rows == 20


def test_rewrite_preserves_initial_default_vs_explicit_null(spark, tmp_path):
    """VERDICT r8 #5: compacting a mix of pre-add (default-filled on
    read) and post-add (explicit NULL) files MATERIALIZES the
    default into the new parquet — which is value-preserving per the
    spec's initial-default rule: pre-add rows must keep reading the
    default, post-add NULLs must stay NULL, bit-for-bit the same
    read before and after the rewrite."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.evolution import (
        evolve_schema,
        read_table_projected,
    )
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.rewrite_data import binpack_rewrite

    root = _scratch(tmp_path)
    v5 = os.path.join(root, "v5.metadata.json")
    res = evolve_schema(v5, add=[("priority", "long", 7)])
    meta = parse_metadata(res["metadata_path"])
    cur = next(
        s for s in meta.raw["schemas"]
        if s["schema-id"] == meta.raw["current-schema-id"]
    )
    pid = next(f["id"] for f in cur["fields"] if f["name"] == "priority")
    id_f = next(f for f in cur["fields"] if f["name"] == "id")
    schema = pa.schema([
        pa.field("id", pa.int64(),
                 metadata={b"PARQUET:field_id": str(id_f["id"]).encode()}),
        pa.field("priority", pa.int64(),
                 metadata={b"PARQUET:field_id": str(pid).encode()}),
    ])
    pq.write_table(
        pa.table({"id": pa.array([900, 901], pa.int64()),
                  "priority": pa.array([11, None], pa.int64())}, schema=schema),
        os.path.join(root, "data", "fileP.parquet"),
    )
    res2 = append_snapshot(
        res["metadata_path"], [{"path": "data/fileP.parquet", "partition": {}}]
    )
    before = {
        r["id"]: r["priority"]
        for r in read_table_projected(spark, res2["metadata_path"]).collect()
    }
    assert before[900] == 11 and before[901] is None
    assert 7 in set(before.values())  # pre-add rows read the default

    res3 = binpack_rewrite(
        spark, res2["metadata_path"], target_size_bytes=1 << 20
    )
    after = {
        r["id"]: r["priority"]
        for r in read_table_projected(spark, res3["metadata_path"]).collect()
    }
    assert after == before  # the whole point
    # the rewritten parquet physically carries the materialized
    # default — and the explicit NULL stayed physically NULL
    new_rel = f"data/binpack-{res3['snapshot_id']}-g0000.parquet"
    t = pq.read_table(os.path.join(root, new_rel))
    vals = dict(zip(t.column("id").to_pylist(), t.column("priority").to_pylist()))
    assert vals[901] is None and vals[900] == 11
    assert all(v == 7 for i, v in vals.items() if i not in (900, 901))


def test_iceberg_v3_variant_column_roundtrip(spark, tmp_path):
    """Iceberg v3 `variant` type: a table whose schema declares a
    variant column reads Spark-written VARIANT parquet through the
    MoR path, with `variant_get` extraction working. Footer-derived
    stats are unavailable for variant files (pyarrow can't parse the
    VARIANT logical type), so the append declares record_count
    explicitly — the documented non-parquet-stats shape."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    from iceberg_tools_spark.iceberg.commit import append_snapshot, create_table
    from iceberg_tools_spark.iceberg.deletes import read_mor

    root = str(tmp_path / "ice")
    os.makedirs(root)
    mp = create_table(
        root, [("id", "long"), ("payload", "variant")], format_version=3
    )
    tmpdir = str(tmp_path / "part")
    (
        spark.range(6)
        .select(
            F.col("id"),
            F.parse_json(
                F.concat(F.lit('{"k": '), F.col("id").cast("string"),
                         F.lit("}"))
            ).alias("payload"),
        )
        .coalesce(1)
        .write.parquet(tmpdir)
    )
    rel = "data/f0.parquet"
    shutil.move(glob.glob(os.path.join(tmpdir, "*.parquet"))[0],
                os.path.join(root, rel))
    res = append_snapshot(
        mp,
        [{"path": rel, "partition": {}, "record_count": 6}],
    )
    df = read_mor(spark, res["metadata_path"], res["snapshot_id"])
    assert dict(df.dtypes)["payload"] == "variant"
    got = sorted(
        (r["id"], r["k"])
        for r in df.select(
            "id", F.try_variant_get("payload", "$.k", "long").alias("k")
        ).collect()
    )
    assert got == [(i, i) for i in range(6)]


def test_v3_geo_and_unknown_in_projection_schema():
    """geometry/geography project as binary (WKB storage form);
    `unknown` columns never become scan columns (v3: not stored in
    data files)."""
    from pyspark.sql import types as T

    from iceberg_tools_spark.iceberg.evolution import spark_read_schema

    meta = {
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "shape", "required": False,
             "type": "geometry"},
            {"id": 3, "name": "region", "required": False,
             "type": "geography(ogc:crs84)"},
            {"id": 4, "name": "legacy", "required": False,
             "type": "unknown"},
        ]}],
    }
    sch = spark_read_schema(meta)
    assert [f.name for f in sch.fields] == ["id", "shape", "region"]
    assert isinstance(sch["shape"].dataType, T.BinaryType)
    assert isinstance(sch["region"].dataType, T.BinaryType)


def test_added_column_id_passes_nested_ids_without_last_column_id(tmp_path):
    """A table whose metadata lacks ``last-column-id`` hands a new
    column the id after the largest at ANY depth: with ``id`` (1) and
    struct ``s`` (2) holding ``a`` (3), an added ``c`` gets 4, not a
    second 3."""
    from iceberg_tools_spark.iceberg.commit import commit_version, create_table

    struct = {"type": "struct", "fields": [{"id": 3, "name": "a", "required": False, "type": "string"}]}
    mp = create_table(str(tmp_path / "t"), [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "s", "required": False, "type": struct},
    ])
    raw = json.loads(json.dumps(parse_metadata(mp).raw))
    del raw["last-column-id"]
    res = evo.evolve_schema(commit_version(mp, raw), add=[("c", "string")])
    fields = parse_metadata(res["metadata_path"]).raw["schemas"][-1]["fields"]
    assert res["last_column_id"] == 4
    assert [(f["name"], f["id"]) for f in fields] == [("id", 1), ("s", 2), ("c", 4)]


def test_evolved_v1_table_reads_its_current_schema(tmp_path):
    """A v1 table carrying both the ``schema`` copy and ``schemas``
    takes its current schema from ``schemas[current-schema-id]``:
    evolution appends to ``schemas`` and rewrites the copy to the new
    current schema (as Java Iceberg writes v1 metadata), and bound
    decoding must use the promoted type."""
    from iceberg_tools_spark.iceberg.commit import commit_version, create_table
    from iceberg_tools_spark.iceberg.metadata import current_schema, field_id_types
    from iceberg_tools_spark.iceberg.table_stats import _field_types

    mp = create_table(str(tmp_path / "t"), [("id", "int"), ("name", "string")],
                      format_version=1)
    raw = json.loads(json.dumps(parse_metadata(mp).raw))
    raw["schema"] = {"type": "struct", "fields": raw["schemas"][0]["fields"]}
    mp = commit_version(mp, raw)
    assert field_id_types(parse_metadata(mp).raw) == {1: "int", 2: "string"}

    meta = parse_metadata(evo.evolve_schema(mp, promote={"id": "long"})["metadata_path"])
    assert meta.raw["schema"]["fields"][0]["type"] == "long"  # the copy follows
    assert meta.raw["current-schema-id"] == 1
    assert meta.current_schema["schema-id"] == 1
    assert field_id_types(meta.raw) == {1: "long", 2: "string"}
    assert _field_types(meta) == {"id": "long", "name": "string"}
    # without a schemas list the v1 key is the schema
    legacy = {k: v for k, v in meta.raw.items() if k not in ("schemas", "current-schema-id")}
    assert current_schema(legacy) is legacy["schema"]
