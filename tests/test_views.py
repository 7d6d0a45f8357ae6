"""Iceberg view spec v1: create / replace / time-travel resolution,
catalog-layout versioning, dialect fallback."""

from __future__ import annotations

import json
import os

import pytest

from iceberg_tools_spark.iceberg.views import (
    VIEW_SQL_V1,
    VIEW_SQL_V2,
    create_view,
    read_view,
    replace_view,
    view_sql,
    view_versions,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def view_paths(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("views") / "v")
    p1 = create_view(root, VIEW_SQL_V1)
    p2 = replace_view(p1, VIEW_SQL_V2)
    return p1, p2


def test_view_metadata_shape(view_paths):
    p1, p2 = view_paths
    meta = json.load(open(p2))
    assert meta["format-version"] == 1
    assert meta["current-version-id"] == 2
    assert [v["version-id"] for v in meta["versions"]] == [1, 2]
    assert [e["version-id"] for e in meta["version-log"]] == [1, 2]
    reps = meta["versions"][0]["representations"]
    assert reps == [{"type": "sql", "sql": VIEW_SQL_V1, "dialect": "spark"}]
    # hadoop-catalog layout: version hint points at the new file
    hint = open(os.path.join(os.path.dirname(p2), "version-hint.text")).read()
    assert hint == "2" and p2.endswith("v2.metadata.json")


def test_view_time_travel_sql(view_paths):
    _, p2 = view_paths
    assert view_sql(p2) == VIEW_SQL_V2
    assert view_sql(p2, version_id=1) == VIEW_SQL_V1
    with pytest.raises(ValueError, match="no version 9"):
        view_sql(p2, version_id=9)


def test_view_execution_both_versions(spark, view_paths):
    _, p2 = view_paths
    lineitem = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    cur = read_view(spark, p2, {"lineitem": lineitem})
    assert set(cur.columns) == {
        "l_returnflag", "l_linestatus", "n_items", "sum_qty", "sum_price"
    }
    old = read_view(spark, p2, {"lineitem": lineitem}, version_id=1)
    assert set(old.columns) == {"l_returnflag", "n_items", "sum_qty"}
    # v2 refines v1: summing v2's groups per returnflag = v1's rows
    v2_roll = {
        (r.l_returnflag): r
        for r in cur.groupBy("l_returnflag").sum("n_items").collect()
    }
    for r in old.collect():
        assert v2_roll[r.l_returnflag]["sum(n_items)"] == r.n_items


def test_view_dialect_fallback(tmp_path):
    p = create_view(str(tmp_path / "d"), "SELECT 1 AS one", dialect="trino")
    # requested spark dialect missing → falls back to the only rep
    assert view_sql(p, dialect="spark") == "SELECT 1 AS one"


def test_view_versions_listing(view_paths):
    _, p2 = view_paths
    vs = view_versions(p2)
    assert [v["version_id"] for v in vs] == [1, 2]
    assert [v["operation"] for v in vs] == ["create", "replace"]
    assert [v["is_current"] for v in vs] == [False, True]


def test_view_temp_views_cleaned_up(spark, view_paths):
    _, p2 = view_paths
    lineitem = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    read_view(spark, p2, {"lineitem": lineitem})
    leftovers = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("lineitem_")
    ]
    assert leftovers == []


def test_view_table_name_substring_safe(spark, tmp_path):
    """ADVICE r8: rewriting referenced table names into suffixed
    temp views must replace WHOLE identifiers only — a table named
    'line' must not mangle the column 'lineitem' or 'line_total'."""
    from iceberg_tools_spark.iceberg.views import create_view

    root = str(tmp_path / "v")
    p = create_view(
        root,
        "SELECT lineitem, line_total + 1 AS line_total "
        "FROM line WHERE lineitem > 0",
    )
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "lineitem int, line_total double"
    )
    out = read_view(spark, p, {"line": df})
    assert sorted(out.columns) == ["line_total", "lineitem"]
    assert sorted(r.lineitem for r in out.collect()) == [1, 2]


def test_view_overlapping_table_names(spark, tmp_path):
    """Two referenced tables where one name prefixes the other both
    rewrite correctly (longest-first + boundary guards)."""
    from iceberg_tools_spark.iceberg.views import create_view

    root = str(tmp_path / "v2")
    p = create_view(
        root,
        "SELECT a.id, b.val FROM item a JOIN item_ext b ON a.id = b.id",
    )
    item = spark.createDataFrame([(1,), (2,)], "id int")
    item_ext = spark.createDataFrame([(1, "x"), (2, "y")], "id int, val string")
    out = read_view(spark, p, {"item": item, "item_ext": item_ext})
    assert out.count() == 2


def test_replace_view_after_deleting_an_old_version(tmp_path):
    """Deleting an old version no longer shifts the next version's
    number onto a live file: replace names v<N+1> after the version it
    replaces, every live version keeps its bytes, and replacing from a
    superseded version is a conflict, not an overwrite."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    p1 = create_view(str(tmp_path / "v"), VIEW_SQL_V1)
    p2 = replace_view(p1, VIEW_SQL_V2)
    p3 = replace_view(p2, VIEW_SQL_V1)
    os.remove(p1)
    live = {p: open(p, "rb").read() for p in (p2, p3)}
    p4 = replace_view(p3, VIEW_SQL_V2)
    assert os.path.basename(p4) == "v4.metadata.json"
    assert {p: open(p, "rb").read() for p in (p2, p3)} == live
    assert json.load(open(p4))["current-version-id"] == 4
    with pytest.raises(CommitConflictError):
        replace_view(p3, VIEW_SQL_V1)
    assert open(os.path.join(os.path.dirname(p4), "version-hint.text")).read() == "4"
