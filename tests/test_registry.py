"""The query registry: the driver's 50-slot window, the key count and
one declaration per name."""

from __future__ import annotations

import pytest

from iceberg_tools_spark import registry

# The driver adjudicates the FIRST 50 registry entries; slot 1 is the
# probe_double canary. Pinned as a literal so a reorder of the table
# cannot spend the window elsewhere unnoticed.
DRIVER_WINDOW = [
    "probe_double",
    "delta_row_tracking_rows",
    "quality_model_check",
    "geo_scan_rows",
    "lineage_bridge_rows",
    "delta_ict_rows",
    "rest_view_rows",
    "cdc_replicate_roundtrip",
    "changelog_stream_rows",
    "column_stats_orders",
    "commit_delete_roundtrip",
    "commit_eq_delete_roundtrip",
    "dedup_survivors",
    "delete_compaction_plan",
    "delete_where_dv_roundtrip",
    "delete_where_roundtrip",
    "delta_migrate_rows",
    "delta_replicate_full_rows",
    "embedding_near_dup",
    "expire_execute_roundtrip",
    "files_at_snapshot_mor",
    "files_at_tag",
    "incremental_stream_rows",
    "merge_into_roundtrip",
    "merge_transform_partitions",
    "meta_all_files",
    "meta_delete_files",
    "meta_dv_blobs",
    "meta_partition_stats",
    "meta_position_deletes",
    "meta_refs",
    "meta_schemas",
    "meta_typed_bounds",
    "mor_live_rows_dv",
    "mor_read_evolved",
    "near_dup_rate_by_source",
    "quality_score_linear",
    "rewrite_datafiles_roundtrip",
    "rewrite_pos_deletes_roundtrip",
    "rollback_roundtrip",
    "row_lineage_rows",
    "scan_plan_evolved",
    "scan_plan_mor",
    "scan_plan_tasks_dv",
    "scan_plan_transforms",
    "schema_evolution_name_mapping",
    "schema_evolution_read",
    "sorted_rewrite_prunes",
    "update_where_roundtrip",
    "wap_publish_roundtrip",
]


def test_driver_window_order_pinned():
    keys = list(registry.queries())
    assert keys[:50] == DRIVER_WINDOW
    assert len(keys) == 201


def test_duplicate_query_name_raises():
    entry = registry._QUERIES[0]
    assert registry._index([entry])
    with pytest.raises(ValueError, match="declared twice"):
        registry._index([entry, *registry._QUERIES[1:3], entry])
