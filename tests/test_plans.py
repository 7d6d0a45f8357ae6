"""Plan-shape assertions: the scale posture, enforced.

Every headline operator must (a) push its filters into the parquet
scan, (b) read only the columns it uses, (c) broadcast provably
small dimensions, (d) avoid cartesian products except where the
operator is defined by one, and (e) keep the hot path inside
WholeStageCodegen."""

from __future__ import annotations

import pytest

from iceberg_tools_spark.operators import dedup, events, similarity, tpch, tpch_ext
from iceberg_tools_spark.plans import checks

from .conftest import SF_ORACLE


def test_q1_pushdown_and_pruning(spark):
    df = tpch.q1_pricing_summary(spark, SF_ORACLE)
    assert checks.has_pushed_filters(df), "shipdate filter must reach the scan"
    cols = checks.scan_columns(df)
    assert len(cols) == 1
    assert cols[0] <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }, f"scan reads too much: {cols[0]}"
    assert checks.no_python_eval(df), "relational hot path must stay JVM-side"


def test_q6_fully_pushed_scan(spark):
    df = tpch.q6_revenue_change(spark, SF_ORACLE)
    assert checks.has_pushed_filters(df)
    assert checks.cartesian_joins(df) == 0


def test_q5_broadcasts_dims_no_cartesian(spark):
    df = tpch.q5_local_supplier_volume(spark, SF_ORACLE)
    assert checks.has_broadcast_join(df)
    assert checks.cartesian_joins(df) == 0


def test_q9_broadcasts_part_filter(spark):
    df = tpch.q9_product_type_profit(spark, SF_ORACLE)
    assert checks.has_broadcast_join(df)
    assert checks.cartesian_joins(df) == 0


def test_q18_no_cartesian(spark):
    df = tpch.q18_large_volume_customers(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0


def test_q8_broadcasts_dims_no_cartesian(spark):
    df = tpch_ext.q8_market_share(spark, SF_ORACLE)
    assert checks.has_broadcast_join(df)
    assert checks.cartesian_joins(df) == 0
    assert checks.no_python_eval(df)


def test_q2_pushes_part_filter(spark):
    df = tpch_ext.q2_min_cost_supplier(spark, SF_ORACLE)
    assert checks.has_pushed_filters(df)
    assert checks.has_broadcast_join(df)
    assert checks.cartesian_joins(df) == 0


def test_q11_scalar_total_is_broadcast(spark):
    # the one-row national total joins back via broadcast, not a
    # shuffled cartesian
    df = tpch_ext.q11_important_part_value(spark, SF_ORACLE)
    p = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in p


def test_sessionize_single_shuffle_for_window(spark):
    df = events.sessionize_events(spark, SF_ORACLE)
    # one exchange for the user_id window + the final presentation
    # sort; no joins
    assert checks.cartesian_joins(df) == 0
    assert checks.shuffle_count(df) <= 2


def test_asof_join_is_union_window_not_range_join(spark):
    df = events.asof_join_events_orders(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0
    p = checks.plan_string(df, "simple")
    assert "Union" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # order dedup agg + uid window + presentation sort — NOT a
    # pair-explosion range join (which would add joins/exchanges
    # proportional to overlap)
    assert checks.shuffle_count(df) <= 3


def test_q1_two_shuffles(spark):
    # partial-agg shuffle + presentation sort, nothing else
    assert checks.shuffle_count(tpch.q1_pricing_summary(spark, SF_ORACLE)) <= 2


def test_q6_single_pass(spark):
    assert checks.shuffle_count(tpch.q6_revenue_change(spark, SF_ORACLE)) <= 1


def test_minhash_join_is_equi_bucket_join(spark):
    df = dedup.dedup_minhash_lsh(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0, "LSH must never all-pairs join"


def test_ngram_jaccard_no_cartesian(spark):
    df = dedup.dedup_ngram_jaccard(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0


def test_near_dup_bucket_join_no_cartesian(spark):
    df = similarity.embedding_near_dup(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0


def test_bruteforce_is_the_only_sanctioned_nested_loop(spark):
    # the ANN baseline is DEFINED as a crossJoin (broadcast side is
    # the 10-row query set) — sanctioned here, banned everywhere else
    df = similarity.ann_topk_bruteforce(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) >= 1


def test_minhash_plan_contract(spark):
    """LSH hot-path contract: no pair explosion (bucket-cap filter
    compiled into the plan), no ROW-AT-A-TIME Python eval, no
    cartesian. The signature kernel is the sanctioned Arrow-batched
    fast path (same rule as the IVF contract below): ArrowEvalPython
    allowed, BatchEvalPython banned."""
    df = dedup.dedup_minhash_lsh(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0
    p = checks.plan_string(df, "simple")
    assert "BatchEvalPython" not in p
    assert p.count("ArrowEvalPython") <= 1  # exactly the sig kernel
    # the MAX_BUCKET guard must survive into the physical plan as a
    # filter on the bucket-size aggregate
    assert f"<= {dedup.MAX_BUCKET}" in p, "bucket-cap filter missing from plan"


def test_ivf_plan_contract(spark):
    """IVF hot-path contract: centroid assignment is a BROADCAST
    nested loop (centroids are k×dims, tiny by construction), never
    a shuffled CartesianProduct; the probe→corpus meet is an
    equi-join on cell; nothing leaves the JVM."""
    df = similarity.ann_ivf_topk(spark, SF_ORACLE)
    p = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # centroids broadcast
    # vector dots are the sanctioned Arrow fast path — Arrow-batched
    # eval allowed, row-at-a-time Python banned
    assert "BatchEvalPython" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_decontaminate_minhash_plan_contract(spark):
    """Fuzzy decontamination hot path: no cartesian, no row-at-a-
    time Python (the Arrow signature kernel is the only Python),
    bucket cap compiled into the plan."""
    df = dedup.decontaminate_minhash(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0
    p = checks.plan_string(df, "simple")
    assert "BatchEvalPython" not in p
    assert f"<= {dedup.MAX_BUCKET}" in p


def test_corpus_funnel_single_pass(spark):
    """The funnel reads the corpus once (checkpointed flag frame
    feeds both aggregates); the final 5-row join is broadcast."""
    from iceberg_tools_spark.operators.text import corpus_filter_funnel

    df = corpus_filter_funnel(spark, SF_ORACLE)
    p = checks.plan_string(df, "simple")
    assert "CartesianProduct" not in p  # scalar cross is broadcast-NL
    assert checks.no_python_eval(df)


def test_substring_coverage_no_cartesian_scan_pruned(spark):
    df = dedup.dedup_substring_coverage(spark, SF_ORACLE)
    assert checks.cartesian_joins(df) == 0
    cols = checks.scan_columns(df)
    assert all(c <= {"doc_id", "source", "text"} for c in cols), cols
    assert checks.no_python_eval(df), "n-gram path must stay JVM-side"


def test_semdedup_pairs_broadcasts_centroids_equi_cell_join(spark):
    import math
    import re

    from pyspark.sql import functions as F

    from iceberg_tools_spark.operators import semdedup
    from iceberg_tools_spark.operators.similarity import (
        _ivf_assign,
        corpus_size,
        sum_squares,
        train_centroids,
    )
    from iceberg_tools_spark.sources.readers import load_table

    # since r16 the capped assignment is localCheckpoint'ed (it
    # feeds several consumers), so the two plan contracts pin on
    # the two halves: (1) the ASSIGNMENT plan carries the one
    # deliberate broadcast nested loop (corpus × k centroids, k
    # bounded) and nothing cartesian
    e = load_table(spark, SF_ORACLE, "embeddings", ["vec_id", "embedding"])
    base = e.select("vec_id", "embedding", sum_squares("embedding").alias("ss"))
    k = math.ceil(math.sqrt(corpus_size(spark, SF_ORACLE)))
    assign_plan = checks.plan_string(_ivf_assign(base, train_centroids(base, k)))
    assert "BroadcastNestedLoopJoin" in assign_plan
    assert assign_plan.count("CartesianProduct") == 0

    # (2) the PAIR join itself must be an equi join on the cell id
    # — never all-pairs, never nested-loop
    df = semdedup.dedup_semantic_pairs(spark, SF_ORACLE)
    plan = checks.plan_string(df)
    assert plan.count("CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    joins = re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)
    assert joins, "within-cell pair generation must be an equi join"


def test_bpe_stats_scan_reads_only_needed_columns(spark):
    from iceberg_tools_spark.operators import bpe

    docs_cols = {"doc_id", "text", "source", "n_chars"}
    merges = bpe.train_bpe(
        bpe.word_histogram(
            spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
                "doc_id", "text", "source", "n_chars"
            )
        )
    )
    df = bpe.encode_stats(
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
            "doc_id", "text", "source", "n_chars"
        ),
        merges,
    )
    cols = checks.scan_columns(df)
    assert all(c <= docs_cols for c in cols), cols


def test_parquet_import_read_is_one_scan_with_broadcasts(spark, tmp_path):
    import os

    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.sources.parquet_import import import_parquet_table

    lake = str(tmp_path / "lake")
    (
        spark.read.parquet(os.path.join(SF_ORACLE, "orders.parquet"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .repartition("o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .parquet(lake)
    )
    res = import_parquet_table(spark, lake, str(tmp_path / "t"))
    df = read_mor(spark, res["metadata_path"], res["snapshot_id"])
    plan = checks.plan_string(df)
    # partition-constant attach must be a broadcast per-file join,
    # and the data side ONE parquet scan
    assert checks.has_broadcast_join(df)
    import re

    # the formatted plan lists each node in the tree AND the detail
    # section — count detail entries "(N) Scan parquet"
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert checks.cartesian_joins(df) == 0


def test_mv_refresh_plan_never_rescans_base(spark, tmp_path):
    """Materialized-view refresh (r9): the maintained state's plan
    reads the STATE parquet + the changelog's file set — never the
    base table wholesale. We assert the shape on the maintenance
    expression itself: one join, no cartesian, JVM-only."""
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.ivm import (
        create_materialized_view,
        read_materialized_view,
        refresh_materialized_view,
    )

    root = str(tmp_path / "mv")
    res = create_materialized_view(
        spark, root, MOR_METADATA, keys=["category"], sums=["id"],
        base_dir=MOR_DIR, snapshot_id=2001,
    )
    ref = refresh_materialized_view(
        spark, res["view_metadata_path"], MOR_METADATA, base_dir=MOR_DIR
    )
    out = read_materialized_view(spark, ref["view_metadata_path"])
    # the refreshed state is a plain parquet scan — reading the view
    # touches neither the base table nor the changelog
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR

    assert len(checks.scan_columns(out)) == 1
    assert checks.no_python_eval(out)
    plan = checks.plan_string(out)
    assert "state-2004" in plan          # the refreshed state parquet...
    assert MOR_DIR not in plan           # ...and not the base table's files


def test_distributed_entries_df_is_rdd_scan(spark, monkeypatch, tmp_path):
    """Above the manifest threshold, the $entries DataFrame is built
    from the executor-parsed RDD — the plan scans ExistingRDD, not
    driver-local rows (VERDICT r8 #1)."""
    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import manifest_files_at
    from iceberg_tools_spark.iceberg.tables import manifest_entries_df

    meta = parse_metadata(MOR_METADATA)
    paths = [
        m["local_path"]
        for m in manifest_files_at(meta, meta.current_snapshot_id, MOR_DIR)
    ]
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", 1)
    df = manifest_entries_df(spark, paths, meta.raw)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert df.count() > 0


def test_plan_scan_distributed_is_rdd_scan(spark, monkeypatch):
    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    meta = parse_metadata(MOR_METADATA)
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", 1)
    df = plan_scan(spark, MOR_METADATA, meta.current_snapshot_id)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert df.count() > 0


@pytest.mark.parametrize(
    "threshold, jobs", [(1, 1), (10**9, 0)], ids=["executor", "driver"]
)
def test_plan_scan_collects_in_order_without_a_sort(
    spark, monkeypatch, threshold, jobs
):
    """plan_scan's rows are born in (manifest_name, file_path) order:
    its plan holds no Sort and no Exchange, collecting it runs one
    job when the manifests parse on executors and none when they
    parse on the driver."""
    import re

    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.deletes import MOR_METADATA
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    from .conftest import spark_job_ids

    meta = parse_metadata(MOR_METADATA)
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
    df = plan_scan(spark, MOR_METADATA, meta.current_snapshot_id)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\b(?:Sort|Exchange)\b", plan) == []
    with spark_job_ids(spark) as ids:
        rows = df.collect()
    assert len(rows) > 1 and len(ids) == jobs
    keys = [(r.manifest_name, r.file_path) for r in rows]
    assert keys == sorted(keys)


@pytest.mark.parametrize(
    "threshold, jobs", [(1, 1), (10**9, 0)], ids=["executor", "driver"]
)
def test_partitions_df_aggregates_without_a_spark_job(
    spark, monkeypatch, threshold, jobs
):
    """partitions_df folds per-partition partials while the manifests
    decode, so its plan holds no aggregate, Sort or Exchange: building
    and collecting it runs one job when the manifests decode on
    executors (collecting the partials) and none when they decode on
    the driver."""
    import re

    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import manifest_paths_at
    from iceberg_tools_spark.iceberg.tables import partitions_df

    from .conftest import spark_job_ids

    meta = parse_metadata(MOR_METADATA)
    paths = manifest_paths_at(meta, meta.current_snapshot_id, MOR_DIR)
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", threshold)
    with spark_job_ids(spark) as ids:
        df = partitions_df(spark, paths, meta.raw)
        rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\b(?:\w*Aggregate|Sort|Exchange)\b", plan) == []
    assert len(rows) > 1 and len(ids) == jobs


def test_perceptual_dedup_plans_no_cartesian(spark):
    """The image/audio/video dedupers must join only through band
    buckets (equi-join) — never a cartesian — and keep exactly one
    Arrow eval (the decode+hash kernel) in the plan."""
    from iceberg_tools_spark.operators.image_dedup import (
        image_dhash_df,
        make_image_corpus,
        near_dup_image_pairs,
    )

    # the gates localCheckpoint the hash frame so the Arrow
    # decode+hash kernel evaluates ONCE and the self-join reads the
    # materialized hashes (the dedup_clusters edge-DAG lesson)
    hashed = image_dhash_df(make_image_corpus(spark, n_groups=4)).localCheckpoint()
    pairs = near_dup_image_pairs(hashed)
    assert checks.cartesian_joins(pairs) == 0
    plan = checks.plan_string(pairs)
    assert "MapInPandas" not in plan  # kernel ran at checkpoint time


def test_image_dedup_survivors_composition(spark):
    """The perceptual pairs compose with the existing connected-
    components survivor machinery: one keeper per near-dup group."""
    from iceberg_tools_spark.operators.components import connected_components
    from iceberg_tools_spark.operators.image_dedup import (
        image_dhash_df,
        make_image_corpus,
        near_dup_image_pairs,
    )
    from pyspark.sql import functions as F

    hashed = image_dhash_df(make_image_corpus(spark, n_groups=6)).localCheckpoint()
    pairs = near_dup_image_pairs(hashed)
    comp = connected_components(pairs.select("ia", "ib"), "ia", "ib")
    keepers = comp.groupBy("component").agg(F.min("vertex").alias("keeper"))
    got = sorted(r.keeper for r in keepers.collect())
    # every group collapses to its min item id (g*10)
    assert got == [g * 10 for g in range(6)]


def test_bm25_topk_two_stage_salted_window(spark):
    """VERDICT r9 #2: the bm25 final ranking must never sort
    corpus-scale rows into |queries| partitions. Contract: two
    Window nodes — stage 1 partitioned by (query_id, _salt), the
    final one fed only by stage-1 survivors (its WindowGroupLimit
    sits above the salted rank filter)."""
    import re

    from iceberg_tools_spark.operators.bm25 import bm25_topk

    df = bm25_topk(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    wins = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert len(wins) == 2
    # physical order is outermost-first: final window partitions by
    # query_id alone, the inner (stage-1) one by (query_id, _salt)
    assert "_salt" not in wins[0]
    assert "_salt" in wins[1]
    # (the plan's two BroadcastNestedLoopJoins are the sanctioned
    # one-row scalar crossJoins: corpus stats and probe-term idf)


def test_salted_topk_equals_plain_topk(spark):
    """top_k_per_group_salted is exact: identical rows and ranks to
    the single-window top-k on a skewed low-cardinality key."""
    from pyspark.sql import functions as F

    from iceberg_tools_spark.operators.topk import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 2654435761) % 1000).alias("v"),
        F.col("id"),
    )
    order = [F.col("v").desc(), F.col("id")]
    plain = top_k_per_group(df, ["g"], order, 7).orderBy("g", "rk")
    salted = top_k_per_group_salted(
        df, ["g"], order, 7, salt_col="id", n_salts=8
    ).orderBy("g", "rk")
    assert plain.collect() == salted.select(plain.columns).collect()


def test_theta_sketch_windows_plan_a_group_limit(spark, monkeypatch):
    """The per-column and per-(column, partition) top-(k+1) windows of
    the theta sketches plan a ``WindowGroupLimit`` (k + 1 = 4097 is
    within ``get_spark``'s windowGroupLimitThreshold), so each group
    is trimmed to k + 1 hashes before the window sorts it."""
    from pyspark.sql.classic.dataframe import DataFrame

    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.table_stats import (
        columns_theta_sketches,
        partition_column_sketches,
    )

    plans: list[str] = []
    collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    df = spark.range(50).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
    columns_theta_sketches(df, {"id": "long", "s": "string"}, ["id", "s"])
    partition_column_sketches(spark, MOR_METADATA, 2004, MOR_DIR)
    windowed = [p for p in plans if "row_number()" in p]
    assert len(windowed) == 2, plans
    assert all("WindowGroupLimit" in p for p in windowed), windowed


def test_theta_sketch_windows_reject_lg_k_past_the_group_limit(spark):
    """Above lg_k 12 the top-(k+1) window would lose its
    ``WindowGroupLimit`` under ``get_spark``'s threshold: both theta
    window builders refuse it by name instead of sorting whole groups."""
    from iceberg_tools_spark.iceberg.deletes import MOR_DIR, MOR_METADATA
    from iceberg_tools_spark.iceberg.table_stats import (
        columns_theta_sketches,
        partition_column_sketches,
    )
    from iceberg_tools_spark.session import WINDOW_GROUP_LIMIT

    assert spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == str(WINDOW_GROUP_LIMIT)
    df = spark.range(5).selectExpr("id")
    with pytest.raises(ValueError, match="windowGroupLimitThreshold=4097"):
        columns_theta_sketches(df, {"id": "long"}, ["id"], lg_k=13)
    with pytest.raises(ValueError, match="windowGroupLimitThreshold=4097"):
        partition_column_sketches(spark, MOR_METADATA, 2004, MOR_DIR, lg_k=13)
