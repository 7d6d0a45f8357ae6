"""Headline-query benchmark — the driver's perf feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
exactly ONE JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1, ...}

Each query is materialized through the ``noop`` sink so every output
column is computed and nothing is shipped to the driver — the number
is engine time, not collect time. One warm session for the whole run
(session startup is reported separately, not folded into queries).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return -1.0


# Pinned baseline (VERDICT r5 #6): the round-5 bench numbers in
# CALIBRATION UNITS (raw seconds ÷ that run's calibration_sec of
# 1.111 — the fixed pure-CPU range-sum job). Each bench run emits
# queries_calibrated (this run's raw ÷ this run's calibration_sec)
# and vs_baseline ratios against these, so "within 2× of baseline"
# is checkable across hosts of different speeds. BASELINE.md carries
# the same table in prose. Calibration tracks CPU throughput, not
# scheduler latency, so sub-second queries wobble more than long
# ones — judge on the median and the heavy tail, not single lines.
_R5_CALIBRATION = 1.111
_R5_RAW = {
    "q1_pricing_summary": 3.423,
    "q3_shipping_priority": 1.928,
    "q5_local_supplier_volume": 1.712,
    "q9_product_type_profit": 2.102,
    "q8_market_share": 2.183,
    "q13_customer_distribution": 0.997,
    "q18_large_volume_customers": 1.458,
    "q21_sole_fault_supplier": 1.307,
    "top_k_per_group": 1.2,
    "cube_status_priority": 1.07,
    "sessionize_events": 1.409,
    "asof_join_events_orders": 1.746,
    "retention_day_n": 0.86,
    "sliding_window_agg": 1.416,
    "events_props_stats": 0.89,
    "dedup_exact": 1.645,
    "dedup_minhash_lsh": 5.923,
    "dedup_simhash": 4.994,
    "text_quality": 0.909,
    "embedding_near_dup": 2.76,
    "ann_topk_bruteforce": 1.063,
    "pack_sequences": 0.971,
    "ann_ivf_topk": 5.687,
    "dedup_clusters": 6.726,
    "meta_manifest_entries": 1.789,
    "files_at_snapshot": 0.81,
    "meta_rewritten_files": 0.725,
    "decontaminate_ngram": 1.324,
    "pii_scrub_stats": 0.739,
}
BASELINE_CAL = {k: round(v / _R5_CALIBRATION, 3) for k, v in _R5_RAW.items()}

# Round-7 extension (VERDICT r7 #8): the 11 headline queries that
# joined after r5 had no pinned baseline, so regressions on them
# were undetectable. Pinned here from BENCH_r07.json's FIRST-RUN
# raws (not best-of-2 — first-run-to-first-run is the unbiased
# comparison; VERDICT r7 "What's wrong" #3) at that run's
# calibration of 0.892 s. BASELINE.md §v2 carries the same table.
_R7_CALIBRATION = 0.892
_R7_RAW = {
    "mor_live_rows": 0.823,
    "doc_repetition_stats": 1.240,
    "source_dup_stats": 0.899,
    "decontaminate_minhash": 1.863,
    "changelog_rows": 2.245,
    "schema_evolution_read": 0.161,
    "scan_plan_transforms": 0.811,
    "merge_transform_partitions": 2.241,
    "rewrite_pos_deletes_roundtrip": 2.525,
    "mixture_plan": 0.528,
    "ann_pq_topk": 2.786,
}
BASELINE_CAL.update(
    {k: round(v / _R7_CALIBRATION, 3) for k, v in _R7_RAW.items()}
)

# Round-8 pins: every query born in round 8, from the clean
# idle-host r8 bench run's FIRST-RUN raws at that run's calibration
# (0.938 s). stream_join_rows is pinned at its post-fix form (state
# partitions sized to state volume: 15.5 s → 3.2 s measured).
_R8_CALIBRATION = 0.938
_R8_RAW = {
    "ann_ivfpq_topk": 4.751,
    "commit_conflict_roundtrip": 4.345,
    "meta_stats_partition_scoped": 3.276,
    "lm_bigram_stats": 1.080,
    "media_probe_stats": 0.919,
    "range_join_transit": 0.888,
    "changelog_agg_maintenance": 2.473,
    "wap_cherrypick_roundtrip": 0.999,
    "meta_position_deletes": 0.232,
    "dedup_paragraph_stats": 1.165,
    "row_lineage_rows": 1.747,
    "delta_log_rows": 0.349,
    "delta_migrate_rows": 0.843,
    "parquet_import_rows": 1.754,
    "view_roundtrip_rows": 0.511,
    "bpe_roundtrip_check": 1.140,
    "bpe_token_stats": 1.293,
    "dedup_semantic_pairs": 2.517,
    "snapshot_summary_audit": 0.685,
}
BASELINE_CAL.update(
    {k: round(v / _R8_CALIBRATION, 3) for k, v in _R8_RAW.items()}
)

# Late-round-8 gates, pinned from the FINAL round-8 in-bench run
# (calibration 0.770) — standalone-session measurements
# under-estimated the in-bench cost of the streaming gates, so
# their pins come from a real bench context like everything else.
# stream_ivm_rows is re-pinned here too (the state-volume partition
# sizing landed between the two runs).
_R8B_CALIBRATION = 0.770
_R8B_RAW = {
    "stream_join_rows": 4.263,
    "stream_ivm_rows": 5.345,
    "wap_audit_publish_roundtrip": 4.386,
    "binpack_rewrite_roundtrip": 3.531,
    "spec_evolution_write": 1.178,
    # standalone estimate (warm 4.5 s, cold 10.4 s); first real
    # in-bench raw lands next round
    "dedup_substring_coverage": 5.5,
}
BASELINE_CAL.update(
    {k: round(v / _R8B_CALIBRATION, 3) for k, v in _R8B_RAW.items()}
)

# Round-9 pins: the queries that joined the headline set in round 9,
# from the clean end-of-round-9 bench run's FIRST-RUN raws at that
# run's calibration (0.968 s). dedup_substring_coverage is RE-pinned
# at its post-localCheckpoint level (VERDICT r8 #9: the grams
# subtree no longer evaluates twice — 5.5 → 4.0 s raw), and
# orphan_delete_roundtrip gets its first pin (it predates r9 but
# never sat in the headline set; its listing is now a Spark job).
_R9_CALIBRATION = 0.968
_R9_RAW = {
    "view_ivm_roundtrip": 3.880,
    "ann_ivfpq_recall_check": 6.280,
    "bpe_token_check": 1.532,
    "dedup_semantic_check": 3.403,
    "delta_replicate_rows": 0.572,
    "delta_replicate_full_rows": 0.872,
    "orphan_delete_roundtrip": 1.850,
    "dedup_substring_coverage": 4.045,
}
BASELINE_CAL.update(
    {k: round(v / _R9_CALIBRATION, 3) for k, v in _R9_RAW.items()}
)

# Late-round-9 gates (perceptual image/audio dedup, BM25,
# $metadata_log_entries), pinned from the FINAL round-9 idle bench
# run's first-run raws at that run's calibration (0.868 s).
_R9B_CALIBRATION = 0.868
_R9B_RAW = {
    "dedup_images_dhash": 1.189,
    "dedup_audio_afp": 1.245,
    "bm25_topk": 2.180,
    "meta_metadata_log": 0.627,
}
# video frame-hash voting joined last (measured at calibration
# 0.893 in the final end-of-round run; normalized to this block's
# basis for one fewer constant)
_R9B_RAW["dedup_videos_framehash"] = round(1.921 * _R9B_CALIBRATION / 0.893, 3)
BASELINE_CAL.update(
    {k: round(v / _R9B_CALIBRATION, 3) for k, v in _R9B_RAW.items()}
)

# Round-10 pins, from the clean end-of-round-10 idle run's FIRST-RUN
# raws at that run's calibration (1.142 s). First pins: the three
# r10 headline newcomers. RE-pins: the four keys whose
# implementation deliberately changed this round — the perceptual
# trio (exact-collapse + census-capped banded join; the image gate
# additionally moved to the 4-variant 64×96 entropy-fixed corpus,
# ~2× the pixels per image) and bm25 (two-stage salted top-k).
_R10_CALIBRATION = 1.142
_R10_RAW = {
    "media_stream_dedup_rows": 6.395,
    "view_ivm_minmax": 5.068,
    "delta_dv_rows": 0.645,
    "dedup_images_dhash": 1.784,
    "dedup_audio_afp": 1.567,
    "dedup_videos_framehash": 2.350,
    "bm25_topk": 2.325,
}
BASELINE_CAL.update(
    {k: round(v / _R10_CALIBRATION, 3) for k, v in _R10_RAW.items()}
)

# Late-round-10 addendum: Change Data Feed joined the headline set
# after the v5 pins (final end-of-round run, calibration 0.818).
_R10B_CALIBRATION = 0.818
_R10B_RAW = {"delta_cdf_rows": 0.717}
BASELINE_CAL.update(
    {k: round(v / _R10B_CALIBRATION, 3) for k, v in _R10B_RAW.items()}
)

# Round-12 newcomer: CDF-driven Delta→Iceberg replication. Pinned
# from the r12 mid-round run (calibration 0.944) AFTER the
# one-write-per-version optimization (partitionBy on _change_type
# replaced the separate insert/delete spill jobs: 4.15 → ~3.3 s).
_R12_CALIBRATION = 0.944
_R12_RAW = {"delta_cdf_replicate_rows": 3.3}
BASELINE_CAL.update(
    {k: round(v / _R12_CALIBRATION, 3) for k, v in _R12_RAW.items()}
)

# Second r12 addendum: Delta VACUUM joined the headline set
# (pinned from the mid-round skip-scale run, calibration 0.907 —
# scratch table build + two tombstone generations + the distributed
# listing + head read-back).
_R12B_CALIBRATION = 0.907
_R12B_RAW = {"delta_vacuum_rows": 0.973}
BASELINE_CAL.update(
    {k: round(v / _R12B_CALIBRATION, 3) for k, v in _R12B_RAW.items()}
)

# Third r12 addendum: cross-format IVM joined the headline set
# (pinned from the end-of-round full run, calibration 0.763 —
# fixture seed + three CDF folds through the Iceberg MV kernel).
_R12C_CALIBRATION = 0.763
_R12C_RAW = {"delta_ivm_rows": 1.704}
BASELINE_CAL.update(
    {k: round(v / _R12C_CALIBRATION, 3) for k, v in _R12C_RAW.items()}
)

# Round-13 block (mid-round skip-scale run, calibration 0.744).
# FIRST pin: V2 (sidecar) checkpoints. RE-pins for implementations
# that deliberately changed this round: media_stream_dedup_rows
# moves DOWN 6.395 → 3.509 (two files per availableNow trigger —
# the r12 wall was micro-batch scheduling, VERDICT r12 #4; the new
# pin makes regressions from the cheaper form detectable);
# delta_cdf_rows / delta_dv_rows re-pin on the upstream dataChange
# semantics (DV commits now carry dataChange-true remove+re-add
# pairs with pre-delete descriptors — reconstruction-visible
# commits, more actions per gate build) plus checkpoint protocol
# feature lists; delta_vacuum_rows re-pins on the distributed
# reference side (Spark-read checkpoints + single log walk — the
# no-checkpoint fast path keeps the toy-table cost near the old
# driver-side form).
_R13_CALIBRATION = 0.744
_R13_RAW = {
    "delta_v2_checkpoint_rows": 0.551,
    "media_stream_dedup_rows": 3.509,
    "delta_cdf_rows": 1.036,
    "delta_dv_rows": 0.622,
    "delta_vacuum_rows": 0.92,
}
BASELINE_CAL.update(
    {k: round(v / _R13_CALIBRATION, 3) for k, v in _R13_RAW.items()}
)

# Late-round-13 addendum: Delta source schema evolution joined the
# headline set (pinned from the end-of-round full run, calibration
# 0.769 — evolving-table build + a mixed-schema cdc DV delete + the
# log-schema head read).
_R13B_CALIBRATION = 0.769
_R13B_RAW = {"delta_schema_evolution_rows": 0.434}
BASELINE_CAL.update(
    {k: round(v / _R13B_CALIBRATION, 3) for k, v in _R13B_RAW.items()}
)

# Round-14 pins (BASELINE.md v8): the three r14 headline newcomers,
# first-run raws from the END-of-round full run at calibration 0.855
# (the mid-round pins were taken on a 1.567-calibration host, which
# UNDER-set the unit level of these fixed-overhead gates — the
# documented slow-host artifact; re-pinned same-code from the faster
# host so future runs read honestly).
# delta_type_widening_rows: widen-mid-log scratch build + DV +
# log-schema head read. rest_catalog_rows: warehouse copy + HTTP
# server spin-up + 2 by-name MoR reads over REST + listings — the
# raw is fixture+HTTP machinery, not resolution cost.
# delta_variant_rows: two Spark variant-parquet writes + DV commit +
# variant_get extraction rollup.
_R14_CALIBRATION = 0.855
_R14_RAW = {
    "delta_type_widening_rows": 0.688,
    "rest_catalog_rows": 2.486,
    "delta_variant_rows": 1.241,
}
BASELINE_CAL.update(
    {k: round(v / _R14_CALIBRATION, 3) for k, v in _R14_RAW.items()}
)

# Round-15 pins (BASELINE.md v9): the three r15 headline newcomers,
# first-run raws from the end-of-round full run at calibration 0.998
# (a representative host; best-of-2 median 0.771 on the same run).
# rest_commit_roundtrip: fresh mutable warehouse per run + 4 REST
# commits (one deterministically raced and rebased) + DELETE WHERE
# planning + 3 MoR read-backs. variant_bridge_rows: variant parquet
# write + migrate + export + two variant_get rollups.
# domain_checkpoint_rows: three scratch tables × (commits +
# checkpoint + replay + read). rest_catalog_rows RE-pins at 2.216:
# the gate now reuses a process-lifetime read-only fixture server
# (the write-path gates keep fresh fixtures), so the first-run raw
# still carries the one-time spin-up while repeat runs measure
# resolution; the resolution cost itself is pinned by the
# `rest_scale` leg (~2 ms/table, flat 8→40 tables).
_R15_CALIBRATION = 0.998
_R15_RAW = {
    "rest_commit_roundtrip": 4.27,
    "variant_bridge_rows": 1.819,
    "domain_checkpoint_rows": 1.324,
    "rest_catalog_rows": 2.216,
}
BASELINE_CAL.update(
    {k: round(v / _R15_CALIBRATION, 3) for k, v in _R15_RAW.items()}
)

# headline set: one representative per operator family; grows as
# batteries land. Every name must exist in registry.queries().
HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_type_profit",
    "q8_market_share",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q21_sole_fault_supplier",
    "top_k_per_group",
    "cube_status_priority",
    # events
    "sessionize_events",
    "asof_join_events_orders",
    "retention_day_n",
    "sliding_window_agg",
    "events_props_stats",
    # LLM pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "embedding_near_dup",
    "ann_topk_bruteforce",
    "pack_sequences",
    # round-4 breadth (VERDICT r3 #8): newest operator families
    "ann_ivf_topk",
    "dedup_clusters",
    "meta_manifest_entries",
    # round-5 breadth: snapshot-level planning + manifest rewrite +
    # training-pipeline decontamination/PII sweeps
    "files_at_snapshot",
    "meta_rewritten_files",
    "decontaminate_ngram",
    "pii_scrub_stats",
    # round-6 breadth: MoR reader, repetition filter, source triage,
    # fuzzy decontamination, row-level CDC changelog
    "mor_live_rows",
    "doc_repetition_stats",
    "source_dup_stats",
    "decontaminate_minhash",
    "changelog_rows",
    # round-6 (cont.): schema evolution read, transform-projected
    # planning + bucket-derived MERGE, delete-file compaction,
    # training-mixture planning
    "schema_evolution_read",
    "scan_plan_transforms",
    "merge_transform_partitions",
    "rewrite_pos_deletes_roundtrip",
    "mixture_plan",
    "ann_pq_topk",
    # round-8 breadth: corpus-LM scoring, IVF-PQ composition,
    # optimistic-concurrency commits, partition-scoped statistics
    "lm_bigram_stats",
    "ann_ivfpq_topk",
    "commit_conflict_roundtrip",
    "meta_stats_partition_scoped",
    # round-8 (cont.): real MP4/MP3 container probing rollup,
    # bucketized range join, changelog-driven view maintenance,
    # append cherry-pick, position_deletes metadata table
    "media_probe_stats",
    "range_join_transit",
    "changelog_agg_maintenance",
    "wap_cherrypick_roundtrip",
    "meta_position_deletes",
    "dedup_paragraph_stats",
    # round-8 (cont.): streaming IVM, v3 row lineage, Delta interop
    "stream_ivm_rows",
    "row_lineage_rows",
    "delta_log_rows",
    "delta_migrate_rows",
    # round-8 (cont.): in-place parquet import, Iceberg views, BPE
    # tokenizer, SemDeDup, stream-stream join, summary audit
    "parquet_import_rows",
    "view_roundtrip_rows",
    "bpe_roundtrip_check",
    "bpe_token_stats",
    "dedup_semantic_pairs",
    "stream_join_rows",
    "snapshot_summary_audit",
    "wap_audit_publish_roundtrip",
    "binpack_rewrite_roundtrip",
    "spec_evolution_write",
    "dedup_substring_coverage",
    # round-9 breadth: materialized-view IVM, the rows-only quality
    # gates' certified companions, Delta checkpointed replication
    # (both directions), orphan execution over the distributed
    # listing
    "view_ivm_roundtrip",
    "ann_ivfpq_recall_check",
    "bpe_token_check",
    "dedup_semantic_check",
    "delta_replicate_rows",
    "delta_replicate_full_rows",
    "orphan_delete_roundtrip",
    # round-9 (cont.): perceptual image/audio dedup over the real
    # decoders, BM25 retrieval, $metadata_log_entries
    "dedup_images_dhash",
    "dedup_audio_afp",
    "dedup_videos_framehash",
    "bm25_topk",
    "meta_metadata_log",
    # round-10 breadth: streaming perceptual intake, MIN/MAX
    # materialized views (group-scoped recompute fallback), Delta
    # deletion vectors (positional merge-on-read)
    "media_stream_dedup_rows",
    "view_ivm_minmax",
    "delta_dv_rows",
    "delta_cdf_rows",
    # round-12: CDF-driven Delta→Iceberg replication (row-level
    # changes land as equality-delete commits — changelog cost) +
    # Delta VACUUM (the maintenance dual of orphan_delete_roundtrip)
    "delta_cdf_replicate_rows",
    "delta_vacuum_rows",
    # round-12 (cont.): cross-format IVM — the Iceberg MV kernel
    # maintained from a Delta change feed
    "delta_ivm_rows",
    # round-13: V2 (UUID-named, sidecar) checkpoints — multi-sidecar
    # write, every covered commit deleted, read only through v2
    # discovery + sidecar resolution — and source schema evolution
    # (the LOG schema is the read schema; DV through a mixed-schema
    # cdc file)
    "delta_v2_checkpoint_rows",
    "delta_schema_evolution_rows",
    # round-14: Delta type-widening reads (narrow footers upcast
    # through the log schema, DV on a pre-widening file) and
    # REST-catalog resolution (by-name + time-traveled MoR reads over
    # the local spec-derived fixture server)
    "delta_type_widening_rows",
    "rest_catalog_rows",
    # round-14 (cont.): Delta VARIANT reads (Spark-native VariantType,
    # variant_get extraction, DV composition)
    "delta_variant_rows",
    # round-15: engine commits routed through the REST catalog
    # (staging + rival-race 409 rebase + DELETE WHERE over REST),
    # variant through the migration bridge both ways, and
    # domainMetadata survival across the three checkpoint forms
    "rest_commit_roundtrip",
    "variant_bridge_rows",
    "domain_checkpoint_rows",
    # round-16: the lineage bridge capstone (v3 source → DV delete →
    # compaction → Delta → roundtrip, ids equal at every hop), Delta
    # in-commit timestamps, the REST view lifecycle, and two of the
    # r15 past-window newcomers now in the certification window
    # (quality_model_check is deliberately NOT here: a 20-epoch
    # training loop is job-latency-bound by design — its scale story
    # is O(dim) driver state, measured by pytest, not wall clock)
    "lineage_bridge_rows",
    "delta_ict_rows",
    "rest_view_rows",
    "delta_row_tracking_rows",
    "geo_scan_rows",
    # round-17 (optimization round 2) ADDITIONS-ONLY: the operators
    # this round restructured that had no bench coverage — the two
    # global-window analytics rewrites (distributed ntile /
    # percent_rank), the top-5 TakeOrdered form, and the two
    # table-level theta-sketch gates now batched into one job
    "decile_value_customers",
    "orders_cume_dist",
    "customer_running_total",
    "meta_table_stats",
    "meta_stats_incremental",
]


def _replication_scale_evidence(spark) -> dict:
    """Iceberg→Delta replication at file-count scale (VERDICT r10/
    r11 #2d): a snapshot adding N data files + a pos-delete touching
    EVERY one of them makes all N deletion-vector candidates — the
    r11 rework computes every candidate's victims in ONE Spark job
    per version and moves copies off the driver, so the SPARK JOB
    COUNT must stay ~flat as N grows (the r10 per-file form ran one
    job per changed file: jobs ∝ N). Wall time still grows with N
    (N files get linked/written), which is the honest part of the
    curve; the flat job count is the 100 TB claim."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        commit_delete_snapshot,
        create_table,
    )
    from iceberg_tools_spark.sources.migrate import replicate_iceberg_to_delta

    sc = spark.sparkContext
    out = {"legs": []}
    for n_files in (8, 32, 128):
        root = os.path.join(
            tempfile.mkdtemp(prefix=f"repl_scale_{n_files}_"), "ice"
        )
        os.makedirs(root)
        mp = create_table(root, [("id", "long")])
        loc = json.load(open(mp))["location"]
        files = []
        for i in range(n_files):
            rel = f"data/f{i:04d}.parquet"
            pq.write_table(
                pa.table({"id": pa.array(range(i * 5, i * 5 + 5), pa.int64())}),
                os.path.join(root, rel),
            )
            files.append({"path": rel, "partition": {}})
        mp = append_snapshot(mp, files)["metadata_path"]
        # one pos-delete row per data file → N DV candidates at once
        drel = "data/deletes/d.parquet"
        os.makedirs(os.path.join(root, "data/deletes"))
        pq.write_table(
            pa.table({
                "file_path": pa.array([f"{loc}/{f['path']}" for f in files]),
                "pos": pa.array([0] * n_files, pa.int64()),
            }),
            os.path.join(root, drel),
        )
        mp = commit_delete_snapshot(
            mp, [{"path": drel, "partition": {}, "content": 1}]
        )["metadata_path"]
        group = f"repl_scale_{n_files}"
        sc.setJobGroup(group, "replication scale evidence")
        t0 = time.perf_counter()
        res = replicate_iceberg_to_delta(
            spark, mp, os.path.join(os.path.dirname(root), "delta"),
            now_ms=1700000001000,
        )
        sec = round(time.perf_counter() - t0, 3)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        out["legs"].append({
            "n_files": n_files,
            "spark_jobs": jobs,
            "sec": sec,
            "n_dv_files": res["n_dv_files"],
            "n_versions": res["n_versions"],
        })
    return out


def _cdf_scale_evidence(spark) -> dict:
    """Delta CDF surface at 10× version count (VERDICT r12 #9): a
    source with V versions (appends interleaved with CDF-emitting DV
    deletes) is read as ONE change feed and replicated from it.

    The 100 TB claims, each measured:
    * the CDF READ plans exactly TWO parquet scans however many
      versions the range spans (the r11 plan contract — one scan
      over all explicit change files, one over all reconstruction
      files), so read jobs stay ~FLAT at 10× versions;
    * CDF REPLICATION is one commit per source version by design
      (its jobs grow with V — the honest axis), but the bytes moved
      scale with CHANGED ROWS, not with table size: the delete files
      it lands stay 2-rows-each however many rows the table holds.
    """
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        commit_delta_dv,
        read_delta_cdf,
    )
    from iceberg_tools_spark.sources.migrate import replicate_delta_cdf

    sc = spark.sparkContext
    out = {"legs": []}
    for n_versions in (4, 40):
        work = tempfile.mkdtemp(prefix=f"cdf_scale_{n_versions}_")
        root = os.path.join(work, "src")
        os.makedirs(os.path.join(root, "_delta_log"))
        acts = [{"metaData": {
            "id": "cdfscale", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }}]
        rows_per_file = 200
        n_files = 0

        def _add(i):
            nonlocal n_files
            rel = f"f{i:04d}.parquet"
            lo = i * rows_per_file
            pq.write_table(
                pa.table({"id": pa.array(range(lo, lo + rows_per_file),
                                         pa.int64())}),
                os.path.join(root, rel),
            )
            n_files += 1
            return {"add": {"path": rel, "partitionValues": {}, "size": 1,
                            "modificationTime": 0, "dataChange": True}}

        append_delta_commit(root, acts + [_add(0)], checkpoint_interval=None)
        v = 1
        while v < n_versions:
            if v % 2:
                append_delta_commit(root, [_add(v)], checkpoint_interval=None)
            else:
                commit_delta_dv(
                    root, {f"f{v - 1:04d}.parquet": [0, 1]},
                    checkpoint_interval=None, write_cdf=True,
                )
            v += 1
        head = n_versions - 1

        group = f"cdf_read_{n_versions}"
        sc.setJobGroup(group, "cdf scale read")
        t0 = time.perf_counter()
        df = read_delta_cdf(spark, root, 0, head)
        n_change_rows = df.count()
        read_sec = round(time.perf_counter() - t0, 3)
        read_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("Scan parquet")
        sc.setJobGroup("", "")

        group = f"cdf_repl_{n_versions}"
        sc.setJobGroup(group, "cdf scale replication")
        t0 = time.perf_counter()
        res = replicate_delta_cdf(spark, root, os.path.join(work, "replica"))
        repl_sec = round(time.perf_counter() - t0, 3)
        repl_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        del_bytes = 0
        del_dir = os.path.join(work, "replica", "data", "deletes")
        if os.path.isdir(del_dir):
            del_bytes = sum(
                os.path.getsize(os.path.join(del_dir, f))
                for f in os.listdir(del_dir)
            )
        out["legs"].append({
            "n_versions": n_versions,
            "n_change_rows": n_change_rows,
            "read_parquet_scans": n_scans,  # contract: 2 at ANY V
            "read_jobs": read_jobs,
            "read_sec": read_sec,
            "repl_jobs": repl_jobs,  # ∝ versions by design (1 commit/v)
            "repl_sec": repl_sec,
            "repl_delete_files": res["n_delete_files"],
            "repl_delete_bytes": del_bytes,  # ∝ changed rows, not rows
        })
    return out


def _dv_transfer_scale_evidence(spark) -> dict:
    """Replication DV encode at DELETED-ROW scale (VERDICT r13 #3):
    one wide pos-delete hits 100× more rows of a single file, and
    the replication's driver transfer — the executor-encoded framed
    Roaring blob, measured as the replica's ``deletion_vector_*.bin``
    size — stays ~FLAT (run-compressed ranges) instead of growing
    8 B/row like the raw position list the old ``collect_set`` path
    shipped. The SCATTERED leg is the honest worst case: stride-2
    positions defeat run compression (Roaring bitmap mode, ~0.13
    B/row) yet the blob still beats raw positions ~60× AND encodes
    executor-side. Spark job count stays flat (one encode job per
    version regardless of victim count)."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.iceberg.commit import (
        append_snapshot,
        commit_delete_snapshot,
        create_table,
    )
    from iceberg_tools_spark.sources.migrate import replicate_iceberg_to_delta

    sc = spark.sparkContext
    out = {"legs": []}
    n_rows = 400_000
    for n_deleted, stride in ((2_000, 1), (200_000, 1), (200_000, 2)):
        work = tempfile.mkdtemp(prefix=f"dv_transfer_{n_deleted}_{stride}_")
        root = os.path.join(work, "ice")
        os.makedirs(root)
        mp = create_table(root, [("id", "long")])
        loc = json.load(open(mp))["location"]
        rel = "data/big.parquet"
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array(range(n_rows), pa.int64())}),
            os.path.join(root, rel),
        )
        mp = append_snapshot(mp, [{"path": rel, "partition": {}}])[
            "metadata_path"
        ]
        drel = "data/deletes/d.parquet"
        os.makedirs(os.path.join(root, "data/deletes"))
        pq.write_table(
            pa.table({
                "file_path": pa.array([f"{loc}/{rel}"] * n_deleted),
                "pos": pa.array(range(0, n_deleted * stride, stride),
                                pa.int64()),
            }),
            os.path.join(root, drel),
        )
        mp = commit_delete_snapshot(
            mp, [{"path": drel, "partition": {}, "content": 1}]
        )["metadata_path"]
        group = f"dv_transfer_{n_deleted}_{stride}"
        sc.setJobGroup(group, "dv transfer scale")
        t0 = time.perf_counter()
        res = replicate_iceberg_to_delta(
            spark, mp, os.path.join(work, "delta"), now_ms=1700000001000
        )
        sec = round(time.perf_counter() - t0, 3)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        dv_bytes = sum(
            os.path.getsize(os.path.join(work, "delta", f))
            for f in os.listdir(os.path.join(work, "delta"))
            if f.startswith("deletion_vector_")
        )
        out["legs"].append({
            "n_deleted": n_deleted,
            "stride": stride,  # 2 = scattered, defeats run compression
            "dv_bin_bytes": dv_bytes,  # driver transfer ~ this, not 8B/row
            "raw_positions_bytes": n_deleted * 8,  # what the old path shipped
            "spark_jobs": jobs,
            "sec": sec,
            "n_dv_files": res["n_dv_files"],
        })
    return out


def _delta_evo_scale_evidence(spark) -> dict:
    """Delta source schema evolution at FILE-COUNT scale (VERDICT
    r13 #7): a log whose range spans an ADD COLUMN reads with the
    LOG schema — zero footer-inference work — so at 10× files the
    head read plans ONE parquet scan whose ReadSchema already
    carries the added column, and the Spark job count stays ~flat
    (a mergeSchema fallback would run a footer-reading job that
    grows with file count)."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_tools_spark.sources.delta_log import (
        append_delta_commit,
        read_delta_log,
    )

    sc = spark.sparkContext
    out = {"legs": []}
    for n_files in (10, 100):
        root = os.path.join(
            tempfile.mkdtemp(prefix=f"evo_scale_{n_files}_"), "t"
        )
        os.makedirs(os.path.join(root, "_delta_log"))

        def _schema(with_cat):
            fields = [{"name": "id", "type": "long", "nullable": True,
                       "metadata": {}}]
            if with_cat:
                fields.append({"name": "cat", "type": "string",
                               "nullable": True, "metadata": {}})
            return json.dumps({"type": "struct", "fields": fields})

        def _meta(s):
            return {"metaData": {
                "id": "evoscale",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": s, "partitionColumns": [],
                "configuration": {}, "createdTime": 0,
            }}

        half = n_files // 2
        acts = [_meta(_schema(False))]
        for i in range(half):
            rel = f"pre{i:04d}.parquet"
            pq.write_table(
                pa.table({"id": pa.array(range(i * 10, i * 10 + 10),
                                         pa.int64())}),
                os.path.join(root, rel),
            )
            acts.append({"add": {"path": rel, "partitionValues": {},
                                 "size": 1, "modificationTime": 0,
                                 "dataChange": True}})
        append_delta_commit(root, acts, checkpoint_interval=None)
        acts = [_meta(_schema(True))]
        for i in range(half, n_files):
            rel = f"post{i:04d}.parquet"
            pq.write_table(
                pa.table({
                    "id": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                    "cat": pa.array([str(i % 3)] * 10),
                }),
                os.path.join(root, rel),
            )
            acts.append({"add": {"path": rel, "partitionValues": {},
                                 "size": 1, "modificationTime": 0,
                                 "dataChange": True}})
        append_delta_commit(root, acts, checkpoint_interval=None)

        group = f"evo_scale_{n_files}"
        sc.setJobGroup(group, "delta evolution scale read")
        t0 = time.perf_counter()
        df = read_delta_log(spark, root)
        n = df.count()
        null_cat = df.filter("cat IS NULL").count()
        sec = round(time.perf_counter() - t0, 3)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = df._jdf.queryExecution().executedPlan().toString()
        sc.setJobGroup("", "")
        out["legs"].append({
            "n_files": n_files,
            "n_rows": n,
            "null_cat_rows": null_cat,  # = pre-evolution rows
            "parquet_scans": plan.count("Scan parquet"),  # contract: 1
            "read_schema_has_cat": "cat" in plan.split("ReadSchema")[1][:200]
            if "ReadSchema" in plan else None,
            "spark_jobs": jobs,  # ~flat: no footer-inference job
            "sec": sec,
        })
    return out


def _import_scale_evidence(spark, sf_dir: str) -> dict:
    """In-place parquet import at file-count scale: a 50-file
    range-partitioned lake imports with METADATA-ONLY cost (one
    footer read + one hard link per file, no Spark job), and the
    footer-derived bounds immediately prune a point predicate to
    1/50 files. The 100 TB posture is the SLOPE: import cost is
    linear in file count and independent of row count."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from iceberg_tools_spark.iceberg.snapshots import plan_scan
    from iceberg_tools_spark.sources.parquet_import import import_parquet_table

    scratch = tempfile.mkdtemp(prefix="import_scale_")
    try:
        lake = os.path.join(scratch, "lake")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        orders.repartitionByRange(50, "o_orderkey").write.parquet(lake)
        t0 = _t.perf_counter()
        res = import_parquet_table(spark, lake, os.path.join(scratch, "t"))
        import_sec = _t.perf_counter() - t0
        probe = orders.agg(F.min("o_orderkey")).collect()[0][0]
        t0 = _t.perf_counter()
        plan = plan_scan(
            spark, res["metadata_path"], res["snapshot_id"],
            field_id=1, lo=probe, hi=probe,
        ).collect()
        plan_sec = _t.perf_counter() - t0
        return {
            "n_files": res["n_files"],
            "n_rows": res["n_rows"],
            "import_sec": round(import_sec, 3),
            "import_sec_per_file": round(import_sec / res["n_files"], 4),
            "plan_sec": round(plan_sec, 3),
            "files_selected": sum(1 for r in plan if r.selected),
            "files_pruned": sum(1 for r in plan if not r.selected),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _rangejoin_scale_evidence(spark, sf_dir: str) -> dict:
    """Bucketized range join vs the naive non-equi join (which Spark
    plans as BroadcastNestedLoopJoin) on the SAME inputs, at two
    point densities. The nested loop costs |points| x |intervals|
    comparisons — linear in point count; the bucketized form joins
    on a hash key, so its wall-time should stay near-flat as points
    grow. This is the evidence the operator's 100 TB claim rests
    on."""
    import time as _t

    from pyspark.sql import functions as F

    from iceberg_tools_spark.operators.rangejoin import point_in_interval_join

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.col("l_shipdate").cast("date").alias("s"),
            F.col("l_orderkey"),
        )
        .withColumn(
            "e", F.date_add(F.col("s"), (F.lit(3) + F.col("l_orderkey") % 25).cast("int"))
        )
        .drop("l_orderkey")
    )
    months = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.trunc(F.col("o_orderdate").cast("date"), "MM").alias("p"))
        .distinct()
    )
    days = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(F.col("o_orderdate").cast("date").alias("p"))
        .distinct()
    )
    out = {}
    for label, pts in (("monthly_points", months), ("daily_points", days)):
        n_pts = pts.count()
        t0 = _t.perf_counter()
        n_b = point_in_interval_join(pts, li, "p", "s", "e", max_interval_days=28).count()
        bucketized = round(_t.perf_counter() - t0, 3)
        t0 = _t.perf_counter()
        n_n = li.join(
            F.broadcast(pts), (F.col("s") <= F.col("p")) & (F.col("p") < F.col("e"))
        ).count()
        naive = round(_t.perf_counter() - t0, 3)
        out[label] = {
            "points": n_pts,
            "matches": n_b,
            "bucketized_sec": bucketized,
            "nested_loop_sec": naive,
            "agree": n_b == n_n,
        }
    return out


def _ivm_scale_evidence(spark) -> dict:
    """Incremental view maintenance vs full recompute at two base
    sizes (2M and 20M parquet rows), refreshed by the same 2k-row
    changelog. The claim under test is FLATNESS: maintain cost is a
    function of changelog size only (it aggregates the changelog
    and joins a tiny delta per group — base size never enters),
    while recompute re-scans the pruned base columns and is linear
    in scanned bytes. At these toy sizes recompute's linear term is
    SMALLER than maintain's ~0.5-1 s fixed job overhead — the
    honest reading is the slope, not the absolute: 10x base growth
    leaves maintain flat while recompute's cost is bounded below by
    the scan, which at table scale (TB of base vs KB of changelog)
    dominates by orders of magnitude."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from iceberg_tools_spark.iceberg.ivm import grouped_agg, maintain_grouped_agg

    out = {"changelog_rows": 2000, "rows": {}}
    roots = []
    for base_rows in (2_000_000, 20_000_000):
        root = tempfile.mkdtemp(prefix=f"ivm_scale_{base_rows}_")
        roots.append(root)
        spark.range(base_rows).select(
            F.col("id"),
            (F.col("id") % 1000).cast("string").alias("category"),
            # payload columns a real table carries (and a recompute
            # scan must at least skip past)
            F.sha1(F.col("id").cast("string")).alias("p1"),
            (F.col("id") * 31 % 997).alias("p2"),
        ).write.mode("overwrite").parquet(f"{root}/base")
        base = spark.read.parquet(f"{root}/base")
        base_agg = grouped_agg(base, ["category"], ["id"]).cache()
        base_agg.count()  # materialize: the maintained view pre-exists
        # evens: INSERT brand-new ids; odds: DELETE rows that
        # genuinely exist in the base (same id → same category)
        new_or_old = F.when(
            F.col("id") % 2 == 0, F.col("id") + base_rows
        ).otherwise(F.col("id"))
        changelog = spark.range(2000).select(
            F.lit(2).alias("snapshot_id"),
            F.when(F.col("id") % 2 == 0, F.lit("INSERT")).otherwise(F.lit("DELETE")).alias("change_type"),
            new_or_old.alias("id"),
            (new_or_old % 1000).cast("string").alias("category"),
        )
        t0 = _t.perf_counter()
        n_m = maintain_grouped_agg(base_agg, changelog, ["category"], ["id"]).count()
        maintain_sec = round(_t.perf_counter() - t0, 3)
        t0 = _t.perf_counter()
        n_r = grouped_agg(base, ["category"], ["id"]).count()
        recompute_sec = round(_t.perf_counter() - t0, 3)
        base_agg.unpersist()
        out["rows"][f"base_{base_rows}"] = {
            "groups": n_m,
            "maintain_sec": maintain_sec,
            "recompute_from_parquet_sec": recompute_sec,
            "recompute_counts_match": n_m == n_r,
        }
    for root in roots:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _metadata_scale_evidence(spark) -> dict:
    """Build a 40-snapshot / 2000-file metadata-only table through
    the engine's own commit path (explicit record counts: no
    physical parquet needed) and measure commit throughput + scan
    planning: a point predicate on the identity partition key must
    prune 39/40 manifests at the manifest-list level and select
    exactly one file."""
    import json as _json
    import shutil
    import tempfile

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.snapshots import plan_scan

    n_snapshots, files_per = 40, 50
    root = tempfile.mkdtemp(prefix="meta_scale_")
    try:
        os.makedirs(os.path.join(root, "metadata"))
        meta0 = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-00000000b001",
            "location": "file:///tmp/meta_scale_table",
            "last-sequence-number": 0,
            "last-updated-ms": 1700000000000,
            "last-column-id": 2,
            "current-schema-id": 0,
            "schemas": [{
                "schema-id": 0, "type": "struct",
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "int"},
                    {"id": 2, "name": "payload", "required": False, "type": "string"},
                ],
            }],
            "default-spec-id": 0,
            "partition-specs": [{
                "spec-id": 0,
                "fields": [{"name": "k", "transform": "identity",
                            "source-id": 1, "field-id": 1000}],
            }],
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {}, "snapshots": [], "snapshot-log": [],
            "metadata-log": [],
        }
        mp = os.path.join(root, "v1.metadata.json")
        with open(mp, "w") as f:
            _json.dump(meta0, f)
        t0 = time.perf_counter()
        for i in range(n_snapshots):
            files = [
                {"path": f"data/s{i}/f{j}.parquet",
                 "partition": {"k": i * files_per + j},
                 "record_count": 1000, "file_size_in_bytes": 1 << 20}
                for j in range(files_per)
            ]
            mp = append_snapshot(mp, files, snapshot_id=9000 + i)["metadata_path"]
        commit_sec = round(time.perf_counter() - t0, 3)
        # warm-up (first createDataFrame/collect of the session pays
        # one-time Arrow/codegen setup that is not planning cost)
        plan_scan(
            spark, mp, 9000 + n_snapshots - 1, partition_pred={"k": 3}
        ).collect()
        # production plan: pruned manifests never open (level-1 drop
        # from the manifest list alone) — the number that matters
        t0 = time.perf_counter()
        prod = plan_scan(
            spark, mp, 9000 + n_snapshots - 1, partition_pred={"k": 137}
        ).collect()
        plan_sec = round(time.perf_counter() - t0, 3)
        # debug plan opens everything to report the full decision table
        t0 = time.perf_counter()
        plan = plan_scan(
            spark, mp, 9000 + n_snapshots - 1,
            partition_pred={"k": 137}, debug=True,
        ).collect()
        plan_debug_sec = round(time.perf_counter() - t0, 3)
        manifests = {r["manifest_name"] for r in plan}
        pruned = {r["manifest_name"] for r in plan if r["manifest_pruned"]}
        selected = [r for r in prod if r["selected"]]
        out = {
            "n_snapshots": n_snapshots,
            "n_files": n_snapshots * files_per,
            "commit_sec_total": commit_sec,
            "commits_per_sec": round(n_snapshots / commit_sec, 1),
            "plan_sec": plan_sec,
            "plan_debug_sec": plan_debug_sec,
            "manifests_total": len(manifests),
            "manifests_pruned": len(pruned),
            "files_selected": len(selected),
        }
        out["unselective_20k"] = _metadata_scale_unselective(spark)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _metadata_scale_unselective(spark) -> dict:
    """VERDICT r8 #1 'Done' leg: an UNSELECTIVE scan plan (no
    predicate — every manifest must open) over a ≥20k-file table,
    through the executor-parallel manifest parse vs the old
    driver-sequential path. The distributed wall must stay roughly
    flat as manifest count grows 10× (2k → 20k files here), because
    the pure-Python Avro decode fans out instead of serializing on
    the driver."""
    import json as _json
    import shutil
    import tempfile

    from iceberg_tools_spark.iceberg import manifest_io
    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.metadata import parse_metadata
    from iceberg_tools_spark.iceberg.snapshots import manifest_paths_at, plan_scan

    def build(n_snapshots: int, files_per: int) -> tuple[str, str]:
        root = tempfile.mkdtemp(prefix="meta_scale_unsel_")
        os.makedirs(os.path.join(root, "metadata"))
        meta0 = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-00000000b002",
            "location": f"file://{root}",
            "last-sequence-number": 0,
            "last-updated-ms": 1700000000000,
            "last-column-id": 2,
            "current-schema-id": 0,
            "schemas": [{
                "schema-id": 0, "type": "struct",
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "int"},
                    {"id": 2, "name": "payload", "required": False, "type": "string"},
                ],
            }],
            "default-spec-id": 0,
            "partition-specs": [{
                "spec-id": 0,
                "fields": [{"name": "k", "transform": "identity",
                            "source-id": 1, "field-id": 1000}],
            }],
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {}, "snapshots": [], "snapshot-log": [],
            "metadata-log": [],
        }
        mp = os.path.join(root, "v1.metadata.json")
        with open(mp, "w") as f:
            _json.dump(meta0, f)
        for i in range(n_snapshots):
            files = [
                {"path": f"data/s{i}/f{j}.parquet",
                 "partition": {"k": i * files_per + j},
                 "record_count": 1000, "file_size_in_bytes": 1 << 20}
                for j in range(files_per)
            ]
            mp = append_snapshot(mp, files, snapshot_id=9000 + i)["metadata_path"]
        return root, mp

    out: dict = {}
    old = manifest_io.PARALLEL_THRESHOLD
    for label, n_snaps, files_per in (("2k", 40, 50), ("20k", 100, 200)):
        root, mp = build(n_snaps, files_per)
        try:
            sid = 9000 + n_snaps - 1
            row = {"n_manifests": n_snaps, "n_files": n_snaps * files_per}
            # the side of the default byte budget the shape falls on
            tasks = [(None, p) for p in manifest_paths_at(parse_metadata(mp), sid, root)]
            row["manifest_bytes"] = sum(os.path.getsize(p) for _, p in tasks)
            row["default_placement"] = (
                "distributed" if manifest_io._on_executors(spark, tasks) else "driver"
            )
            # warm-up once so neither path pays session setup
            plan_scan(spark, mp, sid).count()
            for mode, thresh in (("driver", 10**9), ("distributed", 1)):
                manifest_io.PARALLEL_THRESHOLD = thresh
                t0 = time.perf_counter()
                n = plan_scan(spark, mp, sid).count()
                row[f"plan_sec_{mode}"] = round(time.perf_counter() - t0, 3)
                row["files_planned"] = n
            out[label] = row
        finally:
            manifest_io.PARALLEL_THRESHOLD = old
            shutil.rmtree(root, ignore_errors=True)
    big, small = out["20k"], out["2k"]
    out["distributed_flat_ratio"] = round(
        big["plan_sec_distributed"] / max(small["plan_sec_distributed"], 1e-9), 2
    )
    out["speedup_at_20k"] = round(
        big["plan_sec_driver"] / max(big["plan_sec_distributed"], 1e-9), 2
    )
    return out


def _perceptual_scale_evidence(spark) -> dict:
    """Scale posture of the perceptual dedupers: the image corpus at
    1× (16 groups / 64 images) and 8× (128 groups / 512 images) —
    pair counts must stay exactly 6-per-group (the banded join
    generates candidates within distinct-hash buckets only; no
    quadratic blow-up) and wall should grow near-linearly (the Arrow
    decode+hash pass dominates and is embarrassingly parallel)."""
    from iceberg_tools_spark.operators.image_dedup import (
        dhash64,  # noqa: F401 (import check)
        image_dhash_df,
        make_image_corpus,
        near_dup_image_pairs,
    )

    # warm-up: the first pass pays one-time Arrow/python-worker AND
    # join-codegen setup that is not hashing cost — run the full 1×
    # pipeline once untimed
    near_dup_image_pairs(
        image_dhash_df(make_image_corpus(spark, 16)).localCheckpoint()
    ).count()
    out = {}
    for label, n_groups in (("1x", 16), ("8x", 128)):
        t0 = time.perf_counter()
        hashed = image_dhash_df(make_image_corpus(spark, n_groups)).localCheckpoint()
        pairs = near_dup_image_pairs(hashed).count()
        out[label] = {
            # r10 corpus: 4 variants (bmp/png/jpeg/patch) → C(4,2)=6
            # within-group pairs per group
            "n_images": n_groups * 4,
            "n_pairs": pairs,
            "pairs_per_group_exact": pairs == n_groups * 6,
            "sec": round(time.perf_counter() - t0, 3),
        }
    out["wall_ratio_at_8x"] = round(out["8x"]["sec"] / max(out["1x"]["sec"], 1e-9), 2)

    # duplicate-heavy leg (r10: VERDICT r9 #1 'Done' criterion): 60
    # extra EXACT copies of one image — the crawl-normal case that
    # used to make band buckets quadratic. The banded join collapses
    # the 62-member cluster to ONE distinct hash (bucket census never
    # trips), so the join work stays at the 1× level and only the
    # output (the C(62,2) exact pairs, inherent to pair semantics)
    # grows.
    from pyspark.sql import functions as F

    base = make_image_corpus(spark, 16)
    one = base.filter("item_id = 0").select("payload").collect()[0][0]
    extra = spark.createDataFrame(
        [(10_000 + i, 0, f"copy{i}", bytes(one)) for i in range(60)],
        "item_id long, group_id long, variant string, payload binary",
    )
    t0 = time.perf_counter()
    hashed = image_dhash_df(base.unionByName(extra)).localCheckpoint()
    pairs = near_dup_image_pairs(hashed).count()
    dup_sec = round(time.perf_counter() - t0, 3)
    # group 0: 62-member exact cluster (bmp+png+60 copies) + jpeg +
    # patch → C(62,2) + 62 + 62 + 1; other 15 groups: 6 each
    expected = 62 * 61 // 2 + 62 + 62 + 1 + 15 * 6
    out["dup_heavy_60x"] = {
        "n_images": 124,
        "n_pairs": pairs,
        "pairs_exact_expected": pairs == expected,
        "distinct_hashes": hashed.select("dhash").distinct().count(),
        "sec": dup_sec,
        "wall_ratio_vs_1x": round(dup_sec / max(out["1x"]["sec"], 1e-9), 2),
    }
    return out


def _orphan_scale_evidence(spark) -> dict:
    """VERDICT r8 #2 'Done' leg: list a ≥50k-file tree AS A SPARK
    JOB (driver shards directories, executors walk + stat) and
    anti-join it against a referenced set — the orphan-removal
    shape with the listing distributed. The driver os.walk wall is
    reported alongside for the honest comparison (at local-FS scale
    the syscalls dominate either way; the point is that the listing
    no longer serializes on the driver at object-store latencies)."""
    import shutil
    import tempfile

    from iceberg_tools_spark.iceberg.maintenance import (
        distributed_listing,
        find_orphan_files,
    )

    n_dirs, files_per = 256, 200  # 51,200 files
    root = tempfile.mkdtemp(prefix="orphan_scale_")
    try:
        t0 = time.perf_counter()
        for d in range(n_dirs):
            dp = os.path.join(root, f"p={d:04d}")
            os.makedirs(dp)
            for i in range(files_per):
                with open(os.path.join(dp, f"f{i:04d}.parquet"), "wb"):
                    pass
        build_sec = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        n_walk = sum(len(fns) for _, _, fns in os.walk(root))
        walk_sec = round(time.perf_counter() - t0, 3)

        listing = distributed_listing(spark, root)
        t0 = time.perf_counter()
        n_listed = listing.count()
        list_sec = round(time.perf_counter() - t0, 3)

        # referenced set = every even-numbered file; the odd half is
        # the orphan population the anti-join must isolate
        ref = spark.createDataFrame(
            [
                (os.path.abspath(os.path.join(root, f"p={d:04d}", f"f{i:04d}.parquet")),)
                for d in range(n_dirs)
                for i in range(0, files_per, 2)
            ],
            "file_path string",
        )
        t0 = time.perf_counter()
        n_orphans = find_orphan_files(distributed_listing(spark, root), ref).count()
        antijoin_sec = round(time.perf_counter() - t0, 3)
        return {
            "n_files": n_dirs * files_per,
            "build_sec": build_sec,
            "driver_walk_sec": walk_sec,
            "distributed_list_sec": list_sec,
            "listing_matches_walk": n_listed == n_walk,
            "antijoin_sec": antijoin_sec,
            "n_orphans": n_orphans,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _dv_scale_evidence() -> dict:
    """Deletion-vector codec at production cardinalities: encode /
    decode a 1M-position sparse vector (10 % of a 10M-row file) and
    a 5M-position dense one (every 2nd row — the run/bitmap-heavy
    shape compaction debt produces), through the full Puffin
    write → ranged-read → CRC-checked decode path. The sizes are the
    point: megabytes of bitmap where parquet position deletes would
    be tens of MB of (path, pos) rows."""
    import random
    import shutil
    import tempfile

    from iceberg_tools_spark.iceberg.puffin import (
        read_deletion_vectors,
        write_deletion_vectors,
    )

    root = tempfile.mkdtemp(prefix="dv_scale_")
    out = {}
    try:
        cases = {
            "sparse_1m_of_10m": sorted(
                random.Random(42).sample(range(10_000_000), 1_000_000)
            ),
            "dense_5m_every_2nd": list(range(0, 10_000_000, 2)),
        }
        for name, positions in cases.items():
            path = os.path.join(root, f"{name}.puffin")
            t0 = time.perf_counter()
            (m,) = write_deletion_vectors(path, [("file:///t/big.parquet", positions)])
            enc = time.perf_counter() - t0
            t0 = time.perf_counter()
            got = read_deletion_vectors(path)
            dec = time.perf_counter() - t0
            assert got["file:///t/big.parquet"] == positions
            out[name] = {
                "cardinality": len(positions),
                "blob_kib": round(m["length"] / 1024, 1),
                "encode_sec": round(enc, 3),
                "decode_sec": round(dec, 3),
            }
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _rest_scale_evidence(spark) -> dict:
    """REST-catalog resolution at TABLE-COUNT scale (VERDICT r14 #6):
    the `rest_catalog_rows` gate raw is dominated by per-run fixture
    machinery (warehouse copy + server spin-up), so this leg times
    the RESOLUTION operations alone against one long-lived server —
    full catalog listing (paginated drain), by-name metadata
    resolution (median of 20 loads), and a by-name MoR read — at 8
    and 40 tables. The claims this pins: listing is O(tables),
    per-table resolution is FLAT in catalog size (one GET + one
    parse), and both are milliseconds — catalog round-trips never
    rival data-scan cost."""
    import shutil
    import statistics
    import tempfile

    from iceberg_tools_spark.iceberg.deletes import MOR_DIR
    from iceberg_tools_spark.iceberg.rest_catalog import (
        RestCatalogClient,
        serve_rest_catalog,
    )

    out = {}
    for n_tables in (8, 40):
        wh = tempfile.mkdtemp(prefix=f"rest_scale_{n_tables}_")
        try:
            t0 = time.perf_counter()
            # one real MoR table + (n-1) metadata-only clones: the
            # catalog serves metadata, so clone cost stays honest
            first = os.path.join(wh, "db", "t000")
            shutil.copytree(MOR_DIR, first)
            mdir = os.path.join(first, "metadata")
            for n in os.listdir(first):
                if n.endswith(".metadata.json"):
                    shutil.move(os.path.join(first, n), os.path.join(mdir, n))
            for i in range(1, n_tables):
                dst = os.path.join(wh, "db", f"t{i:03d}", "metadata")
                os.makedirs(dst)
                for n in os.listdir(mdir):
                    if n.endswith(".metadata.json") or n == "version-hint.text":
                        shutil.copy(os.path.join(mdir, n), os.path.join(dst, n))
            setup = time.perf_counter() - t0

            t0 = time.perf_counter()
            server, uri = serve_rest_catalog(wh)
            c = RestCatalogClient(uri)
            spinup = time.perf_counter() - t0
            try:
                t0 = time.perf_counter()
                idents = [
                    t for ns in c.list_namespaces(page_size=16)
                    for t in c.list_tables(ns, page_size=16)
                ]
                list_sec = time.perf_counter() - t0
                assert len(idents) == n_tables
                loads = []
                for _ in range(20):
                    t0 = time.perf_counter()
                    c.metadata_path("db.t000")
                    loads.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                from iceberg_tools_spark.iceberg.rest_catalog import (
                    load_table_rest,
                )

                n_rows = load_table_rest(spark, uri, "db.t000").count()
                read_sec = time.perf_counter() - t0
                assert n_rows == 323
            finally:
                server.shutdown()
            out[f"tables_{n_tables}"] = {
                "setup_sec_excluded": round(setup, 3),
                "server_spinup_sec_excluded": round(spinup, 3),
                "list_all_sec": round(list_sec, 4),
                "resolve_median_ms": round(
                    statistics.median(loads) * 1000, 2
                ),
                "mor_read_sec": round(read_sec, 3),
            }
        finally:
            shutil.rmtree(wh, ignore_errors=True)
    return out


def _stats_scale_evidence(spark) -> dict:
    """Theta-sketch statistics at production cardinality: build one
    column sketch over 2M distinct longs through the full
    distributed path (distinct → numpy murmur kernel → TakeOrdered
    k+1) and report build time + estimation error — the NDV story a
    100 TB ANALYZE rests on (k=4096 ⇒ ~1.6 % RSE, ≤ k+1 longs to
    the driver)."""
    from pyspark.sql import functions as F

    from iceberg_tools_spark.iceberg.table_stats import column_theta_sketch
    from iceberg_tools_spark.iceberg.theta import theta_estimate

    n = 2_000_000
    df = spark.range(n).select((F.col("id") * 2_654_435_761 % (1 << 40)).alias("v"))
    true_n = df.distinct().count()
    t0 = time.perf_counter()
    sk = column_theta_sketch(df, "v", "long")
    sec = round(time.perf_counter() - t0, 3)
    est = theta_estimate(sk)
    return {
        "distinct": true_n,
        "estimate": round(est),
        "err_pct": round(abs(est - true_n) / true_n * 100, 2),
        "build_sec": sec,
        "retained": len(sk["hashes"]),
    }


def _rewrite_scale_evidence(spark) -> dict:
    """Multi-file rewrite wall-time vs file count (VERDICT r6 #2):
    build an unpartitioned table with N data files through the
    engine's own commit path, position-delete 10 % of every file,
    then time rewrite_data_files folding ALL N files. The fold+write
    is ONE Spark job, so wall-time should grow far slower than
    linearly in N (the former per-file coalesce(1) driver loop was
    ~linear)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from iceberg_tools_spark.iceberg.commit import append_snapshot
    from iceberg_tools_spark.iceberg.dml import delete_where
    from iceberg_tools_spark.iceberg.rewrite_data import rewrite_data_files

    out = {}
    for n_files in (4, 16):
        root = tempfile.mkdtemp(prefix=f"rw_scale_{n_files}_")
        try:
            os.makedirs(os.path.join(root, "metadata"))
            os.makedirs(os.path.join(root, "data"))
            meta0 = {
                "format-version": 2,
                "table-uuid": "00000000-0000-0000-0000-00000000d001",
                "location": "file:///tmp/rw_scale_table",
                "last-sequence-number": 0,
                "last-updated-ms": 1700000000000,
                "last-column-id": 2,
                "current-schema-id": 0,
                "schemas": [{
                    "schema-id": 0, "type": "struct",
                    "fields": [
                        {"id": 1, "name": "id", "required": False, "type": "long"},
                        {"id": 2, "name": "payload", "required": False,
                         "type": "string"},
                    ],
                }],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": []}],
                "default-sort-order-id": 0,
                "sort-orders": [{"order-id": 0, "fields": []}],
                "properties": {}, "snapshots": [], "snapshot-log": [],
                "metadata-log": [],
            }
            mp = os.path.join(root, "v1.metadata.json")
            with open(mp, "w") as f:
                json.dump(meta0, f)
            rows_per = 50_000
            stage = os.path.join(root, "stage")
            (
                spark.range(n_files * rows_per)
                .select(
                    F.col("id"),
                    F.md5(F.col("id").cast("string")).alias("payload"),
                    F.floor(F.col("id") / rows_per).cast("int").alias("b"),
                )
                .repartition("b")
                .write.partitionBy("b")
                .mode("overwrite")
                .parquet(stage)
            )
            import glob as _glob

            files = []
            for i in range(n_files):
                (part,) = _glob.glob(os.path.join(stage, f"b={i}", "part-*.parquet"))
                rel = f"data/f{i}.parquet"
                os.replace(part, os.path.join(root, rel))
                files.append(
                    {"path": rel, "partition": {}, "record_count": rows_per}
                )
            shutil.rmtree(stage, ignore_errors=True)
            mp = append_snapshot(mp, files, snapshot_id=100)["metadata_path"]
            res = delete_where(spark, mp, "id % 10 = 0")
            t0 = time.perf_counter()
            rw = rewrite_data_files(spark, res["metadata_path"])
            sec = round(time.perf_counter() - t0, 3)
            out[f"n{n_files}"] = {
                "n_files": n_files,
                "rows_total": n_files * rows_per,
                "rewritten": len(rw["rewritten"]),
                "rewrite_sec": sec,
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
    if "n4" in out and "n16" in out and out["n4"]["rewrite_sec"] > 0:
        out["time_ratio_16_vs_4"] = round(
            out["n16"]["rewrite_sec"] / out["n4"]["rewrite_sec"], 2
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from iceberg_tools_spark import registry
    from iceberg_tools_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("bench", cpus=cpus)
    startup = time.perf_counter() - t0

    # warm-up: touch every input table once so the first timed query
    # measures engine time, not one-time JVM/codegen/parquet-footer
    # warm-up (reported separately in warmup_sec).
    t0 = time.perf_counter()
    from iceberg_tools_spark.sources.readers import TABLES, load_table

    for tbl in TABLES:
        load_table(spark, sf_dir, tbl).write.format("noop").mode("overwrite").save()
    # also warm the Python worker pool (one trivial Arrow-batched
    # eval): several headline queries run Arrow kernels, and worker
    # fork/import is one-time session infrastructure — the same class
    # of cost as the JVM/parquet-footer warm-up above, reported in
    # warmup_sec, not attributed to whichever query runs first
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(32).select(_warm(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()
    warmup = time.perf_counter() - t0

    # machine-speed calibration: a fixed pure-CPU job (range sum, no
    # IO, no data dependence). Round-over-round query comparisons
    # divide by this to separate code regressions from host-speed
    # drift (the sandbox VM lands on hosts of varying speed).
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    calibration = time.perf_counter() - t0

    # between queries: drop Python references eagerly so the JVM
    # ContextCleaner can unpersist the previous query's
    # localCheckpoint blocks — otherwise they accumulate across the
    # whole run and later queries pay block-manager/GC pressure that
    # has nothing to do with their own plan (collection happens
    # OUTSIDE the timed window)
    import gc

    available = registry.queries()
    names = [n for n in HEADLINE if n in available]
    timings: dict[str, float] = {}
    for name in names:
        fn = available[name]
        gc.collect()
        t = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t, 3)

    # second pass: per-query best-of-2. The sandbox shares hosts and
    # throughput swings ~1.5× within minutes; a single sample can
    # charge a whole load spike to one query. `queries` stays the
    # FIRST-run numbers (the round-over-round comparable used since
    # r1); best-of-2 feeds the calibrated/vs-baseline view, which
    # therefore reads slightly favorable against the single-run r5
    # baseline — stated here so nobody mistakes that for speedup.
    best: dict[str, float] = {}
    for name in names:
        fn = available[name]
        gc.collect()
        t = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best[name] = round(min(timings[name], time.perf_counter() - t), 3)

    # knob sweeps (VERDICT r4 #7): measured pairs-vs-knob numbers for
    # the two LSH fan-out knobs. Sweep time is reported inside each
    # row and NOT folded into the headline total (the headline set is
    # the round-over-round comparable).
    from iceberg_tools_spark.operators.dedup import lsh_candidate_pairs
    from iceberg_tools_spark.operators.similarity import near_dup_candidate_pairs

    sweep: dict[str, object] = {"near_dup_n_planes": [], "lsh_max_bucket": []}
    try:
        for n_planes in (8, 12, 16):
            t = time.perf_counter()
            row = near_dup_candidate_pairs(spark, sf_dir, n_planes=n_planes).first()
            sweep["near_dup_n_planes"].append(
                {
                    "n_planes": n_planes,
                    "n_buckets": row.n_buckets,
                    "candidate_pairs": row.candidate_pairs,
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
        for max_bucket in (20, 100, 500):
            t = time.perf_counter()
            n = lsh_candidate_pairs(spark, sf_dir, max_bucket=max_bucket).count()
            sweep["lsh_max_bucket"].append(
                {
                    "max_bucket": max_bucket,
                    "candidate_pairs": n,
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["error"] = f"{type(exc).__name__}: {exc}"

    # PQ re-rank depth: measured recall@5 (vs the exact baseline)
    # against candidate count — the accuracy-vs-cost knob of the
    # compressed ANN path
    try:
        from iceberg_tools_spark.operators.pq import ann_pq_topk
        from iceberg_tools_spark.operators.similarity import ann_topk_bruteforce

        exact_sets: dict = {}
        for r in ann_topk_bruteforce(spark, sf_dir).collect():
            exact_sets.setdefault(r["qid"], set()).add(r["neighbor_id"])
        sweep["pq_rerank_cand"] = []
        for cand in (50, 150, 300):
            t = time.perf_counter()
            got: dict = {}
            for r in ann_pq_topk(spark, sf_dir, cand=cand).collect():
                got.setdefault(r["qid"], set()).add(r["neighbor_id"])
            rec = sum(
                len(got.get(q, set()) & s) / len(s) for q, s in exact_sets.items()
            ) / len(exact_sets)
            sweep["pq_rerank_cand"].append(
                {
                    "cand": cand,
                    "recall_at_5": round(rec, 3),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["pq_rerank_cand"] = {"error": f"{type(exc).__name__}: {exc}"}

    # lm_bigram top-V model cap (VERDICT r7 #2): measured score
    # drift vs the exact full-join gate as the broadcastable model
    # shrinks — mass_covered = capped Σsum / exact Σsum (tail
    # defaults to 1), docs_exact = fraction of docs scored
    # bit-identically
    try:
        from iceberg_tools_spark.operators.text import (
            lm_bigram_stats,
            lm_bigram_stats_capped,
        )

        exact_lm = {
            r["doc_id"]: r["sum_bigram_count"]
            for r in lm_bigram_stats(spark, sf_dir).collect()
        }
        lm_total = sum(exact_lm.values())
        sweep["lm_top_v"] = []
        for v in (64, 1024, 8192, 65536):
            t = time.perf_counter()
            got = {
                r["doc_id"]: r["sum_bigram_count"]
                for r in lm_bigram_stats_capped(spark, sf_dir, top_v=v).collect()
            }
            sweep["lm_top_v"].append(
                {
                    "top_v": v,
                    "mass_covered": round(sum(got.values()) / lm_total, 4),
                    "docs_exact": round(
                        sum(1 for k in exact_lm if got[k] == exact_lm[k])
                        / len(exact_lm),
                        4,
                    ),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["lm_top_v"] = {"error": f"{type(exc).__name__}: {exc}"}

    # paragraph-dedup chunk width: duplication rate + cost vs the
    # chunk size (smaller chunks → more, noisier matches; the knob a
    # curation pipeline tunes against its repetition profile)
    try:
        from iceberg_tools_spark.operators.dedup import dedup_paragraph_stats

        sweep["paragraph_chunk_words"] = []
        for cw in (4, 8, 16):
            t = time.perf_counter()
            rows = dedup_paragraph_stats(spark, sf_dir, chunk_words=cw).collect()
            n_chunks = sum(r["n_chunks"] for r in rows)
            n_dup = sum(r["n_dup_chunks"] for r in rows)
            sweep["paragraph_chunk_words"].append(
                {
                    "chunk_words": cw,
                    "n_chunks": int(n_chunks),
                    "dup_ratio": round(n_dup / n_chunks, 4) if n_chunks else None,
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["paragraph_chunk_words"] = {"error": f"{type(exc).__name__}: {exc}"}

    # BPE merge count: compression (chars/token) and lossless
    # roundtrip vs vocabulary size — the train-budget knob
    try:
        from iceberg_tools_spark.operators.bpe import (
            encode_stats,
            train_bpe,
            word_histogram,
        )
        from iceberg_tools_spark.sources.readers import load_table as _lt

        docs = _lt(spark, sf_dir, "documents",
                   ["doc_id", "text", "source", "n_chars"])
        hist = word_histogram(docs)
        sweep["bpe_n_merges"] = []
        for nm in (64, 384, 1024):
            t = time.perf_counter()
            merges = train_bpe(hist, n_merges=nm)
            agg = (
                encode_stats(docs, merges)
                .selectExpr(
                    "sum(n_chars) AS c", "sum(n_tokens) AS t",
                    "min(cast(roundtrip_ok as int)) AS ok",
                )
                .collect()[0]
            )
            sweep["bpe_n_merges"].append(
                {
                    "n_merges": nm,
                    "learned": len(merges),
                    "chars_per_token": round(agg["c"] / agg["t"], 3),
                    "all_roundtrip": bool(agg["ok"]),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["bpe_n_merges"] = {"error": f"{type(exc).__name__}: {exc}"}

    # SemDeDup cell cap: candidate-pair volume vs the cap — the
    # bound that keeps learned-bucket pair generation from going
    # quadratic on a skewed embedding space
    try:
        from pyspark.sql import functions as F

        from iceberg_tools_spark.operators.semdedup import _assigned_capped

        sweep["semdedup_max_cell"] = []
        for cap in (100, 400, 1600):
            t = time.perf_counter()
            sizes = (
                _assigned_capped(spark, sf_dir, cap)
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(
                    F.count(F.lit(1)).alias("cells"),
                    F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
                )
                .collect()[0]
            )
            sweep["semdedup_max_cell"].append(
                {
                    "max_cell": cap,
                    "kept_cells": int(sizes["cells"]),
                    "candidate_pairs": int(sizes["pairs"] or 0),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["semdedup_max_cell"] = {"error": f"{type(exc).__name__}: {exc}"}

    # substring-coverage n-gram width: shorter grams match more
    # aggressively (higher dup mass, more false-positive overlap),
    # longer grams only catch long verbatim spans — the
    # precision-vs-recall knob of exact-substring dedup
    try:
        from iceberg_tools_spark.operators.dedup import dedup_substring_coverage

        sweep["substring_ngram"] = []
        for ng in (8, 16, 32):
            t = time.perf_counter()
            rows = dedup_substring_coverage(spark, sf_dir, n=ng).collect()
            tot = sum(r["total_grams"] for r in rows)
            dup = sum(r["dup_grams"] for r in rows)
            sweep["substring_ngram"].append(
                {
                    "n": ng,
                    "dup_mass": round(dup / tot, 4) if tot else None,
                    "majority_covered_docs": int(
                        sum(r["n_majority_covered"] for r in rows)
                    ),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["substring_ngram"] = {"error": f"{type(exc).__name__}: {exc}"}

    # video frame-Hamming threshold: the precision/recall knob of
    # frame-vote dedup, measured on the labeled corpus — pairs found
    # vs same-group pairs (ground truth 24) at each threshold; a
    # loose threshold starts admitting cross-group frame collisions
    try:
        from iceberg_tools_spark.operators.video_dedup import (
            make_video_corpus,
            near_dup_video_pairs,
            video_frame_hashes,
        )

        frames = video_frame_hashes(make_video_corpus(spark)).localCheckpoint()
        grp = {
            r["item_id"]: r["group_id"]
            for r in frames.select("item_id", "group_id").distinct().collect()
        }
        sweep["video_frame_hamming"] = []
        for th in (2, 6, 10, 14):
            t = time.perf_counter()
            prs = near_dup_video_pairs(frames, frame_hamming=th).collect()
            same = sum(1 for r in prs if grp[r["ia"]] == grp[r["ib"]])
            sweep["video_frame_hamming"].append(
                {
                    "frame_hamming": th,
                    "pairs": len(prs),
                    "same_group_pairs": same,
                    "cross_group_pairs": len(prs) - same,
                    "recall_vs_24": round(same / 24, 3),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["video_frame_hamming"] = {"error": f"{type(exc).__name__}: {exc}"}

    # image Hamming threshold (r10: VERDICT r9 #6): the JPEG-variant
    # corpus's precision/recall curve — ground truth 96 within-group
    # pairs (16 groups × C(4,2); bmp/png/jpeg-q85/patch variants) vs
    # cross-group admissions as the threshold loosens. The measured
    # margin: within-group max Hamming 9, cross-group min 13.
    try:
        from iceberg_tools_spark.operators.image_dedup import (
            image_dhash_df,
            make_image_corpus,
            near_dup_image_pairs,
        )

        hashed = image_dhash_df(make_image_corpus(spark)).localCheckpoint()
        igrp = {
            r["item_id"]: r["group_id"]
            for r in hashed.select("item_id", "group_id").collect()
        }
        sweep["image_jpeg_hamming"] = []
        for th in (2, 6, 10, 13):
            t = time.perf_counter()
            prs = near_dup_image_pairs(hashed, max_hamming=th).collect()
            same = sum(1 for r in prs if igrp[r["ia"]] == igrp[r["ib"]])
            sweep["image_jpeg_hamming"].append(
                {
                    "max_hamming": th,
                    "pairs": len(prs),
                    "same_group_pairs": same,
                    "cross_group_pairs": len(prs) - same,
                    "recall_vs_96": round(same / 96, 3),
                    "sec": round(time.perf_counter() - t, 3),
                }
            )
    except Exception as exc:  # pragma: no cover - defensive
        sweep["image_jpeg_hamming"] = {"error": f"{type(exc).__name__}: {exc}"}

    # drift-normalized reporting (VERDICT r5 #6): this run in
    # calibration units + per-query ratio vs the pinned baselines.
    # vs_baseline keeps the best-of-2 basis for round-over-round
    # continuity; vs_baseline_firstrun is the UNBIASED view (first
    # run vs first-run baseline — quote THIS one as the headline
    # claim; VERDICT r7 "What's wrong" #3).
    cal_units = {k: round(v / calibration, 3) for k, v in best.items()}
    vs_baseline = {
        k: round(cal_units[k] / BASELINE_CAL[k], 3)
        for k in timings
        if k in BASELINE_CAL
    }
    ratios = sorted(vs_baseline.values())
    median_ratio = ratios[len(ratios) // 2] if ratios else None
    cal_first = {k: round(v / calibration, 3) for k, v in timings.items()}
    vs_baseline_firstrun = {
        k: round(cal_first[k] / BASELINE_CAL[k], 3)
        for k in timings
        if k in BASELINE_CAL
    }
    fr_ratios = sorted(vs_baseline_firstrun.values())
    firstrun_median = fr_ratios[len(fr_ratios) // 2] if fr_ratios else None

    # scale evidence (VERDICT r5 #9): the dedup family at ~sf1.0 —
    # 10× the driver's sf0.1 documents, derived deterministically
    # from it (scripts/gen_scale_corpus.py) — with output/pair
    # counts, demonstrating the near-linear growth the DF/bucket
    # caps promise. Opt out with SPARK_GRAFT_SKIP_SCALE=1.
    # fenced: a failure in the evidence extras must never cost the
    # round its headline BENCH line
    scale_evidence = None
    if not os.environ.get("SPARK_GRAFT_SKIP_SCALE"):
        try:
            sys.path.insert(
                0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
            )
            from gen_scale_corpus import REPLICAS, ensure_scale_dir

            scale_root = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), ".scale"
            )
            t0 = time.perf_counter()
            big_dir = ensure_scale_dir(spark, sf_dir, scale_root)
            gen_sec = round(time.perf_counter() - t0, 3)
            from iceberg_tools_spark.operators.components import dedup_clusters
            from iceberg_tools_spark.operators.dedup import (
                dedup_exact,
                dedup_paragraph_stats,
                dedup_simhash,
                dedup_substring_coverage,
                minhash_pairs,
            )
            from iceberg_tools_spark.operators.semdedup import dedup_semantic_pairs

            # the round-8 ladder members joined the sweep in r9
            # (VERDICT r8 #8): paragraph chunking, substring
            # coverage, and SemDeDup (the scale dir now carries a
            # perturbed 10× embeddings table for the latter)
            scale_ops = {
                "dedup_exact": lambda sp, d: dedup_exact(sp, d),
                "dedup_minhash_pairs": lambda sp, d: minhash_pairs(sp, d),
                "dedup_simhash": lambda sp, d: dedup_simhash(sp, d),
                "dedup_clusters": lambda sp, d: dedup_clusters(sp, d),
                "dedup_paragraph_stats": lambda sp, d: dedup_paragraph_stats(sp, d),
                "dedup_substring_coverage": lambda sp, d: dedup_substring_coverage(sp, d),
                "dedup_semantic_pairs": lambda sp, d: dedup_semantic_pairs(sp, d),
            }
            scale_evidence = {
                "replicas": REPLICAS,
                "gen_sec": gen_sec,
                "rows": {},
            }
            for label, d in (("sf0.1", sf_dir), (f"sf0.1x{REPLICAS}", big_dir)):
                row = {}
                for op, fn in scale_ops.items():
                    t0 = time.perf_counter()
                    n = fn(spark, d).count()
                    row[op] = {"rows": n, "sec": round(time.perf_counter() - t0, 3)}
                scale_evidence["rows"][label] = row
        except Exception as exc:  # pragma: no cover - defensive
            scale_evidence = {"error": f"{type(exc).__name__}: {exc}"}

    # metadata-scale evidence: scan planning over a synthetic table
    # with thousands of files stays driver-side KB-work — commit
    # throughput, plan latency and the pruned fraction at 40
    # snapshots × 50 files (each snapshot a disjoint identity-key
    # range, so a point predicate prunes 39/40 manifests at level 1)
    metadata_scale = None
    dv_scale = None
    rewrite_scale = None
    stats_scale = None
    rangejoin_scale = None
    ivm_scale = None
    import_scale = None
    orphan_scale = None
    perceptual_scale = None
    replication_scale = None
    cdf_scale = None
    dv_transfer_scale = None
    delta_evo_scale = None
    rest_scale = None
    if not os.environ.get("SPARK_GRAFT_SKIP_SCALE"):
        try:
            metadata_scale = _metadata_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            metadata_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            orphan_scale = _orphan_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            orphan_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            perceptual_scale = _perceptual_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            perceptual_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            dv_scale = _dv_scale_evidence()
        except Exception as exc:  # pragma: no cover - defensive
            dv_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            rewrite_scale = _rewrite_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            rewrite_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            stats_scale = _stats_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            stats_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            rangejoin_scale = _rangejoin_scale_evidence(spark, sf_dir)
        except Exception as exc:  # pragma: no cover - defensive
            rangejoin_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            ivm_scale = _ivm_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            ivm_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            import_scale = _import_scale_evidence(spark, sf_dir)
        except Exception as exc:  # pragma: no cover - defensive
            import_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            replication_scale = _replication_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            replication_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            cdf_scale = _cdf_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            cdf_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            dv_transfer_scale = _dv_transfer_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            dv_transfer_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            delta_evo_scale = _delta_evo_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            delta_evo_scale = {"error": f"{type(exc).__name__}: {exc}"}
        try:
            rest_scale = _rest_scale_evidence(spark)
        except Exception as exc:  # pragma: no cover - defensive
            rest_scale = {"error": f"{type(exc).__name__}: {exc}"}

    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
        "n_queries": len(timings),
        "session_startup_sec": round(startup, 3),
        "warmup_sec": round(warmup, 3),
        "calibration_sec": round(calibration, 3),
        "queries_best_of2": best,
        "queries_calibrated": cal_units,
        "vs_baseline": vs_baseline,
        "vs_baseline_median": median_ratio,
        "queries_calibrated_firstrun": cal_first,
        "vs_baseline_firstrun": vs_baseline_firstrun,
        "vs_baseline_firstrun_median": firstrun_median,
        "knob_sweep": sweep,
        "scale_evidence": scale_evidence,
        "metadata_scale": metadata_scale,
        "orphan_scale": orphan_scale,
        "perceptual_scale": perceptual_scale,
        "dv_scale": dv_scale,
        "rewrite_scale": rewrite_scale,
        "stats_scale": stats_scale,
        "rangejoin_scale": rangejoin_scale,
        "ivm_scale": ivm_scale,
        "import_scale": import_scale,
        "replication_scale": replication_scale,
        "cdf_scale": cdf_scale,
        "dv_transfer_scale": dv_transfer_scale,
        "delta_evo_scale": delta_evo_scale,
        "rest_scale": rest_scale,
    }
    # full metric JSON goes to a FILE (VERDICT r6 artifact bug: the
    # driver keeps only the tail of a giant stdout line, which lost
    # the per-query raws in BENCH_r06); stdout gets a compact line
    # that still carries the contract fields and stays well under
    # the capture window
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    compact = {
        "metric": "headline_total",
        "value": out["value"],
        "unit": "sec",
        "queries": timings,
        "sf": out["sf"],
        "cpus": cpus,
        "n_queries": len(timings),
        "calibration_sec": out["calibration_sec"],
        "vs_baseline_median": median_ratio,
        "vs_baseline_firstrun_median": firstrun_median,
        "full_metrics_file": "bench_out.json",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # hard ceiling: never regrow past capture
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
