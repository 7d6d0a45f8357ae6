"""Row-level CDC changelog × Structured Streaming: consume a
snapshot range's net INSERT/DELETE rows as micro-batches, ONE
COMMIT PER BATCH — the "subscribe to a table's changes" feed a
downstream incremental materialization runs on.

Composition of two existing pieces (same pattern as
``streaming/incremental.py``):

* ``changelog.changelog_between`` — per-commit net change rows
  derived from metadata increments (scans only CHANGED files);
* the file-stream source with ``maxFilesPerTrigger=1`` over a
  staging directory holding ONE parquet file per commit, named in
  commit order — so the stream replays commits in order and each
  micro-batch is exactly one commit's delta (the transactional
  granularity a CDC consumer needs; processing two commits' rows
  in one batch could observe a row's DELETE before its INSERT).

Staging is the local stand-in for a changelog topic/queue: the
planning half (which rows changed, attributed to which commit) and
the consumption half (ordered, rate-limited micro-batches) are the
production shape; only the hand-off medium differs.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..iceberg.changelog import changelog_between
from ..iceberg.metadata import parse_metadata
from ..iceberg.snapshots import ancestor_chain
from ..session import local_frame

_GATE_SEQ = itertools.count()


def changelog_stream(
    spark: SparkSession,
    metadata_path: str,
    from_id: int,
    to_id: int,
    staging_dir: str,
    base_dir: str | None = None,
) -> tuple[DataFrame, int]:
    """Streaming DataFrame over the changelog of ``(from_id,
    to_id]`` plus the number of commits staged (== micro-batches a
    ``maxFilesPerTrigger=1`` drain will see). Raises on an empty
    range like the incremental file stream."""
    from ..iceberg.rewrite_data import _write_single_parquet

    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    chain = ancestor_chain(meta, to_id)
    if from_id not in chain:
        raise ValueError(
            f"snapshot {from_id} is not an ancestor of {to_id}; "
            "changelog undefined across branches"
        )
    sids = list(reversed(chain[: chain.index(from_id)]))  # oldest first
    if not sids:
        raise ValueError(f"empty snapshot range ({from_id}, {to_id}]")

    if os.path.isdir(staging_dir):
        shutil.rmtree(staging_dir)
    os.makedirs(staging_dir)
    prev = from_id
    schema = None
    for i, sid in enumerate(sids):
        batch = changelog_between(spark, metadata_path, prev, sid, base_dir)
        schema = batch.schema
        _write_single_parquet(
            batch, os.path.join(staging_dir, f"{i:05d}-snap-{sid}.parquet")
        )
        prev = sid
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging_dir)
    )
    return stream, len(sids)


# ------------------------------------------------ driver-gate query


def changelog_stream_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate: the MoR fixture's full CDC history (2001 →
    2004) consumed THROUGH the commit-per-batch stream and drained
    to a memory sink. The oracle is the same independent
    full-materialization diff `changelog_rows` uses (DuckDB EXCEPT
    ALL over every snapshot's visible row set) — certifying that
    streamed CDC consumption loses/dups/reorders nothing vs the
    batch changelog. (``sf_dir`` unused.)"""
    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import MOR_METADATA
    from .jobs import run_to_memory

    seq = next(_GATE_SEQ)
    name = f"cdc_stream_gate_rows_{seq}"
    staging = _scratch_dir(f"cdc_stream_gate_{seq}_")
    try:
        stream, _ = changelog_stream(spark, MOR_METADATA, 2001, 2004, staging)
        got = run_to_memory(stream, name)
        out = got.orderBy("snapshot_id", "change_type", "id").select(
            "snapshot_id", "change_type", "id", "category"
        )
        rows = out.collect()  # materialize BEFORE the memory sink's
        # temp view drops (same containment as the incremental
        # stream gate; the changelog is bounded by design)
        return local_frame(spark, rows, out.schema)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        spark.catalog.dropTempView(name)


def _sql() -> str:
    from ..iceberg.changelog import CHANGELOG_SQL

    return CHANGELOG_SQL


CHANGELOG_STREAM_SQL = _sql()


def replicate_changelog(
    spark: SparkSession,
    src_metadata: str,
    from_id: int,
    to_id: int,
    staging_dir: str,
    target_root: str,
    *,
    base_dir: str | None = None,
) -> dict:
    """CDC REPLICATION — the full-circle composition: replay table
    A's changelog stream into a fresh table B through the engine's
    OWN write path, one commit per micro-batch:

    * B seeds from A's state at ``from_id`` (one materialized
      snapshot);
    * each micro-batch (= exactly one source commit, see
      :func:`changelog_stream`) applies its DELETE rows via
      ``delete_where`` (position-delete commit) and its INSERT rows
      via a staged parquet + ``append_snapshot``;
    * afterwards ``read_mor(B)`` must equal ``read_mor(A, to_id)``
      row-for-row — B's history is a faithful per-commit replica.

    The per-batch delete keys NEVER round-trip through the driver:
    each batch stages its DELETE keys as parquet (an executor
    write), and ``delete_where`` resolves victims with a null-safe
    semi-join against that keys frame (VERDICT r6 #1 — the former
    ``collect()`` + ``id IN (...)`` literal meant a driver-side
    list plus a multi-MB predicate string for a commit deleting
    millions of rows). Returns ``{"metadata_path", "n_batches",
    "target_root"}``."""
    import os

    from ..iceberg.commit import append_snapshot, create_table
    from ..iceberg.deletes import read_mor
    from ..iceberg.dml import delete_where
    from ..iceberg.rewrite_data import _write_single_parquet

    base_dir = base_dir or os.path.dirname(src_metadata)

    # ---- seed B with A@from_id
    mp = create_table(
        target_root, [("id", "long"), ("category", "string")],
        table_uuid="00000000-0000-0000-0000-00000000c001",
        location="file:///tmp/cdc_replica_table",
    )
    seed = read_mor(spark, src_metadata, from_id, base_dir).select("id", "category")
    _write_single_parquet(seed.orderBy("id"), os.path.join(target_root, "data", "seed.parquet"))
    state = append_snapshot(mp, [{"path": "data/seed.parquet", "partition": {}}])

    stream, n_batches = changelog_stream(
        spark, src_metadata, from_id, to_id, staging_dir, base_dir
    )
    holder = {"mp": state["metadata_path"], "batch": 0}

    def _apply(batch_df, batch_id):
        deletes = batch_df.filter("change_type = 'DELETE'")
        inserts = batch_df.filter("change_type = 'INSERT'").select("id", "category")
        # stage the delete KEYS as parquet (executor write; also
        # bridges the micro-batch's isolated session back to the
        # main one) and let delete_where semi-join them — row keys
        # never pass through the driver
        key_dir = os.path.join(target_root, "data", f"_cdc-keys-b{holder['batch']}")
        deletes.select("id").write.mode("overwrite").parquet(key_dir)
        keys = spark.read.parquet(key_dir)
        if keys.limit(1).count():
            res = delete_where(spark, holder["mp"], keys)
            holder["mp"] = res["metadata_path"]
        import shutil

        shutil.rmtree(key_dir, ignore_errors=True)
        n_ins = inserts.count()
        if n_ins:
            rel = f"data/cdc-b{holder['batch']}.parquet"
            _write_single_parquet(
                inserts.orderBy("id"),
                os.path.join(target_root, rel),
            )
            res = append_snapshot(holder["mp"], [{"path": rel, "partition": {}}])
            holder["mp"] = res["metadata_path"]
        holder["batch"] += 1

    q = stream.writeStream.foreachBatch(_apply).trigger(availableNow=True).start()
    q.awaitTermination()
    return {
        "metadata_path": holder["mp"],
        "n_batches": holder["batch"],
        "target_root": target_root,
    }


def cdc_replicate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for CDC replication: replay the MoR fixture's
    full history (2001 → 2004) into a fresh replica through the
    stream + the engine's own DML, then compare the replica's MoR
    read against the source's — golden: 3 replayed commits, 323
    live rows, zero missing, zero extra. (``sf_dir`` unused.)"""
    import os

    from ..iceberg.commit import _scratch_dir
    from ..iceberg.deletes import MOR_METADATA, read_mor
    from ..iceberg.metadata import parse_metadata

    scratch = _scratch_dir("cdc_replica_")
    res = replicate_changelog(
        spark,
        MOR_METADATA,
        2001,
        2004,
        os.path.join(scratch, "staging"),
        os.path.join(scratch, "t"),
    )
    meta = parse_metadata(res["metadata_path"])
    replica = read_mor(
        spark, res["metadata_path"], meta.current_snapshot_id, res["target_root"]
    ).select("id", "category")
    source = read_mor(spark, MOR_METADATA, 2004).select("id", "category")
    missing = source.exceptAll(replica).count()
    extra = replica.exceptAll(source).count()
    return local_frame(
        spark,
        [(res["n_batches"], replica.count(), missing, extra)],
        "n_batches int, replica_rows long, missing long, extra long",
    )


CDC_REPLICATE_SQL = """
SELECT CAST(n_batches AS INTEGER) AS n_batches,
       CAST(replica_rows AS BIGINT) AS replica_rows,
       CAST(missing AS BIGINT) AS missing, CAST(extra AS BIGINT) AS extra
FROM (VALUES (3, 323, 0, 0)) t(n_batches, replica_rows, missing, extra)
"""
