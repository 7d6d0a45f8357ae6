"""Row-level CDC changelog between snapshots — the Spark-native
equivalent of Iceberg's ``create_changelog_view`` procedure
(public Iceberg Spark-procedures surface; the reference CLI stops
at manifest dumps, this is the row-level consumer its metadata
serves).

``changelog_between(from, to)`` emits, for every snapshot on the
ancestor chain ``(from, to]``, the rows that commit INSERTed and
the rows it DELETEd — net row-level changes, derived from METADATA
increments rather than by diffing full table reads:

* **inserts at s** — rows of data files whose entry first appears
  at s, with s's delete files applied (a row added and deleted by
  the same commit was never visible, hence not a net insert);
* **deletes at s** — rows visible at s's parent that are gone at s:
  rows of data files REMOVED at s (still applying the parent's
  delete files — already-dead rows don't die twice), plus rows of
  carried-over files hit by delete files NEW at s (minus rows the
  parent's delete files had already killed).

At 100 TB this scans only the CHANGED files per snapshot — the
same incremental shape as ``files_added_between`` one level down —
never the whole table; full-table diffing is exactly what the
driver-gate ORACLE does (DuckDB ``EXCEPT ALL`` over complete MoR
materializations of both snapshots), making the check genuinely
independent.

Semantics note: a pure rewrite commit (compaction) removes and adds
files without changing row content; its changelog is empty under
net semantics IF the rewritten rows are bit-identical — this module
emits net changes per PHYSICAL row content, so a compaction that
merely re-shuffles rows across files emits matching DELETE+INSERT
pairs only when row multisets differ per the oracle's definition.
The MoR fixture's history (appends + a MoR delete commit) has no
rewrite commits, so both definitions coincide there.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .deletes import MOR_DIR, MOR_METADATA, apply_deletes, mor_entries_at, mor_frame
from .metadata import TableMetadata, current_schema, parse_metadata
from .snapshots import ancestor_chain

_ICEBERG_TO_SPARK = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
}


def _table_schema(meta: TableMetadata) -> T.StructType:
    schema = current_schema(meta.raw)
    fields = []
    for f in schema.get("fields", []):
        t = _ICEBERG_TO_SPARK.get(f["type"])
        if t is None:
            raise ValueError(f"unsupported Iceberg type {f['type']!r} in changelog")
        fields.append(T.StructField(f["name"], t))
    return T.StructType(fields)


def changelog_between(
    spark: SparkSession,
    metadata_path: str,
    from_id: int,
    to_id: int,
    base_dir: str | None = None,
) -> DataFrame:
    """Net row-level changes per snapshot on ``(from_id, to_id]``.

    Output: ``snapshot_id``, ``change_type`` ('INSERT' | 'DELETE'),
    then the table's data columns. Raises if `from_id` is not an
    ancestor of `to_id` (like :func:`files_added_between`).
    """
    base_dir = base_dir or os.path.dirname(metadata_path)
    meta = parse_metadata(metadata_path)
    chain = ancestor_chain(meta, to_id)
    if from_id not in chain:
        raise ValueError(
            f"snapshot {from_id} is not an ancestor of {to_id}; "
            "changelog undefined across branches"
        )
    data_cols = [f.name for f in _table_schema(meta).fields]

    def _tag(df: DataFrame, sid: int, kind: str) -> DataFrame:
        return df.select(
            F.lit(sid).cast("bigint").alias("snapshot_id"),
            F.lit(kind).alias("change_type"),
            *data_cols,
        )

    frames: list[DataFrame] = []
    idx = chain.index(from_id)
    # chain is newest-first; walk (parent, s) pairs oldest-first
    for i in range(idx - 1, -1, -1):
        s, parent = chain[i], chain[i + 1]
        data_s, dels_s = mor_entries_at(meta, s, base_dir)
        data_p, dels_p = mor_entries_at(meta, parent, base_dir)
        rels_s = {e["rel"] for e in data_s}
        rels_p = {e["rel"] for e in data_p}
        added = [e for e in data_s if e["rel"] not in rels_p]
        removed = [e for e in data_p if e["rel"] not in rels_s]
        common = [e for e in data_s if e["rel"] in rels_p]
        del_rels_p = {e["rel"] for e in dels_p}
        new_dels = [e for e in dels_s if e["rel"] not in del_rels_p]

        if added:
            # new files' rows, minus deletes visible at s itself
            ins = apply_deletes(
                spark, meta, mor_frame(spark, added), dels_s, mode="survivors"
            )
            frames.append(_tag(ins, s, "INSERT"))
        if removed:
            # removed files' rows that were still visible at parent
            gone = apply_deletes(
                spark, meta, mor_frame(spark, removed), dels_p, mode="survivors"
            )
            frames.append(_tag(gone, s, "DELETE"))
        if common and new_dels:
            # carried-over files: rows newly killed at s ...
            victims = apply_deletes(
                spark, meta, mor_frame(spark, common), new_dels, mode="victims"
            )
            # ... that the parent's deletes had not already killed
            still_alive_before = apply_deletes(
                spark, meta, victims, dels_p, mode="survivors"
            )
            frames.append(_tag(still_alive_before, s, "DELETE"))

    if not frames:
        empty = T.StructType(
            [
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("change_type", T.StringType()),
                *_table_schema(meta).fields,
            ]
        )
        return local_frame(spark, [], empty)
    return reduce(DataFrame.unionByName, frames)


# ------------------------------------------------ driver-gate query


def changelog_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog of the MoR fixture across its whole history
    (2001 → 2004): snapshot 2002 inserts C+D's 150 rows, the 2003
    MoR delete commit deletes 17 rows (pd1: A positions 0-9 and C
    positions 0-4; ed1: ids 260/270 in category z), snapshot 2004
    inserts F's 40 rows — 207 change rows total."""
    return changelog_between(spark, MOR_METADATA, 2001, 2004, MOR_DIR).orderBy(
        "snapshot_id", "change_type", "id"
    )


# Independent oracle: full-materialization diff. DuckDB rebuilds the
# VISIBLE row set of every snapshot from the same physical parquet
# (file_row_number playing _metadata.row_index, v2 sequence rules
# re-derived in SQL) and takes EXCEPT ALL in both directions per
# commit — no shared code path with the metadata-increment Spark
# implementation above.
_AB = ", ".join(
    f"'{MOR_DIR}/{r}'"
    for r in ["data/category=x/A.parquet", "data/category=y/B.parquet"]
)
_ABCD = ", ".join(
    f"'{MOR_DIR}/{r}'"
    for r in [
        "data/category=x/A.parquet",
        "data/category=y/B.parquet",
        "data/category=x/C.parquet",
        "data/category=z/D.parquet",
    ]
)
_F = f"'{MOR_DIR}/data/category=w/id_trunc=300/F.parquet'"

# Shared CTE block: the visible row set of every fixture snapshot,
# re-derived in pure SQL. Reused by ivm.py's oracle (which aggregates
# vis4 = head state) so Spark-side incremental maintenance is judged
# against a full recompute that shares NO code with it.
VIS_CTES = f"""
vis1 AS (SELECT id, category FROM read_parquet([{_AB}])),
vis2 AS (SELECT id, category FROM read_parquet([{_ABCD}])),
d3 AS (
  SELECT id, category,
         regexp_extract(filename, 'data/.*$') AS rel,
         file_row_number AS pos
  FROM read_parquet([{_ABCD}], filename=true, file_row_number=true)
),
seqs(rel, seq) AS (VALUES
  ('data/category=x/A.parquet', 1),
  ('data/category=y/B.parquet', 1),
  ('data/category=x/C.parquet', 2),
  ('data/category=z/D.parquet', 2)
),
pd AS (
  SELECT regexp_extract(file_path, 'data/.*$') AS rel, pos
  FROM read_parquet('{MOR_DIR}/data/deletes/pd1.parquet')
),
ed AS (SELECT id FROM read_parquet('{MOR_DIR}/data/deletes/ed1.parquet')),
vis3 AS (
  SELECT d3.id, d3.category
  FROM d3 JOIN seqs ON d3.rel = seqs.rel
  WHERE NOT EXISTS (
          SELECT 1 FROM pd
          WHERE pd.rel = d3.rel AND pd.pos = d3.pos AND seqs.seq <= 3)
    AND NOT (seqs.seq < 3 AND d3.category = 'z'
             AND d3.id IN (SELECT id FROM ed))
),
vis4 AS (
  SELECT id, category FROM vis3
  UNION ALL
  SELECT id, category FROM read_parquet([{_F}])
)"""

CHANGELOG_SQL = f"""
WITH
{VIS_CTES}
SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id, change_type, id, category
FROM (
  SELECT 2002 AS snapshot_id, 'INSERT' AS change_type, id, category
  FROM (SELECT id, category FROM vis2 EXCEPT ALL SELECT id, category FROM vis1)
  UNION ALL
  SELECT 2002, 'DELETE', id, category
  FROM (SELECT id, category FROM vis1 EXCEPT ALL SELECT id, category FROM vis2)
  UNION ALL
  SELECT 2003, 'INSERT', id, category
  FROM (SELECT id, category FROM vis3 EXCEPT ALL SELECT id, category FROM vis2)
  UNION ALL
  SELECT 2003, 'DELETE', id, category
  FROM (SELECT id, category FROM vis2 EXCEPT ALL SELECT id, category FROM vis3)
  UNION ALL
  SELECT 2004, 'INSERT', id, category
  FROM (SELECT id, category FROM vis4 EXCEPT ALL SELECT id, category FROM vis3)
  UNION ALL
  SELECT 2004, 'DELETE', id, category
  FROM (SELECT id, category FROM vis3 EXCEPT ALL SELECT id, category FROM vis4)
) ch
ORDER BY snapshot_id, change_type, id
"""
