"""Generate the merge-on-read (MoR) fixture (tests/fixtures/mor/):
an Iceberg v2 table with REAL parquet data files, positional and
equality DELETE files, entry-level sequence numbers, and a
partition-spec evolution — the surface VERDICT r5 "Next round" #1-2
asked for.

Unlike the multi_snapshot fixture (pure metadata; fictional data
paths), this one is a complete physical table laid out the way real
Iceberg tables are, so URIs resolve location-relative (VERDICT r5
#10) and row-level MoR reads can be verified end-to-end by BOTH
engines (Spark `_metadata.row_index` vs DuckDB `file_row_number`):

    tests/fixtures/mor/
      v2.metadata.json
      metadata/  m1 m2 m5 m6 .avro + snap-200{1..4}.avro
      data/category=…/{A,B,C,D}.parquet      (spec 0: identity(category))
      data/category=w/id_trunc=300/F.parquet (spec 1: + truncate[100](id))
      data/deletes/{pd1,ed1}.parquet         (v2 delete files)

Table: id (long, field 1), category (string, field 2).

History (all sequence numbers explicit):

    2001 seq 1  append  m1=[A(x,1-100), B(y,101-150)]        spec 0
    2002 seq 2  append  m2=[C(x,151-250), D(z,251-300)]      spec 0
    2003 seq 3  delete  m5=[pd1 (positional), ed1 (equality)] content=1
    2004 seq 4  append  m6=[F(w,301-340)]                     spec 1

Delete files (the v2 spec's two delete-file shapes):

    pd1  POSITION_DELETES  partition x   (file_path, pos) rows:
         A pos 0-9 (ids 1-10), C pos 0-4 (ids 151-155)
    ed1  EQUALITY_DELETES   partition z   equality_ids=[1] (id):
         ids 260, 270  → applies to D (data seq 2 < delete seq 3)

Live rows at 2003: A=90, B=50, C=95, D=48 → 283.
At 2004: + F=40 → 323 (F's seq 4 > 3: no deletes apply).

Reference parity anchor: the `content` field of `manifest_file` /
`data_file` is part of the v2 Avro schemas the reference reads
(ManifestFileReadTool.java:170-197 schema path); delete-file
application semantics follow the public Iceberg v2 spec
(sequence-number rules: positional applies when data_seq <=
delete_seq, equality when data_seq < delete_seq).

Deterministic: identical metadata/Avro bytes every run (parquet
bytes depend only on the installed pyarrow). Run from the repo root:

    python scripts/gen_mor_fixture.py
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_tools_spark.avro.writer import write_container
from iceberg_tools_spark.iceberg.commit import (
    MANIFEST_LIST_SCHEMA,
    manifest_entry_schema,
)
from iceberg_tools_spark.iceberg.conversions import to_bytes

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "mor",
)

LOCATION = "file:///tmp/mor_table"

ADDED, EXISTING, DELETED = 1, 0, 2
DATA, POSITION_DELETES, EQUALITY_DELETES = 0, 1, 2

# name → (relative path, category, lo_id, hi_id)
DATA_FILES = {
    "A": ("data/category=x/A.parquet", "x", 1, 100),
    "B": ("data/category=y/B.parquet", "y", 101, 150),
    "C": ("data/category=x/C.parquet", "x", 151, 250),
    "D": ("data/category=z/D.parquet", "z", 251, 300),
    "F": ("data/category=w/id_trunc=300/F.parquet", "w", 301, 340),
}

PD1_REL = "data/deletes/pd1.parquet"
ED1_REL = "data/deletes/ed1.parquet"

# positional deletes: (data file name, positions)
PD1_ROWS = [("A", range(0, 10)), ("C", range(0, 5))]
ED1_IDS = [260, 270]


SPEC0_FIELDS = [("category", "string")]
SPEC1_FIELDS = [("category", "string"), ("id_trunc", "long")]

# MANIFEST_LIST_SCHEMA / manifest_entry_schema come from
# iceberg_tools_spark.iceberg.commit (single source of truth for the
# v2 record shapes; this generator was their origin).


def manifest_schema(partition_fields: list[tuple[str, str]], suffix: str, **kw) -> dict:
    """``manifest_entry_schema`` with its records named ``<name>_<suffix>``,
    as the committed fixtures were written (the engine now writes the
    fixed Java names), so a regeneration reproduces their bytes."""
    schema = manifest_entry_schema(partition_fields, **kw)
    data_file = schema["fields"][3]["type"]
    bounds = {f["name"]: f for f in data_file["fields"]}
    for node in (
        data_file,
        bounds["partition"]["type"],
        bounds["lower_bounds"]["type"][1]["items"],
        bounds["upper_bounds"]["type"][1]["items"],
    ):
        node["name"] = f"{node['name']}_{suffix}"
    return schema


def _file_size(rel: str) -> int:
    return os.path.getsize(os.path.join(OUT_DIR, *rel.split("/")))


def _data_entry(name: str, snapshot_id: int, seq: int | None, spec1: bool = False) -> dict:
    """ADDED data-file entry. `seq=None` exercises v2 sequence-number
    inheritance (null → manifest's sequence_number); an explicit seq
    exercises the explicit path."""
    rel, cat, lo, hi = DATA_FILES[name]
    part: dict = {"category": cat}
    if spec1:
        part["id_trunc"] = (lo // 100) * 100
    return {
        "status": ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "data_file": {
            "content": DATA,
            "file_path": f"{LOCATION}/{rel}",
            "file_format": "PARQUET",
            "partition": part,
            "record_count": hi - lo + 1,
            "file_size_in_bytes": _file_size(rel),
            "lower_bounds": [{"key": 1, "value": to_bytes("long", lo)}, {"key": 2, "value": to_bytes("string", cat)}],
            "upper_bounds": [{"key": 1, "value": to_bytes("long", hi)}, {"key": 2, "value": to_bytes("string", cat)}],
            "equality_ids": None,
            "sort_order_id": 0,
        },
    }


def _delete_entry(rel: str, content: int, cat: str, record_count: int,
                  equality_ids: list[int] | None) -> dict:
    return {
        "status": ADDED,
        "snapshot_id": 2003,
        "sequence_number": None,  # inherited → 3
        "data_file": {
            "content": content,
            "file_path": f"{LOCATION}/{rel}",
            "file_format": "PARQUET",
            "partition": {"category": cat},
            "record_count": record_count,
            "file_size_in_bytes": _file_size(rel),
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": equality_ids,
            "sort_order_id": None,
        },
    }


def manifests() -> dict[str, tuple[dict, list[dict]]]:
    """name → (schema, entries). D carries an EXPLICIT sequence
    number; every other entry inherits from its manifest."""
    s0 = manifest_schema(SPEC0_FIELDS, "s0")
    s1 = manifest_schema(SPEC1_FIELDS, "s1")
    return {
        "m1": (s0, [_data_entry("A", 2001, None), _data_entry("B", 2001, None)]),
        "m2": (s0, [_data_entry("C", 2002, None), _data_entry("D", 2002, 2)]),
        "m5": (s0, [
            _delete_entry(PD1_REL, POSITION_DELETES, "x",
                          sum(len(p) for _, p in PD1_ROWS), None),
            _delete_entry(ED1_REL, EQUALITY_DELETES, "z", len(ED1_IDS), [1]),
        ]),
        "m6": (s1, [_data_entry("F", 2004, None, spec1=True)]),
    }


# manifest → (spec_id, content, sequence number)
MANIFEST_META = {
    "m1": (0, 0, 1),
    "m2": (0, 0, 2),
    "m5": (0, 1, 3),
    "m6": (1, 0, 4),
}

# snapshot → manifest names in its list
SNAPSHOT_MANIFESTS = {
    2001: ["m1"],
    2002: ["m1", "m2"],
    2003: ["m1", "m2", "m5"],
    2004: ["m1", "m2", "m5", "m6"],
}

SNAPSHOT_META = {
    # id → (parent, timestamp-ms, operation)
    2001: (None, 1710000001000, "append"),
    2002: (2001, 1710000002000, "append"),
    2003: (2002, 1710000003000, "delete"),
    2004: (2003, 1710000004000, "append"),
}

CURRENT = 2004


def _counts(entries: list[dict]) -> dict:
    out = {
        "added_files_count": 0, "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": 0, "existing_rows_count": 0, "deleted_rows_count": 0,
    }
    label = {ADDED: "added", EXISTING: "existing", DELETED: "deleted"}
    for e in entries:
        out[f"{label[e['status']]}_files_count"] += 1
        out[f"{label[e['status']]}_rows_count"] += e["data_file"]["record_count"]
    return out


def _summaries(entries: list[dict], spec_fields: list[tuple[str, str]]) -> list[dict]:
    out = []
    for fname, ftype in spec_fields:
        vals = sorted(e["data_file"]["partition"][fname] for e in entries)
        out.append({
            "contains_null": False,
            "lower_bound": to_bytes(ftype, vals[0]),
            "upper_bound": to_bytes(ftype, vals[-1]),
        })
    return out


def _manifest_list_rows(names: list[str], lengths: dict[str, int],
                        mans: dict[str, tuple[dict, list[dict]]]) -> list[dict]:
    rows = []
    for n in names:
        spec_id, content, seq = MANIFEST_META[n]
        _, entries = mans[n]
        spec_fields = SPEC1_FIELDS if spec_id == 1 else SPEC0_FIELDS
        rows.append({
            "manifest_path": f"{LOCATION}/metadata/{n}.avro",
            "manifest_length": lengths[n],
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": max(e["snapshot_id"] for e in entries),
            **_counts(entries),
            "partitions": _summaries(entries, spec_fields),
        })
    return rows


def metadata() -> dict:
    return {
        "format-version": 2,
        "table-uuid": "33333333-4444-5555-6666-777777777777",
        "location": LOCATION,
        "last-sequence-number": 4,
        "last-updated-ms": 1710000004000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "schema-id": 0,
                "type": "struct",
                "fields": [
                    {"id": 1, "name": "id", "required": True, "type": "long"},
                    {"id": 2, "name": "category", "required": False, "type": "string"},
                ],
            }
        ],
        "default-spec-id": 1,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "category", "transform": "identity", "source-id": 2, "field-id": 1000},
                ],
            },
            {
                "spec-id": 1,
                "fields": [
                    {"name": "category", "transform": "identity", "source-id": 2, "field-id": 1000},
                    {"name": "id_trunc", "transform": "truncate[100]", "source-id": 1, "field-id": 1001},
                ],
            },
        ],
        "last-partition-id": 1001,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": CURRENT,
        "snapshots": [
            {
                "sequence-number": MANIFEST_META[SNAPSHOT_MANIFESTS[sid][-1]][2],
                "snapshot-id": sid,
                **({"parent-snapshot-id": parent} if parent is not None else {}),
                "timestamp-ms": ts,
                "summary": {"operation": op},
                "manifest-list": f"{LOCATION}/metadata/snap-{sid}.avro",
                "schema-id": 0,
            }
            for sid, (parent, ts, op) in SNAPSHOT_META.items()
        ],
        "snapshot-log": [
            {"timestamp-ms": SNAPSHOT_META[sid][1], "snapshot-id": sid}
            for sid in sorted(SNAPSHOT_META)
        ],
        "metadata-log": [],
    }


def write_parquet(rel: str, table: pa.Table) -> None:
    path = os.path.join(OUT_DIR, *rel.split("/"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def main() -> None:
    os.makedirs(os.path.join(OUT_DIR, "metadata"), exist_ok=True)

    # -- physical data files
    for name, (rel, cat, lo, hi) in DATA_FILES.items():
        ids = list(range(lo, hi + 1))
        write_parquet(rel, pa.table({
            "id": pa.array(ids, pa.int64()),
            "category": pa.array([cat] * len(ids), pa.string()),
        }))
    # -- positional delete file: (file_path, pos) per the v2 spec
    pd_paths, pd_pos = [], []
    for name, positions in PD1_ROWS:
        rel = DATA_FILES[name][0]
        for p in positions:
            pd_paths.append(f"{LOCATION}/{rel}")
            pd_pos.append(p)
    write_parquet(PD1_REL, pa.table({
        "file_path": pa.array(pd_paths, pa.string()),
        "pos": pa.array(pd_pos, pa.int64()),
    }))
    # -- equality delete file: one column per equality field id
    write_parquet(ED1_REL, pa.table({"id": pa.array(ED1_IDS, pa.int64())}))

    # -- manifests (sized AFTER parquet so file_size_in_bytes is real)
    mans = manifests()
    lengths: dict[str, int] = {}
    for name, (schema, entries) in mans.items():
        blob = write_container(schema, entries)
        lengths[name] = len(blob)
        with open(os.path.join(OUT_DIR, "metadata", f"{name}.avro"), "wb") as f:
            f.write(blob)
    # -- manifest lists
    for sid, names in SNAPSHOT_MANIFESTS.items():
        blob = write_container(MANIFEST_LIST_SCHEMA, _manifest_list_rows(names, lengths, mans))
        with open(os.path.join(OUT_DIR, "metadata", f"snap-{sid}.avro"), "wb") as f:
            f.write(blob)
    with open(os.path.join(OUT_DIR, "v2.metadata.json"), "w") as f:
        json.dump(metadata(), f, indent=2)
    print(f"wrote {OUT_DIR}: manifests {lengths}")


if __name__ == "__main__":
    main()
