"""Generate the Iceberg v3 deletion-vector fixture
(tests/fixtures/dv/): the v3 successor of the MoR fixture — the same
physical table shape, but position deletes stored as
``deletion-vector-v1`` Puffin blobs instead of row-per-delete
parquet files (Iceberg table spec v3, "Deletion vectors").

    tests/fixtures/dv/
      v3.metadata.json
      metadata/  m1 m2 m5 .avro + snap-300{1..3}.avro
      data/category=…/{A,B,C,D}.parquet   (spec 0: identity(category))
      data/deletes/dv1.puffin             (2 deletion-vector-v1 blobs)

Table: id (long, field 1), category (string, field 2).

History (sequence numbers explicit in the lists, inherited by
entries):

    3001 seq 1  append  m1=[A(x,1-100), B(y,101-150)]
    3002 seq 2  append  m2=[C(x,151-250), D(z,251-300)]
    3003 seq 3  delete  m5=[DV(A), DV(C)]   content=1, format PUFFIN

Deletion vectors (one blob per referenced data file, at most one DV
per file — the v3 invariant):

    DV(A): positions 0-9  (ids 1-10)
    DV(C): positions 0-4  (ids 151-155)

Live rows at 3003: A=90, B=50, C=95, D=50 → 285.

Each DV's manifest entry is a v3 ``data_file`` with content=1
(POSITION_DELETES), ``file_format='PUFFIN'``, the REQUIRED
``referenced_data_file``, and ``content_offset`` /
``content_size_in_bytes`` locating its blob inside the shared Puffin
file; ``record_count`` is the vector's cardinality.

Deterministic: identical bytes every run. Run from the repo root:

    python scripts/gen_dv_fixture.py
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_tools_spark.avro.writer import write_container
from iceberg_tools_spark.iceberg.commit import MANIFEST_LIST_SCHEMA
from iceberg_tools_spark.iceberg.conversions import to_bytes
from iceberg_tools_spark.iceberg.puffin import write_deletion_vectors
from scripts.gen_mor_fixture import manifest_schema

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "dv",
)

LOCATION = "file:///tmp/dv_table"

ADDED = 1
DATA, POSITION_DELETES = 0, 1

# name → (relative path, category, lo_id, hi_id)
DATA_FILES = {
    "A": ("data/category=x/A.parquet", "x", 1, 100),
    "B": ("data/category=y/B.parquet", "y", 101, 150),
    "C": ("data/category=x/C.parquet", "x", 151, 250),
    "D": ("data/category=z/D.parquet", "z", 251, 300),
}

DV_REL = "data/deletes/dv1.puffin"
# referenced data file name → deleted positions
DV_POSITIONS = {"A": list(range(0, 10)), "C": list(range(0, 5))}

SPEC_FIELDS = [("category", "string")]

SNAPSHOT_MANIFESTS = {3001: ["m1"], 3002: ["m1", "m2"], 3003: ["m1", "m2", "m5"]}
MANIFEST_META = {"m1": (0, 0, 1), "m2": (0, 0, 2), "m5": (0, 1, 3)}
SNAPSHOT_META = {
    3001: (None, 1720000001000, "append"),
    3002: (3001, 1720000002000, "append"),
    3003: (3002, 1720000003000, "delete"),
}
CURRENT = 3003


def _path(rel: str) -> str:
    return os.path.join(OUT_DIR, *rel.split("/"))


def _data_entry(name: str, snapshot_id: int) -> dict:
    rel, cat, lo, hi = DATA_FILES[name]
    return {
        "status": ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": None,  # inherited from the manifest list
        "data_file": {
            "content": DATA,
            "file_path": f"{LOCATION}/{rel}",
            "file_format": "PARQUET",
            "partition": {"category": cat},
            "record_count": hi - lo + 1,
            "file_size_in_bytes": os.path.getsize(_path(rel)),
            "lower_bounds": [
                {"key": 1, "value": to_bytes("long", lo)},
                {"key": 2, "value": to_bytes("string", cat)},
            ],
            "upper_bounds": [
                {"key": 1, "value": to_bytes("long", hi)},
                {"key": 2, "value": to_bytes("string", cat)},
            ],
            "equality_ids": None,
            "sort_order_id": 0,
            "referenced_data_file": None,
            "content_offset": None,
            "content_size_in_bytes": None,
        },
    }


def _dv_entry(name: str, blob_meta: dict) -> dict:
    rel, cat, _, _ = DATA_FILES[name]
    return {
        "status": ADDED,
        "snapshot_id": 3003,
        "sequence_number": None,  # inherited → 3
        "data_file": {
            "content": POSITION_DELETES,
            "file_path": f"{LOCATION}/{DV_REL}",
            "file_format": "PUFFIN",
            "partition": {"category": cat},
            "record_count": len(DV_POSITIONS[name]),
            "file_size_in_bytes": os.path.getsize(_path(DV_REL)),
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
            "sort_order_id": None,
            "referenced_data_file": f"{LOCATION}/{rel}",
            "content_offset": blob_meta["offset"],
            "content_size_in_bytes": blob_meta["length"],
        },
    }


def _counts(entries: list[dict]) -> dict:
    return {
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }


def _summaries(entries: list[dict]) -> list[dict]:
    vals = sorted(e["data_file"]["partition"]["category"] for e in entries)
    return [
        {
            "contains_null": False,
            "lower_bound": to_bytes("string", vals[0]),
            "upper_bound": to_bytes("string", vals[-1]),
        }
    ]


def metadata() -> dict:
    return {
        "format-version": 3,
        "table-uuid": "55555555-6666-7777-8888-999999999999",
        "location": LOCATION,
        "last-sequence-number": 3,
        "last-updated-ms": 1720000003000,
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
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "category", "transform": "identity", "source-id": 2, "field-id": 1000},
                ],
            },
        ],
        "last-partition-id": 1000,
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


def main() -> None:
    os.makedirs(os.path.join(OUT_DIR, "metadata"), exist_ok=True)

    # -- physical data files
    for name, (rel, cat, lo, hi) in DATA_FILES.items():
        ids = list(range(lo, hi + 1))
        os.makedirs(os.path.dirname(_path(rel)), exist_ok=True)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "category": pa.array([cat] * len(ids), pa.string()),
            }),
            _path(rel),
        )

    # -- the deletion vectors (one Puffin file, one blob per target)
    os.makedirs(os.path.dirname(_path(DV_REL)), exist_ok=True)
    blob_metas = write_deletion_vectors(
        _path(DV_REL),
        [
            (f"{LOCATION}/{DATA_FILES[n][0]}", DV_POSITIONS[n])
            for n in sorted(DV_POSITIONS)
        ],
        snapshot_id=3003,
        sequence_number=3,
    )
    by_name = dict(zip(sorted(DV_POSITIONS), blob_metas))

    # -- manifests (v3 entry schema: DV locator fields present)
    mans = {
        "m1": [_data_entry("A", 3001), _data_entry("B", 3001)],
        "m2": [_data_entry("C", 3002), _data_entry("D", 3002)],
        "m5": [_dv_entry(n, by_name[n]) for n in sorted(DV_POSITIONS)],
    }
    schema = manifest_schema(SPEC_FIELDS, "dv", v3=True)
    lengths: dict[str, int] = {}
    for mname, entries in mans.items():
        blob = write_container(schema, entries)
        lengths[mname] = len(blob)
        with open(os.path.join(OUT_DIR, "metadata", f"{mname}.avro"), "wb") as f:
            f.write(blob)
    # -- manifest lists
    for sid, names in SNAPSHOT_MANIFESTS.items():
        rows = []
        for n in names:
            spec_id, content, seq = MANIFEST_META[n]
            rows.append({
                "manifest_path": f"{LOCATION}/metadata/{n}.avro",
                "manifest_length": lengths[n],
                "partition_spec_id": spec_id,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": max(e["snapshot_id"] for e in mans[n]),
                **_counts(mans[n]),
                "partitions": _summaries(mans[n]),
            })
        blob = write_container(MANIFEST_LIST_SCHEMA, rows)
        with open(os.path.join(OUT_DIR, "metadata", f"snap-{sid}.avro"), "wb") as f:
            f.write(blob)
    with open(os.path.join(OUT_DIR, "v3.metadata.json"), "w") as f:
        json.dump(metadata(), f, indent=2)
    print(f"wrote {OUT_DIR}: manifests {lengths}, dv blobs {by_name}")


if __name__ == "__main__":
    main()
