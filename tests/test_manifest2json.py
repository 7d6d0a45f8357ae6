"""Reference-parity tests for the Avro reader + manifest2json over
the reference's own fixture files (read-only).

Models the reference's test strategy (`TestDataFileTools.java`):
end-to-end runs with --head / --pretty / stdin variants, plus the
v1/v2 metadata selection logic and typed bound decoding."""

from __future__ import annotations

import io
import json
import os
from decimal import Decimal

import pytest

from iceberg_tools_spark.avro.reader import AvroContainerFile
from iceberg_tools_spark.iceberg import manifest2json as m2j
from iceberg_tools_spark.iceberg.conversions import decode_bound, from_bytes
from iceberg_tools_spark.iceberg.metadata import field_id_types, parse_metadata
from iceberg_tools_spark.iceberg.tables import FIXTURE_MANIFEST, FIXTURE_METADATA


def _fixture(path: str) -> str:
    """``path`` of a reference fixture; raises when it is absent."""
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"reference fixture {path} is missing: it is one of the "
            "hililiwei/iceberg-tools test resources (src/test/resources)"
        )
    return path


# ------------------------------------------------------- avro reader


def test_avro_container_header_and_codec():
    f = AvroContainerFile(open(_fixture(FIXTURE_MANIFEST), "rb").read())
    assert f.codec == "deflate"
    assert f.schema["name"] == "manifest_entry"
    assert f.meta["format-version"] == b"1"


def test_avro_records_decode():
    f = AvroContainerFile(open(_fixture(FIXTURE_MANIFEST), "rb").read())
    recs = list(f)
    assert len(recs) == 2
    assert {r["status"] for r in recs} == {1}
    df = recs[0]["data_file"]
    assert df["file_format"] == "PARQUET"
    assert df["record_count"] == 1
    # bounds arrive as raw bytes before decoding
    assert isinstance(df["lower_bounds"][0]["value"], bytes)


def test_avro_reader_schema_projection():
    f = AvroContainerFile(open(_fixture(FIXTURE_MANIFEST), "rb").read())
    reader = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "long"},  # int→long promotion
            {"name": "added", "type": "string", "default": "yes"},
        ],
    }
    recs = list(f.records(reader))
    assert all(set(r) == {"status", "added"} for r in recs)
    assert all(r["added"] == "yes" for r in recs)


# ------------------------------------------------- metadata (v1 + v2)


def test_metadata_field_map_v1():
    # reference: TestDataFileTools.testReadMetaData expectations
    meta = parse_metadata(_fixture(FIXTURE_METADATA))
    fm = field_id_types(meta.raw)
    assert fm[1] == "long"
    assert fm[2] == "string"


def test_metadata_field_map_v2_schemas_selection():
    v2 = {
        "format-version": 2,
        "current-schema-id": 1,
        "schemas": [
            {"schema-id": 0, "fields": [{"id": 1, "name": "a", "type": "int"}]},
            {"schema-id": 1, "fields": [{"id": 1, "name": "a", "type": "long"},
                                          {"id": 2, "name": "b", "type": "string"}]},
        ],
    }
    fm = field_id_types(v2)
    assert fm == {1: "long", 2: "string"}


# --------------------------------------------------- conversions


def test_single_value_conversions():
    assert from_bytes("long", (1).to_bytes(8, "little", signed=True)) == 1
    assert from_bytes("int", (-7).to_bytes(4, "little", signed=True)) == -7
    assert from_bytes("string", "héllo".encode()) == "héllo"
    assert from_bytes("boolean", b"\x01") is True
    assert from_bytes("date", (19000).to_bytes(4, "little")) == 19000
    assert from_bytes("decimal(9, 2)", (12345).to_bytes(3, "big", signed=True)) == Decimal(
        "123.45"
    )
    assert decode_bound("LONG", (42).to_bytes(8, "little")) == "value:42;type:long"
    assert decode_bound("decimal(9,2)", (150).to_bytes(2, "big")) == (
        "value:1.50;type:decimal(9, 2)"
    )


def test_float_bounds_shortest_round_trip():
    # Java Float.toString picks the shortest decimal that round-trips
    # through float32: 0.1f is "0.1", not the widened-double repr.
    import struct as _s

    def fbytes(x):
        return _s.pack("<f", x)

    assert decode_bound("float", fbytes(0.1)) == "value:0.1;type:float"
    assert decode_bound("float", fbytes(1.5)) == "value:1.5;type:float"
    assert decode_bound("float", fbytes(0.0)) == "value:0.0;type:float"
    assert decode_bound("float", fbytes(-2.25)) == "value:-2.25;type:float"
    assert decode_bound("float", fbytes(3.4e38)) == "value:3.4E38;type:float"
    assert decode_bound("float", fbytes(1e-5)) == "value:1.0E-5;type:float"
    assert decode_bound("float", fbytes(float("nan"))) == "value:NaN;type:float"
    assert decode_bound("float", fbytes(float("inf"))) == "value:Infinity;type:float"
    # shortest-repr property: every emitted string reparses to the same bits
    for v in (0.1, 1.0 / 3.0, 123456.78, 9.999999e6, 1.0000001):
        s = decode_bound("float", fbytes(v)).split(";")[0].removeprefix("value:")
        assert _s.pack("<f", float(s)) == fbytes(v)
    # double path unchanged: full repr precision
    assert decode_bound("double", _s.pack("<d", 0.1)) == "value:0.1;type:double"


# ------------------------------------------------ manifest2json CLI


def _run(*args: str, stdin: bytes | None = None) -> tuple[int, str, str]:
    out, err = io.StringIO(), io.StringIO()
    rc = m2j.main(list(args), stdin_buffer=io.BytesIO(stdin or b""), out=out, err=err)
    return rc, out.getvalue(), err.getvalue()


def test_tojson_bounds_decoded():
    rc, out, _ = _run(_fixture(FIXTURE_MANIFEST), _fixture(FIXTURE_METADATA))
    assert rc == 0
    recs = json.loads(out)
    assert len(recs) == 2
    bounds = [
        kv["value"]
        for r in recs
        for kv in r["data_file"]["lower_bounds"]["array"]
    ]
    assert "value:1;type:long" in bounds
    assert "value:a;type:string" in bounds
    # union values are label-wrapped like Avro JSON encoding
    assert recs[0]["snapshot_id"] == {"long": 8115727803695877401}


def test_tojson_output_framing():
    rc, out, _ = _run(_fixture(FIXTURE_MANIFEST), _fixture(FIXTURE_METADATA))
    lines = out.splitlines()
    assert lines[0] == "["
    assert lines[-1] == "]"
    assert all(line.startswith(",") for line in lines[2:-2])


def test_head_variants():
    rc, out, _ = _run("--head=1", _fixture(FIXTURE_MANIFEST), _fixture(FIXTURE_METADATA))
    assert rc == 0 and len(json.loads(out)) == 1
    rc, out, _ = _run("--head", _fixture(FIXTURE_MANIFEST), _fixture(FIXTURE_METADATA))
    assert rc == 0 and len(json.loads(out)) == 2  # default 10 > record count
    rc, _, err = _run("--head=-1", _fixture(FIXTURE_MANIFEST), _fixture(FIXTURE_METADATA))
    assert rc == 1 and "negative" in err


def test_pretty_output_parses_and_is_indented():
    rc, out, _ = _run("--pretty", _fixture(FIXTURE_MANIFEST), _fixture(FIXTURE_METADATA))
    assert rc == 0
    recs = json.loads(out)
    assert len(recs) == 2
    assert '"status" : 1' in out  # Jackson-style " : " separator


def test_stdin_dash():
    data = open(_fixture(FIXTURE_MANIFEST), "rb").read()
    rc, out, _ = _run("-", _fixture(FIXTURE_METADATA), stdin=data)
    assert rc == 0 and len(json.loads(out)) == 2


def test_wrong_args_prints_help():
    rc, _, err = _run(FIXTURE_MANIFEST)
    assert rc == 1 and "manifest2json" in err


def test_v3_type_surface_conversions():
    """v3 additions (VERDICT r14 #5): geometry/geography serialize
    as verbatim WKB (hex-rendered bounds), parameterized forms keep
    their CRS, and `unknown` — the always-null type — has NO
    single-value serialization (corrupt metadata raises, never a
    silent null)."""
    import pytest as _pytest

    from iceberg_tools_spark.iceberg.conversions import (
        canonical_type,
        to_bytes,
    )

    wkb_point = bytes.fromhex(
        "0101000000000000000000f03f0000000000000040"  # POINT(1 2)
    )
    assert from_bytes("geometry", wkb_point) == wkb_point
    assert to_bytes("geography", wkb_point) == wkb_point
    assert decode_bound("geometry", wkb_point) == (
        f"value:0x{wkb_point.hex()};type:geometry"
    )
    assert canonical_type("GEOMETRY(srid:3857)") == "geometry(srid:3857)"
    assert canonical_type("geography(OGC:CRS84, spherical)") == \
        "geography(ogc:crs84, spherical)"
    assert canonical_type("unknown") == "unknown"
    with _pytest.raises(ValueError, match="no single-value"):
        from_bytes("unknown", b"")
    with _pytest.raises(ValueError, match="no single-value"):
        to_bytes("unknown", None)
    # timestamp_ns was already decodable; pin the rendering
    assert decode_bound(
        "timestamp_ns", (1_500).to_bytes(8, "little")
    ) == "value:1500;type:timestamp_ns"


def test_v3_geometry_bounds_through_manifest2json(tmp_path):
    """End-to-end: a manifest whose bounds carry geometry WKB and an
    `unknown`-typed column decodes through the CLI — geometry bounds
    hex-render, unknown columns simply never appear in bounds."""
    from iceberg_tools_spark.avro.writer import write_container
    from iceberg_tools_spark.iceberg.commit import manifest_entry_schema

    wkb = bytes.fromhex("0101000000000000000000f03f0000000000000040")
    entry = {
        "status": 1,
        "snapshot_id": 1,
        "sequence_number": None,
        "data_file": {
            "content": 0,
            "file_path": "file:///t/data/geo.parquet",
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 3,
            "file_size_in_bytes": 100,
            "lower_bounds": [{"key": 2, "value": wkb}],
            "upper_bounds": [{"key": 2, "value": wkb}],
        },
    }
    man = tmp_path / "geo.avro"
    man.write_bytes(write_container(manifest_entry_schema([]), [entry]))
    meta = {
        "format-version": 3,
        "table-uuid": "00000000-0000-0000-0000-00000000geo1",
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "shape", "required": False, "type": "geometry"},
            {"id": 3, "name": "void_col", "required": False,
             "type": "unknown"},
        ]}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [],
    }
    mpath = tmp_path / "m.metadata.json"
    mpath.write_text(json.dumps(meta))
    rc, out, err = _run(str(man), str(mpath))
    assert rc == 0, err
    recs = json.loads(out)
    lo = recs[0]["data_file"]["lower_bounds"]["array"][0]["value"]
    assert lo == f"value:0x{wkb.hex()};type:geometry"
