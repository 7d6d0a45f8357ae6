"""The compiled ``manifest2json`` emitters against the interpreter they
replaced (``tests/manifest2json_oracle.py``): for every Avro file under
``tests/fixtures`` and each ``metadata.json`` beside it, compact and
``--pretty``, with and without ``--head`` and ``--reader-schema``, the
CLI prints the same bytes and fails with the same error. Each schema
compiles once: one emitter per (emit schema, field-id → type map), one
decoder per (schema text, projection).
"""

from __future__ import annotations

import copy
import glob
import io
import json
import os

import pytest

from iceberg_tools_spark.avro import reader
from iceberg_tools_spark.avro.reader import AvroContainerFile
from iceberg_tools_spark.iceberg import manifest2json as m2j
from tests import manifest2json_oracle as oracle

_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _pairs() -> list[tuple[str, str]]:
    """(Avro file, metadata.json) for each metadata file in the Avro
    file's directory or the one above it (``<table>/metadata/``)."""
    out = []
    for avro in sorted(glob.glob(f"{_FIXTURES}/**/*.avro", recursive=True)):
        d = os.path.dirname(avro)
        for meta in sorted({*glob.glob(f"{d}/*.metadata.json"), *glob.glob(f"{os.path.dirname(d)}/*.metadata.json")}):
            out.append((os.path.relpath(avro, _FIXTURES), os.path.relpath(meta, _FIXTURES)))
    return out


def _reader_schemas(avro: str) -> dict[str, object]:
    """Reader schemas over the file's writer schema: its fields
    reversed plus a defaulted one; its first field as ``bytes`` (passes
    schema resolution only for strings and bytes, and then fails to
    emit for a string, as it always has); a field with no writer field
    and no default (fails to resolve)."""
    with open(avro, "rb") as f:
        writer = copy.deepcopy(AvroContainerFile(f.read()).schema)
    fields = writer["fields"]
    return {
        "reversed": {**writer, "fields": [*fields[::-1], {"name": "extra", "type": "string", "default": "x"}]},
        "as_bytes": {**writer, "fields": [{**fields[0], "type": "bytes"}]},
        "missing": {**writer, "fields": [{"name": "nope", "type": "long"}]},
    }


def _run(main, argv: list[str]):
    out, err = io.StringIO(), io.StringIO()
    try:
        rc = main(argv, out=out, err=err)
    except Exception as e:  # noqa: BLE001 - the error is the outcome
        return ("raised", type(e), str(e))
    return rc, out.getvalue(), err.getvalue()


def _oracle_main(monkeypatch):
    """``manifest2json.main`` with the oracle's walk behind it."""
    monkeypatch.setattr(m2j, "manifest2json", oracle.manifest2json)
    return m2j.main


@pytest.mark.parametrize("avro,meta", _pairs())
def test_compiled_emitter_prints_what_the_interpreter_prints(avro, meta, monkeypatch):
    avro, meta = os.path.join(_FIXTURES, avro), os.path.join(_FIXTURES, meta)
    runs = [[*flags, *head] for flags in ([], ["--pretty"]) for head in ([], ["--head"], ["--head=1"], ["--head=0"])]
    runs += [["--reader-schema", json.dumps(s), *flags]
             for s in _reader_schemas(avro).values() for flags in ([], ["--pretty", "--head=2"])]
    got = [_run(m2j.main, [*flags, avro, meta]) for flags in runs]
    want_main = _oracle_main(monkeypatch)
    want = [_run(want_main, [*flags, avro, meta]) for flags in runs]
    for flags, g, w in zip(runs, got, want):
        assert g == w, flags
    assert any(g[0] == 0 for g in got) and any(g[0] == "raised" for g in got)


def test_every_fixture_pair_is_covered():
    assert len(_pairs()) >= len(glob.glob(f"{_FIXTURES}/**/*.avro", recursive=True))


def _table(tmp_path, n: int) -> tuple[list[str], str]:
    """``n`` manifests of one table (one append each, same schema text)."""
    from iceberg_tools_spark.iceberg import commit
    from iceberg_tools_spark.iceberg.conversions import to_bytes

    root = str(tmp_path / "t")
    mp = commit.create_table(root, [("id", "long"), ("region", "int")],
                             partition_by=[("region", "identity", "region")])
    for s in range(n):
        mp = commit.append_snapshot(mp, [{
            "path": f"data/f{s}.parquet", "partition": {"region": s}, "record_count": 1,
            "file_size_in_bytes": 10,
            "lower_bounds": [{"key": 1, "value": to_bytes("long", s)}],
            "upper_bounds": [{"key": 1, "value": to_bytes("long", s + 1)}],
        }], base_dir=root)["metadata_path"]
    paths = sorted(p for p in glob.glob(f"{root}/metadata/*.avro") if not os.path.basename(p).startswith("snap-"))
    assert len(paths) == n
    return paths, mp


def test_one_emitter_per_schema_across_manifests(tmp_path):
    """A table's manifests share one schema text, so one emitter serves
    them all, and one full decoder; a second field-id map compiles a
    second emitter, not a second decoder."""
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    paths, mp = _table(tmp_path, 3)
    m2j._EMITTERS.clear()
    reader._DECODERS.clear()
    for p in paths:
        out = io.StringIO()
        m2j.manifest2json(p, mp, out)
        assert "value:" in out.getvalue()  # bounds rendered
    assert len(m2j._EMITTERS) == 1 and len(reader._DECODERS) == 1
    raw = parse_metadata(mp).raw
    renamed = {**raw, "schemas": [{**s, "fields": [{**f, "type": "double" if f["id"] == 1 else f["type"]}
                                                   for f in s["fields"]]} for s in raw["schemas"]]}
    m2j.manifest2json(paths[0], renamed, io.StringIO())
    m2j.manifest2json(paths[1], json.dumps(raw), io.StringIO())
    assert len(m2j._EMITTERS) == 2 and len(reader._DECODERS) == 1


def test_one_decoder_per_schema_and_projection(tmp_path):
    """Every consumer's projection compiles once per schema text, and a
    projection differs from the full decode only in what it builds."""
    from iceberg_tools_spark.iceberg import manifest_io

    paths, _ = _table(tmp_path, 3)
    reader._DECODERS.clear()
    fields = ("status", "data_file.file_path")
    for p in paths:
        full = list(manifest_io.read_manifest(open(p, "rb").read()))
        got = list(manifest_io.read_manifest(open(p, "rb").read(), fields=fields))
        assert got == [{"status": e["status"], "data_file": {"file_path": e["data_file"]["file_path"]}}
                       for e in full]
    assert sorted(proj is not None for _text, proj in reader._DECODERS) == [False, True]
