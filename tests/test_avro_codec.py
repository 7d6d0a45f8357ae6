"""The compiled Avro codec against the interpreter it replaced.

``tests/avro_oracle.py`` keeps that interpreter as test code. For
random schemas and records the compiled writer must produce the
oracle's bytes and the compiled reader the oracle's records; on
truncated or bit-flipped files the compiled reader must raise
``AvroError`` wherever the oracle raises anything. A pytest-benchmark
case holds the speed-up over the oracle on real manifests.
"""

from __future__ import annotations

import glob
import math
import os
import struct
import time

import pytest
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

from iceberg_tools_spark.avro import reader, writer
from iceberg_tools_spark.avro.reader import AvroContainerFile, AvroError
from iceberg_tools_spark.avro.writer import write_container
from tests import avro_oracle as oracle

_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
_PRIMS = ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]


# ---- random schemas and values -------------------------------------


class _Schemas:
    """Draws one schema tree; named types get fresh names, and a later
    node may refer to an earlier named type by its name."""

    def __init__(self, data: st.DataObject):
        self.data, self.named = data, []

    def draw(self, depth: int = 0) -> object:
        kinds = _PRIMS + ["wrapped", "date"]
        if depth < 3:
            kinds += ["record", "array", "map", "union", "enum", "fixed"] + ["ref"] * bool(self.named)
        kind = self.data.draw(st.sampled_from(kinds))
        if kind in _PRIMS:
            return kind
        if kind == "wrapped":
            return {"type": self.data.draw(st.sampled_from(_PRIMS))}
        if kind == "date":
            return {"type": "int", "logicalType": "date"}
        if kind == "ref":
            return self.data.draw(st.sampled_from(self.named))["name"]
        if kind == "array":
            return {"type": "array", "items": self.draw(depth + 1)}
        if kind == "map":
            return {"type": "map", "values": self.draw(depth + 1)}
        if kind == "union":
            first = self.data.draw(st.sampled_from(["null", "long", "string", "double"]))
            other = self.draw(depth + 1)
            if isinstance(other, list):  # unions do not nest
                return other
            if _kind(other, self.named) == first:
                return [first]
            return self.data.draw(st.permutations([first, other]))
        name = f"n{len(self.named)}"
        if kind == "enum":
            n = self.data.draw(st.integers(1, 4))
            node = {"type": "enum", "name": name, "symbols": [f"S{i}" for i in range(n)]}
        elif kind == "fixed":
            node = {"type": "fixed", "name": name, "size": self.data.draw(st.integers(0, 6))}
        else:
            node = {"type": "record", "name": name, "fields": []}
            for i in range(self.data.draw(st.integers(0, 4))):
                field = {"name": f"f{i}", "type": self.draw(depth + 1)}
                if _kind(field["type"], self.named) in ("null", "long", "string"):
                    if self.data.draw(st.booleans()):
                        field["default"] = {"null": None, "long": -7, "string": "dé"}[
                            _kind(field["type"], self.named)
                        ]
                node["fields"].append(field)
        self.named.append(node)
        return node


def _kind(schema: object, named: list) -> str:
    if isinstance(schema, list):
        return "union"
    if isinstance(schema, str):
        return schema if schema in _PRIMS else next(n for n in named if n["name"] == schema)["type"]
    return schema["type"]


def _zero_width(schema: object, named: list) -> bool:
    if isinstance(schema, str) and schema not in _PRIMS:
        schema = next(n for n in named if n["name"] == schema)
    if isinstance(schema, (str, list)):
        return schema == "null"
    t = schema["type"]
    if t == "record":
        return all(_zero_width(f["type"], named) for f in schema["fields"])
    return t == "null" or (t == "fixed" and schema["size"] == 0)


def _value(data: st.DataObject, schema: object, named: list) -> object:
    if isinstance(schema, list):
        return _value(data, data.draw(st.sampled_from(schema)), named)
    if isinstance(schema, str) and schema not in _PRIMS:
        schema = next(n for n in named if n["name"] == schema)
    t = schema if isinstance(schema, str) else schema["type"]
    draw = data.draw
    if t == "null":
        return None
    if t == "boolean":
        return draw(st.booleans())
    if t == "int":
        return draw(st.integers(-(2**31), 2**31 - 1))
    if t == "long":
        return draw(st.integers(-(2**63), 2**63 - 1) | st.sampled_from([-1, -(2**63), 63, 64, -65]))
    if t == "float":
        return draw(st.floats(width=32) | st.sampled_from([math.nan, math.inf, -math.inf, -0.0]))
    if t == "double":
        return draw(st.floats() | st.sampled_from([math.nan, math.inf, -math.inf, -0.0]))
    if t == "bytes":
        return draw(st.binary(max_size=8))
    if t == "string":
        return draw(st.text(max_size=6) | st.sampled_from(["", "héllo", "日本語", "\U0001f600"]))
    if t == "enum":
        return draw(st.sampled_from(schema["symbols"]))
    if t == "fixed":
        return draw(st.binary(min_size=schema["size"], max_size=schema["size"]))
    if t == "array":
        return [_value(data, schema["items"], named) for _ in range(draw(st.integers(0, 3)))]
    if t == "map":
        keys = draw(st.lists(st.text(max_size=4), max_size=3, unique=True))
        return {k: _value(data, schema["values"], named) for k in keys}
    rec = {}
    for f in schema["fields"]:
        if "default" in f and draw(st.booleans()):
            continue  # the writer fills the default
        rec[f["name"]] = _value(data, f["type"], named)
    return rec


def _unbounded(root: dict) -> bool:
    """Whether a garbled count can make the interpreter build values
    without bound: a zero-width root record (the block's record count)
    or zero-width array items anywhere (null, fixed[0], records of
    those) consume no bytes per value."""
    names: dict = {}
    reader._collect_named(root, names)
    named, seen = list(names.values()), set()

    def walk(schema: object) -> bool:
        if isinstance(schema, list):
            return any(walk(b) for b in schema)
        if isinstance(schema, str):
            if schema in _PRIMS:
                return False
            schema = names[schema]
        if id(schema) in seen:
            return False
        seen.add(id(schema))
        t = schema["type"]
        if t == "array":
            return _zero_width(schema["items"], named) or walk(schema["items"])
        if t == "map":
            return walk(schema["values"])
        return t == "record" and any(walk(f["type"]) for f in schema["fields"])

    return _zero_width(root, named) or walk(root)


def _draw_file(data: st.DataObject) -> tuple[object, list, str]:
    schemas = _Schemas(data)
    root = {"type": "record", "name": "root", "fields": []}
    for i in range(data.draw(st.integers(1, 4))):
        root["fields"].append({"name": f"c{i}", "type": schemas.draw()})
    n = data.draw(st.sampled_from([0, 1, 2, 5, 17]))
    records = [_value(data, root, schemas.named) for _ in range(n)]
    return root, records, data.draw(st.sampled_from(["null", "deflate"]))


def _bits(v: object) -> object:
    """Comparable form: floats by their bit pattern (NaN, -0.0)."""
    if isinstance(v, float):
        return ("float", struct.pack("<d", v) if not math.isnan(v) else "nan")
    if isinstance(v, dict):
        return {k: _bits(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v


def _outcome(fn):
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - the exception type is the outcome
        return type(e)


# ---- equivalence ---------------------------------------------------


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_compiled_codec_matches_the_interpreter(data):
    schema, records, codec = _draw_file(data)
    want = _outcome(lambda: oracle.write_container(schema, records, codec=codec))
    got = _outcome(lambda: write_container(schema, records, codec=codec))
    assert got == want
    if isinstance(want, type):
        return
    assert _bits(list(AvroContainerFile(want))) == _bits(list(oracle.AvroContainerFile(want)))


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.data())
def test_corrupt_files_raise_avro_error_where_the_interpreter_fails(data):
    schema, records, codec = _draw_file(data)
    blob = _outcome(lambda: oracle.write_container(schema, records, codec=codec))
    assume(not isinstance(blob, type))
    at = data.draw(st.integers(0, len(blob) - 1))
    if data.draw(st.booleans()):
        bad = blob[:at]
    else:
        bad = blob[:at] + bytes([blob[at] ^ data.draw(st.integers(1, 255))]) + blob[at + 1 :]
    try:
        opened = AvroContainerFile(bad)
    except AvroError:
        opened = None
    got = AvroError if opened is None else _outcome(lambda: list(opened))
    assert got is AvroError or isinstance(got, list), got
    if got is AvroError and _unbounded(schema):
        # the count the compiled reader rejected may be one the
        # interpreter would spend without bound on zero-width values
        return
    # otherwise every count it accepted, the interpreter reads alike
    want = _outcome(lambda: list(oracle.AvroContainerFile(bad)))
    if opened is None:
        # the header's schema compiles up front, so a garbled one fails
        # here even where the interpreter never reaches the bad node
        header = len(oracle.write_container(schema, [], codec=codec))
        assert isinstance(want, type) or at < header
    elif isinstance(want, type):
        assert got is AvroError, (want, got)
    else:
        assert _bits(got) == _bits(want)


@pytest.mark.parametrize("path", sorted(glob.glob(f"{_FIXTURES}/**/*.avro", recursive=True)))
def test_every_fixture_reads_and_writes_like_the_interpreter(path):
    with open(path, "rb") as f:
        blob = f.read()
    new, old = AvroContainerFile(blob), oracle.AvroContainerFile(blob)
    records = list(new)
    assert _bits(records) == _bits(list(old))
    assert write_container(new.schema, records, codec=new.codec) == oracle.write_container(
        old.schema, records, codec=old.codec
    )


def test_reader_schema_projection_matches_the_interpreter():
    writer_schema = {
        "type": "record", "name": "w",
        "fields": [{"name": "a", "type": "int"}, {"name": "b", "type": ["null", "string"]},
                   {"name": "c", "type": {"type": "array", "items": "long"}}],
    }
    reader_schema = {
        "type": "record", "name": "w",
        "fields": [{"name": "c", "type": {"type": "array", "items": "double"}},
                   {"name": "a", "type": "long"}, {"name": "z", "type": "string", "default": "zz"}],
    }
    blob = write_container(writer_schema, [{"a": 1, "b": None, "c": [2, 3]}, {"a": -5, "b": "é", "c": []}])
    got = list(AvroContainerFile(blob).records(reader_schema))
    assert got == list(oracle.AvroContainerFile(blob).records(reader_schema))
    assert got[0] == {"c": [2.0, 3.0], "a": 1, "z": "zz"}


def test_recursive_named_record_round_trips():
    node = {
        "type": "record", "name": "node",
        "fields": [{"name": "v", "type": "long"}, {"name": "next", "type": ["null", "node"]}],
    }
    chain = {"v": 1, "next": {"v": -2, "next": {"v": 3, "next": None}}}
    blob = write_container(node, [chain, {"v": 0, "next": None}])
    assert blob == oracle.write_container(node, [chain, {"v": 0, "next": None}])
    assert list(AvroContainerFile(blob)) == [chain, {"v": 0, "next": None}]


_ENUM = {"type": "enum", "name": "e", "symbols": ["A", "B"]}


@pytest.mark.parametrize(
    "field,value,good,bad",
    [
        ("string", "xy", b"\x02\x06\x04xy", b"\x02\x06\x03xy"),  # length -2
        ("bytes", b"xy", b"\x02\x06\x04xy", b"\x02\x06\x05xy"),  # length -3
        (["null", "long"], 5, b"\x02\x0a", b"\x04\x0a"),  # branch 2 of 2
        (["null", "long"], 5, b"\x02\x0a", b"\x01\x0a"),  # branch -1
        (_ENUM, "B", b"\x02\x02\x02", b"\x02\x02\x04"),  # symbol 2 of 2
        (_ENUM, "B", b"\x02\x02\x02", b"\x02\x02\x01"),  # symbol -1
        ({"type": "fixed", "name": "f", "size": 4}, b"abcd", b"\x02\x08abcd", b"\x02\x06abc"),  # block ends early
    ],
)
def test_out_of_range_lengths_and_indexes_raise_avro_error(field, value, good, bad):
    """Values the interpreter refuses: a negative length, a union or
    enum index outside the schema (negative ones included), a fixed
    that runs past its block. Each file is otherwise well framed."""
    blob = write_container({"type": "record", "name": "r", "fields": [{"name": "a", "type": field}]}, [{"a": value}])
    assert blob.count(good) == 1
    blob = blob.replace(good, bad)
    with pytest.raises(Exception):
        list(oracle.AvroContainerFile(blob))
    with pytest.raises(AvroError):
        list(AvroContainerFile(blob))


def _zz(n: int) -> bytes:
    """Zigzag varint of ``n``."""
    n, out = (n << 1) ^ (n >> 63), bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    return bytes(out + bytes([n]))


def _one_block(fields: list, count: int, data: bytes) -> bytes:
    """A container over ``fields`` holding one block that claims
    ``count`` records over ``data``."""
    header = write_container({"type": "record", "name": "r", "fields": fields}, [])
    return header + _zz(count) + _zz(len(data)) + data + AvroContainerFile(header).sync


_CAP = reader.ZERO_WIDTH_MAX_COUNT
_NULLS = [{"name": "a", "type": {"type": "array", "items": "null"}}]


@pytest.mark.parametrize(
    "fields,count,data,decodes",
    [
        # 10**6 longs claimed over the 4 bytes left
        ([{"name": "a", "type": {"type": "array", "items": "long"}}], 1, _zz(10**6) + b"\x02\x04\x06\x00", False),
        # map entries take a key byte even for null values
        ([{"name": "a", "type": {"type": "map", "values": "null"}}], 1, _zz(5) + b"\x02k\x00", False),
        (_NULLS, 1, _zz(_CAP + 1) + b"\x00", False),
        (_NULLS, 1, _zz(-(_CAP + 1)) + _zz(0) + b"\x00", False),  # sized block
        (_NULLS, 1, _zz(_CAP) + b"\x00", True),
        # the block's record count, checked against the block's bytes
        ([{"name": "a", "type": "double"}], 10**9, bytes(16), False),
        ([{"name": "a", "type": "double"}], 2, bytes(16), True),
        ([{"name": "a", "type": "null"}], _CAP + 1, b"", False),
        ([{"name": "a", "type": "null"}], 3, b"", True),
    ],
)
def test_counts_that_cannot_fit_the_bytes_left_raise_avro_error(fields, count, data, decodes):
    """An array, map or block count of values that cannot fit the bytes
    left fails at once (zero-width values against a fixed cap) instead
    of building that many values; counts that fit still decode."""
    blob = _one_block(fields, count, data)
    if not decodes:
        with pytest.raises(AvroError, match="cannot fit"):
            list(AvroContainerFile(blob))
        return
    got = list(AvroContainerFile(blob))
    assert len(got) == count and got == list(oracle.AvroContainerFile(blob))
    if fields is _NULLS:
        assert len(got[0]["a"]) == _CAP


@example(cut=5)
@settings(max_examples=60, deadline=None)
@given(cut=st.integers(0, 400))
def test_truncated_manifest_raises_avro_error(cut):
    path = sorted(glob.glob(f"{_FIXTURES}/typed_bounds/*.avro"))[0]
    with open(path, "rb") as f:
        blob = f.read()
    if cut >= len(blob):
        return
    with pytest.raises(AvroError):
        list(AvroContainerFile(blob[:cut]))


def test_each_schema_text_compiles_once_into_a_bounded_cache():
    schema = {"type": "record", "name": "once", "fields": [{"name": "x", "type": ["null", "long"]}]}
    blob = write_container(schema, [{"x": 1}])
    reader._DECODERS.clear()
    first = AvroContainerFile(blob)._decode
    assert AvroContainerFile(blob)._decode is first
    assert [read for read, _check in reader._DECODERS.values()] == [first]
    # schema texts that differ only in record names compile apart
    for i in range(600):
        named = {**schema, "name": f"r{i}"}
        assert list(AvroContainerFile(write_container(named, [{"x": i}]))) == [{"x": i}]
    assert 0 < len(reader._DECODERS) <= 512 and 0 < len(writer._ENCODERS) <= 512


# ---- the cache stays out of task payloads --------------------------


def test_compiled_codecs_stay_out_of_task_payloads(spark, tmp_path, monkeypatch):
    """Executor tasks carry the worker and its ``(ctx, path)`` tasks,
    never compiled readers (code generated under ``<avro>``); the
    Python workers compile for themselves and keep their cache across
    tasks."""
    from pyspark import cloudpickle

    from iceberg_tools_spark.iceberg import manifest_io, tables
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    paths, mp = _manifests(tmp_path, n=3, per=5)
    raw = parse_metadata(mp).raw
    list(AvroContainerFile(open(paths[0], "rb").read()))
    assert reader._DECODERS  # the driver's cache is warm

    shipped = []
    real = manifest_io._task_rdd

    def spy(spark_, tasks, worker):
        shipped.append(cloudpickle.dumps((worker, tasks)))
        return real(spark_, tasks, worker)

    monkeypatch.setattr(manifest_io, "_task_rdd", spy)
    monkeypatch.setattr(manifest_io, "PARALLEL_THRESHOLD", 0)
    assert tables.manifest_entries_df(spark, paths, raw).count() == 15
    assert shipped and all(b"<avro>" not in p for p in shipped)

    def cache_size(_):
        from iceberg_tools_spark.avro import reader as r

        return len(r._DECODERS)

    sizes = spark.sparkContext.parallelize(range(4), 4).map(cache_size).collect()
    assert max(sizes) > 0  # a reused worker still holds what it compiled


# ---- microbenchmark ------------------------------------------------


def _manifests(tmp_path, n: int = 8, per: int = 1000) -> tuple[list[str], str]:
    """``n`` manifests of ``per`` entries each (one append per manifest),
    shaped like the benchmark's meta tables: a partition value and
    long/double bounds per file."""
    from iceberg_tools_spark.iceberg import commit
    from iceberg_tools_spark.iceberg.conversions import to_bytes

    root = str(tmp_path / "t")
    mp = commit.create_table(
        root, [("id", "long"), ("region", "int"), ("price", "double")],
        partition_by=[("region", "identity", "region")],
    )
    for s in range(n):
        files = [
            {
                "path": f"data/region={s}/f{s:02d}-{i:04d}.parquet",
                "partition": {"region": s},
                "record_count": 500 + i,
                "file_size_in_bytes": 40_000 + 37 * i,
                "lower_bounds": [{"key": 1, "value": to_bytes("long", i * 1000)},
                                 {"key": 3, "value": to_bytes("double", i / 7)}],
                "upper_bounds": [{"key": 1, "value": to_bytes("long", i * 1000 + 999)},
                                 {"key": 3, "value": to_bytes("double", i / 3)}],
            }
            for i in range(per)
        ]
        mp = commit.append_snapshot(mp, files, base_dir=root)["metadata_path"]
    paths = sorted(p for p in glob.glob(f"{root}/metadata/*.avro") if not os.path.basename(p).startswith("snap-"))
    assert len(paths) == n
    return paths, mp


def _best(fn, rounds: int = 5) -> float:
    best = math.inf
    for _ in range(rounds):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.parametrize("op", ["decode", "encode"])
def test_codec_is_3x_the_interpreter(benchmark, tmp_path, op):
    """8 manifests × 1,000 entries: the compiled codec beats the
    interpreter at least 3× in the same process, so host speed
    cancels out of the ratio."""
    paths, _ = _manifests(tmp_path)
    blobs = [open(p, "rb").read() for p in paths]
    files = [(f.schema, list(f)) for f in map(AvroContainerFile, blobs)]
    if op == "decode":
        new = lambda: [list(AvroContainerFile(b)) for b in blobs]  # noqa: E731
        old = lambda: [list(oracle.AvroContainerFile(b)) for b in blobs]  # noqa: E731
    else:
        new = lambda: [write_container(s, r) for s, r in files]  # noqa: E731
        old = lambda: [oracle.write_container(s, r) for s, r in files]  # noqa: E731
    assert _bits(new()) == _bits(old())
    t_old, t_new = _best(old, 3), _best(new)
    benchmark.pedantic(new, rounds=3, iterations=1)
    assert t_old / t_new >= 3.0, f"{op}: interpreter {t_old * 1e3:.0f} ms, compiled {t_new * 1e3:.0f} ms"
