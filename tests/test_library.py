"""Unit tests for the generic reusable library (SURVEY §2.5):
asof_join, sessionize, top_k_per_group, hashing — on small in-memory
frames with hand-computed expectations, plus cross-engine checks of
the hash arithmetic against hashlib and DuckDB."""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from iceberg_tools_spark.functions import hashing
from iceberg_tools_spark.operators.asof import asof_join
from iceberg_tools_spark.operators.sessionize import assign_sessions, sessionize
from iceberg_tools_spark.operators.topk import top_k_per_group


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ---- asof ----------------------------------------------------------


@pytest.fixture()
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:03"), 100.0),
            ("A", _ts("2024-01-01 10:00:10"), 101.0),
            ("B", _ts("2024-01-01 10:00:05"), 50.0),
            ("C", _ts("2024-01-01 10:00:01"), 7.0),  # no quote ever
        ],
        "sym string, t timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 99.5),
            ("A", _ts("2024-01-01 10:00:03"), 99.9),  # equal ts → backward matches
            ("A", _ts("2024-01-01 10:00:08"), 100.5),
            ("B", _ts("2024-01-01 10:00:30"), 49.0),  # only AFTER the trade
        ],
        "sym string, qt timestamp, bid double",
    )
    return trades, quotes


def test_asof_backward(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_values=["bid"],
    )
    got = {(r.sym, r.t.isoformat()): (r.bid_asof, r.qt_asof) for r in out.collect()}
    assert got[("A", "2024-01-01T10:00:03")][0] == 99.9  # inclusive <=
    assert got[("A", "2024-01-01T10:00:10")][0] == 100.5
    assert got[("B", "2024-01-01T10:00:05")] == (None, None)  # quote is later
    assert got[("C", "2024-01-01T10:00:01")] == (None, None)
    assert out.count() == trades.count()  # left-outer: every trade kept


def test_asof_forward(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_values=["bid"], direction="forward",
    )
    got = {(r.sym, r.t.isoformat()): r.bid_asof for r in out.collect()}
    assert got[("A", "2024-01-01T10:00:03")] == 99.9  # inclusive >=
    assert got[("B", "2024-01-01T10:00:05")] == 49.0
    assert got[("C", "2024-01-01T10:00:01")] is None


def test_asof_tolerance(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_values=["bid"], tolerance="2 SECONDS",
    )
    got = {(r.sym, r.t.isoformat()): r.bid_asof for r in out.collect()}
    assert got[("A", "2024-01-01T10:00:03")] == 99.9  # 0s away: kept
    assert got[("A", "2024-01-01T10:00:10")] == 100.5  # 2s away: kept
    # B/C unmatched stay None
    assert got[("B", "2024-01-01T10:00:05")] is None


def test_asof_right_tiebreak(spark):
    # two quotes at the identical (sym, time): greatest tiebreak wins
    trades = spark.createDataFrame(
        [("A", _ts("2024-01-01 10:00:05"), 1.0)], "sym string, t timestamp, price double"
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:05"), 10.0, 1),
            ("A", _ts("2024-01-01 10:00:05"), 20.0, 2),
            ("A", _ts("2024-01-01 10:00:05"), 15.0, 3),
        ],
        "sym string, qt timestamp, bid double, seq int",
    ).repartition(3)
    for direction in ("backward", "forward"):
        out = asof_join(
            trades, quotes, on=["sym"], left_time="t", right_time="qt",
            right_values=["bid"], direction=direction, right_tiebreak="seq",
        )
        assert [r.bid_asof for r in out.collect()] == [15.0]


def test_asof_matches_duckdb_asof_join(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_time="t", right_time="qt",
        right_values=["bid"],
    )
    spark_rows = sorted(
        (r.sym, r.t.isoformat(), r.price, r.bid_asof) for r in out.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE trades(sym VARCHAR, t TIMESTAMP, price DOUBLE);"
        "CREATE TABLE quotes(sym VARCHAR, qt TIMESTAMP, bid DOUBLE)"
    )
    con.executemany(
        "INSERT INTO trades VALUES (?, ?, ?)",
        [(r.sym, r.t, r.price) for r in trades.collect()],
    )
    con.executemany(
        "INSERT INTO quotes VALUES (?, ?, ?)",
        [(r.sym, r.qt, r.bid) for r in quotes.collect()],
    )
    duck = sorted(
        (s, t.isoformat(), p, b)
        for s, t, p, b in con.execute(
            "SELECT tr.sym, tr.t, tr.price, q.bid FROM trades tr "
            "ASOF LEFT JOIN quotes q ON tr.sym = q.sym AND tr.t >= q.qt"
        ).fetchall()
    )
    assert spark_rows == duck


# ---- sessionize ----------------------------------------------------


def test_assign_sessions_gap(spark):
    df = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00")),
            (1, _ts("2024-01-01 10:20:00")),  # 20m gap: same session
            (1, _ts("2024-01-01 11:00:00")),  # 40m gap: new session
            (2, _ts("2024-01-01 09:00:00")),
        ],
        "uid bigint, ts timestamp",
    )
    out = assign_sessions(df, ["uid"], "ts", gap="30 MINUTES")
    got = {(r.uid, r.ts.isoformat()): r.session_idx for r in out.collect()}
    assert got[(1, "2024-01-01T10:00:00")] == 1
    assert got[(1, "2024-01-01T10:20:00")] == 1
    assert got[(1, "2024-01-01T11:00:00")] == 2
    assert got[(2, "2024-01-01T09:00:00")] == 1


def test_sessionize_aggregates(spark):
    df = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 5.0),
            (1, _ts("2024-01-01 10:10:00"), 7.0),
            (1, _ts("2024-01-01 12:00:00"), 1.0),
        ],
        "uid bigint, ts timestamp, v double",
    )
    out = sessionize(
        df, ["uid"], "ts", gap="30 MINUTES", aggs={"sum_v": F.sum("v")}
    ).orderBy("uid", "session_idx")
    rows = out.collect()
    assert [(r.session_idx, r.n_events, r.sum_v) for r in rows] == [
        (1, 2, 12.0),
        (2, 1, 1.0),
    ]
    assert rows[0].session_start == _ts("2024-01-01 10:00:00")
    assert rows[0].session_end == _ts("2024-01-01 10:10:00")


# ---- topk ----------------------------------------------------------


@pytest.fixture()
def scores(spark):
    return spark.createDataFrame(
        [("g1", "a", 10), ("g1", "b", 20), ("g1", "c", 20), ("g1", "d", 5),
         ("g2", "e", 1)],
        "g string, id string, score bigint",
    )


def test_topk_row_number_exact_k(spark, scores):
    out = top_k_per_group(
        scores, ["g"], [F.col("score").desc(), "id"], k=2
    )
    got = sorted((r.g, r.id, r.rk) for r in out.collect())
    assert got == [("g1", "b", 1), ("g1", "c", 2), ("g2", "e", 1)]


def test_topk_rank_keeps_ties(spark, scores):
    out = top_k_per_group(scores, ["g"], [F.col("score").desc()], k=1, method="rank")
    got = sorted((r.g, r.id) for r in out.collect())
    assert got == [("g1", "b"), ("g1", "c"), ("g2", "e")]  # tie at rank 1 kept


def test_topk_rejects_bad_method(spark, scores):
    with pytest.raises(ValueError):
        top_k_per_group(scores, ["g"], ["score"], 1, method="nope")


# ---- hashing -------------------------------------------------------


def test_md5_i64_matches_python_and_duckdb(spark):
    vals = ["hello", "world", "", "Zürich"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r.s: r.h
        for r in df.select("s", hashing.md5_i64("s").alias("h")).collect()
    }
    for v in vals:
        assert got[v] == hashing.md5_i64_py(v), v
    duck = dict(
        duckdb.connect()
        .execute(
            f"SELECT s, {hashing.md5_i64_duck('s')} AS h "
            "FROM (SELECT unnest(?::VARCHAR[]) AS s)",
            [vals],
        )
        .fetchall()
    )
    assert duck == got


def test_salted_md5_matches_hashlib(spark):
    df = spark.createDataFrame([("w",)], "s string")
    (row,) = df.select(hashing.salted_md5_hex("s", "3").alias("h")).collect()
    assert row.h == hashlib.md5(b"3|w").hexdigest()


def test_md5_bit_matches_duck(spark):
    df = spark.createDataFrame([("abc",), ("xyz",)], "s string")
    bits = (
        df.select(
            "s",
            F.md5("s").alias("mh"),
        )
        .select("s", *[hashing.md5_bit("mh", j).alias(f"b{j}") for j in range(8)])
        .collect()
    )
    con = duckdb.connect()
    for r in bits:
        for j in range(8):
            (exp,) = con.execute(
                f"SELECT {hashing.md5_bit_duck(f'md5(?)', j)}", [r.s]
            ).fetchone()
            assert getattr(r, f"b{j}") == exp, (r.s, j)


def test_connectors_gated(spark):
    from iceberg_tools_spark.sources.connectors import (
        ConnectorUnavailable,
        read_delta,
        read_iceberg,
    )

    with pytest.raises(ConnectorUnavailable):
        read_iceberg(spark, "/tmp/nope")
    with pytest.raises(ConnectorUnavailable):
        read_delta(spark, "/tmp/nope")


def test_column_stats_one_pass_and_hll_bound(spark):
    from iceberg_tools_spark.operators.stats import (
        _ORDERS_COLS,
        approx_column_ndv,
        column_stats,
        column_stats_orders,
    )
    from iceberg_tools_spark.sources.readers import load_table

    sfd = "/root/testdata/sf0.01"
    # single-job shape: exactly one aggregate over one scan
    plan = (
        column_stats_orders(spark, sfd)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1
    exact = {
        r["column_name"]: r["n_distinct"]
        for r in column_stats_orders(spark, sfd).collect()
    }
    o = load_table(spark, sfd, "orders", _ORDERS_COLS)
    approx = {
        r["column_name"]: r["approx_ndv"]
        for r in approx_column_ndv(o, _ORDERS_COLS).collect()
    }
    for c, nd in exact.items():
        assert abs(approx[c] - nd) <= max(2, 0.1 * nd), (c, nd, approx[c])


# ---- one install site per metadata format -------------------------

_PKG = Path(__file__).resolve().parent.parent / "iceberg_tools_spark"

# the two statistics writers register stats in a derived
# ``vN.pstats<sid>.metadata.json`` / ``vN.tstats<sid>.metadata.json``
# side file that never enters the version chain (the catalog's
# listing ignores it) and is replaced when the same statistics are
# written again from the same base
_STATS_SIDE_FILES = {
    ("iceberg/partition_stats.py", "write_partition_stats"),
    ("iceberg/table_stats.py", "_write_and_register"),
}


def _write_target(call: ast.Call) -> ast.expr | None:
    """The path a call writes, or None: ``open``-style calls in a
    write mode, and the destination of a rename, replace, link or
    copy."""
    f = call.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    if name == "open" and call.args:
        mode = call.args[1] if len(call.args) > 1 else next(
            (k.value for k in call.keywords if k.arg == "mode"), None
        )
        if isinstance(mode, ast.Constant) and set(str(mode.value)) & set("wax+"):
            return call.args[0]
    owner = getattr(getattr(f, "value", None), "id", "").lstrip("_")
    if len(call.args) == 2 and (
        (owner == "os" and name in ("replace", "rename", "link"))
        or (owner == "shutil" and name in ("copyfile", "copy", "copy2", "move"))
    ):
        return call.args[1]
    return None


def _call_name(call: ast.Call) -> str:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")


def _trace(expr: ast.expr, assigns: dict[str, list[ast.expr]]) -> tuple[list[str], set[str]]:
    """The string literals in ``expr`` and the names of the functions
    it calls, following the local assignments of the names it uses."""
    literals: list[str] = []
    calls: set[str] = set()
    todo, seen = [expr], set()
    while todo:
        for n in ast.walk(todo.pop()):
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                literals.append(n.value)
            elif isinstance(n, ast.Call):
                calls.add(_call_name(n))
            elif isinstance(n, ast.Name) and n.id not in seen:
                seen.add(n.id)
                todo.extend(assigns.get(n.id, ()))
    return literals, calls


def _target_kind(expr: ast.expr, assigns: dict[str, list[ast.expr]]) -> str | None:
    """'metadata' / 'hint' / 'delta' when ``expr`` — followed through
    the local assignments of the names it uses — builds a
    ``*.metadata.json``, ``version-hint.text`` or ``_delta_log/*.json``
    path."""
    literals, calls = _trace(expr, assigns)
    text = "\n".join(literals)
    if "metadata.json" in text or any(c.endswith("next_metadata_path") for c in calls):
        return "metadata"
    if "version-hint" in text:
        return "hint"
    if ("_delta_log" in text or "_log_dir" in calls) and ".json" in text:
        return "delta"
    return None


def _assignments(scope: ast.AST) -> dict[str, list[ast.expr]]:
    """name → assigned values: a function's whole body, or a
    module's top-level statements only."""
    nodes = ast.iter_child_nodes(scope) if isinstance(scope, ast.Module) else ast.walk(scope)
    out: dict[str, list[ast.expr]] = {}
    for n in nodes:
        if isinstance(n, ast.Assign):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    out.setdefault(t.id, []).append(n.value)
        elif isinstance(n, (ast.AnnAssign, ast.NamedExpr)) and n.value is not None:
            if isinstance(n.target, ast.Name):
                out.setdefault(n.target.id, []).append(n.value)
    return out


def _scoped(tree: ast.Module, want):
    """(innermost enclosing function, node, assignments in scope) for
    every node of a module that ``want`` accepts."""
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    module_assigns = _assignments(tree)
    for node in ast.walk(tree):
        if not want(node):
            continue
        assigns, fn, n = dict(module_assigns), None, node
        while n in parent:
            n = parent[n]
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = fn or n.name
                for k, v in _assignments(n).items():
                    assigns[k] = assigns.get(k, []) + v
        yield fn, node, assigns


def _file_writes(tree: ast.Module):
    """(enclosing function, call, install kind or None) for every
    file-writing call in a module."""
    def is_write(n: ast.AST) -> bool:
        return isinstance(n, ast.Call) and _write_target(n) is not None

    for fn, call, assigns in _scoped(tree, is_write):
        yield fn, call, _target_kind(_write_target(call), assigns)


def test_metadata_installed_only_through_catalog():
    """Table/view ``*.metadata.json``, ``version-hint.text`` and Delta
    ``_delta_log/*.json`` are written by ``catalog.py`` alone: one
    exclusive install site per format, one hint writer."""
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text())
        writers = set()
        for fn, call, kind in _file_writes(tree):
            writers.add(fn)
            if rel == "iceberg/catalog.py" or kind is None:
                continue
            if kind == "metadata" and (rel, fn) in _STATS_SIDE_FILES:
                continue
            offenders.append(f"{rel}:{call.lineno} {fn}() writes a {kind} path")
        if rel == "iceberg/catalog.py":
            assert writers == {"install_metadata", "write_version_hint"}, writers
    assert offenders == [], "\n".join(offenders)


def test_next_version_named_only_by_catalog():
    """``v<N+1>.metadata.json`` is named in one place
    (``catalog.next_metadata_path``): no other module formats a
    ``v{...}.metadata.json`` name."""
    namers = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.JoinedStr) or not n.values:
                continue
            head, tail = n.values[0], n.values[-1]
            if (
                isinstance(head, ast.Constant) and str(head.value).endswith("v")
                and isinstance(tail, ast.Constant)
                and str(tail.value).endswith(".metadata.json")
            ):
                namers.append(f"{rel}:{n.lineno}")
    assert [n.split(":")[0] for n in namers] == ["iceberg/catalog.py"], namers


def test_file_write_scan_sees_each_install_shape():
    """The rule's own detector flags every shape the package used to
    hand-roll, so a regression cannot slip past it."""
    src = """
import json, os
def a(metadata_path, raw):
    new_path = next_metadata_path(metadata_path)
    with open(new_path, "w") as f:
        json.dump(raw, f)
def b(mdir):
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")
def c(table_root, v):
    d = os.path.join(table_root, "_delta_log")
    tmp = os.path.join(d, f".{v:020d}.json.tmp")
    os.replace(tmp, os.path.join(d, f"{v:020d}.json"))
def d(root, meta0):
    mp = os.path.join(root, "v1.metadata.json")
    with open(mp, "w") as f:
        json.dump(meta0, f)
def e(root):
    with open(os.path.join(root, "data.txt"), "w") as f:
        f.write("x")
"""
    kinds = {fn: kind for fn, _call, kind in _file_writes(ast.parse(src))}
    assert kinds == {"a": "metadata", "b": "hint", "c": "delta", "d": "metadata", "e": None}


# ---- one version step, one snapshot producer ----------------------

# writers that install the next version themselves: the REST catalog
# server's commit handler and the view writers keep their own rules
_OWN_VERSION_RULES = {
    ("iceberg/rest_catalog.py", "_install_next"),
    ("iceberg/views.py", "replace_view"),
    ("iceberg/ivm.py", "refresh_materialized_view"),
}


def _commit_shapes(tree: ast.Module):
    """('install', fn) for each ``install_metadata`` of a
    ``next_metadata_path`` target, ('list_row', fn) for each dict
    literal shaped like a manifest-list row and ('list', fn) for each
    manifest-list write."""
    def candidate(n: ast.AST) -> bool:
        return isinstance(n, ast.Dict) or (
            isinstance(n, ast.Call) and _call_name(n) in ("install_metadata", "write_container")
        )

    for fn, node, assigns in _scoped(tree, candidate):
        if isinstance(node, ast.Dict):
            if any(isinstance(k, ast.Constant) and k.value == "min_sequence_number" for k in node.keys):
                yield "list_row", fn
        elif _call_name(node) == "install_metadata" and node.args:
            if "next_metadata_path" in _trace(node.args[0], assigns)[1]:
                yield "install", fn
        elif _call_name(node) == "write_container" and node.args:
            if "MANIFEST_LIST_SCHEMA" in {n.id for n in ast.walk(node.args[0]) if isinstance(n, ast.Name)}:
                yield "list", fn


def test_table_versions_pass_through_one_version_step():
    """A table's next ``vN.metadata.json`` is installed only by
    ``commit.commit_version``; manifest-list rows are built only by
    ``SnapshotProducer.write_manifest`` and the list is written only
    by ``SnapshotProducer.commit``."""
    found: dict[str, set[tuple[str, str]]] = {"install": set(), "list_row": set(), "list": set()}
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for kind, fn in _commit_shapes(ast.parse(path.read_text())):
            found[kind].add((rel, fn))
    assert found["install"] - _OWN_VERSION_RULES == {("iceberg/commit.py", "commit_version")}
    assert found["list_row"] == {("iceberg/commit.py", "write_manifest")}
    assert found["list"] == {("iceberg/commit.py", "commit")}


def test_commit_shape_scan_sees_hand_rolled_commits():
    """The rule's detector flags the hand-rolled shapes it replaced."""
    src = """
def a(metadata_path, raw):
    new_path = install_metadata(next_metadata_path(metadata_path), raw)
def b(metadata_path, raw):
    nxt = next_metadata_path(metadata_path)
    install_metadata(nxt, raw)
def c(root, meta0):
    install_metadata(os.path.join(root, "v1.metadata.json"), meta0)
def d(loc, name, blob, seq):
    return {"manifest_path": f"{loc}/metadata/{name}", "min_sequence_number": seq}
def e(f, rows):
    f.write(write_container(MANIFEST_LIST_SCHEMA, rows))
"""
    assert sorted(_commit_shapes(ast.parse(src))) == [
        ("install", "a"), ("install", "b"), ("list", "e"), ("list_row", "d"),
    ]


# ---- one table birth, one scratch-directory helper ----------------

# the REST client's ``metadata_path(scratch_dir=...)`` copy lands in a
# directory the caller names and keeps
_MKDTEMP_SITES = {
    ("iceberg/commit.py", "_scratch_dir"),
    ("iceberg/rest_catalog.py", "metadata_path"),
}


def _births_and_scratch(tree: ast.Module):
    """('birth', fn) for each dict literal shaped like a new table's
    metadata (both a ``"last-column-id"`` and a ``"partition-specs"``
    key) and ('mkdtemp', fn) for each ``tempfile.mkdtemp`` call."""
    def candidate(n: ast.AST) -> bool:
        return isinstance(n, ast.Dict) or (isinstance(n, ast.Call) and _call_name(n) == "mkdtemp")

    for fn, node, _assigns in _scoped(tree, candidate):
        if isinstance(node, ast.Call):
            yield "mkdtemp", fn
        elif {"last-column-id", "partition-specs"} <= {
            k.value for k in node.keys if isinstance(k, ast.Constant)
        }:
            yield "birth", fn


def test_tables_born_only_by_create_table():
    """Every table's first ``metadata.json`` is built by
    ``commit.create_table``, and every temp directory comes from
    ``commit._scratch_dir`` (removed at process exit)."""
    found: dict[str, set[tuple[str, str]]] = {"birth": set(), "mkdtemp": set()}
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for kind, fn in _births_and_scratch(ast.parse(path.read_text())):
            found[kind].add((rel, fn))
    assert found["birth"] == {("iceberg/commit.py", "create_table")}
    assert found["mkdtemp"] == _MKDTEMP_SITES


def test_birth_scan_sees_hand_built_tables():
    """The rule's detector flags a hand-built first version and a bare
    ``mkdtemp``, and passes ``create_table`` calls, single-key updates
    and self-removing temp directories."""
    src = """
def a(root):
    meta0 = {"format-version": 2, "last-column-id": 2,
             "partition-specs": [{"spec-id": 0, "fields": []}]}
    install_metadata(os.path.join(root, "v1.metadata.json"), meta0)
def b(root, fields):
    return create_table(root, fields)
def c(raw):
    raw["last-column-id"] = 3
    return {"last-column-id": 3, "schemas": raw["schemas"]}
def d():
    return tempfile.mkdtemp(prefix="x_")
def e():
    from tempfile import mkdtemp
    return mkdtemp()
def f():
    with tempfile.TemporaryDirectory() as t:
        return os.listdir(t)
"""
    assert sorted(_births_and_scratch(ast.parse(src))) == [
        ("birth", "a"), ("mkdtemp", "d"), ("mkdtemp", "e"),
    ]


# ---- driver rows reach Spark through local_frame ------------------

# (module, function) → why it still hands a driver list to
# ``createDataFrame``; none today
_PICKLED_ROW_FRAMES: dict[tuple[str, str], str] = {}


def _rdd_built(expr: ast.expr, assigns: dict[str, list[ast.expr]]) -> bool:
    """True when ``expr`` — followed through the local assignments of
    the names it uses — is an RDD: a ``parallelize``/``emptyRDD``, a
    ``manifest_io._task_rdd`` or a frame's ``.rdd``."""
    todo, seen = [expr], set()
    while todo:
        for n in ast.walk(todo.pop()):
            if isinstance(n, ast.Call) and _call_name(n) in ("parallelize", "emptyRDD", "_task_rdd"):
                return True
            if isinstance(n, ast.Attribute) and n.attr == "rdd":
                return True
            if isinstance(n, ast.Name) and n.id not in seen:
                seen.add(n.id)
                todo.extend(assigns.get(n.id, ()))
    return False


def _pickled_row_frames(tree: ast.Module):
    """(enclosing function, call) for every ``createDataFrame`` whose
    data is not an RDD."""
    def is_create(n: ast.AST) -> bool:
        return isinstance(n, ast.Call) and _call_name(n) == "createDataFrame"

    for fn, call, assigns in _scoped(tree, is_create):
        data = call.args[0] if call.args else next(
            (k.value for k in call.keywords if k.arg == "data"), None
        )
        if data is None or not _rdd_built(data, assigns):
            yield fn, call


def test_driver_rows_reach_spark_through_local_frame():
    """Under ``iceberg/``, ``streaming/``, ``sources/`` and
    ``operators/`` a frame over rows built on the driver comes from
    ``session.local_frame`` (one Arrow ``LocalRelation``);
    ``createDataFrame`` only wraps RDDs."""
    offenders, seen = [], set()
    for sub in ("iceberg", "streaming", "sources", "operators"):
        for path in sorted((_PKG / sub).rglob("*.py")):
            rel = path.relative_to(_PKG).as_posix()
            for fn, call in _pickled_row_frames(ast.parse(path.read_text())):
                seen.add((rel, fn))
                if (rel, fn) not in _PICKLED_ROW_FRAMES:
                    offenders.append(f"{rel}:{call.lineno} {fn}()")
    assert offenders == [], "\n".join(offenders)
    assert set(_PICKLED_ROW_FRAMES) <= seen, "stale allow-list entries"


def test_pickled_row_scan_sees_each_driver_list_shape():
    """The rule's detector flags driver lists however they are spelled
    and passes RDDs."""
    src = """
def a(spark, meta):
    rows = [(s["snapshot-id"],) for s in meta]
    return spark.createDataFrame(rows, "id long")
def b(spark):
    return spark.createDataFrame([], SCHEMA)
def c(spark, tasks):
    rows = map_manifests(None, tasks, worker)
    return spark.createDataFrame(rows, SCHEMA)
def d(spark, rows):
    return spark.createDataFrame(data=sorted(rows), schema="a long")
def e(spark, tasks):
    return spark.createDataFrame(_task_rdd(spark, tasks, worker), SCHEMA)
def f(spark, shards):
    rdd = spark.sparkContext.parallelize(shards).flatMap(walk)
    return spark.createDataFrame(rdd, SCHEMA)
def g(spark, df):
    return spark.createDataFrame(df.rdd.map(fix), df.schema)
def h(spark, rows):
    return local_frame(spark, rows, SCHEMA)
"""
    assert [fn for fn, _call in _pickled_row_frames(ast.parse(src))] == ["a", "b", "c", "d"]


_AVRO_SHARED = {"_resolve", "_branch_for"}  # manifest2json walks schemas with these
_INTERPRETERS = {"decode_value", "encode_value"}


def _codec_breaches(tree: ast.Module, in_avro: bool) -> list[str]:
    """Per-value interpreter definitions anywhere, and (outside
    ``avro/``) private names taken from ``avro/`` by import or by
    attribute of an imported ``avro`` module."""
    out, avro_mods = [], set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name in _INTERPRETERS:
            out.append(f"{n.lineno} defines {n.name}")
        if in_avro or not isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        mod = (n.module or "") if isinstance(n, ast.ImportFrom) else ""
        parts = mod.split(".")
        from_avro = isinstance(n, ast.ImportFrom) and (parts[0] == "avro" if n.level else parts[1:2] == ["avro"])
        for a in n.names:
            if from_avro and a.name.startswith("_") and a.name not in _AVRO_SHARED:
                out.append(f"{n.lineno} imports {a.name}")
            elif from_avro or ".avro." in f".{a.name}.":
                avro_mods.add(a.asname or a.name)
    for n in ast.walk(tree):
        if isinstance(n, ast.Attribute) and n.attr.startswith("_") and n.attr not in _AVRO_SHARED:
            if ast.unparse(n.value) in avro_mods:
                out.append(f"{n.lineno} reads {ast.unparse(n)}")
    return out


def test_one_avro_codec():
    """The compiled codec in ``avro/`` is the only one: no module
    defines a per-value ``decode_value``/``encode_value`` again, and
    nothing outside ``avro/`` reaches into its private names."""
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text())
        offenders += [f"{rel}:{b}" for b in _codec_breaches(tree, rel.startswith("avro/"))]
    assert offenders == [], "\n".join(offenders)


def test_codec_rule_sees_each_breach_shape():
    src = """
from ..avro.reader import AvroContainerFile, _branch_for, _resolve
from ..avro.reader import _collect_named
from iceberg_tools_spark.avro.writer import _writer
from ..avro import reader
import iceberg_tools_spark.avro.writer as w
from .conversions import _to_string
size = len(reader._DECODERS) + len(w._ENCODERS) + len(reader.MAGIC)
def decode_value(schema, dec, names):
    pass
"""
    assert _codec_breaches(ast.parse(src), in_avro=False) == [
        "3 imports _collect_named",
        "4 imports _writer",
        "9 defines decode_value",
        "8 reads reader._DECODERS",
        "8 reads w._ENCODERS",
    ]
    assert _codec_breaches(ast.parse(src), in_avro=True) == ["9 defines decode_value"]


# ---- one manifest reader ------------------------------------------

# (module, function) → why it builds an Avro container itself
_CONTAINER_SITES = {
    ("iceberg/manifest_io.py", "decode_manifest"): "the one manifest decode",
    ("iceberg/manifest2json.py", "manifest2json"): "walks the writer schema for the JSON dump",
    ("iceberg/snapshots.py", "read_manifest_list"): "manifest lists are not manifests",
}


def _container_builds(tree: ast.Module):
    """The enclosing function of every ``AvroContainerFile(...)`` call,
    however the class is reached."""
    def is_build(n: ast.AST) -> bool:
        return isinstance(n, ast.Call) and _call_name(n) == "AvroContainerFile"

    return [fn for fn, _call, _assigns in _scoped(tree, is_build)]


def test_manifests_decoded_only_by_manifest_io():
    """Outside ``avro/``, an Avro container is built only by
    ``manifest_io`` (every manifest read, so one inheritance rule),
    ``manifest2json`` and ``snapshots.read_manifest_list``."""
    found = set()
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if not rel.startswith("avro/"):
            found |= {(rel, fn) for fn in _container_builds(ast.parse(path.read_text()))}
    assert found == set(_CONTAINER_SITES)


def test_container_scan_sees_each_build_shape():
    src = """
from ..avro.reader import AvroContainerFile
from ..avro import reader
def a(blob):
    return list(AvroContainerFile(blob))
def b(path):
    with open(path, "rb") as f:
        return [r for r in reader.AvroContainerFile(f.read())]
def c(blob):
    return read_manifest(blob)
ROWS = list(AvroContainerFile(open("x", "rb").read()))
"""
    assert sorted(map(str, _container_builds(ast.parse(src)))) == ["None", "a", "b"]


def _threshold_reads(tree: ast.Module) -> list[int]:
    """Lines that read or import ``PARALLEL_THRESHOLD``."""
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and n.id == "PARALLEL_THRESHOLD"
        or isinstance(n, ast.Attribute) and n.attr == "PARALLEL_THRESHOLD"
        or isinstance(n, ast.ImportFrom) and any(a.name == "PARALLEL_THRESHOLD" for a in n.names)
    )


def test_manifest_placement_decided_only_by_manifest_io():
    """Only ``manifest_io`` reads ``PARALLEL_THRESHOLD``: every other
    module hands its manifests to ``map_manifests`` or
    ``manifest_frame`` and lets it place the decode."""
    readers = {
        path.relative_to(_PKG).as_posix()
        for path in sorted(_PKG.rglob("*.py"))
        if _threshold_reads(ast.parse(path.read_text()))
    }
    assert readers == {"iceberg/manifest_io.py"}


def test_threshold_scan_sees_each_read_shape():
    src = '''
from .manifest_io import PARALLEL_THRESHOLD
import iceberg_tools_spark.iceberg.manifest_io as mio
def a(tasks):
    return len(tasks) >= PARALLEL_THRESHOLD
def b(tasks):
    return len(tasks) >= mio.PARALLEL_THRESHOLD
def c(tasks):
    """above PARALLEL_THRESHOLD manifests"""
    return map_manifests(None, tasks, worker)
'''
    assert _threshold_reads(ast.parse(src)) == [2, 5, 7]


# ---- one bound evaluator ------------------------------------------

_REPARSERS = {"regexp_extract", "get_json_object"}
_RENDERED_COLUMNS = {"lower_bounds", "upper_bounds", "partition_json"}
_REPARSE_SQL = re.compile(
    r"\b(?:regexp_extract|get_json_object)\s*\(\s*(?:\w+\.)?(?:lower_bounds|upper_bounds|partition_json)\b"
)


def _bound_reparses(tree: ast.Module) -> list[str]:
    """Spark re-parses of rendered bounds or partitions — a
    ``regexp_extract``/``get_json_object`` call whose arguments,
    followed through local assignments, name ``lower_bounds``,
    ``upper_bounds`` or ``partition_json``, or SQL text doing the
    same — and every definition, import or read of ``bound_value``
    (the deleted Spark half of ``pruning``)."""
    def is_reparse(n: ast.AST) -> bool:
        return isinstance(n, ast.Call) and _call_name(n) in _REPARSERS

    out = []
    for _fn, call, assigns in _scoped(tree, is_reparse):
        args = ast.Tuple(elts=[*call.args, *(k.value for k in call.keywords)])
        if _RENDERED_COLUMNS & set(_trace(args, assigns)[0]):
            out.append(f"{call.lineno} calls {_call_name(call)}")
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and _REPARSE_SQL.search(n.value):
            out.append(f"{n.lineno} has SQL {_REPARSE_SQL.search(n.value).group(0)}")
        elif isinstance(n, ast.ImportFrom) and (n.module or "").split(".")[-1] == "pruning":
            out += [f"{n.lineno} imports bound_value" for a in n.names if a.name == "bound_value"]
        elif isinstance(n, ast.Attribute) and n.attr == "bound_value":
            out.append(f"{n.lineno} reads {ast.unparse(n)}")
        elif isinstance(n, ast.FunctionDef) and n.name == "bound_value":
            out.append(f"{n.lineno} defines bound_value")
    return sorted(out, key=lambda b: int(b.split()[0]))


def test_bounds_decided_only_by_the_worker_evaluator():
    """Rendered bounds and partitions are never parsed back in Spark:
    ``iceberg/pruning.py`` decides files on typed values inside the
    manifest decode, and nothing brings back its deleted Spark half
    (``bound_value``)."""
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        offenders += [f"{rel}:{b}" for b in _bound_reparses(ast.parse(path.read_text()))]
    assert offenders == [], "\n".join(offenders)


def test_reparse_rule_sees_each_breach_shape():
    src = '''
from .pruning import bound_value, file_rules
from iceberg_tools_spark.iceberg import pruning
def a(df):
    return df.select(F.get_json_object("partition_json", "$.x"))
def b(df):
    col = F.element_at("lower_bounds", F.lit(1))
    return F.regexp_extract(col, "^value:(.*);", 1)
def c(df):
    return pruning.bound_value(F.col("upper_bounds")[1])
def d(df):
    return df.selectExpr("get_json_object(t.partition_json, '$.x')")
def e(df):
    return F.regexp_extract("file_path", "data/.*$", 0)
def bound_value(col):
    return col
'''
    assert _bound_reparses(ast.parse(src)) == [
        "2 imports bound_value",
        "5 calls get_json_object",
        "8 calls regexp_extract",
        "10 reads pruning.bound_value",
        "12 has SQL get_json_object(t.partition_json",
        "15 defines bound_value",
    ]
