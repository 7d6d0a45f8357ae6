"""The benchmark workloads.

Each workload builds its tables in `setup` through the library's
public functions, from inputs made by :mod:`gen`, and then yields an
endless, deterministic schedule of operations. An operation does its
work and materializes the result inside the timed window; its check
runs after the window closes and compares the result with the answer
:mod:`gen` computed independently.

Operation classes: plan, meta_table, commit, dml, maintenance, scan,
curate.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa

import gen

CLASSES = ("plan", "meta_table", "commit", "dml", "maintenance", "scan", "curate")
CURATE_OPS = ("dedup_minhash_lsh",)


@dataclass
class Op:
    cls: str
    name: str
    run: Callable[[], Any]
    # returns None when the result is right, else the reason
    check: Callable[[Any], str | None]
    # counters derived from the result (entries read, rows out, ...)
    stats: Callable[[Any], dict[str, float]] = field(default=lambda res: {})


def _rel(uri: str, root: str) -> str:
    return uri.split(os.path.abspath(root) + "/", 1)[-1]


def _expect(got: Any, want: Any, what: str) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


def _summary(metadata_path: str) -> dict[str, str]:
    with open(metadata_path) as f:
        raw = json.load(f)
    cur = raw.get("current-snapshot-id")
    snap = next(s for s in raw["snapshots"] if s["snapshot-id"] == cur)
    return {**snap["summary"], "_snapshots": str(len(raw["snapshots"]))}


def table_hash(tbl: pa.Table) -> str:
    """Order-insensitive digest of a result table."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(repr(tuple(col[i] for col in data)) for i in range(tbl.num_rows))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


class Workload:
    name = ""
    cycle: int = 1  # ops per schedule cycle

    def setup(self, spark: Any, work: str, seed: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Start the Python workers and load the main code paths,
        outside any timed window."""
        raise NotImplementedError

    def schedule(self) -> Iterator[Op]:
        raise NotImplementedError


# ---------------------------------------------------------------- meta_plan


def build_meta_table(root: str, spec: dict) -> str:
    from iceberg_tools_spark.iceberg import commit
    from iceberg_tools_spark.iceberg.conversions import to_bytes

    mp = commit.create_table(
        root, gen.META_FIELDS, partition_by=[("region", "identity", "region")]
    )
    for files in spec["snapshots"]:
        data_files = [
            {
                "path": f["path"],
                "partition": {"region": f["region"]},
                "record_count": f["record_count"],
                "file_size_in_bytes": f["file_size_in_bytes"],
                "lower_bounds": [
                    {"key": 1, "value": to_bytes("long", f["id_lo"])},
                    {"key": 3, "value": to_bytes("double", f["price_lo"])},
                ],
                "upper_bounds": [
                    {"key": 1, "value": to_bytes("long", f["id_hi"])},
                    {"key": 3, "value": to_bytes("double", f["price_hi"])},
                ],
            }
            for f in files
        ]
        mp = commit.append_snapshot(mp, data_files, base_dir=root)["metadata_path"]
    return mp


class MetaPlan(Workload):
    name = "meta_plan"

    def setup(self, spark: Any, work: str, seed: int) -> None:
        self.spark = spark
        self.tables = {}
        for name in gen.META_SHAPES:
            spec = gen.meta_table_spec(seed, name)
            root = os.path.join(work, name)
            self.tables[name] = (root, build_meta_table(root, spec), gen.meta_queries(seed, spec))
        self.cycle = len(self._cycle_ops())

    def _plan(self, table: str, pred: str) -> Op:
        from iceberg_tools_spark.iceberg import snapshots

        root, mp, q = self.tables[table]
        plan = q["plans"][pred]

        def run():
            df = snapshots.plan_scan(self.spark, mp, q["head"], base_dir=root, **plan["kw"])
            return df.select("manifest_name", "file_path", "selected").collect()

        def check(rows):
            got = sorted(_rel(r.file_path, root) for r in rows if r.selected)
            return _expect(got, plan["files"], f"{table}/{pred} selected files")

        def stats(rows):
            return {
                "entries_read": len(rows),
                "manifests_opened": len({r.manifest_name for r in rows}),
                "files_selected": sum(1 for r in rows if r.selected),
            }

        return Op("plan", f"plan_{table}_{pred}", run, check, stats)

    def _files_at(self, table: str) -> Op:
        from iceberg_tools_spark.iceberg import snapshots

        root, mp, q = self.tables[table]
        want = q["files_at"]

        def run():
            df = snapshots.files_at(self.spark, mp, want["snapshot"], base_dir=root)
            return df.select("file_path").collect()

        def check(rows):
            got = sorted(_rel(r.file_path, root) for r in rows)
            return _expect(got, want["files"], f"{table} files_at {want['snapshot']}")

        return Op("plan", f"files_at_{table}", run, check, lambda rows: {"entries_read": len(rows)})

    def _manifest2json(self, table: str) -> Op:
        from iceberg_tools_spark.iceberg import snapshots
        from iceberg_tools_spark.iceberg.manifest2json import manifest2json
        from iceberg_tools_spark.iceberg.metadata import parse_metadata

        root, mp, q = self.tables[table]
        want = q["manifest2json"]

        def run():
            meta = parse_metadata(mp)
            dumps = []
            for path in snapshots.manifest_paths_at(meta, want["snapshot"], root):
                out = io.StringIO()
                manifest2json(path, mp, out)
                dumps.append(out.getvalue())
            return dumps

        def check(dumps):
            n = sum(len(json.loads(d)) for d in dumps)
            return _expect(n, want["entries"], f"{table} manifest2json entries")

        def stats(dumps):
            return {
                "entries_read": sum(len(json.loads(d)) for d in dumps),
                "bytes_out": sum(len(d) for d in dumps),
            }

        return Op("meta_table", f"manifest2json_{table}", run, check, stats)

    def _meta_tables(self, table: str) -> list[Op]:
        from iceberg_tools_spark.iceberg import snapshots, tables
        from iceberg_tools_spark.iceberg.metadata import parse_metadata

        root, mp, q = self.tables[table]
        head = q["head"]

        def snaps():
            return tables.snapshots_df(self.spark, parse_metadata(mp)).collect()

        def history():
            return tables.history_df(self.spark, parse_metadata(mp)).collect()

        def parts():
            meta = parse_metadata(mp)
            paths = snapshots.manifest_paths_at(meta, head, root)
            return tables.partitions_df(self.spark, paths, meta.raw).collect()

        def check_parts(rows):
            got = {
                str(json.loads(r.partition_json)["region"]): (r.file_count, r.record_count)
                for r in rows
            }
            return _expect(got, q["partitions"], f"{table} partitions")

        return [
            Op(
                "meta_table", f"snapshots_{table}", snaps,
                lambda rows: _expect(sorted(r.snapshot_id for r in rows),
                                     list(range(1, head + 1)), "snapshot ids"),
            ),
            Op(
                "meta_table", f"history_{table}", history,
                lambda rows: _expect(
                    (len(rows), all(r.is_current_ancestor for r in rows)),
                    (head, True), "history rows / ancestry"),
            ),
            Op(
                "meta_table", f"partitions_{table}", parts, check_parts,
                lambda rows: {"entries_read": sum(r.file_count for r in rows)},
            ),
        ]

    def _cycle_ops(self, prefix: str = "") -> list[Op]:
        wide, compact = prefix + "wide", prefix + "compact"
        snaps, history, _ = self._meta_tables(wide)
        return [
            self._plan(wide, "all"),
            self._plan(wide, "id_range"),
            self._plan(compact, "all"),
            self._plan(compact, "region"),
            self._files_at(wide),
            self._manifest2json(compact),
            snaps,
            history,
            self._meta_tables(compact)[2],
        ]

    def warmup(self) -> None:
        # a plan on each small table: executor decode (Python workers
        # start) and driver decode
        for table in ("warm_wide", "warm_compact"):
            self._plan(table, "all").run()

    def schedule(self) -> Iterator[Op]:
        ops = self._cycle_ops()
        while True:
            yield from ops


# ------------------------------------------------------------ commit_churn


@dataclass
class ChurnTable:
    """One churn table and the model of what it must hold."""

    name: str
    root: str
    mp0: str  # the table's first metadata file; the head is its latest sibling
    batches: list[dict]
    model: gen.ChurnModel
    rng: np.random.Generator
    next_batch: int = 0
    physical: int = 0  # rows in live data files (deletes not applied)

    def head(self) -> str:
        from iceberg_tools_spark.streaming.ingest import latest_metadata_path

        return latest_metadata_path(self.mp0)


class CommitChurn(Workload):
    """The write path on a lineitem-shaped table. One cycle: three
    ingest commits, each followed by a scan plan; a delete after the
    second commit, followed by a merge-on-read scan; a maintenance
    step (delete-folding rewrite and bin-pack alternate, then snapshot
    expiry); and one run of the MinHash curation operator."""

    name = "commit_churn"
    COMMITS_PER_CYCLE = 3
    KEEP_SNAPSHOTS = 3
    cycle = 2 * COMMITS_PER_CYCLE + 4

    def setup(self, spark: Any, work: str, seed: int) -> None:
        from iceberg_tools_spark import parity, registry

        self.spark = spark
        self.table = self._create(work, seed, "churn", gen.BATCH_ROWS)
        self.warm = self._create(work, seed, "warm", gen.WARM_BATCH_ROWS)

        # the curation operator: one parity check against its oracle
        # per run, outside any timed window; every timed run must then
        # match the checked result's hash
        self.sf_dir = os.path.join(work, "corpus")
        gen.curate_corpus(seed, self.sf_dir)
        queries, oracle = registry.queries(), registry.oracle_sql()
        self.curate_fns = {n: queries[n] for n in CURATE_OPS}
        self.reference: dict[str, str | None] = {}
        self.parity_failures: dict[str, list[str]] = {}
        con = parity.duck_connection(self.sf_dir)
        try:
            for name in CURATE_OPS:
                tbl = self.curate_fns[name](spark, self.sf_dir).toArrow()
                r = parity.compare(name, _Materialized(tbl), oracle[name], self.sf_dir, con=con)
                self.reference[name] = table_hash(tbl) if r.ok else None
                if not r.ok:
                    self.parity_failures[name] = r.detail
        finally:
            con.close()

    @staticmethod
    def _create(work: str, seed: int, name: str, rows: int) -> ChurnTable:
        from iceberg_tools_spark.iceberg import commit

        root = os.path.join(work, name)
        batches = gen.churn_batches(seed, os.path.join(work, "input", name), rows)
        mp0 = commit.create_table(
            root, gen.LINEITEM_FIELDS,
            partition_by=[("l_returnflag", "identity", "l_returnflag")],
        )
        return ChurnTable(
            name, root, mp0, batches, gen.ChurnModel(batches), np.random.default_rng([seed, 11])
        )

    def _commit(self, t: ChurnTable) -> Op:
        from iceberg_tools_spark.streaming import ingest

        b = t.next_batch
        t.next_batch += 1

        def run():
            commit_batch = ingest.make_batch_committer(
                t.mp0, query_name=t.name, partition_cols=("l_returnflag",), base_dir=t.root
            )
            return commit_batch(self.spark.read.parquet(t.batches[b]["path"]), b)

        def check(res):
            t.model.ingest(b)
            t.physical += t.batches[b]["rows"]
            if res is None:
                return f"batch {b} not committed"
            return _expect(int(_summary(res["metadata_path"])["total-records"]),
                           t.physical, f"batch {b} total-records")

        return Op("commit", "commit", run, check)

    def _plan(self, t: ChurnTable) -> Op:
        from iceberg_tools_spark.iceberg import snapshots
        from iceberg_tools_spark.iceberg.metadata import parse_metadata

        def run():
            mp = t.head()
            sid = parse_metadata(mp).current_snapshot_id
            df = snapshots.plan_scan(self.spark, mp, sid, base_dir=t.root)
            return df.select("manifest_name", "record_count", "selected").collect()

        def check(rows):
            return _expect(sum(r.record_count for r in rows if r.selected),
                           t.physical, "planned rows")

        def stats(rows):
            return {
                "entries_read": len(rows),
                "manifests_opened": len({r.manifest_name for r in rows}),
                "files_selected": sum(1 for r in rows if r.selected),
            }

        return Op("plan", "plan", run, check, stats)

    def _delete(self, t: ChurnTable) -> Op:
        from iceberg_tools_spark.iceberg import dml

        pred, n = t.model.delete_predicate(t.rng)

        def run():
            # base_dir is passed explicitly: its default (the metadata
            # file's directory) is wrong for create_table's layout
            return dml.delete_where(self.spark, t.head(), pred, base_dir=t.root)

        def check(res):
            got = int(_summary(res["metadata_path"]).get("added-position-deletes", 0))
            return _expect(got, n, f"rows deleted by {pred}")

        return Op("dml", "delete_where", run, check, lambda res: {"rows_deleted": n})

    def _scan(self, t: ChurnTable) -> Op:
        from pyspark.sql import functions as F

        from iceberg_tools_spark.iceberg import deletes
        from iceberg_tools_spark.iceberg.metadata import parse_metadata

        def run():
            mp = t.head()
            sid = parse_metadata(mp).current_snapshot_id
            df = deletes.read_mor(self.spark, mp, sid, base_dir=t.root)
            r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")).collect()[0]
            return r.n, r.q

        def check(res):
            want = (t.model.live_rows, t.model.live_quantity)
            return _expect(res, want, "live rows / sum(l_quantity)")

        return Op("scan", "read_mor", run, check, lambda res: {"rows_out": res[0]})

    def _maintenance(self, t: ChurnTable, fold: bool) -> Op:
        from iceberg_tools_spark.iceberg import commit, rewrite_data

        def run():
            mp = t.head()
            if fold:
                rw = rewrite_data.rewrite_data_files(self.spark, mp, base_dir=t.root)
            else:
                rw = rewrite_data.binpack_rewrite(self.spark, mp, base_dir=t.root)
            ex = commit.expire_snapshots(
                rw["metadata_path"], keep_last=self.KEEP_SNAPSHOTS,
                base_dir=t.root, delete_files=True,
            )
            return rw, ex

        def check(res):
            if fold:
                t.physical = t.model.live_rows
            summ = _summary(res[1]["metadata_path"])
            return _expect(
                (int(summ["total-records"]), int(summ["_snapshots"])),
                (t.physical, self.KEEP_SNAPSHOTS),
                "total-records / snapshots kept after maintenance",
            )

        return Op("maintenance", "rewrite_expire" if fold else "binpack_expire", run, check)

    def _curate(self, name: str) -> Op:
        fn = self.curate_fns[name]

        def run():
            return fn(self.spark, self.sf_dir).toArrow()

        def check(tbl):
            ref = self.reference[name]
            if ref is None:
                return f"parity with the oracle failed: {self.parity_failures[name][:2]}"
            return _expect(table_hash(tbl), ref, f"{name} result hash")

        return Op("curate", name, run, check)

    def _cycles(self, t: ChurnTable, curate: bool) -> Iterator[Op]:
        k = 0
        while t.next_batch + self.COMMITS_PER_CYCLE <= len(t.batches):
            for i in range(self.COMMITS_PER_CYCLE):
                yield self._commit(t)
                yield self._plan(t)
                if i == 1:
                    yield self._delete(t)
                    yield self._scan(t)
            yield self._maintenance(t, fold=k % 2 == 0)
            if curate:
                for name in CURATE_OPS:
                    yield self._curate(name)
            k += 1

    def warmup(self) -> None:
        # a commit and a plan on the small table; the curation
        # operator already ran in set-up
        ops = self._cycles(self.warm, curate=False)
        for _ in range(2):
            op = next(ops)
            err = op.check(op.run())
            if err:
                raise RuntimeError(f"warm-up {op.name}: {err}")

    def schedule(self) -> Iterator[Op]:
        return self._cycles(self.table, curate=True)


class _Materialized:
    """A computed result handed to `parity.compare`, which only calls
    `toArrow()` on the frame it is given."""

    def __init__(self, tbl: pa.Table):
        self._tbl = tbl

    def toArrow(self) -> pa.Table:
        return self._tbl


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (MetaPlan, CommitChurn)}
