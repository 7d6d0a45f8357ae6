"""Engine commits routed through a REST catalog (VERDICT r14 #1).

The dominant real deployment shape: data artifacts (parquet,
manifests, manifest lists) are written by the ENGINE directly to the
table location, but the metadata pointer swing — the commit — goes
through the catalog service, which arbitrates concurrent writers.

Composition, not re-implementation: each operation reuses the
ordinary single-writer FS builders (``append_snapshot``,
``commit_delete_snapshot``, ``delete_where``, …) as the STAGING
step, run against a uniquely-named scratch copy of the catalog-
resolved head metadata so no catalog-owned ``vN.metadata.json`` is
ever written by the client. The staged snapshot (its manifests and
manifest list already durable in the table location) is then POSTed
as a CommitTableRequest::

    requirements: [assert-ref-snapshot-id main == <staged base>]
    updates:      [add-snapshot, set-snapshot-ref main]

A concurrent writer moving the head between resolution and POST
surfaces as HTTP 409 → :class:`CommitConflictError`, and the retry
loop re-validates with the SAME optimistic-concurrency chain the FS
path uses (``validate_concurrent_commits``: appends always rebase;
position deletes require their referenced files still live;
equality deletes additionally require no conflicting appends under
serializable isolation) before re-staging against the new head.

Iceberg writes snapshot ids as random longs for exactly this
multi-writer reason — two writers staging against the same head
must never collide on manifest file names; this module does the
same (``SnapshotIdGeneratorUtil``, public Iceberg source).

v3 row-lineage tables (r16, VERDICT r15 #6): the catalog must
arbitrate ``next-row-id`` — staged data-file first_row_ids are
absolute offsets from the counter the writer staged against, so a
rival consuming ids would make them collide. Servers advertising
``next-row-id-arbitration`` in /v1/config (this repo's fixture
server does; newer REST spec drafts carry ``first-row-id`` on
add-snapshot for the same purpose) take commits under an
``assert-next-row-id`` requirement plus a ``set-next-row-id``
update; a moved counter 409s and the ordinary rebase loop re-stages
against the fresh head. Against servers WITHOUT the capability, v3
commits still refuse loudly (commit via the FS path).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any, Callable

from ..session import local_frame
from .catalog import install_metadata
from .concurrency import CommitConflictError, validate_concurrent_commits
from .rest_catalog import RestCatalogClient


def _rand_snapshot_id() -> int:
    """Random positive 62-bit snapshot id (collision-free staging
    across concurrent writers, like Iceberg's generator)."""
    return (uuid.uuid4().int & ((1 << 62) - 1)) or 1


class RestTableOps:
    """Commit appends / deletes / row deltas / property changes to
    one table THROUGH a REST catalog, with 409-rebase retries."""

    def __init__(
        self,
        client: RestCatalogClient,
        identifier: str,
        *,
        max_retries: int = 3,
    ):
        self.client = client
        self.identifier = identifier
        self.max_retries = max_retries

    # ---------------------------------------------- head resolution

    def _server_arbitrates_row_ids(self) -> bool:
        """Capability probe: the catalog accepts assert-next-row-id /
        set-next-row-id in table commits (advertised in /v1/config —
        newer REST spec drafts carry first-row-id on add-snapshot for
        the same arbitration)."""
        try:
            cfg = self.client.config()
        except Exception:
            return False
        merged = {**(cfg.get("defaults") or {}), **(cfg.get("overrides") or {})}
        return merged.get("next-row-id-arbitration") == "true"

    def _head(self) -> tuple[str, int | None]:
        """(local metadata path, current main snapshot id) for the
        table's CURRENT catalog state. Also caches the head's
        ``next-row-id`` (v3) for the commit's arbitration
        requirement."""
        import gzip

        mpath = self.client.metadata_path(self.identifier)
        opener = gzip.open if mpath.endswith(".gz") else open
        with opener(mpath, "rt") as f:
            raw = json.load(f)
        self._head_next_row_id = None
        if int(raw.get("format-version", 2)) >= 3:
            # v3 writers stage ABSOLUTE first_row_ids from the head's
            # next-row-id; committing them safely needs the catalog to
            # arbitrate the counter (VERDICT r15 #6) — refuse against
            # servers that don't advertise the capability
            if not self._server_arbitrates_row_ids():
                raise ValueError(
                    "REST-routed commits on v3 row-lineage tables need "
                    "catalog-arbitrated next-row-id and this server "
                    "does not advertise next-row-id-arbitration; "
                    "commit via the FS path"
                )
            self._head_next_row_id = int(raw.get("next-row-id", 0))
        refs = raw.get("refs") or {}
        head = (refs.get("main") or {}).get(
            "snapshot-id", raw.get("current-snapshot-id")
        )
        return mpath, head

    # ------------------------------------------------------ staging

    def _stage(
        self, head_mpath: str, build: Callable[[str], dict[str, Any]]
    ) -> tuple[dict[str, Any], dict[str, Any]]:
        """Run a local commit builder against a scratch COPY of the
        head metadata (inside the table's metadata dir, so relative
        resolution and artifact placement match a real commit), then
        extract the staged snapshot and discard the scratch metadata
        files — the CATALOG owns metadata versions."""
        mdir = os.path.dirname(head_mpath)
        if not (os.path.isdir(mdir) and os.access(mdir, os.W_OK)):
            # staging writes scratch metadata (and the builders write
            # manifests) via local paths inside the catalog-owned
            # metadata dir — only valid when metadataLocation is a
            # locally-writable filesystem (the fixture server shape)
            raise ValueError(
                f"REST staging requires a locally-writable metadata "
                f"dir; {mdir!r} is not (object-store metadata "
                f"locations need a FileIO-backed staging path)"
            )
        import gzip

        # spec-legal gzip head: the scratch copy is named .json, so it
        # holds the PLAIN text for the builder to parse
        opener = gzip.open if head_mpath.endswith(".gz") else open
        with opener(head_mpath, "rt") as f:
            scratch = install_metadata(
                os.path.join(mdir, f"staged-{uuid.uuid4().hex[:12]}.metadata.json"),
                f.read(),
            )
        out_mpath = None
        try:
            res = build(scratch)
            out_mpath = res["metadata_path"]
            with open(out_mpath) as f:
                new_raw = json.load(f)
            snap = next(
                s
                for s in new_raw.get("snapshots", [])
                if s["snapshot-id"] == res["snapshot_id"]
            )
            # v3: the builder advanced the scratch counter; the commit
            # ships it as set-next-row-id under assert-next-row-id
            res["_staged_next_row_id"] = new_raw.get("next-row-id")
        finally:
            for p in (scratch, out_mpath):
                if p and os.path.exists(p):
                    os.remove(p)
        return snap, res

    # ----------------------------------------------- commit + retry

    def _commit_snapshot(
        self,
        build: Callable[[str], dict[str, Any]],
        *,
        validate: Callable[[str, str], None] | None = None,
    ) -> dict[str, Any]:
        base_mpath, base_head = self._head()
        base_next = getattr(self, "_head_next_row_id", None)
        orig_mpath = base_mpath
        for attempt in range(self.max_retries + 1):
            snap, res = self._stage(base_mpath, build)
            staged_next = res.pop("_staged_next_row_id", None)
            reqs = [{
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": base_head,
            }]
            ups = [
                {"action": "add-snapshot", "snapshot": snap},
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "main",
                    "snapshot-id": snap["snapshot-id"],
                    "type": "branch",
                },
            ]
            if base_next is not None:
                # v3 row-lineage arbitration: staged first_row_ids
                # are absolute offsets from base_next — a rival
                # consuming ids 409s here and the rebase re-stages
                # against the fresh counter
                reqs.append({
                    "type": "assert-next-row-id",
                    "next-row-id": base_next,
                })
                if staged_next is not None and staged_next != base_next:
                    ups.append({
                        "action": "set-next-row-id",
                        "next-row-id": int(staged_next),
                    })
            try:
                self.client.commit_table(
                    self.identifier, requirements=reqs, updates=ups
                )
            except CommitConflictError:
                if attempt >= self.max_retries:
                    raise
                head_mpath, head_id = self._head()
                if validate is not None:
                    # raises CommitConflictError when the staged
                    # operation's assumptions no longer hold (then
                    # the WRITER re-plans; no blind retry)
                    validate(orig_mpath, head_mpath)
                base_mpath, base_head = head_mpath, head_id
                base_next = getattr(self, "_head_next_row_id", None)
                continue
            res.update(
                retried=attempt > 0,
                attempts=attempt + 1,
                base_snapshot_id=base_head,
            )
            # the staged metadata file is gone; the catalog's head is
            # the authoritative result
            res["metadata_path"] = self.client.metadata_path(self.identifier)
            return res
        raise AssertionError("unreachable")

    # -------------------------------------------------- operations

    def append(
        self, data_files: list[dict[str, Any]], **kw: Any
    ) -> dict[str, Any]:
        """Append data files through the catalog — always
        rebase-safe; a moved head just re-parents the snapshot."""
        from .commit import append_snapshot

        sid = kw.pop("snapshot_id", None) or _rand_snapshot_id()
        return self._commit_snapshot(
            lambda mp: append_snapshot(
                mp, data_files, snapshot_id=sid, **kw
            )
        )

    def commit_delete(
        self,
        delete_files: list[dict[str, Any]],
        *,
        referenced_data_files: list[str] = (),
        isolation: str = "serializable",
        **kw: Any,
    ) -> dict[str, Any]:
        """Commit pre-written delete files through the catalog with
        the FS path's validation chain on conflict."""
        from .commit import commit_delete_snapshot
        from .deletes import EQUALITY_DELETES

        sid = kw.pop("snapshot_id", None) or _rand_snapshot_id()
        eq_parts = [
            d.get("partition") or {}
            for d in delete_files
            if d.get("content") == EQUALITY_DELETES
        ]

        def _validate(base_mp: str, head_mp: str) -> None:
            validate_concurrent_commits(
                base_mp,
                head_mp,
                referenced_data_files=list(referenced_data_files),
                equality_delete_partitions=(
                    eq_parts
                    if (eq_parts and isolation == "serializable")
                    else None
                ),
            )

        return self._commit_snapshot(
            lambda mp: commit_delete_snapshot(
                mp, delete_files, snapshot_id=sid, **kw
            ),
            validate=_validate,
        )

    def delete_where(
        self, spark, predicate, **kw: Any
    ) -> dict[str, Any]:
        """DELETE WHERE through the catalog: the FS ``delete_where``
        plans victims and stages position-delete parquet against the
        staged head; only the metadata swing goes over REST. On
        conflict the staged (path, pos) rows are validated against
        the new head before re-staging."""
        from .dml import delete_where as fs_delete_where

        sid = kw.pop("snapshot_id", None) or _rand_snapshot_id()
        if "base_dir" not in kw:
            # scratch metadata lives inside metadata/; staging must
            # be rooted at the TABLE root so staged rel paths and
            # file_path URIs match the table layout
            head_mpath, _ = self._head()
            mdir = os.path.dirname(head_mpath)
            if os.path.basename(mdir) == "metadata":
                kw["base_dir"] = os.path.dirname(mdir)

        def _build(mp: str) -> dict[str, Any]:
            return fs_delete_where(
                spark, mp, predicate, snapshot_id=sid, **kw
            )

        def _validate(base_mp: str, head_mp: str) -> None:
            # position deletes reference files by path; re-planning
            # from the builder re-reads the new head anyway, so only
            # divergence (non-ancestor rollback) must abort — the
            # builder's fresh victim plan carries the correctness
            validate_concurrent_commits(base_mp, head_mp)

        return self._commit_snapshot(_build, validate=_validate)

    def _table_base_dir(self) -> str | None:
        """Table root for staging when the catalog layout keeps
        metadata inside ``metadata/`` (scratch copies land there, so
        staged rel paths must root one level up)."""
        head_mpath, _ = self._head()
        mdir = os.path.dirname(head_mpath)
        return os.path.dirname(mdir) if os.path.basename(mdir) == "metadata" else None

    def update_where(
        self, spark, predicate: str, set_exprs: dict[str, Any], **kw: Any
    ) -> dict[str, Any]:
        """UPDATE ... SET ... WHERE through the catalog — a row
        delta (position deletes + rewritten rows in one snapshot)
        staged by the FS builder, committed over REST; on conflict
        the builder re-plans from the new head (divergence aborts)."""
        from .dml import update_where as fs_update_where

        sid = kw.pop("snapshot_id", None) or _rand_snapshot_id()
        if "base_dir" not in kw and (bd := self._table_base_dir()):
            kw["base_dir"] = bd
        return self._commit_snapshot(
            lambda mp: fs_update_where(
                spark, mp, predicate, set_exprs, snapshot_id=sid, **kw
            ),
            validate=lambda b, h: validate_concurrent_commits(b, h),
        )

    def merge_into(
        self, spark, source, on: str, **kw: Any
    ) -> dict[str, Any]:
        """MERGE INTO through the catalog (same staging/retry shape
        as :meth:`update_where`)."""
        from .dml import merge_into as fs_merge_into

        sid = kw.pop("snapshot_id", None) or _rand_snapshot_id()
        if "base_dir" not in kw and (bd := self._table_base_dir()):
            kw["base_dir"] = bd
        return self._commit_snapshot(
            lambda mp: fs_merge_into(
                spark, mp, source, on, snapshot_id=sid, **kw
            ),
            validate=lambda b, h: validate_concurrent_commits(b, h),
        )

    def expire_snapshots(
        self,
        *,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        now_ms: int | None = None,
        delete_files: bool = False,
    ) -> dict[str, Any]:
        """Snapshot expiry through the catalog: plan with the FS
        maintenance planner against the head, POST remove-snapshots
        (+ remove-snapshot-ref for aged-out refs) under
        assert-ref-snapshot-id, then — the same split as the FS
        executor — optionally delete the manifest lists / manifests
        no surviving snapshot references (data files remain orphan
        collection's job).

        Conflict shape (VERDICT r15 #7): a rival commit landing
        between plan and POST 409s the assert-ref requirement; the
        loop re-resolves the head and RE-PLANS from scratch — expiry
        assumptions (which snapshots exist, which refs protect them)
        are wholly derived from the head, so a fresh plan is the
        correct rebase, never a blind retry. Local file deletions
        still run only after a successful POST."""
        from .commit import _local, read_manifest_list
        from .maintenance import plan_expire_snapshots, plan_ref_retention
        from .metadata import parse_metadata

        for attempt in range(self.max_retries + 1):
            mpath, head = self._head()
            meta = parse_metadata(mpath)
            plan = plan_expire_snapshots(
                meta, keep_last=keep_last, older_than_ms=older_than_ms,
                now_ms=now_ms,
            )
            expired = sorted(
                p["snapshot_id"] for p in plan if p["action"] == "expire"
            )
            removed_refs = (
                plan_ref_retention(meta, now_ms)["removed_refs"]
                if now_ms is not None
                else []
            )
            if not expired and not removed_refs:
                return {"expired": [], "removable": [], "removed_refs": []}
            base_dir = os.path.dirname(mpath)
            loc = meta.raw.get("location")
            raw_snaps = meta.raw.get("snapshots", [])
            kept = [
                s for s in raw_snaps if s["snapshot-id"] not in set(expired)
            ]
            kept_manifests: set[str] = set()
            for s in kept:
                kept_manifests |= {
                    m["manifest_path"]
                    for m in read_manifest_list(
                        _local(s["manifest-list"], base_dir, loc)
                    )
                }
            removable: list[str] = []
            for s in raw_snaps:
                if s["snapshot-id"] not in set(expired):
                    continue
                removable.append(_local(s["manifest-list"], base_dir, loc))
                for m in {
                    m["manifest_path"]
                    for m in read_manifest_list(
                        _local(s["manifest-list"], base_dir, loc)
                    )
                } - kept_manifests:
                    p = _local(m, base_dir, loc)
                    if p not in removable:
                        removable.append(p)
            ups: list[dict[str, Any]] = []
            if expired:
                ups.append(
                    {"action": "remove-snapshots", "snapshot-ids": expired}
                )
            for name in removed_refs:
                ups.append(
                    {"action": "remove-snapshot-ref", "ref-name": name}
                )
            try:
                self.client.commit_table(
                    self.identifier,
                    requirements=[{
                        "type": "assert-ref-snapshot-id",
                        "ref": "main",
                        "snapshot-id": head,
                    }],
                    updates=ups,
                )
            except CommitConflictError:
                if attempt >= self.max_retries:
                    raise
                continue
            break
        if delete_files:
            for p in removable:
                if os.path.exists(p):
                    os.remove(p)
        return {
            "expired": expired,
            "removable": removable,
            "removed_refs": removed_refs,
            "attempts": attempt + 1,
            "retried": attempt > 0,
        }

    def set_properties(
        self, props: dict[str, str] | None = None, remove: list[str] = ()
    ) -> dict[str, Any]:
        """SET/UNSET TBLPROPERTIES — metadata-only, no staging."""
        ups: list[dict[str, Any]] = []
        if props:
            ups.append({"action": "set-properties", "updates": dict(props)})
        if remove:
            ups.append({"action": "remove-properties", "removals": list(remove)})
        if not ups:
            raise ValueError("set_properties with no changes")
        return self.client.commit_table(self.identifier, updates=ups)

    def add_column(
        self, name: str, ice_type: str, *, doc: str | None = None
    ) -> dict[str, Any]:
        """ADD COLUMN through the catalog: build the successor schema
        locally (new schema-id, new field id past last-column-id) and
        commit it with add-schema + set-current-schema(-1) under an
        assert-current-schema-id requirement."""
        mpath, _ = self._head()
        with open(mpath) as f:
            raw = json.load(f)
        cur_id = raw.get("current-schema-id", 0)
        schemas = raw.get("schemas") or [raw.get("schema", {})]
        cur = next(s for s in schemas if s.get("schema-id", 0) == cur_id)
        new_field_id = raw.get("last-column-id", 0) + 1
        new_schema = {
            "schema-id": max(s.get("schema-id", 0) for s in schemas) + 1,
            "type": "struct",
            "fields": [
                *[dict(f) for f in cur.get("fields", [])],
                {
                    "id": new_field_id,
                    "name": name,
                    "required": False,
                    "type": ice_type,
                    **({"doc": doc} if doc else {}),
                },
            ],
        }
        return self.client.commit_table(
            self.identifier,
            requirements=[{
                "type": "assert-current-schema-id",
                "current-schema-id": cur_id,
            }],
            updates=[
                {
                    "action": "add-schema",
                    "schema": new_schema,
                    "last-column-id": new_field_id,
                },
                {"action": "set-current-schema", "schema-id": -1},
            ],
        )

    # --------------------------------------------------------- read

    def load_metadata(self) -> dict[str, Any]:
        """The table's current raw metadata (one GET)."""
        return self.client.load_table(self.identifier).get("metadata") or {}

    def read(self, spark, snapshot_id: int | None = None):
        from .rest_catalog import load_table_rest

        return load_table_rest(
            spark,
            self.client.uri,
            self.identifier,
            snapshot_id,
            client=self.client,
        )


# ------------------------------------------------ driver-gate query


def _mk_rest_fixture() -> tuple[Any, str]:
    """Scratch warehouse with the MoR fixture as ``db.events``,
    served by the local REST fixture server. Returns
    ``(server, uri)``; the warehouse lives until process exit (the
    returned frames stay lazy, same discipline as the FS commit
    gates)."""
    from .commit import _scratch_dir
    from .deletes import MOR_DIR

    wh = _scratch_dir("rest_ops_wh_")
    root = os.path.join(wh, "db", "events")
    shutil.copytree(MOR_DIR, root)
    mdir = os.path.join(root, "metadata")
    for n in os.listdir(root):
        if n.endswith(".metadata.json"):
            shutil.move(os.path.join(root, n), os.path.join(mdir, n))
    from .rest_catalog import serve_rest_catalog

    server, uri = serve_rest_catalog(wh)
    return server, uri


class _RacingClient(RestCatalogClient):
    """Test/gate seam: fires a rival commit ONCE, immediately before
    this client's first commit POST — deterministically producing the
    stale-requirement 409 a real concurrent writer causes."""

    def __init__(self, uri: str, rival: Callable[[], None]):
        super().__init__(uri)
        self._rival = rival
        self._fired = False

    def commit_table(self, *a: Any, **kw: Any) -> dict[str, Any]:
        if not self._fired:
            self._fired = True
            self._rival()
        return super().commit_table(*a, **kw)


def rest_commit_roundtrip(spark, sf_dir):
    """Driver gate: the engine's own commits routed END-TO-END
    through the REST catalog (``sf_dir`` unused; scratch fixture
    warehouse + local spec-derived server).

    1. **append with a RACE**: writer A stages a 10-row append
       (ids 9001–9010); a rival writer commits 5 rows (ids
       9501–9505) between A's staging and POST, so A's
       assert-ref-snapshot-id 409s and the rebase loop re-stages on
       the new head → 338 live rows, ``retried`` true, 2 attempts.
    2. **DELETE WHERE over REST**: position deletes for
       ``id BETWEEN 9006 AND 9010`` (5 of A's rows) → 333 live.
    3. **SET TBLPROPERTIES over REST** and read it back.
    4. **metadata-log accounting** (ADVICE r14): each of the 4
       applied commits appends its predecessor to the log.

    Golden oracle: every value is pinned by the fixture (323 live at
    head 2004) and the arithmetic above."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F  # noqa: F401  (parity import)

    server, uri = _mk_rest_fixture()
    plain = RestCatalogClient(uri)
    table_root = plain.metadata_path("db.events")
    table_root = os.path.dirname(os.path.dirname(table_root))
    data_dir = os.path.join(table_root, "data")
    log_len_0 = len(
        (plain.load_table("db.events")["metadata"]).get("metadata-log", [])
    )

    def _write(name: str, ids: list[int], category: str) -> str:
        p = os.path.join(data_dir, name)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "category": pa.array([category] * len(ids)),
            }),
            p,
        )
        return p

    rival_ops = RestTableOps(plain, "db.events")

    def _rival() -> None:
        p = _write("rival.parquet", list(range(9501, 9506)), "z")
        rival_ops.append(
            [{"path": p, "partition": {"category": "z"}}], spec_id=0
        )

    racing = _RacingClient(uri, _rival)
    ops = RestTableOps(racing, "db.events")
    pa_path = _write("writer_a.parquet", list(range(9001, 9011)), "x")
    res_a = ops.append(
        [{"path": pa_path, "partition": {"category": "x"}}], spec_id=0
    )
    after_append = ops.read(spark).count()

    res_d = ops.delete_where(spark, "id BETWEEN 9006 AND 9010")
    after_delete = ops.read(spark).count()

    ops.set_properties({"owner": "rest-ops-gate"})
    meta_now = ops.load_metadata()
    props_ok = int(
        (meta_now.get("properties") or {}).get("owner") == "rest-ops-gate"
    )
    log_delta = len(meta_now.get("metadata-log", [])) - log_len_0
    server.shutdown()

    rows = [
        ("after_append", int(after_append)),
        ("after_delete", int(after_delete)),
        ("append_attempts", int(res_a["attempts"])),
        ("append_retried", int(res_a["retried"])),
        ("delete_retried", int(res_d["retried"])),
        ("metadata_log_delta", int(log_delta)),
        ("props_ok", props_ok),
    ]
    return local_frame(spark, rows, "measure string, value long").orderBy(
        "measure"
    )


REST_COMMIT_SQL = """
SELECT measure, CAST(value AS BIGINT) AS value
FROM (VALUES ('after_append', 338), ('after_delete', 333),
             ('append_attempts', 2), ('append_retried', 1),
             ('delete_retried', 0), ('metadata_log_delta', 4),
             ('props_ok', 1)) t(measure, value)
ORDER BY measure
"""
