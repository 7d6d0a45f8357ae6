"""Iceberg REST catalog (VERDICT r13 #6): spec-derived read-side
client against a LOCAL fixture server backed by a Hadoop-style
warehouse — namespaces/tables listing, LoadTableResult resolution,
by-name + time-traveled MoR reads, prefix handling, multipart
namespace encoding, and the inline-metadata fallback path."""

from __future__ import annotations

import os
import shutil

import pytest

from iceberg_tools_spark.iceberg.deletes import MOR_DIR
from iceberg_tools_spark.iceberg.rest_catalog import (
    RestCatalogClient,
    load_table_rest,
    serve_rest_catalog,
)


def _mk_warehouse(tmp_path, identifier="db.events"):
    root = tmp_path / "wh" / os.path.join(*identifier.split("."))
    shutil.copytree(MOR_DIR, root)
    mdir = root / "metadata"
    mdir.mkdir(exist_ok=True)
    for n in os.listdir(root):
        if n.endswith(".metadata.json"):
            shutil.move(str(root / n), str(mdir / n))
    return str(tmp_path / "wh")


@pytest.fixture()
def served(tmp_path):
    wh = _mk_warehouse(tmp_path)
    _mk_warehouse(tmp_path, "db.raw.docs")
    server, uri = serve_rest_catalog(wh)
    yield wh, uri
    server.shutdown()


def test_listing_endpoints(served):
    _wh, uri = served
    c = RestCatalogClient(uri)
    assert c.list_namespaces() == ["db", "db.raw"]
    assert c.list_tables("db") == ["db.events"]
    # multipart namespace goes through the %1F path encoding
    assert c.list_tables("db.raw") == ["db.raw.docs"]


def test_load_table_result_and_read(spark, served):
    _wh, uri = served
    c = RestCatalogClient(uri)
    res = c.load_table("db.events")
    assert res["metadata-location"].startswith("file://")
    assert res["metadata"]["table-uuid"]
    # metadata-location resolves in place: zero copies
    mpath = c.metadata_path("db.events")
    assert mpath.endswith("v2.metadata.json") and os.path.exists(mpath)
    # by-name MoR read + time travel, equal to the FS catalog's
    assert load_table_rest(spark, uri, "db.events").count() == 323
    assert load_table_rest(
        spark, uri, "db.events", snapshot_id=2002
    ).count() == 300


def test_missing_table_is_guided_404(served):
    _wh, uri = served
    with pytest.raises(FileNotFoundError, match="404"):
        RestCatalogClient(uri).load_table("db.ghost")
    with pytest.raises(ValueError, match="namespace.table"):
        RestCatalogClient(uri).load_table("noname")


def test_prefix_routing(tmp_path):
    wh = _mk_warehouse(tmp_path)
    server, uri = serve_rest_catalog(wh, prefix="warehouses/main")
    try:
        # the client discovers the prefix from /v1/config
        c = RestCatalogClient(uri)
        assert c.prefix == "warehouses/main"
        assert c.list_tables("db") == ["db.events"]
        # a client pinned to the wrong prefix gets the guided 404
        with pytest.raises(FileNotFoundError, match="404"):
            RestCatalogClient(uri, prefix="wrong").list_tables("db")
    finally:
        server.shutdown()


def test_commit_properties_roundtrip(served):
    """REST commit: set-/remove-properties with assert-table-uuid."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    _wh, uri = served
    c = RestCatalogClient(uri)
    uuid = c.load_table("db.events")["metadata"]["table-uuid"]
    res = c.commit_table(
        "db.events",
        requirements=[{"type": "assert-table-uuid", "uuid": uuid}],
        updates=[{"action": "set-properties",
                  "updates": {"owner": "pipeline", "tier": "gold"}}],
    )
    assert res["metadata"]["properties"]["owner"] == "pipeline"
    assert res["metadata-location"].endswith("v3.metadata.json")
    # visible through a fresh GET (the commit moved the hint)
    props = c.load_table("db.events")["metadata"]["properties"]
    assert props["tier"] == "gold"
    c.commit_table("db.events", updates=[
        {"action": "remove-properties", "removals": ["tier"]}])
    assert "tier" not in c.load_table("db.events")["metadata"]["properties"]
    # a wrong uuid is the spec's CommitFailedException → conflict
    with pytest.raises(CommitConflictError, match="uuid"):
        c.commit_table(
            "db.events",
            requirements=[{"type": "assert-table-uuid", "uuid": "nope"}],
            updates=[{"action": "set-properties", "updates": {"x": "1"}}],
        )


def test_commit_ref_move_and_optimistic_conflict(spark, served):
    """set-snapshot-ref with assert-ref-snapshot-id: a rollback
    commits over REST; a SECOND writer holding the stale head gets
    the 409 → CommitConflictError (optimistic concurrency over the
    wire, same exception as the local path)."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    _wh, uri = served
    c = RestCatalogClient(uri)
    head = c.load_table("db.events")["metadata"]["current-snapshot-id"]
    assert head == 2004
    # writer A rolls main back to 2002, gated on the head it read
    c.commit_table(
        "db.events",
        requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                       "snapshot-id": head}],
        updates=[{"action": "set-snapshot-ref", "ref-name": "main",
                  "snapshot-id": 2002, "type": "branch"}],
    )
    assert load_table_rest(spark, uri, "db.events").count() == 300
    # writer B still believes main == 2004 → conflict, nothing moves
    with pytest.raises(CommitConflictError, match="moved"):
        c.commit_table(
            "db.events",
            requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                           "snapshot-id": head}],
            updates=[{"action": "set-snapshot-ref", "ref-name": "main",
                      "snapshot-id": 2003, "type": "branch"}],
        )
    assert c.load_table("db.events")["metadata"]["current-snapshot-id"] == 2002


def test_commit_add_snapshot_and_publish(spark, served):
    """add-snapshot + set-snapshot-ref in ONE commit — the commit
    shape a staging writer publishes with. The snapshot references
    an existing manifest list (the storage plane the client owns);
    the REST server only moves metadata."""
    _wh, uri = served
    c = RestCatalogClient(uri)
    meta = c.load_table("db.events")["metadata"]
    base = next(s for s in meta["snapshots"] if s["snapshot-id"] == 2002)
    snap = dict(base)
    snap["snapshot-id"] = 9001
    snap["timestamp-ms"] = base["timestamp-ms"] + 1000
    snap["parent-snapshot-id"] = meta["current-snapshot-id"]
    res = c.commit_table(
        "db.events",
        requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                       "snapshot-id": meta["current-snapshot-id"]}],
        updates=[
            {"action": "add-snapshot", "snapshot": snap},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "snapshot-id": 9001, "type": "branch"},
        ],
    )
    assert res["metadata"]["current-snapshot-id"] == 9001
    assert res["metadata"]["snapshot-log"][-1]["snapshot-id"] == 9001
    # readable by name at the new head (2002's state under id 9001)
    assert load_table_rest(spark, uri, "db.events").count() == 300
    # unknown snapshot in set-snapshot-ref is a 400, not silence
    with pytest.raises(ValueError, match="unknown snapshot"):
        c.commit_table("db.events", updates=[
            {"action": "set-snapshot-ref", "ref-name": "main",
             "snapshot-id": 777, "type": "branch"}])


def test_inline_metadata_fallback(spark, served, tmp_path):
    """A service whose metadata-location does NOT resolve locally
    (object stores) still loads: the inline metadata materializes and
    data files resolve through the table's `location`."""
    wh, uri = served

    class RemoteLocClient(RestCatalogClient):
        def load_table(self, identifier):
            res = super().load_table(identifier)
            # simulate an object-store metadata-location that does
            # NOT resolve on this filesystem (the real-service shape)
            res["metadata-location"] = "s3://nope/metadata/v2.metadata.json"
            return res

    mpath = RemoteLocClient(uri).metadata_path(
        "db.events", scratch_dir=str(tmp_path / "scratch")
    )
    assert mpath.endswith("db_events.metadata.json")
    from iceberg_tools_spark.iceberg.deletes import read_mor
    from iceberg_tools_spark.iceberg.metadata import parse_metadata

    meta = parse_metadata(mpath)
    base = os.path.join(wh, "db", "events")
    assert read_mor(spark, mpath, meta.current_snapshot_id, base).count() == 323


def test_malformed_commit_is_400_not_connection_drop(served):
    """A CommitTableRequest missing required keys gets the spec's
    400 error payload, never a dropped connection (review r14)."""
    _wh, uri = served
    c = RestCatalogClient(uri)
    for updates in (
        [{"action": "add-snapshot"}],  # no snapshot
        [{"action": "set-snapshot-ref", "type": "branch"}],  # no ref/id
    ):
        with pytest.raises(ValueError, match="HTTP 400"):
            c.commit_table("db.events", updates=updates)
    # the table is untouched and still serves
    assert c.load_table("db.events")["metadata"]["current-snapshot-id"] == 2004


def test_service_faults_are_not_filenotfound(served, monkeypatch):
    """5xx/auth faults surface as RuntimeError (retryable service
    error), ONLY 404 maps to FileNotFoundError (review r14)."""
    import io
    import urllib.error
    import urllib.request

    _wh, uri = served
    c = RestCatalogClient(uri)

    def fake_500(*a, **k):
        raise urllib.error.HTTPError(
            uri, 500, "boom", {}, io.BytesIO(b'{"error":{"message":"backend"}}')
        )

    monkeypatch.setattr(urllib.request, "urlopen", fake_500)
    with pytest.raises(RuntimeError, match="HTTP 500"):
        c.load_table("db.events")


def test_commit_on_gzip_metadata_table(tmp_path):
    """A table whose current metadata is spec-legal gzip commits
    through REST: the server reads the gz, writes the next version
    plain, and resolution prefers it."""
    import gzip
    import json as _json

    wh = _mk_warehouse(tmp_path)
    mdir = os.path.join(wh, "db", "events", "metadata")
    src = _json.load(open(os.path.join(mdir, "v2.metadata.json")))
    os.remove(os.path.join(mdir, "v2.metadata.json"))
    with gzip.open(os.path.join(mdir, "v2.metadata.json.gz"), "wt") as f:
        _json.dump(src, f)
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        res = c.commit_table("db.events", updates=[
            {"action": "set-properties", "updates": {"owner": "gz"}}])
        assert res["metadata-location"].endswith("v3.metadata.json")
        assert c.load_table("db.events")["metadata"]["properties"]["owner"] == "gz"
    finally:
        server.shutdown()


def test_assert_ref_must_not_exist_semantics(served):
    """assert-ref-snapshot-id with snapshot-id null means 'the ref
    must NOT exist yet' — passes for a fresh ref, conflicts for
    main (which exists), per the spec."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    _wh, uri = served
    c = RestCatalogClient(uri)
    # fresh ref: requirement passes, ref created
    res = c.commit_table(
        "db.events",
        requirements=[{"type": "assert-ref-snapshot-id", "ref": "audit",
                       "snapshot-id": None}],
        updates=[{"action": "set-snapshot-ref", "ref-name": "audit",
                  "snapshot-id": 2002, "type": "tag"}],
    )
    assert res["metadata"]["refs"]["audit"] == {"snapshot-id": 2002,
                                                "type": "tag"}
    # main exists → the must-not-exist requirement conflicts
    with pytest.raises(CommitConflictError, match="moved"):
        c.commit_table(
            "db.events",
            requirements=[{"type": "assert-ref-snapshot-id", "ref": "main",
                           "snapshot-id": None}],
            updates=[{"action": "set-properties", "updates": {"x": "1"}}],
        )


def test_load_namespace(served):
    """GET /namespaces/{ns}: existence + properties; 404 for ghosts,
    parent namespaces of nested tables exist too."""
    _wh, uri = served
    c = RestCatalogClient(uri)
    assert c.load_namespace("db") == {"namespace": ["db"], "properties": {}}
    assert c.load_namespace("db.raw")["namespace"] == ["db", "raw"]
    with pytest.raises(FileNotFoundError, match="404"):
        c.load_namespace("ghost")


# ---------------------------------------------------------------------------
# r15: spec completeness — pagination, auth/OAuth2, create/register/
# drop, schema/spec commit update kinds, metadata-log accounting
# ---------------------------------------------------------------------------


@pytest.fixture()
def served_many(tmp_path):
    """Five tables in one namespace (pagination fodder)."""
    wh = None
    for n in ("a1", "a2", "a3", "a4", "a5"):
        wh = _mk_warehouse(tmp_path, f"db.{n}")
    server, uri = serve_rest_catalog(wh)
    yield wh, uri
    server.shutdown()


def test_pagination_tables(served_many):
    """pageSize slices, next-page-token chains, the client drains —
    and the paged union equals the unpaged listing."""
    _wh, uri = served_many
    c = RestCatalogClient(uri)
    full = c.list_tables("db")
    assert len(full) == 5
    assert c.list_tables("db", page_size=2) == full
    # raw page shape: first page carries a token, last page doesn't
    pages = c._get_paged(c._p("/namespaces/db/tables"), 2)
    assert len(pages) == 3
    assert "next-page-token" in pages[0] and "next-page-token" not in pages[-1]
    assert [len(p["identifiers"]) for p in pages] == [2, 2, 1]


def test_pagination_namespaces(served_many):
    _wh, uri = served_many
    c = RestCatalogClient(uri)
    assert c.list_namespaces(page_size=1) == c.list_namespaces()


def test_bearer_token_auth(tmp_path):
    """token-gated server: no/wrong token → RuntimeError(401), the
    right token serves everything (config stays open per spec)."""
    wh = _mk_warehouse(tmp_path)
    server, uri = serve_rest_catalog(wh, token="sekrit-1")
    try:
        anon = RestCatalogClient(uri)  # /v1/config is reachable
        with pytest.raises(RuntimeError, match="401"):
            anon.list_namespaces()
        good = RestCatalogClient(uri, token="sekrit-1")
        assert good.list_tables("db") == ["db.events"]
        assert good.load_table("db.events")["metadata"]["current-snapshot-id"] == 2004
    finally:
        server.shutdown()


def test_oauth2_client_credentials_flow(tmp_path):
    """credential='id:secret' mints a bearer token at
    POST /v1/oauth/tokens; bad secrets are 401."""
    wh = _mk_warehouse(tmp_path)
    server, uri = serve_rest_catalog(
        wh, token="minted-tok", credentials={"svc": "hunter2"}
    )
    try:
        c = RestCatalogClient(uri, credential="svc:hunter2")
        assert c.token == "minted-tok"
        assert c.list_tables("db") == ["db.events"]
        with pytest.raises(Exception, match="401"):
            RestCatalogClient(uri, credential="svc:wrong")
    finally:
        server.shutdown()


_SCHEMA = {
    "schema-id": 0,
    "type": "struct",
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "category", "required": False, "type": "string"},
    ],
}


def test_create_table_endpoint(tmp_path, spark):
    wh = _mk_warehouse(tmp_path)
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        res = c.create_table(
            "db", "fresh", _SCHEMA,
            partition_spec={"spec-id": 0, "fields": [
                {"name": "category", "transform": "identity",
                 "source-id": 2, "field-id": 1000}]},
            properties={"owner": "rest"},
        )
        assert res["metadata"]["properties"]["owner"] == "rest"
        assert "db.fresh" in c.list_tables("db")
        # duplicate create → 409 AlreadyExists
        from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

        with pytest.raises(CommitConflictError, match="already exists"):
            c.create_table("db", "fresh", _SCHEMA)
        # the new table takes engine commits through REST end-to-end
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iceberg_tools_spark.iceberg.rest_ops import RestTableOps

        root = os.path.dirname(os.path.dirname(c.metadata_path("db.fresh")))
        p = os.path.join(root, "data", "f1.parquet")
        pq.write_table(pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "category": pa.array(["a", "a", "a"]),
        }), p)
        ops = RestTableOps(c, "db.fresh")
        ops.append([{"path": p, "partition": {"category": "a"}}])
        assert ops.read(spark).count() == 3
    finally:
        server.shutdown()


def test_create_table_bad_requests(tmp_path):
    wh = _mk_warehouse(tmp_path)
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        with pytest.raises(ValueError, match="400"):
            c.create_table("db", "broken", {"fields": []})
        with pytest.raises(ValueError, match="400"):
            c.create_table("db", "broken", {
                "fields": [{"id": 1, "name": "x", "type": "long"}],
            }, partition_spec={"fields": [
                {"name": "ghost", "transform": "identity",
                 "source-id": 99, "field-id": 1000}]})
    finally:
        server.shutdown()


def test_register_and_drop_table(tmp_path, spark):
    """register adopts an EXISTING metadata.json without copying the
    table; reads resolve through the original layout; drop removes
    the catalog entry (purge also removes files)."""
    wh = _mk_warehouse(tmp_path)
    # an external table living OUTSIDE the warehouse
    ext = tmp_path / "elsewhere" / "events2"
    shutil.copytree(MOR_DIR, ext)
    mdir = ext / "metadata"
    for n in os.listdir(ext):
        if n.endswith(".metadata.json"):
            shutil.move(str(ext / n), str(mdir / n))
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        res = c.register_table(
            "db", "adopted", str(mdir / "v2.metadata.json")
        )
        assert res["metadata"]["current-snapshot-id"] == 2004
        assert "db.adopted" in c.list_tables("db")
        # the catalog entry is a POINTER — no data copied under wh
        assert not os.path.isdir(os.path.join(wh, "db", "adopted", "data"))
        assert load_table_rest(spark, uri, "db.adopted").count() == 323
        # duplicate register → 409
        from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

        with pytest.raises(CommitConflictError, match="already exists"):
            c.register_table("db", "adopted", str(mdir / "v2.metadata.json"))
        # drop (no purge): catalog entry gone, ORIGINAL table intact
        c.drop_table("db.adopted")
        assert "db.adopted" not in c.list_tables("db")
        assert os.path.exists(mdir / "v2.metadata.json")
        with pytest.raises(FileNotFoundError):
            c.load_table("db.adopted")
        # purge drop on a warehouse-resident table removes its files
        c.drop_table("db.events", purge=True)
        assert not os.path.isdir(os.path.join(wh, "db", "events"))
    finally:
        server.shutdown()


def test_schema_and_spec_commit_updates(tmp_path):
    """add-schema / set-current-schema(-1) / add-spec /
    set-default-spec(-1) apply through the commit endpoint; unknown
    ids and sentinel misuse are 400s (VERDICT r14 missing #2)."""
    wh = _mk_warehouse(tmp_path)
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        new_schema = {
            "schema-id": 1, "type": "struct",
            "fields": _SCHEMA["fields"] + [
                {"id": 3, "name": "score", "required": False, "type": "double"},
            ],
        }
        res = c.commit_table(
            "db.events",
            requirements=[{"type": "assert-current-schema-id",
                           "current-schema-id": 0}],
            updates=[
                {"action": "add-schema", "schema": new_schema,
                 "last-column-id": 3},
                {"action": "set-current-schema", "schema-id": -1},
                {"action": "add-spec", "spec": {"spec-id": 2, "fields": [
                    {"name": "id_bucket", "transform": "bucket[8]",
                     "source-id": 1, "field-id": 1002}]}},
                {"action": "set-default-spec", "spec-id": -1},
            ],
        )
        m = res["metadata"]
        assert m["current-schema-id"] == 1
        assert m["last-column-id"] == 3
        assert m["default-spec-id"] == 2
        assert m["last-partition-id"] == 1002
        # stale schema assertion now 409s
        from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

        with pytest.raises(CommitConflictError, match="schema changed"):
            c.commit_table(
                "db.events",
                requirements=[{"type": "assert-current-schema-id",
                               "current-schema-id": 0}],
                updates=[{"action": "set-properties", "updates": {"x": "1"}}],
            )
        # 400s: duplicate schema-id, unknown ids, orphan -1 sentinels
        for ups in (
            [{"action": "add-schema", "schema": new_schema}],
            [{"action": "set-current-schema", "schema-id": 42}],
            [{"action": "set-current-schema", "schema-id": -1}],
            [{"action": "set-default-spec", "spec-id": 42}],
            [{"action": "set-default-spec", "spec-id": -1}],
        ):
            with pytest.raises(ValueError, match="400"):
                c.commit_table("db.events", updates=ups)
    finally:
        server.shutdown()


def test_commit_appends_metadata_log(served):
    """ADVICE r14: every REST commit appends the superseded metadata
    file to metadata-log and bumps last-updated-ms, even for
    property-only commits."""
    _wh, uri = served
    c = RestCatalogClient(uri)
    before = c.load_table("db.events")["metadata"]
    log0 = list(before.get("metadata-log", []))
    ts0 = before.get("last-updated-ms", 0)
    prev_location = c.load_table("db.events")["metadata-location"]
    res = c.commit_table("db.events", updates=[
        {"action": "set-properties", "updates": {"touched": "yes"}}])
    m = res["metadata"]
    assert len(m["metadata-log"]) == len(log0) + 1
    entry = m["metadata-log"][-1]
    assert entry["metadata-file"].endswith(
        os.path.basename(prev_location.removeprefix("file://"))
    )
    assert entry["timestamp-ms"] == ts0
    assert m["last-updated-ms"] > ts0


def test_rest_cli_resolve_and_serve_flags(served, capsys, monkeypatch):
    """CLI surface: rest-resolve prints the metadata location;
    rest-serve parses --token (wired through to the server) and
    rejects bad usage."""
    from iceberg_tools_spark.iceberg import cli_tools

    _wh, uri = served
    rc = cli_tools.rest_resolve_main([uri, "db.events"])
    out = capsys.readouterr().out.strip()
    assert rc == 0 and out.endswith("v2.metadata.json")

    assert cli_tools.rest_serve_main([]) == 1
    assert cli_tools.rest_serve_main(["wh", "--port=notanint"]) == 1

    seen = {}

    def fake_serve(warehouse, *, prefix="", port=0, token=None,
                   credentials=None):
        seen.update(warehouse=warehouse, token=token, prefix=prefix)

        class _S:
            server_address = ("127.0.0.1", 1)

            def shutdown(self):
                pass

        raise KeyboardInterrupt  # skip the serve loop

    monkeypatch.setattr(
        "iceberg_tools_spark.iceberg.rest_catalog.serve_rest_catalog",
        fake_serve,
    )
    try:
        cli_tools.rest_serve_main(["/tmp/wh", "--token=sek", "--prefix=p"])
    except KeyboardInterrupt:
        pass
    assert seen == {"warehouse": "/tmp/wh", "token": "sek", "prefix": "p"}


def test_view_endpoints_roundtrip(spark, served):
    """Views over REST: create (initial version from the request's
    sql representation), list (views and tables never cross-list),
    load, replace (add-view-version + set-current-view-version(-1)),
    execute the current SQL, drop."""
    from iceberg_tools_spark.iceberg.views import read_view

    _wh, uri = served
    c = RestCatalogClient(uri)
    res = c.create_view(
        "db", "cat_counts",
        "SELECT category, COUNT(*) AS n FROM events GROUP BY category",
    )
    assert res["metadata"]["current-version-id"] == 1
    assert c.list_views("db") == ["db.cat_counts"]
    assert c.list_tables("db") == ["db.events"]  # no cross-listing
    with pytest.raises(FileNotFoundError, match="not a table"):
        c.load_table("db.cat_counts")
    with pytest.raises(FileNotFoundError, match="not a view"):
        c.load_view("db.events")
    # duplicate create → 409
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    with pytest.raises(CommitConflictError, match="already exists"):
        c.create_view("db", "cat_counts", "SELECT 1")
    # replace appends a version and moves current
    res2 = c.replace_view(
        "db.cat_counts", "SELECT COUNT(*) AS n FROM events"
    )
    m = res2["metadata"]
    assert m["current-version-id"] == 2 and len(m["versions"]) == 2
    assert m["version-log"][-1]["version-id"] == 2
    # execute the CURRENT version through the view machinery
    loc = c.load_view("db.cat_counts")["metadata-location"]
    mpath = loc.removeprefix("file://")
    events = load_table_rest(spark, uri, "db.events")
    assert read_view(spark, mpath, {"events": events}).collect()[0]["n"] == 323
    # and version 1 still reads (view time travel)
    v1 = read_view(spark, mpath, {"events": events}, version_id=1)
    assert v1.count() == 4  # four categories
    # drop removes it from the catalog
    c.drop_view("db.cat_counts")
    assert c.list_views("db") == []
    with pytest.raises(FileNotFoundError):
        c.load_view("db.cat_counts")


def test_view_commit_error_paths(served):
    _wh, uri = served
    c = RestCatalogClient(uri)
    c.create_view("db", "v1", "SELECT 1 AS one")
    # orphan -1 sentinel and unknown version are 400s
    for ups in (
        [{"action": "set-current-view-version", "view-version-id": -1}],
        [{"action": "set-current-view-version", "view-version-id": 42}],
        [{"action": "rename-view"}],
    ):
        with pytest.raises(ValueError, match="400"):
            c._send("POST", c._p("/namespaces/db/views/v1"),
                    {"updates": ups})
    # stale uuid asserts 409
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    with pytest.raises(CommitConflictError, match="uuid"):
        c._send("POST", c._p("/namespaces/db/views/v1"), {
            "requirements": [{"type": "assert-view-uuid", "uuid": "nope"}],
            "updates": [{"action": "set-properties",
                         "updates": {"x": "1"}}],
        })


def test_remaining_commit_update_kinds(served):
    """The rest of the spec's update-kind table: sort orders (with
    the -1 sentinel), statistics registration/removal (replace-by-
    snapshot-id semantics), partition statistics, assign-uuid,
    set-location, and upgrade-format-version (downgrades 400)."""
    _wh, uri = served
    c = RestCatalogClient(uri)
    res = c.commit_table("db.events", updates=[
        {"action": "add-sort-order", "sort-order": {
            "order-id": 1, "fields": [
                {"source-id": 1, "transform": "identity",
                 "direction": "asc", "null-order": "nulls-first"}]}},
        {"action": "set-default-sort-order", "sort-order-id": -1},
        {"action": "set-statistics", "statistics": {
            "snapshot-id": 2004, "statistics-path": "file:///s/a.stats",
            "file-size-in-bytes": 10, "file-footer-size-in-bytes": 5,
            "blob-metadata": []}},
        {"action": "set-partition-statistics", "partition-statistics": {
            "snapshot-id": 2004,
            "statistics-path": "file:///s/p.stats"}},
        {"action": "upgrade-format-version", "format-version": 3},
    ])
    m = res["metadata"]
    assert m["default-sort-order-id"] == 1
    assert m["statistics"][0]["snapshot-id"] == 2004
    assert m["partition-statistics"][0]["snapshot-id"] == 2004
    assert m["format-version"] == 3 and "next-row-id" in m
    # replace-by-snapshot-id, then remove
    res2 = c.commit_table("db.events", updates=[
        {"action": "set-statistics", "statistics": {
            "snapshot-id": 2004, "statistics-path": "file:///s/b.stats"}},
        {"action": "remove-statistics", "snapshot-id": 2004},
        {"action": "remove-partition-statistics", "snapshot-id": 2004},
    ])
    m2 = res2["metadata"]
    assert m2["statistics"] == [] and m2["partition-statistics"] == []
    # downgrade + orphan sort sentinel are 400s
    for ups in (
        [{"action": "upgrade-format-version", "format-version": 2}],
        [{"action": "set-default-sort-order", "sort-order-id": -1}],
    ):
        with pytest.raises(ValueError, match="400"):
            c.commit_table("db.events", updates=ups)


def test_multi_table_transaction_atomic(tmp_path):
    """POST /transactions/commit: two tables move in ONE atomic
    commit; a failing requirement on the SECOND table rolls back the
    first — a reader never keeps a partial transaction."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    wh = _mk_warehouse(tmp_path, "db.a")
    _mk_warehouse(tmp_path, "db.b")
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        res = c.commit_transaction([
            {"identifier": "db.a", "updates": [
                {"action": "set-properties", "updates": {"stage": "t1"}}]},
            {"identifier": "db.b", "updates": [
                {"action": "set-properties", "updates": {"stage": "t1"}}]},
        ])
        assert len(res["results"]) == 2
        for t in ("db.a", "db.b"):
            assert c.load_table(t)["metadata"]["properties"]["stage"] == "t1"
        # second change set carries a STALE requirement → everything
        # rolls back, including db.a's already-applied change
        with pytest.raises(CommitConflictError):
            c.commit_transaction([
                {"identifier": "db.a", "updates": [
                    {"action": "set-properties", "updates": {"stage": "t2"}}]},
                {"identifier": "db.b",
                 "requirements": [{"type": "assert-ref-snapshot-id",
                                   "ref": "main", "snapshot-id": 1}],
                 "updates": [
                    {"action": "set-properties", "updates": {"stage": "t2"}}]},
            ])
        for t in ("db.a", "db.b"):
            assert c.load_table(t)["metadata"]["properties"]["stage"] == "t1"
        # malformed: missing identifier
        with pytest.raises(ValueError, match="400"):
            c.commit_transaction([{"updates": []}])
    finally:
        server.shutdown()


def test_transaction_rolls_back_on_malformed_mid_list(tmp_path):
    """A malformed entry AFTER a valid one still rolls the valid
    one back (the 400 path must not leak a partial transaction)."""
    wh = _mk_warehouse(tmp_path, "db.a")
    server, uri = serve_rest_catalog(wh)
    try:
        c = RestCatalogClient(uri)
        before = c.load_table("db.a")["metadata-location"]
        with pytest.raises(ValueError, match="400"):
            c.commit_transaction([
                {"identifier": "db.a", "updates": [
                    {"action": "set-properties", "updates": {"x": "1"}}]},
                {"identifier": {"namespace": [], "name": ""}, "updates": []},
            ])
        after = c.load_table("db.a")["metadata"]
        assert "x" not in (after.get("properties") or {})
        assert c.load_table("db.a")["metadata-location"] == before
    finally:
        server.shutdown()


def test_namespace_lifecycle(served):
    """CREATE namespace (listed while empty, 409 on duplicate),
    UPDATE properties ({updated, removed, missing} report), DROP
    (409 while non-empty, 404 after)."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    _wh, uri = served
    c = RestCatalogClient(uri)
    res = c.create_namespace("staging", {"owner": "etl"})
    assert res["namespace"] == ["staging"]
    assert "staging" in c.list_namespaces()  # listed while EMPTY
    assert c.load_namespace("staging")["properties"] == {"owner": "etl"}
    with pytest.raises(CommitConflictError, match="already exists"):
        c.create_namespace("staging")
    rep = c.update_namespace_properties(
        "staging", updates={"tier": "bronze"}, removals=["owner", "ghost"]
    )
    assert rep == {"updated": ["tier"], "removed": ["owner"],
                   "missing": ["ghost"]}
    assert c.load_namespace("staging")["properties"] == {"tier": "bronze"}
    with pytest.raises(ValueError, match="both removals and updates"):
        c.update_namespace_properties(
            "staging", updates={"k": "1"}, removals=["k"]
        )
    # a namespace holding tables refuses the drop
    with pytest.raises(RuntimeError, match="not empty"):
        c.drop_namespace("db")
    c.drop_namespace("staging")
    assert "staging" not in c.list_namespaces()
    with pytest.raises(FileNotFoundError):
        c.load_namespace("staging")


def test_head_existence_probes(served):
    """The spec's HEAD endpoints: 204/404 with no body; tables and
    views never answer for each other; auth applies (the existing
    route gate)."""
    _wh, uri = served
    c = RestCatalogClient(uri)
    assert c.table_exists("db.events") is True
    assert c.table_exists("db.ghost") is False
    assert c.namespace_exists("db") is True
    assert c.namespace_exists("nope") is False
    assert c.view_exists("db.events") is False  # a table, not a view
    c.create_view("db", "v_head", "SELECT 1 AS one")
    assert c.view_exists("db.v_head") is True
    assert c.table_exists("db.v_head") is False


def test_rename_table_and_view(spark, served):
    """POST /tables/rename and /views/rename: the catalog entry
    moves (across namespaces too), reads resolve at the new name,
    the old 404s, kinds never rename each other, and an occupied
    destination is 409."""
    from iceberg_tools_spark.iceberg.concurrency import CommitConflictError

    _wh, uri = served
    c = RestCatalogClient(uri)
    c.rename_table("db.events", "db.raw.events2")
    assert c.table_exists("db.events") is False
    assert load_table_rest(spark, uri, "db.raw.events2").count() == 323
    with pytest.raises(FileNotFoundError):
        c.rename_table("db.events", "db.x")
    # destination occupied → 409
    with pytest.raises(CommitConflictError, match="already exists"):
        c.rename_table("db.raw.events2", "db.raw.docs")
    # views rename through their own endpoint; a table is not a view
    with pytest.raises(FileNotFoundError, match="not a view"):
        c.rename_view("db.raw.events2", "db.v2")
    c.create_view("db", "v_old", "SELECT 1 AS one")
    c.rename_view("db.v_old", "db.v_new")
    assert c.view_exists("db.v_new") and not c.view_exists("db.v_old")
    with pytest.raises(ValueError, match="400"):
        c._send("POST", c._p("/tables/rename"), {"source": {}})


def test_racing_commits_to_one_version_get_one_409(served, monkeypatch):
    """Two commits that both read v2 as the head race for v3: the
    first installs it (200), the second gets the spec's 409
    CommitFailedException instead of overwriting the winner, and both
    v2 and the winner's v3 keep their bytes."""
    import json
    import urllib.error
    import urllib.request

    from iceberg_tools_spark.iceberg import catalog

    wh, uri = served
    mdir = os.path.join(wh, "db", "events", "metadata")
    stale = os.path.join(mdir, "v2.metadata.json")
    # the server resolves the head each writer read before either
    # installed: the stale v2 for both
    monkeypatch.setattr(catalog, "current_metadata_path", lambda _wh, _ident: stale)
    url = uri + RestCatalogClient(uri)._table_path("db.events")

    def commit(writer: str) -> tuple[int, dict]:
        body = {"requirements": [], "updates": [
            {"action": "set-properties", "updates": {"writer": writer}}]}
        req = urllib.request.Request(
            url, data=json.dumps(body).encode(), method="POST",
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    v2_bytes = open(stale, "rb").read()
    (s1, b1), (s2, b2) = commit("a"), commit("b")
    assert (s1, s2) == (200, 409)
    assert b1["metadata-location"].endswith("v3.metadata.json")
    assert b2["error"]["type"] == "CommitFailedException"
    assert open(stale, "rb").read() == v2_bytes
    v3 = json.load(open(os.path.join(mdir, "v3.metadata.json")))
    assert v3["properties"]["writer"] == "a"
    assert sorted(n for n in os.listdir(mdir) if n.endswith(".metadata.json")) == [
        "v2.metadata.json", "v3.metadata.json"]
