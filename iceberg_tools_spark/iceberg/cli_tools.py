"""Extra CLI tools registered alongside ``manifest2json`` in
``__main__.py`` — the by-hand workflows the reference's README walks
users through (find the table, find its current metadata, see its
state), minus the hand part. All pure metadata; no SparkSession.

* ``catalog-list <warehouse> [namespace]`` — tables under a
  Hadoop-style warehouse, one dotted identifier per line;
* ``catalog-resolve <warehouse> <identifier>`` — the table's
  CURRENT ``vN.metadata.json`` (version-hint honored, listing
  fallback);
* ``delta2json [--version=N] <table_root>`` — a Delta table's
  reconstructed state as JSON: effective version, partition
  columns, and one line per LIVE file (path, partitionValues,
  size) — the Delta analog of ``manifest2json``.
"""

from __future__ import annotations

import json
import sys


def catalog_list_main(argv: list[str]) -> int:
    from .catalog import list_tables

    if not argv or len(argv) > 2:
        sys.stderr.write("usage: catalog-list <warehouse> [namespace]\n")
        return 1
    for name in list_tables(argv[0], argv[1] if len(argv) > 1 else None):
        sys.stdout.write(name + "\n")
    return 0


def catalog_resolve_main(argv: list[str]) -> int:
    from .catalog import current_metadata_path

    if len(argv) != 2:
        sys.stderr.write("usage: catalog-resolve <warehouse> <db.table>\n")
        return 1
    try:
        sys.stdout.write(current_metadata_path(argv[0], argv[1]) + "\n")
    except FileNotFoundError as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    return 0


def delta2json_main(argv: list[str]) -> int:
    from ..sources.delta_log import log_state

    version = None
    args = []
    for a in argv:
        if a.startswith("--version="):
            try:
                version = int(a.split("=", 1)[1])
            except ValueError:
                sys.stderr.write(f"bad --version: {a!r}\n")
                return 1
        else:
            args.append(a)
    if len(args) != 1:
        sys.stderr.write("usage: delta2json [--version=N] <table_root>\n")
        return 1
    try:
        state = log_state(args[0], version)
    except (FileNotFoundError, ValueError) as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    meta = state.meta
    sys.stdout.write(json.dumps({
        "version": state.version,
        "partitionColumns": meta.get("partitionColumns") or [],
        "n_live_files": len(state.adds),
        # what a reader needs to know before touching the files:
        # the protocol it must satisfy and whether column names in
        # the parquet are physical (r12)
        "protocol": state.protocol,
        "columnMapping": (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        ),
    }) + "\n")
    for a in sorted(state.adds.values(), key=lambda x: x["path"]):
        sys.stdout.write(json.dumps({
            "path": a["path"],
            "partitionValues": dict(a.get("partitionValues") or {}),
            "size": a.get("size"),
        }, sort_keys=True) + "\n")
    return 0


def _parse_flags(argv: list[str], flags: dict[str, type]) -> tuple[dict, list[str]]:
    """--name=value flags (typed) + positional args; unknown flags /
    malformed values raise ValueError the caller reports. Booleans
    are parsed EXPLICITLY: bare ``--execute`` and ``--execute=true``
    are True, ``--execute=false`` is False — ``bool("false")`` is
    True in Python, which turned an attempted opt-out into a
    destructive execute (ADVICE r12). Typed flags reject empty
    values (``--retention-ms=`` is a usage error, not a literal
    True that TypeErrors later)."""
    out: dict = {}
    args: list[str] = []
    for a in argv:
        if a.startswith("--"):
            name, eq, val = a[2:].partition("=")
            if name not in flags:
                raise ValueError(f"unknown flag --{name}")
            typ = flags[name]
            if typ is bool:
                if not eq:
                    out[name] = True
                elif val.lower() in ("true", "1", "yes"):
                    out[name] = True
                elif val.lower() in ("false", "0", "no"):
                    out[name] = False
                else:
                    raise ValueError(
                        f"--{name} takes true/false, got {val!r}"
                    )
            else:
                if not val:
                    raise ValueError(f"--{name} requires a value")
                out[name] = typ(val)
        else:
            args.append(a)
    return out, args


def delta_vacuum_main(argv: list[str]) -> int:
    """delta-vacuum [--retention-ms=N] [--now-ms=N] [--execute]
    <table_root> — DRY RUN by default (prints the removal plan);
    ``--execute`` unlinks. Spins up a local SparkSession for the
    distributed listing."""
    try:
        flags, args = _parse_flags(
            argv, {"retention-ms": int, "now-ms": int, "execute": bool}
        )
    except ValueError as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    if len(args) != 1:
        sys.stderr.write(
            "usage: delta-vacuum [--retention-ms=N] [--now-ms=N] "
            "[--execute] <table_root>\n"
        )
        return 1
    from ..session import get_spark
    from ..sources.delta_log import DELETED_FILE_RETENTION_MS, vacuum_delta

    try:
        res = vacuum_delta(
            get_spark("delta-vacuum"),
            args[0],
            retention_ms=flags.get("retention-ms", DELETED_FILE_RETENTION_MS),
            now_ms=flags.get("now-ms"),
            dry_run=not flags.get("execute", False),
        )
    except (FileNotFoundError, ValueError) as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    sys.stdout.write(json.dumps({
        "dry_run": res["dry_run"],
        "removed": res["removed"],
        "n_candidates": len(res["candidates"]),
        "n_too_young": len(res["too_young"]),
        "n_live_protected": res["n_live_protected"],
        "n_tombstone_protected": res["n_tombstone_protected"],
    }) + "\n")
    for p in res["candidates"]:
        sys.stdout.write(p + "\n")
    return 0


def delta_log_cleanup_main(argv: list[str]) -> int:
    """delta-log-cleanup [--retention-ms=N] [--now-ms=N] [--execute]
    <table_root> — DRY RUN by default. Pure metadata; no Spark."""
    try:
        flags, args = _parse_flags(
            argv, {"retention-ms": int, "now-ms": int, "execute": bool}
        )
    except ValueError as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    if len(args) != 1:
        sys.stderr.write(
            "usage: delta-log-cleanup [--retention-ms=N] [--now-ms=N] "
            "[--execute] <table_root>\n"
        )
        return 1
    from ..sources.delta_log import LOG_RETENTION_MS, cleanup_delta_log

    try:
        res = cleanup_delta_log(
            args[0],
            retention_ms=flags.get("retention-ms", LOG_RETENTION_MS),
            now_ms=flags.get("now-ms"),
            dry_run=not flags.get("execute", False),
        )
    except (FileNotFoundError, ValueError) as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    sys.stdout.write(json.dumps({
        "dry_run": res.get("dry_run", True),
        "n_removed_commits": len(res["removed_commits"]),
        "n_removed_checkpoints": len(res["removed_checkpoints"]),
        "kept_from_version": res.get("kept_from_version"),
    }) + "\n")
    for p in res["removed_commits"] + res["removed_checkpoints"]:
        sys.stdout.write(p + "\n")
    return 0


def rest_serve_main(argv: list[str]) -> int:
    """``rest-serve <warehouse> [--port=N] [--prefix=P] [--token=T]``
    — serve a Hadoop-style warehouse through the spec-derived REST
    catalog server (read + commit + create/register/drop endpoints;
    ``--token`` requires ``Authorization: Bearer T`` on every
    catalog call) until Ctrl-C. Prints the base URI once the socket
    is bound."""
    from .rest_catalog import serve_rest_catalog

    try:
        flags, args = _parse_flags(
            argv, {"port": int, "prefix": str, "token": str}
        )
    except ValueError as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    if len(args) != 1:
        sys.stderr.write(
            "usage: rest-serve <warehouse> [--port=N] [--prefix=P] "
            "[--token=T]\n"
        )
        return 1
    server, uri = serve_rest_catalog(
        args[0],
        prefix=flags.get("prefix", ""),
        port=flags.get("port", 0),
        token=flags.get("token"),
    )
    sys.stdout.write(uri + "\n")
    sys.stdout.flush()
    try:
        import time

        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        server.shutdown()
    return 0


def rest_resolve_main(argv: list[str]) -> int:
    """``rest-resolve <uri> <db.table>`` — the table's CURRENT
    metadata location through a REST catalog (the REST twin of
    ``catalog-resolve``)."""
    from .rest_catalog import RestCatalogClient

    if len(argv) != 2:
        sys.stderr.write("usage: rest-resolve <uri> <db.table>\n")
        return 1
    import urllib.error

    try:
        res = RestCatalogClient(argv[0]).load_table(argv[1])
    except (FileNotFoundError, ValueError, RuntimeError,
            urllib.error.URLError) as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    sys.stdout.write(res["metadata-location"] + "\n")
    return 0
