"""Hadoop-style filesystem catalog: name → current table metadata,
no external service — the resolution layer that lets a user point at
a WAREHOUSE directory instead of a ``vN.metadata.json`` path.

Layout (Iceberg's HadoopCatalog contract):

    <warehouse>/<namespace>/<table>/metadata/v<N>.metadata.json
    <warehouse>/<namespace>/<table>/metadata/version-hint.text

``version-hint.text`` holds the integer N of the current metadata
version; a missing or stale hint falls back to the highest vN
present (the recovery behavior HadoopTableOperations implements —
the hint is an optimization, the file listing is the truth). All of
this is driver-side KB metadata: resolution lists ONE directory.

The reference tool takes explicit file paths
(``ManifestFileReadTool`` args); this layer adds the by-name lookup
its README assumes users perform by hand.

Install rule. Every metadata version a commit produces — table and
view ``vN.metadata.json``, and Delta ``_delta_log/N.json`` — lands
through :func:`install_metadata`: the bytes go to a temp file in the
target's directory, which is then hard-linked (``os.link``) onto the
target name. The link fails when the name already exists (the "rename only
if absent" rule HadoopTableOperations follows), so a version is
written whole or not at all and is never overwritten; the loser of a
race gets :class:`CommitConflictError` and retries through the
rebase functions in ``concurrency.py``. :func:`next_metadata_path`
is the one rule naming the next version, and
:func:`write_version_hint` stamps the hint as a best-effort last
step.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Any

from .metadata import parse_metadata

_V_RE = re.compile(r"v(\d+)\.metadata\.json(\.gz)?$")


class CommitConflictError(RuntimeError):
    """A concurrent commit invalidated the staged operation; the
    writer must re-plan against the new head (Iceberg's
    ``ValidationException`` / ``CommitFailedException`` role)."""


def table_root_of(base_dir: str) -> str:
    """The table root for a ``base_dir`` that is either the root
    itself (it holds ``metadata/``) or the directory of a metadata
    file inside ``metadata/`` (the HadoopCatalog layout)."""
    if os.path.isdir(os.path.join(base_dir, "metadata")):
        return base_dir
    return os.path.dirname(base_dir)


def next_metadata_path(metadata_path: str, snapshot_id: int = 0) -> str:
    """The path of the version after ``metadata_path``:
    ``v<N+1>.metadata.json`` next to a ``vN`` file; for any other
    name, ``<stem>.commit-<snapshot_id>.metadata.json``."""
    d, base = os.path.dirname(metadata_path), os.path.basename(metadata_path)
    m = _V_RE.fullmatch(base)
    if m:
        return os.path.join(d, f"v{int(m.group(1)) + 1}.metadata.json")
    stem = base.removesuffix(".metadata.json").removesuffix(".json")
    return os.path.join(d, f"{stem}.commit-{snapshot_id}.metadata.json")


def install_metadata(path: str, raw: dict[str, Any] | str) -> str:
    """Publish ``raw`` (a metadata dict, written as indented JSON, or
    ready text) at ``path`` exclusively and atomically: write a temp
    file beside it, then hard-link it onto ``path``. Raises
    :class:`CommitConflictError` when ``path`` already exists. A
    crash before the link leaves only the hidden temp file, which
    the orphan-file sweep reports. Returns ``path``."""
    text = raw if isinstance(raw, str) else json.dumps(raw, indent=2)
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "x") as f:
        f.write(text)
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.unlink(tmp)
        raise CommitConflictError(
            f"{path} already exists: a concurrent commit installed this "
            "version first; re-plan against the new head"
        ) from None
    os.unlink(tmp)
    return path


def table_location(warehouse: str, identifier: str) -> str:
    """``db.table`` (arbitrary dot-namespace depth) → table root."""
    parts = [p for p in identifier.split(".") if p]
    if not parts:
        raise ValueError(f"empty table identifier {identifier!r}")
    return os.path.join(warehouse, *parts)


def current_metadata_path(warehouse: str, identifier: str) -> str:
    """Resolve a table identifier to its CURRENT metadata file.

    ``version-hint.text`` is a STARTING POINT, not the answer:
    like HadoopTableOperations.findVersion, resolution probes past
    the hint for newer versions (every commit writes v(N+1) next to
    vN; stamping the hint is an optional last step), so a table
    appended-to after creation resolves to its newest metadata even
    with a stale hint. A missing/corrupt hint falls back to the
    full listing the same way.
    """
    mdir = os.path.join(table_location(warehouse, identifier), "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"no such table {identifier!r} under {warehouse!r}")
    current = _current_version_in(mdir)
    if current is None:
        raise FileNotFoundError(f"table {identifier!r} has no metadata versions")
    return current


def location_of(table_root: str) -> str:
    """The ``location`` recorded by a table's current metadata
    version, for a root in either layout: ``<root>/metadata/vN``
    (``create_table``, HadoopCatalog), else ``vN.metadata.json``
    directly in the root."""
    mdir = os.path.join(table_root, "metadata")
    current = os.path.isdir(mdir) and _current_version_in(mdir)
    current = current or _current_version_in(table_root)
    loc = parse_metadata(current).raw.get("location") if current else None
    if not loc:
        raise ValueError(f"no vN.metadata.json with a location under {table_root}")
    return loc


def _current_version_in(mdir: str) -> str | None:
    """The current ``vN.metadata.json`` in a metadata directory (see
    :func:`current_metadata_path`), or None when it holds none."""
    versions: dict[int, str] = {}
    for name in os.listdir(mdir):
        m = _V_RE.fullmatch(name)
        if m:
            versions[int(m.group(1))] = os.path.join(mdir, name)
    if not versions:
        return None
    hint_path = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint_path):
        try:
            with open(hint_path) as f:
                hinted = int(f.read().strip())
            if hinted in versions:
                # probe upward: newest version at or past the hint
                return versions[max(v for v in versions if v >= hinted)]
        except (ValueError, OSError):
            pass  # corrupt hint → listing fallback below
    return versions[max(versions)]


def write_version_hint(metadata_path: str) -> str:
    """Stamp ``version-hint.text`` next to a just-committed
    ``vN.metadata.json`` (the commit protocol's last step in a
    Hadoop catalog). Returns the hint path."""
    m = _V_RE.search(os.path.basename(metadata_path))
    if not m:
        raise ValueError(f"{metadata_path!r} is not a vN.metadata.json")
    hint_path = os.path.join(os.path.dirname(metadata_path), "version-hint.text")
    tmp = hint_path + ".tmp"
    with open(tmp, "w") as f:
        f.write(m.group(1))
    os.replace(tmp, hint_path)  # atomic on POSIX
    return hint_path


def list_tables(warehouse: str, namespace: str | None = None) -> list[str]:
    """Dotted identifiers of every table under the warehouse (a
    directory is a table iff it has a metadata/ dir with at least
    one vN.metadata.json), depth-first, sorted."""
    out: list[str] = []
    base = (
        os.path.join(warehouse, *namespace.split("."))
        if namespace
        else warehouse
    )
    if not os.path.isdir(base):
        return []
    for dirpath, dirnames, _ in os.walk(base):
        mdir = os.path.join(dirpath, "metadata")
        if os.path.isdir(mdir) and any(
            _V_RE.fullmatch(n) for n in os.listdir(mdir)
        ):
            rel = os.path.relpath(dirpath, warehouse)
            out.append(rel.replace(os.sep, "."))
            dirnames.clear()  # tables don't nest
    return sorted(out)


def load_table(
    spark,
    warehouse: str,
    identifier: str,
    snapshot_id: int | None = None,
    *,
    as_of_ms: int | None = None,
):
    """By-name MoR read: resolve the identifier through the catalog
    and read the (optionally time-traveled) snapshot via the
    engine's own reader. ``as_of_ms`` resolves ``AS OF TIMESTAMP``
    through the snapshot log (mutually exclusive with
    ``snapshot_id``)."""
    from .deletes import read_mor

    mpath = current_metadata_path(warehouse, identifier)
    meta = parse_metadata(mpath)
    if as_of_ms is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR as_of_ms, not both")
        from .snapshots import snapshot_as_of

        snapshot_id = snapshot_as_of(meta, as_of_ms)
    if snapshot_id is None:
        snapshot_id = meta.current_snapshot_id
    base_dir = os.path.dirname(os.path.dirname(mpath))  # table root
    return read_mor(spark, mpath, snapshot_id, base_dir)
