"""The snapshot store's manifest protocol — one Spark-free copy.

Both writers of a snapshot store commit through this module: the
``snapshot_store`` verbs on the driver, and the ``pps_snapshot`` Python
DataSource (``sources/pyds.py``), whose planning and commits run in Python
workers with no JVM handle. Python-committed and JVM-committed versions
therefore interleave on one store by construction, not by keeping two
copies of the protocol in step.

Layout::

    <root>/_snapshots/v0000000001.json   manifest (the commit point)
    <root>/_snapshots/.tip_hint          advisory tip pointer

Storage access goes through a :class:`CommitBackend` — list the manifest
directory, read one object, create one object unless it exists — chosen
by the store's URI scheme:

- local and ``file:`` paths use :class:`LocalCommitBackend`: the complete
  bytes go to a dot-temp file, which is hard-linked to ``vN.json``.
  ``link`` fails when the name exists, so the create is exclusive and a
  slot never holds a partial manifest;
- a scheme with a registered backend (:func:`register_commit_backend`;
  the S3, GCS and Azure conditional-put bindings live in ``pyds``) uses it;
- ``snapshot_store`` backs any other Hadoop scheme (``hdfs:``, ``s3a:``)
  with its Hadoop-FileSystem backend, built on the driver;
- anything else is read-only here, through ``pyarrow.fs``.

Commit: a writer resolves the tip, builds its manifest against it, and
claims the smallest free version above it (:func:`_target_version`, which
skips unreadable junk slots — legacy torn writes). Two writers that built
on the same parent compute the same target, so the exclusive create lets
exactly one through; the loser re-resolves and either rebases (an
append's file list is valid under any parent) or raises
:class:`ConcurrentWriteError`.
"""

from __future__ import annotations

import json
import os
import time
import uuid

SNAP_DIR = "_snapshots"
MAX_COMMIT_RETRIES = 10
_TIP_HINT = ".tip_hint"  # dot-prefixed: invisible to version listing


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this transaction's read and its
    commit attempt, and the operation cannot be blindly rebased
    (overwrite/upsert). Re-run the operation against the new tip."""


# ---------------------------------------------------------------------------
# Backends
# ---------------------------------------------------------------------------


class CommitBackend:
    """Storage primitive of the manifest protocol.

    A snapshot commit is one atomic "create this manifest slot unless it
    already exists". Locally that is a hard link; object stores need a
    CONDITIONAL PUT — S3 ``If-None-Match: *`` (a racing put gets HTTP
    412), GCS ``ifGenerationMatch=0`` (412), ABS ``If-None-Match: *``
    (409/412). Register an implementation per scheme with
    :func:`register_commit_backend` and the whole protocol (list → read →
    exclusive-create with rebase-on-loss) runs against that store.

    ``create_exclusive`` MUST be atomic create-if-absent: return True on
    the win, False when the key already exists (the 412/409 outcome) —
    never overwrite. ``read_bytes`` raises FileNotFoundError for a
    missing object; ``list_names`` returns the base names in a directory
    ([] when it does not exist)."""

    #: best-effort overwrite, used only for the advisory tip hint; None for
    #: bindings that never overwrite (the conditional-put ones), whose
    #: stores then resolve the tip by listing
    replace_bytes = None

    def list_names(self, dir_uri: str) -> list[str]:  # pragma: no cover
        raise NotImplementedError

    def read_bytes(self, uri: str) -> bytes:  # pragma: no cover
        raise NotImplementedError

    def create_exclusive(self, uri: str, payload: bytes) -> bool:  # pragma: no cover
        raise NotImplementedError


def _local_path(uri: str) -> str | None:
    """file:/x, file:///x, or a bare path → the POSIX path; None when the
    URI needs a non-local filesystem."""
    if "://" not in uri and not uri.startswith("file:"):
        return uri
    if uri.startswith("file:"):
        return "/" + uri[len("file:") :].lstrip("/")
    return None


def _temp_for(path: str) -> str:
    """A unique dot-temp sibling of ``path`` (invisible to version listing;
    ``snapshot_vacuum`` reclaims abandoned ones past its age guard)."""
    d, base = path.rsplit("/", 1)
    return f"{d}/.tmp_{base}_{uuid.uuid4().hex[:8]}"


class LocalCommitBackend(CommitBackend):
    """POSIX binding: complete bytes in a dot-temp file, then ``os.link``
    onto the slot — exclusive (link refuses an existing name) and never
    partial (the slot appears with all its bytes or not at all)."""

    def list_names(self, dir_uri: str) -> list[str]:
        try:
            return os.listdir(_local_path(dir_uri))
        except FileNotFoundError:
            return []

    def read_bytes(self, uri: str) -> bytes:
        with open(_local_path(uri), "rb") as fh:
            return fh.read()

    def _staged(self, uri: str, payload: bytes) -> str:
        path = _local_path(uri)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = _temp_for(path)
        fh = open(tmp, "xb")
        try:
            with fh:
                fh.write(payload)
        except BaseException:
            os.unlink(tmp)
            raise
        return tmp

    def create_exclusive(self, uri: str, payload: bytes) -> bool:
        tmp = self._staged(uri, payload)
        try:
            os.link(tmp, _local_path(uri))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def replace_bytes(self, uri: str, payload: bytes) -> None:
        os.replace(self._staged(uri, payload), _local_path(uri))


class _ArrowReadBackend(CommitBackend):
    """Read-only access through ``pyarrow.fs`` for schemes with no
    registered backend. Committing is refused: plain pyarrow.fs has no
    atomic create-if-absent, and a replace-rename commit would let two
    writers both believe they won a version."""

    def list_names(self, dir_uri: str) -> list[str]:
        from pyarrow import fs as pafs

        afs, p = pafs.FileSystem.from_uri(dir_uri)
        sel = pafs.FileSelector(p, allow_not_found=True)
        return [fi.base_name for fi in afs.get_file_info(sel)]

    def read_bytes(self, uri: str) -> bytes:
        from pyarrow import fs as pafs

        afs, p = pafs.FileSystem.from_uri(uri)
        with afs.open_input_stream(p) as stream:
            return stream.read()

    def create_exclusive(self, uri: str, payload: bytes) -> bool:
        raise NotImplementedError(
            f"pps_snapshot commit to {uri.split('://', 1)[0]}:// needs an "
            f"atomic create-if-absent; register a CommitBackend "
            f"(register_commit_backend) wrapping the store's conditional "
            f"put (S3 If-None-Match:*, GCS ifGenerationMatch=0, ABS "
            f"If-None-Match:* / overwrite=False)"
        )


_LOCAL = LocalCommitBackend()

#: scheme → CommitBackend, consulted for every non-local store: a
#: conditional-put object store is a registration away (boto3's
#: put_object(..., IfNoneMatch="*") wrapped in a 3-method class)
_COMMIT_BACKENDS: dict[str, CommitBackend] = {}


def register_commit_backend(scheme: str, backend: CommitBackend) -> None:
    """Install the manifest commit primitive for ``scheme`` (e.g. "s3").
    Local ``file:``/bare paths never consult the registry."""
    _COMMIT_BACKENDS[scheme] = backend


def _backend_for(uri: str) -> CommitBackend:
    """The backend a store URI picks by its scheme (see module docstring)."""
    if _local_path(uri) is not None:
        return _LOCAL
    return _COMMIT_BACKENDS.get(uri.split("://", 1)[0]) or _ArrowReadBackend()


# ---------------------------------------------------------------------------
# Reading the log
# ---------------------------------------------------------------------------


def _manifest_path(root: str, version: int) -> str:
    return f"{root}/{SNAP_DIR}/v{version:010d}.json"


def _list_versions(be: CommitBackend, root: str) -> list[int]:
    """Every version number with a PUBLISHED manifest file — readable or
    not. Readers resolve via :func:`_resolve_tip`, which skips unreadable
    entries."""
    out = []
    for base in be.list_names(f"{root}/{SNAP_DIR}"):
        if base.startswith("v") and base.endswith(".json"):
            try:
                out.append(int(base[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(be: CommitBackend, root: str, version: int) -> dict:
    return json.loads(be.read_bytes(_manifest_path(root, version)).decode("utf-8"))


def _readable(be: CommitBackend, root: str, version: int) -> bool:
    try:
        _read_manifest(be, root, version)
        return True
    except Exception:
        return False


def _write_tip_hint(be: CommitBackend, root: str, version: int) -> None:
    """Best-effort advisory tip pointer (the Delta ``_last_checkpoint``
    idea), written AFTER a successful commit so it only ever names a
    published version. Failures are swallowed: the hint must never fail
    a commit that already succeeded."""
    if be.replace_bytes is None:
        return
    try:
        be.replace_bytes(f"{root}/{SNAP_DIR}/{_TIP_HINT}", str(version).encode("ascii"))
    except Exception:
        pass


def _read_tip_hint(be: CommitBackend, root: str) -> int | None:
    if be.replace_bytes is None:
        return None
    try:
        v = int(be.read_bytes(f"{root}/{SNAP_DIR}/{_TIP_HINT}").decode("ascii").strip())
        return v if v >= 1 else None
    except Exception:
        return None


def _resolve_tip(be: CommitBackend, root: str) -> tuple[int | None, dict | None]:
    """(version, manifest) of the highest READABLE snapshot — a torn or
    corrupt version file (legacy writers or external tampering) is
    skipped, not fatal, so one bad file can never wedge the store.

    Fast path: the tip hint names a published version to probe FORWARD
    from, reading slots until the first missing one, instead of listing a
    manifest directory that can hold deep retained history. Probing is
    sound because version numbers are contiguous above any published
    manifest (:func:`_target_version` takes the smallest free slot). When
    nothing from the hinted version up is readable — or the hint is
    missing, stale past a deleted tip, or corrupt — resolution falls back
    to the listing, so the hint changes how fast the tip resolves, never
    which version it is."""
    hint = _read_tip_hint(be, root)
    if hint is not None:
        found, v = (None, None), hint
        while True:
            try:
                found = (v, _read_manifest(be, root, v))
            except FileNotFoundError:
                break
            except Exception:
                pass  # junk slot: keep probing past it
            v += 1
        if found[0] is not None:
            return found
    for v in reversed(_list_versions(be, root)):
        try:
            return v, _read_manifest(be, root, v)
        except Exception:
            continue
    return None, None


def _as_of(be: CommitBackend, root: str, ts: float) -> tuple[int | None, dict | None]:
    """(version, manifest) of the highest readable version committed at or
    before ``ts`` (epoch seconds). Manifests without a commit time are
    treated as infinitely old."""
    for v in reversed(_list_versions(be, root)):
        try:
            m = _read_manifest(be, root, v)
        except Exception:
            continue
        if m.get("committed_at", float("-inf")) <= ts:
            return v, m
    return None, None


# ---------------------------------------------------------------------------
# Committing
# ---------------------------------------------------------------------------


def _target_version(be: CommitBackend, root: str, parent: int | None) -> int | None:
    """The version a commit on ``parent`` must land at, as a CAS: the
    smallest free number above the parent, skipping only UNREADABLE junk
    slots. Returns None when a READABLE manifest already occupies a slot
    above the parent — the tip moved. This determinism is what makes the
    commit a compare-and-swap: two racers that built on the same parent
    compute the SAME target, so the exclusive create lets exactly one
    through, and the loser can never 'number past' the winner and
    silently drop its files."""
    t = (parent or 0) + 1
    while True:
        try:
            _read_manifest(be, root, t)
            return None  # tip moved under us
        except FileNotFoundError:
            return t
        except Exception:
            t += 1  # junk slot — skip deterministically


def _try_commit(be: CommitBackend, root: str, manifest: dict) -> bool:
    """Publish ``manifest`` at its version; False when a racer holds the
    slot. Stamps a writer nonce — it makes every payload unique, which is
    how the object-store bindings tell their own landed create from a
    racer's — and the wall-clock ``committed_at`` time travel resolves
    against; on a win, advances the tip hint."""
    manifest = dict(manifest, _writer=uuid.uuid4().hex, committed_at=time.time())
    payload = json.dumps(manifest).encode("utf-8")
    if not be.create_exclusive(_manifest_path(root, manifest["version"]), payload):
        return False
    _write_tip_hint(be, root, manifest["version"])
    return True


def _commit(be: CommitBackend, root: str, build, tip=None) -> int:
    """The commit loop; returns the committed version.

    ``build(parent, parent_manifest)`` returns the manifest body (every
    key but ``version``/``parent``) to publish on that parent, or an int —
    the version that already holds this commit (an idempotent no-op).
    ``tip`` is the (version, manifest) the caller prepared against and
    saves the first resolve. A lost slot re-resolves the tip and calls
    ``build`` again; builders that cannot rebase raise
    :class:`ConcurrentWriteError` there."""
    for attempt in range(MAX_COMMIT_RETRIES):
        parent, parent_m = tip if attempt == 0 and tip is not None else _resolve_tip(be, root)
        body = build(parent, parent_m)
        if isinstance(body, int):
            return body
        target = _target_version(be, root, parent)
        if target is not None and _try_commit(
            be, root, {"version": target, "parent": parent, **body}
        ):
            return target
    raise ConcurrentWriteError(f"lost {MAX_COMMIT_RETRIES} straight commit races on {root}")


def _commit_on(be: CommitBackend, root: str, tip, body: dict) -> int:
    """Commit ``body`` on exactly the parent ``tip`` it was prepared
    against — the rule for every row-rewriting or maintenance verb, whose
    new files are only right on that parent."""

    def build(parent, _parent_m):
        if parent != tip[0]:
            raise ConcurrentWriteError(
                f"{body['operation']} prepared against v{tip[0]} but the tip "
                f"moved to v{parent} — re-run against the new tip"
            )
        return body

    return _commit(be, root, build, tip)


def _publish(
    be: CommitBackend,
    root: str,
    mode: str,
    schema,
    new_files: list[dict],
    *,
    merge_schema: bool = False,
    properties: dict | None = None,
    layout: dict | None = None,
    txn: tuple[str, int] | None = None,
    require_parent: int | None = None,
    tip=None,
) -> int:
    """Append or overwrite ``new_files`` (written with StructType
    ``schema``): the write path of both engines.

    An append adds its files to the parent's list and inherits the
    parent's properties; on every parent it lands on — the first and any
    rebase — the schema gate runs against that parent's recorded schema
    with the writer's own ``merge_schema`` flag. An overwrite replaces the
    file list and the properties and raises :class:`ConcurrentWriteError`
    when the tip moves. ``properties`` merge over the inherited ones (an
    append that re-declares one with a different value raises);
    ``layout`` properties are set unconditionally. ``txn=(app_id, n)``
    records ``txn_<app_id>=n`` and turns a commit whose ``n`` the parent
    already recorded into a no-op returning the parent. ``require_parent``
    makes an append raise instead of rebasing."""
    tip = tip if tip is not None else _resolve_tip(be, root)

    def build(parent, parent_m):
        if mode == "overwrite" and parent != tip[0]:
            raise ConcurrentWriteError(
                f"overwrite prepared against v{tip[0]} but the tip moved to v{parent}"
            )
        if require_parent is not None and parent != require_parent:
            raise ConcurrentWriteError(
                f"append required parent v{require_parent} but tip is v{parent}"
            )
        base, recorded, props = [], None, {}
        if mode == "append" and parent_m is not None:
            base, recorded = parent_m["files"], parent_m.get("schema")
            props = dict(parent_m.get("properties") or {})
        conflicts = {
            k: (props[k], v)
            for k, v in (properties or {}).items()
            if k in props and props[k] != v
        }
        if conflicts:
            raise ValueError(
                f"{mode}: properties conflict with the store's recorded "
                f"values (recorded, supplied): {conflicts}"
            )
        props.update(properties or {})
        props.update(layout or {})
        if txn is not None:
            key = f"txn_{txn[0]}"
            if key in props and int(txn[1]) <= int(props[key]):
                return parent  # already committed — redelivery no-op
            props[key] = int(txn[1])
        body = {
            "operation": mode,
            "schema": _validated_append_schema(recorded, schema, merge_schema),
            "files": base + new_files,
        }
        if props:
            body["properties"] = props
        return body

    return _commit(be, root, build, tip)


def _validated_append_schema(
    recorded: dict | None,
    schema,
    merge_schema: bool,
    evolution_hint: str = (
        "pass merge_schema=True (pps_snapshot: option merge_schema=true) "
        "to evolve the schema additively"
    ),
) -> dict:
    """The manifest schema an APPEND of StructType ``schema`` must record,
    after validating it against the store's recorded schema. Without this
    gate a type-conflicting append COMMITS and then every read of the
    store fails on the parquet type mismatch — one dirty batch wedges the
    table permanently.

    - a column present on both sides must have the SAME type (nullability
      and metadata are not load-bearing and are ignored);
    - strict mode (default) additionally requires the same column SET;
    - ``merge_schema`` (the public Delta mergeSchema pattern) allows NEW
      columns (recorded schema becomes the union; old files null-fill at
      read) and MISSING ones (the new files null-fill instead), but a
      type conflict stays fatal in both modes."""
    from pyspark.sql import types as T

    if recorded is None:
        return json.loads(schema.json())  # pre-schema store: adopt the batch's
    rec = T.StructType.fromJson(recorded)
    # simpleString compares the TYPE SHAPE and drops nullability at every
    # nesting level — a map<string,string> built from non-null literals
    # must not conflict with the same map read back from parquet
    rec_types = {f.name: f.dataType.simpleString() for f in rec.fields}
    new_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    conflicts = {
        n: (rec_types[n], t)
        for n, t in new_types.items()
        if n in rec_types and rec_types[n] != t
    }
    if conflicts:
        raise ValueError(
            f"snapshot append rejected: column type conflict with the "
            f"store's recorded schema (recorded, batch): {conflicts} — fatal "
            f"in strict and merge_schema modes alike (a committed conflict "
            f"would fail every later read)"
        )
    added = [n for n in new_types if n not in rec_types]
    missing = [n for n in rec_types if n not in new_types]
    if not merge_schema and (added or missing):
        raise ValueError(
            f"snapshot append rejected: column set differs from the store's "
            f"recorded schema (added={added}, missing={missing}); appends "
            f"are strict by default — {evolution_hint}"
        )
    if added:
        merged = T.StructType(
            list(rec.fields) + [f for f in schema.fields if f.name in set(added)]
        )
        return json.loads(merged.json())
    return recorded  # the store's field order stays canonical


# ---------------------------------------------------------------------------
# Manifest-stat pruning. Null stats (a manifest written before the NULL/NaN
# write rejection, or by external tooling) always intersect: the file is
# read and row-filtered instead of wedging the plan on a None comparison —
# correctness never depends on pruning.
# ---------------------------------------------------------------------------


def _name_overlaps(f: dict, names) -> bool:
    """Does a manifest file entry's name range intersect ``names``?"""
    if f.get("min_name") is None or f.get("max_name") is None:
        return True
    return any(f["min_name"] <= n <= f["max_name"] for n in names)


def _ts_overlaps(f: dict, lo: float, hi: float) -> bool:
    """Ts-range analogue of :func:`_name_overlaps` (NaN stats fail both
    comparisons and also land on the safe read-it side via the ``not``)."""
    mn, mx = f.get("min_ts"), f.get("max_ts")
    if mn is None or mx is None:
        return True
    return not (mx < lo or mn > hi)
