"""The manifest protocol (sources/manifest_log.py) without a JVM.

Every protocol rule runs against both a local directory (the hard-link
create primitive) and an in-memory conditional-put store, the same
shape the S3/GCS/Azure bindings have: junk-slot skipping, the CAS
target, rebase vs. ConcurrentWriteError, time travel, the tip hint, and
the schema gate on rebase. The local-only tests pin what the hard-link
create buys: a crash or a stall part-way through writing a manifest
never leaves a partial ``vN.json`` for another writer to number past.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

import prometheus_parquet_server_spark.sources.manifest_log as ml

SCHEMA = StructType(
    [StructField("name", StringType()), StructField("ts", DoubleType())]
)
WIDE = StructType(list(SCHEMA.fields) + [StructField("extra", LongType())])


class MemStore(ml.CommitBackend):
    """In-memory conditional-put object store; unlike the real bindings
    it also overwrites, so the tip hint is exercised on it too."""

    def __init__(self):
        self.objects: dict[str, bytes] = {}
        self._lock = threading.Lock()

    def list_names(self, dir_uri):
        prefix = dir_uri.rstrip("/") + "/"
        with self._lock:
            return [
                k[len(prefix):]
                for k in self.objects
                if k.startswith(prefix) and "/" not in k[len(prefix):]
            ]

    def read_bytes(self, uri):
        with self._lock:
            if uri not in self.objects:
                raise FileNotFoundError(uri)
            return self.objects[uri]

    def create_exclusive(self, uri, payload):
        with self._lock:
            if uri in self.objects:
                return False
            self.objects[uri] = payload
            return True

    def replace_bytes(self, uri, payload):
        with self._lock:
            self.objects[uri] = payload


@pytest.fixture(params=["local", "mem"])
def log(request, tmp_path):
    if request.param == "local":
        root = f"file://{tmp_path}/store"
        return ml._backend_for(root), root
    return MemStore(), "mem://bucket/store"


def files(*names):
    return [
        {"path": f"data/{n}.parquet", "n_rows": 1, "n_bytes": 1,
         "min_name": n, "max_name": n, "min_ts": 0.0, "max_ts": 1.0}
        for n in names
    ]


def paths(m):
    return sorted(f["path"].split("/")[-1][: -len(".parquet")] for f in m["files"])


def seed(be, root, version, payload: bytes):
    """Put raw bytes in a manifest slot, as a legacy writer would."""
    assert be.create_exclusive(ml._manifest_path(root, version), payload)


def test_junk_slot_is_skipped_by_readers_and_writers(log):
    be, root = log
    assert ml._publish(be, root, "overwrite", SCHEMA, files("a")) == 1
    seed(be, root, 2, b'{"version": 2, "par')  # torn legacy write
    assert ml._list_versions(be, root) == [1, 2]
    assert ml._resolve_tip(be, root)[0] == 1
    assert ml._target_version(be, root, 1) == 3
    v = ml._publish(be, root, "append", SCHEMA, files("b"))
    m = ml._read_manifest(be, root, v)
    assert (v, m["parent"], paths(m)) == (3, 1, ["a", "b"])


def test_cas_target(log):
    be, root = log
    assert ml._target_version(be, root, None) == 1
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    ml._publish(be, root, "append", SCHEMA, files("b"))
    # a readable manifest above the parent: the tip moved, no target
    assert ml._target_version(be, root, 1) is None
    assert ml._target_version(be, root, 2) == 3


def test_commit_race_one_winner(log):
    """Two writers racing to the same version: exactly one wins; an
    append retries onto the new tip, an overwrite refuses."""
    be, root = log
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    stale = ml._resolve_tip(be, root)
    m2 = {"version": 2, "parent": 1, "operation": "test", "files": []}
    assert ml._try_commit(be, root, m2)
    assert not ml._try_commit(be, root, m2)  # same version again: loser
    v = ml._publish(be, root, "append", SCHEMA, files("b"), tip=stale)
    m = ml._read_manifest(be, root, v)
    assert (v, m["parent"]) == (3, 2)
    with pytest.raises(ml.ConcurrentWriteError, match="tip moved"):
        ml._publish(be, root, "overwrite", SCHEMA, files("c"), tip=stale)
    assert ml._resolve_tip(be, root)[0] == 3


def test_fixed_parent_commits_raise_on_a_moved_tip(log):
    be, root = log
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    stale = ml._resolve_tip(be, root)
    ml._publish(be, root, "append", SCHEMA, files("b"))
    body = {"operation": "compact", "schema": None, "files": files("c")}
    with pytest.raises(ml.ConcurrentWriteError, match="compact prepared against v1"):
        ml._commit_on(be, root, stale, body)
    with pytest.raises(ml.ConcurrentWriteError, match="required parent v1"):
        ml._publish(be, root, "append", SCHEMA, files("d"), require_parent=1)
    v, m = ml._resolve_tip(be, root)
    assert (v, paths(m)) == (2, ["a", "b"])


def test_commit_stamps_writer_and_commit_time(log):
    be, root = log
    before = time.time()
    v = ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    m = ml._read_manifest(be, root, v)
    assert len(m["_writer"]) == 32 and before <= m["committed_at"] <= time.time()
    assert list(m)[:5] == ["version", "parent", "operation", "schema", "files"]


def test_txn_marker_makes_redelivery_a_noop(log):
    be, root = log
    assert ml._publish(be, root, "append", SCHEMA, files("a"), txn=("app", 1)) == 1
    assert ml._publish(be, root, "append", SCHEMA, files("a"), txn=("app", 1)) == 1
    v = ml._publish(be, root, "append", SCHEMA, files("b"), txn=("app", 2))
    m = ml._read_manifest(be, root, v)
    assert (v, m["properties"], paths(m)) == (2, {"txn_app": 2}, ["a", "b"])


def test_as_of(log):
    be, root = log
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    time.sleep(0.01)
    ml._publish(be, root, "append", SCHEMA, files("b"))
    t1 = ml._read_manifest(be, root, 1)["committed_at"]
    t2 = ml._read_manifest(be, root, 2)["committed_at"]
    assert t1 < t2
    assert ml._as_of(be, root, t1)[0] == 1
    assert ml._as_of(be, root, t2)[0] == 2
    assert ml._as_of(be, root, t1 - 1.0) == (None, None)
    # junk is skipped; a manifest without a commit time is infinitely old
    seed(be, root, 3, b"{torn")
    seed(be, root, 4, json.dumps({"version": 4, "files": []}).encode())
    assert ml._as_of(be, root, 0.0)[0] == 4


def test_tip_hint_fast_path_and_fallbacks(log, monkeypatch):
    """The tip hint makes resolution listing-free on the happy path and
    can never change WHAT resolves: stale, corrupt and missing hints all
    fall back."""
    be, root = log
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    ml._publish(be, root, "append", SCHEMA, files("b"))
    assert ml._read_tip_hint(be, root) == 2

    def boom(*a, **kw):
        raise AssertionError("listing reached on the hinted fast path")

    monkeypatch.setattr(ml, "_list_versions", boom)
    v, m = ml._resolve_tip(be, root)
    assert (v, m["version"]) == (2, 2)
    # stale hint: probing forward from v1 still finds v2, without a listing
    ml._write_tip_hint(be, root, 1)
    assert ml._resolve_tip(be, root)[0] == 2
    monkeypatch.undo()

    hint = f"{root}/{ml.SNAP_DIR}/{ml._TIP_HINT}"
    be.replace_bytes(hint, b"not-a-number")  # corrupt → listing
    assert ml._read_tip_hint(be, root) is None
    assert ml._resolve_tip(be, root)[0] == 2
    ml._write_tip_hint(be, root, 7)  # ahead of a deleted tip → listing
    assert ml._resolve_tip(be, root)[0] == 2

    # missing hint: a store written without one resolves by listing
    legacy = root + "_legacy"
    seed(be, legacy, 1, json.dumps({"version": 1, "files": []}).encode())
    assert ml._read_tip_hint(be, legacy) is None
    assert ml._resolve_tip(be, legacy)[0] == 1


def test_rebase_reruns_the_schema_gate_with_the_writers_flag(log):
    """A rebase onto a tip whose schema evolved is judged like a first
    attempt there: strict writers raise, merge_schema writers record the
    union."""
    be, root = log
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    stale = ml._resolve_tip(be, root)
    ml._publish(be, root, "append", WIDE, files("w"), merge_schema=True)
    with pytest.raises(ValueError, match="column set differs.*strict"):
        ml._publish(be, root, "append", SCHEMA, files("s"), tip=stale)
    v = ml._publish(
        be, root, "append", SCHEMA, files("m"), merge_schema=True, tip=stale
    )
    m = ml._read_manifest(be, root, v)
    assert (v, m["parent"]) == (3, 2)
    assert [f["name"] for f in m["schema"]["fields"]] == ["name", "ts", "extra"]
    with pytest.raises(ValueError, match="type conflict"):
        ml._validated_append_schema(
            m["schema"],
            StructType([StructField("name", DoubleType())]),
            merge_schema=True,
        )


def test_crash_mid_create_leaves_no_slot(tmp_path, monkeypatch):
    """A local create that dies part-way through writing its bytes leaves
    no vN.json and no temp file, and the next publish takes vN."""
    root = f"file://{tmp_path}/store"
    be = ml._backend_for(root)
    ml._publish(be, root, "overwrite", SCHEMA, files("a"))
    real_open = open

    def torn_open(path, mode="r", *a, **kw):
        fh = real_open(path, mode, *a, **kw)
        if "r" in mode:
            return fh

        class Torn:
            def __enter__(self):
                return self

            def __exit__(self, *exc):
                fh.close()

            def write(self, data):
                fh.write(data[:7])
                fh.flush()
                raise OSError("disk full")

        return Torn()

    monkeypatch.setattr(ml, "open", torn_open, raising=False)
    with pytest.raises(OSError, match="disk full"):
        ml._publish(be, root, "append", SCHEMA, files("b"))
    monkeypatch.undo()
    snap = tmp_path / "store" / ml.SNAP_DIR
    assert not (snap / "v0000000002.json").exists()
    assert not [n for n in os.listdir(snap) if n.startswith(".tmp_")]
    assert ml._publish(be, root, "append", SCHEMA, files("b")) == 2


def test_half_written_manifest_never_occupies_a_slot(tmp_path, monkeypatch):
    """Writer A stalls half-way through writing its v2 manifest while
    writer B publishes. When the half-written bytes sat in v2.json, B took
    them for a junk slot and committed v3 on parent v1, and A's append
    then dropped out of the tip. Now B takes v2, and A rebases to v3."""
    root = f"file://{tmp_path}/store"
    be = ml._backend_for(root)
    ml._publish(be, root, "overwrite", SCHEMA, files("A0"))
    real_open = open
    half_written, release = threading.Event(), threading.Event()
    stalled = []

    def stalling_open(path, mode="r", *a, **kw):
        fh = real_open(path, mode, *a, **kw)
        if "r" in mode or stalled or threading.current_thread().name != "writer-A":
            return fh
        stalled.append(path)

        class Stalling:
            def __enter__(self):
                return self

            def __exit__(self, *exc):
                fh.close()

            def write(self, data):
                fh.write(data[: len(data) // 2])
                fh.flush()
                half_written.set()
                release.wait(30)
                fh.write(data[len(data) // 2 :])

        return Stalling()

    monkeypatch.setattr(ml, "open", stalling_open, raising=False)
    out = {}
    writer_a = threading.Thread(
        target=lambda: out.update(A=ml._publish(be, root, "append", SCHEMA, files("A"))),
        name="writer-A",
    )
    writer_a.start()
    try:
        assert half_written.wait(30)
        vb = ml._publish(be, root, "append", SCHEMA, files("B"))
    finally:
        release.set()
        writer_a.join(30)
    mb = ml._read_manifest(be, root, vb)
    assert (vb, mb["parent"]) == (2, 1)
    assert out["A"] == 3
    v, tip = ml._resolve_tip(be, root)
    assert (v, tip["parent"], paths(tip)) == (3, 2, ["A", "A0", "B"])
