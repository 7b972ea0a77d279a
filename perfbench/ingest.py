"""``ingest`` workload: the write side, one client.

Seeded zip batches, each a successive 10-min window of one recording with 6
members, go through ``ingest_zip`` -> ``snapshot_write(mode="append")``
and ``snapshot_compact``; then a read-after-write query
(``snapshot_select`` -> ``run_query`` -> ``matrix_result``) reads the
newest window from the Parquet files.

Set-up creates an empty store (several times, ``setup_s`` is the median).
The first ``WARMUP_BATCHES`` batches are an untimed warm-up, committed,
compacted and read like the others; the first is the only commit into an
empty store. Then batches follow until the time is up, at least
``MIN_BATCHES`` of them, and every timed batch is the same case: an append
to a store of one compacted file, a compaction, and a read over one file. ``op_p50_ms`` is the median commit (ingest + write),
``read_p50_ms`` the median read-after-write.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

import common
import gen
from spans import jvm_counters

INTERVAL = 10.0
BATCH_SAMPLES = 60  # 10 min per batch per series
BATCHES = 12
SETUPS = 3
#: one warm-up batch is not enough: the first batch after it still runs
#: ~20 % slower while the JVM compiles the commit and read paths
WARMUP_BATCHES = 2
MIN_BATCHES = 2  # timed batches even when the time is up: a median needs samples

CANONICAL = "name string, labels map<string,string>, ts double, value double"

#: the read-after-write query and the metric it selects from the store
READ_METRIC = "rpc_duration_bucket"
READ_QUERY = "histogram_quantile(0.9, sum by (Le) (rate(rpc_duration_bucket[1m])))"


def run(spark, work: str, seed: int, seconds: float, trace: bool) -> dict:
    from prometheus_parquet_server_spark.labels import LabelMatcher
    from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
    import prometheus_parquet_server_spark.json_out as json_out
    import prometheus_parquet_server_spark.plans.compiler as compiler
    import prometheus_parquet_server_spark.sources.snapshot_store as snap
    import prometheus_parquet_server_spark.sources.zipsource as zipsource

    t0 = gen.recording_start(seed)
    batches = []  # (zip path, Recording)
    for b in range(BATCHES):
        rec = gen.recording(seed, t0, b * BATCH_SAMPLES, (b + 1) * BATCH_SAMPLES,
                            INTERVAL)
        path = os.path.join(work, f"batch{b:03d}.zip")
        with open(path, "wb") as f:
            f.write(rec.zip_bytes)
        batches.append((path, rec))

    def commit(store: str, b: int) -> tuple[int, float]:
        t = time.perf_counter()
        df = zipsource.ingest_zip(spark, batches[b][0], mapping=gen.MAPPING,
                                  scratch_dir=os.path.join(work, f"x{store[-1]}_{b}"))
        v = snap.snapshot_write(spark, store, df, mode="append")
        return v, time.perf_counter() - t

    def read(store: str, b: int, version: int) -> tuple[dict, float]:
        """The read-after-write query over the newest window (batch ``b``)."""
        lo = t0 + b * BATCH_SAMPLES * INTERVAL
        grid = RegularTimeRange(lo, lo + (BATCH_SAMPLES - 1) * INTERVAL, 15.0)
        t = time.perf_counter()
        sel = snap.snapshot_select(
            spark, store, [LabelMatcher("__name__", "=", READ_METRIC)],
            version=version, ts_range=(grid.start - BATCH_SAMPLES * INTERVAL,
                                       grid.end + INTERVAL),
        )
        env = json_out.matrix_result(compiler.run_query(spark, sel, READ_QUERY, grid))
        return env, time.perf_counter() - t

    # set-up: create an empty store, several times
    empty = spark.createDataFrame([], CANONICAL)
    setups = []
    for i in range(SETUPS):
        t = time.perf_counter()
        snap.snapshot_write(spark, os.path.join(work, f"store{i}"), empty, mode="overwrite")
        setups.append(time.perf_counter() - t)

    store = os.path.join(work, f"store{SETUPS - 1}")
    log = []  # (version, newest batch, read-after-write envelope)
    for b in range(WARMUP_BATCHES):
        v = commit(store, b)[0]
        v = snap.snapshot_compact(spark, store) or v
        log.append((v, b, read(store, b, v)[0]))

    tracer = counters0 = None
    if trace:
        tracer = install(spark)
        counters0 = jvm_counters(spark)

    commits, reads, compacts, compact_versions = [], [], [], []
    t_begin = time.perf_counter()
    b = WARMUP_BATCHES
    while b < BATCHES and (
        b < WARMUP_BATCHES + MIN_BATCHES or time.perf_counter() < t_begin + seconds
    ):
        op = tracer.span("ingest.batch", rid=f"b{b}") if tracer else nullcontext()
        with op:
            v, dt = commit(store, b)
            commits.append(dt)
            t = time.perf_counter()
            cv = snap.snapshot_compact(spark, store)
            compacts.append(time.perf_counter() - t)
            if cv is not None:
                compact_versions.append(cv)
                v = cv
            env, dt = read(store, b, v)
            reads.append(dt)
        log.append((v, b, env))
        b += 1
    wall = time.perf_counter() - t_begin
    counters1 = jvm_counters(spark) if trace else None
    if tracer is not None:
        tracer.unwrap_all()

    # output checks: row counts at every committed version, and the last
    # read against the same query over the in-memory union of the batches
    failed_checks = []
    for v, b, _env in log:
        want_rows = sum(rec.samples for _p, rec in batches[: b + 1])
        got_rows = snap.snapshot_read(spark, store, version=v).count()
        if got_rows != want_rows:
            failed_checks.append(f"v{v}: {got_rows} rows, expected {want_rows}")
    for v, b, env in log[-1:]:
        frame = _union_frame(spark, [rec for _p, rec in batches[: b + 1]])
        lo = t0 + b * BATCH_SAMPLES * INTERVAL
        grid = RegularTimeRange(lo, lo + (BATCH_SAMPLES - 1) * INTERVAL, 15.0)
        want = json_out.matrix_result(compiler.run_query(spark, frame, READ_QUERY, grid))
        # the union is laid out differently from the store
        diff = common.first_difference(env, want)
        if diff is not None:
            failed_checks.append(f"v{v}: read-after-write of {READ_QUERY}: {diff}")

    samples = sum(rec.samples for _p, rec in batches[WARMUP_BATCHES : len(log)])
    out = {
        # a commit and a read per batch, a row-count check per commit, and
        # the union check
        "attempted": 3 * len(log) + 1,
        "failed": len(failed_checks),
        "errors": failed_checks,
        "e2e": {
            "setup_s": common.median(setups),
            "op_p50_ms": common.median(commits) * 1000.0,
            "read_p50_ms": common.median(reads) * 1000.0,
        },
        "report": {
            "peak_rss_mb": common.peak_rss_mb(),
            "commit_p50_s": common.median(commits),
            "read_p50_ms": common.median(reads) * 1000.0,
            "ingest_samples_per_s": samples / sum(commits) if commits else None,
            "commits": len(commits),
            "commits_s": commits,
            "reads_s": reads,
            "compacts_s": compacts,
            "setups_s": setups,
            "wall_s": wall,
            "batch_sizes": batches[0][1].sizes(),
        },
    }
    if tracer is not None:
        out["layers"] = summarize(tracer, store, log[WARMUP_BATCHES:], compact_versions,
                                  counters0, counters1, batches)
        out["tracer"] = tracer
    return out


def _union_frame(spark, recs):
    import pandas as pd

    pdf = pd.concat([r.long_frame() for r in recs], ignore_index=True)
    return spark.createDataFrame(pdf, CANONICAL)


def install(spark):
    """Traced run: spans at the zip source and snapshot store entry points
    (as this workload looks them up), plus the shared query-path wrappers."""
    import prometheus_parquet_server_spark.sources.snapshot_store as snap
    import prometheus_parquet_server_spark.sources.zipsource as zipsource
    from spans import Tracer

    tracer = Tracer(spark)
    tracer.wrap(zipsource, "ingest_zip", "zipsource.ingest_zip")
    tracer.wrap(zipsource, "wide_to_long", "ingest.wide_to_long")
    tracer.wrap(snap, "snapshot_write", "snapshot.write")
    tracer.wrap(snap, "snapshot_compact", "snapshot.compact")

    def files_read(rec, result, args, kwargs):
        rec["input_files"] = len(result.inputFiles())

    tracer.wrap(snap, "snapshot_select", "snapshot.select", after=files_read)
    common.install_query_wrappers(tracer)
    return tracer


def _manifests(store: str) -> dict[int, dict]:
    """Every committed manifest of a local store, by version."""
    snaps = os.path.join(store, "_snapshots")
    out = {}
    for name in os.listdir(snaps):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(snaps, name)) as f:
                out[int(name[1:-5])] = json.load(f)
    return out


def summarize(tracer, store, log, compact_versions, c0, c1, batches) -> dict:
    """Per-layer metrics over the timed batches (``log``), per batch."""
    counters = {k: c1[k] - c0[k] for k in c0}
    ops = len(log)
    layers, st, by = common.layer_summary(tracer.spans, ops, counters)

    def self_ms(name):
        return sum(st[s["id"]] for s in by.get(name, [])) * 1000.0 / max(ops, 1)

    def jobs(name):
        xs = by.get(name, [])
        return sum(s["jobs"] for s in xs) / len(xs) if xs else 0.0

    # file counts and bytes from the manifests
    manifests = _manifests(store)
    paths = {v: {f["path"] for f in m["files"]} for v, m in manifests.items()}
    added = [len(paths[v] - paths[m["parent"]]) for v, m in manifests.items()
             if m["operation"] == "append" and m["parent"] is not None]
    rewritten = [
        sum(f.get("n_bytes", 0) for f in manifests[manifests[v]["parent"]]["files"]
            if f["path"] not in paths[v])
        for v in compact_versions
    ]
    tip = max(v for v, *_ in log)
    store_bytes = sum(f.get("n_bytes", 0) for f in manifests[tip]["files"])
    committed = batches[: max(b for _v, b, _e in log) + 1]  # the warm-up's too
    input_bytes = sum(rec.parquet_bytes for _p, rec in committed)
    selects = by.get("snapshot.select", [])
    ratios = [s["input_files"] / len(paths[v]) for s, (v, *_r) in zip(selects, log)]
    total = [s["end"] - s["start"] for s in by.get("ingest.batch", [])]
    mean_op = sum(total) / len(total) if total else 0.0
    roots_self = sum(st[s["id"]] for s in by.get("ingest.batch", [])) / max(ops, 1)
    layers.update({
        "zipsource.ingest_zip_ms": self_ms("zipsource.ingest_zip") + self_ms("ingest.wide_to_long"),
        "zipsource.jobs_per_batch": jobs("zipsource.ingest_zip"),
        "snapshot.write_ms": self_ms("snapshot.write"),
        "snapshot.jobs_per_commit": jobs("snapshot.write"),
        "snapshot.files_per_commit": sum(added) / len(added) if added else 0.0,
        "snapshot.bytes_per_input_byte": store_bytes / input_bytes if input_bytes else 0.0,
        "snapshot.compact_ms": self_ms("snapshot.compact"),
        "snapshot.compact_bytes_rewritten": (
            sum(rewritten) / len(rewritten) if rewritten else 0.0
        ),
        "snapshot.select_ms": self_ms("snapshot.select"),
        "snapshot.files_read_ratio": sum(ratios) / len(ratios) if ratios else 0.0,
        "trace.op_mean_ms": mean_op * 1000.0,
        "trace.residual_ms": roots_self * 1000.0,
    })
    return layers
