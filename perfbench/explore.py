"""``explore`` workload: recorded-run exploration over HTTP query_range.

Two closed-loop clients with no think time, each in a process of its own,
share one seeded dashboard of 8 panels on an absolute 2-h grid. A session is: load the panels, refresh,
zoom to the first hour (same start and step), zoom back, and the Grafana
polls (labels, ``label/__name__/values``, metadata, series).

An untimed request outside the dashboard first builds the grid anchor's
aligned store. Then, timed:

- first load: one client runs a whole session, so every key's first
  answer is a response-cache miss computed on its own (the zooms reuse the
  aligned store by prefix);
- replay: both clients repeat refresh, zoom and zoom back over all 8 panels
  (client 1 in reverse order) with the cached polls until the time is up,
  and for at least half of it. The working set (16 range keys, one grid
  anchor) fits both server caches, so every range request is a hit.

``op_p50_ms`` is the median response-cache hit of the replay,
``read_p50_ms`` the median first answer of a panel on the full grid (the 8
misses that evaluate a panel over the whole aligned store; the zoom misses
are a cheaper population and are reported apart).
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

import numpy as np

import common
import gen
from spans import jvm_counters

INTERVAL = 30.0  # seconds between samples
HOURS = 2.5  # recording length
SETUPS = 3

POLLS = [
    ("/api/v1/labels", {}),
    ("/api/v1/label/__name__/values", {}),
    ("/api/v1/metadata", {}),
]


def panels(rng) -> list[str]:
    env = str(rng.choice(gen.ENVS))
    region = str(rng.choice(gen.REGIONS))
    q = float(rng.choice([0.5, 0.9, 0.99]))
    w = str(rng.choice(["1m", "2m", "5m"]))
    return [
        f'cpu_usage{{env="{env}"}}',
        f'rate(http_requests{{region="{region}"}}[{w}])',
        f"sum by (region) (rate(http_requests[{w}]))",
        f"histogram_quantile({q}, sum by (Le) (rate(rpc_duration_bucket[1m])))",
        f'cpu_usage{{env="{env}"}} / net_rx{{env="{env}"}}',
        f"max_over_time(net_rx[{w}])",
        "topk(5, cpu_usage)",
        "avg by (env) (cpu_usage)",
    ]


def setup_once(spark, zip_path: str, scratch: str):
    """The server's set-up: ingest the zip and materialise the serving cache."""
    from prometheus_parquet_server_spark.server.app import (
        prepare_collection_for_serving,
    )
    from prometheus_parquet_server_spark.sources.zipsource import ingest_zip

    types: dict[str, str] = {}
    t = time.perf_counter()
    df = ingest_zip(spark, zip_path, mapping=gen.MAPPING, scratch_dir=scratch,
                    types_out=types)
    t_ingest = time.perf_counter() - t
    coll = prepare_collection_for_serving(df)
    n = coll.count()
    return coll, types, n, time.perf_counter() - t, t_ingest


class Client:
    """One closed-loop dashboard client with no think time."""

    def __init__(self, port: int, start: float, step: float, name: str, trace: bool,
                 first_body: dict | None = None):
        self.base = f"http://127.0.0.1:{port}"
        self.start, self.step, self.name, self.trace = start, step, name, trace
        #: the first answer of each (query, start, end, step) key
        self.first_body: dict[tuple, bytes] = {} if first_body is None else first_body
        self.lat: list = []  # (response-cache miss?, key, seconds)
        self.rid_lat: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def request(self, path: str, params: dict):
        url = f"{self.base}{path}?{urlencode(params)}"
        self.attempted += 1
        t = time.perf_counter()
        try:
            with urllib.request.urlopen(url, timeout=120) as r:
                body = r.read()
                # the envelope's first key; a full parse would cost the client
                # more than the server spends on a hit
                ok = r.status == 200 and body.startswith(b'{"status": "success"')
        except Exception as exc:  # counted, never raised
            body, ok = None, False
            self.errors.append(repr(exc))
        self.failed += 0 if ok else 1
        return time.perf_counter() - t, ok, body

    def session(self, panels: list, ends: tuple, until: float, polls: list) -> bool:
        """One dashboard session over ``panels``; False once
        ``time.monotonic()`` reaches ``until``."""
        for e in ends:
            for q in panels:
                if time.monotonic() >= until:
                    return False
                key = (q, self.start, e, self.step)
                params = {"query": q, "start": self.start, "end": e, "step": "15s"}
                if self.trace:
                    params["_rid"] = f"{self.name}-{self.attempted}"
                dt, ok, body = self.request("/api/v1/query_range", params)
                if not ok:
                    continue
                if key in self.first_body and self.first_body[key] != body:
                    self.failed += 1
                    self.errors.append(f"hit differs from first answer: {key}")
                    continue
                self.lat.append((key not in self.first_body, key, dt))
                self.first_body.setdefault(key, body)
                if self.trace:
                    self.rid_lat[params["_rid"]] = dt
        for path, params in polls:
            if time.monotonic() >= until:
                return False
            self.request(path, params)
        return True

    def result(self) -> dict:
        return {"attempted": self.attempted, "failed": self.failed,
                "errors": self.errors[:5], "lat": self.lat, "rid_lat": self.rid_lat}


def worker_ready() -> None:
    """Worker initializer: naming it makes each worker import this module
    when it starts, not when its first, possibly timed, task arrives."""


def warm_client(port: int, start: float, end: float, trace: bool) -> dict:
    """Worker process: one request outside the dashboard."""
    c = Client(port, start, 15.0, "warm", trace)
    params = {"query": "temperature", "start": start, "end": end, "step": "15s"}
    if trace:
        params["_rid"] = "warm"
    dt, _ok, _body = c.request("/api/v1/query_range", params)
    if trace:
        c.rid_lat["warm"] = dt
    return c.result()


def load_client(port, start, step, queries, ends, polls, trace) -> dict:
    """Worker process: one whole session, the first answer of every key."""
    c = Client(port, start, step, "load", trace)
    c.session(queries, ends, math.inf, polls)
    return {**c.result(), "first_body": c.first_body}


def replay_client(n, port, start, step, queries, ends, first_body, until, trace) -> dict:
    """Worker process: client ``n`` repeats its sessions with the cached
    polls until ``until``; client 1 takes the panels in reverse order."""
    c = Client(port, start, step, f"c{n}", trace, first_body)
    while c.session(queries if n == 0 else queries[::-1], ends, until, POLLS):
        pass
    return c.result()


def run(spark, work: str, seed: int, seconds: float, trace: bool) -> dict:
    from prometheus_parquet_server_spark.json_out import matrix_result
    from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
    from prometheus_parquet_server_spark.plans.compiler import run_query
    from prometheus_parquet_server_spark.server.app import MetricsHTTPServer

    rng = np.random.default_rng(seed)
    t0 = gen.recording_start(seed)
    rec = gen.recording(seed, t0, 0, int(HOURS * 3600 / INTERVAL), INTERVAL)
    zip_path = os.path.join(work, "recording.zip")
    with open(zip_path, "wb") as f:
        f.write(rec.zip_bytes)

    setups, ingest_s = [], []
    coll = None
    for i in range(SETUPS):
        if coll is not None:
            coll.unpersist()
        coll, types, n, dt, di = setup_once(spark, zip_path, os.path.join(work, f"z{i}"))
        setups.append(dt)
        ingest_s.append(di)
    failed_checks = []
    if n != rec.samples:
        failed_checks.append(f"ingested {n} samples, generated {rec.samples}")
    srv = MetricsHTTPServer(spark, coll, port=0, metric_types=types)
    srv.start()
    port = srv._httpd.server_address[1]

    start = t0 + 60.0 * int(rng.integers(5, 30))
    step = 15.0
    end = start + 7200.0
    zoom_end = start + 3600.0
    queries = panels(rng)
    series_sel = f'cpu_usage{{host="{rng.choice(gen.HOSTS)}"}}'

    tracer = counters0 = None
    if trace:
        tracer = install(spark)
        counters0 = jvm_counters(spark)

    # every client runs in a process of its own, as a browser would: in the
    # server's process its work would contend with the server's threads for
    # the GIL. The workers start now, untimed.
    pool = multiprocessing.get_context("spawn").Pool(2, initializer=worker_ready)
    try:
        # untimed: one request outside the dashboard builds the grid
        # anchor's aligned store and warms the query path
        warm = pool.apply(warm_client, (port, start, end, trace))

        # timed: the first load, one client computing each key's miss on its
        # own, then both clients replaying until the time is up
        t_begin = time.perf_counter()
        load = pool.apply(load_client, (port, start, step, queries, (end, end, zoom_end, end),
                                        POLLS + [("/api/v1/series", {"match[]": series_sel})],
                                        trace))
        load_s = time.perf_counter() - t_begin
        first_body = load["first_body"]

        # the replay lasts at least half the time: right after the misses the
        # JVM is still compiling and collecting, and a short replay would
        # measure mostly that
        until = time.monotonic() + max(seconds - load_s, seconds / 2)
        t = time.perf_counter()
        replays = pool.starmap(replay_client, [
            (c, port, start, step, queries, (end, zoom_end, end), first_body, until, trace)
            for c in range(2)
        ])
        replay_s = time.perf_counter() - t
    finally:
        pool.terminate()
        pool.join()
    clients = [warm, load, *replays]
    lat = load["lat"]  # (response-cache miss?, key, seconds)
    n_load = len(lat)
    for r in replays:
        lat += r["lat"]
    counters1 = jvm_counters(spark) if trace else None
    if tracer is not None:
        tracer.unwrap_all()
    srv.stop()

    # output checks: every panel's full-grid answer and one seeded zoom
    # answer (served from the aligned store by prefix) recomputed without
    # the server's caches
    t_check = time.perf_counter()
    keys = sorted(first_body)
    zooms = [k for k in keys if k[2] != end]
    checked = [k for k in keys if k[2] == end] + [zooms[int(rng.integers(len(zooms)))]]

    def direct(key):
        q, s, e, st = key
        return matrix_result(run_query(spark, coll, q, RegularTimeRange(s, e, st)))

    # two at a time: the checks are untimed and take a sixth of a run
    with ThreadPoolExecutor(2) as pool:
        wants = list(pool.map(direct, checked))
    for key, want in zip(checked, wants):
        q, s, e, _st = key
        diff = common.first_difference(json.loads(first_body[key]), want)
        if diff is not None:
            failed_checks.append(f"served {q} over {e - s:.0f} s differs from "
                                 f"direct evaluation: {diff}")
    check_s = time.perf_counter() - t_check
    if len(first_body) != 2 * len(queries):
        failed_checks.append(f"{len(first_body)} keys answered, expected {2 * len(queries)}")

    hit_ms = [dt * 1000.0 for miss, _key, dt in lat[n_load:] if not miss]
    miss_ms = [dt * 1000.0 for miss, key, dt in lat if miss and key[2] == end]
    zoom_ms = [dt * 1000.0 for miss, key, dt in lat if miss and key[2] != end]
    per_key: dict = {}
    for miss, key, dt in lat:
        if not miss:
            per_key.setdefault(key, []).append(dt * 1000.0)
    out = {
        "attempted": sum(c["attempted"] for c in clients) + len(checked) + 2,
        "failed": sum(c["failed"] for c in clients) + len(failed_checks),
        "errors": [e for c in clients for e in c["errors"]][:5] + failed_checks,
        "e2e": {
            "setup_s": common.median(setups),
            "op_p50_ms": common.median(hit_ms),
            "read_p50_ms": common.median(miss_ms),
        },
        "report": {
            "peak_rss_mb": common.peak_rss_mb(),
            "range_p50_ms": common.median(hit_ms),
            "range_p90_ms": float(np.percentile(hit_ms, 90)) if hit_ms else None,
            "range_rps": len(hit_ms) / replay_s,  # replay only
            "range_requests": len(hit_ms),
            "first_load_s": load_s,
            "replay_s": replay_s,
            "check_s": check_s,
            "miss_ms": sorted(miss_ms),
            "zoom_miss_ms": sorted(zoom_ms),
            "hit_ms_by_key": [
                [k[0], k[2] - k[1], len(first_body[k]), len(v), common.median(v)]
                for k, v in sorted(per_key.items())
            ],
            "setups_s": setups,
            "ingest_zip_s": ingest_s,
            "sizes": rec.sizes(),
            "queries": queries,
            "grid": [start, end, zoom_end, step],
        },
    }
    if tracer is not None:
        rid_lat = {k: v for c in clients for k, v in c["rid_lat"].items()}
        out["layers"] = summarize(tracer, rid_lat, counters0, counters1, ingest_s)
        out["tracer"] = tracer
    return out


def install(spark):
    """Traced run: spans at the server.app entry points, plus the shared
    query-path wrappers."""
    import prometheus_parquet_server_spark.server.app as app
    from spans import Tracer

    tracer = Tracer(spark)
    cls = app.MetricsHTTPServer

    def rid_of(args, kwargs):
        return args[1].get("_rid")

    tracer.wrap(cls, "handle_query_range", "app.query_range", rid_of=rid_of)
    for attr in ("handle_labels", "handle_label_values", "handle_metadata",
                 "handle_series"):
        tracer.wrap(cls, attr, f"app.{attr[len('handle_'):]}")
    tracer.wrap(cls, "_aligned_for", "app.aligned_for")
    tracer.wrap(app, "resample_to_grid", "operators.resample_to_grid")
    common.install_query_wrappers(tracer)
    return tracer


def summarize(tracer, rid_lat: dict, c0: dict, c1: dict, ingest_s: list) -> dict:
    """Per-layer metrics over every traced query_range request (first load
    and timed replay): mean self time per request. Means, not medians,
    because only means add up: the layers plus the HTTP overhead are the
    mean request latency. The client latency is split into the HTTP
    overhead and the handler span, and the handler span into self times
    (the handler's own is ``app.handler_ms``), so ``trace.residual_ms`` is
    0 here by construction; it checks that the split is complete."""
    counters = {k: c1[k] - c0[k] for k in c0}
    roots = [s for s in tracer.spans if s["name"] == "app.query_range" and s["rid"] in rid_lat]
    ops = max(len(roots), 1)
    rids = {r["rid"] for r in roots}
    spans = [s for s in tracer.spans if s["rid"] in rids]
    layers, st, by = common.layer_summary(spans, ops, counters)
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    hits = sum(1 for r in roots if not children.get(r["id"]))
    aligned = by.get("app.aligned_for", [])
    builds = [a for a in aligned if any(
        c["name"] == "operators.resample_to_grid" for c in children.get(a["id"], []))]
    mean_lat = sum(rid_lat[r["rid"]] for r in roots) * 1000.0 / ops
    http_ms = sum(rid_lat[r["rid"]] - (r["end"] - r["start"]) for r in roots) * 1000.0 / ops
    layers.update({
        "app.http_overhead_ms": http_ms,
        "app.handler_ms": sum(st[r["id"]] for r in roots) * 1000.0 / ops,
        "app.resp_cache_hit_ratio": hits / ops,
        "app.aligned_reuse_ratio": 1.0 - len(builds) / len(aligned) if aligned else 0.0,
        "app.aligned_builds": float(len(builds)),
        "app.aligned_build_ms": (
            sum(b["end"] - b["start"] for b in builds) * 1000.0 / len(builds) if builds else 0.0
        ),
        "app.aligned_self_ms": sum(st[a["id"]] for a in aligned) * 1000.0 / ops,
        "operators.resample_plan_ms": sum(
            st[s["id"]] for s in by.get("operators.resample_to_grid", [])
        ) * 1000.0 / ops,
        "zipsource.ingest_zip_ms": common.median(ingest_s) * 1000.0,
        "trace.op_mean_ms": mean_lat,
        "trace.residual_ms": mean_lat - http_ms - sum(st[s["id"]] for s in spans) * 1000.0 / ops,
    })
    return layers
