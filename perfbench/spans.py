"""Traced-run support: spans around the program's layer entry points, set up
from outside the program by wrapping the names its callers look up.

A span records name, start, end, parent span, request id, thread and the
Spark jobs launched while it was the innermost span: on entry a span sets
the thread's Spark job group to its own id, on exit it counts the group's
jobs and restores the parent's group. Spans are kept in memory and written
out when the run ends.

Codegen and JIT counters are JVM-global, so they are read per workload (at
the start and end of the timed window), never per request.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "thread": threading.get_ident(),
        }
        stack.append(rec)
        self.sc.setLocalProperty(_GROUP, group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            stack.pop()
            self.sc.setLocalProperty(_GROUP, f"perfbench-{parent['id']}" if parent else None)
            with self._lock:
                self.spans.append(rec)

    # ---- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, rid_of=None, after=None) -> None:
        """Replace ``owner.attr`` with a traced version. ``rid_of(args,
        kwargs)`` names the request id a root span belongs to; ``after(rec,
        result, args, kwargs)`` adds attributes to the span once it ended."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            rid = rid_of(args, kwargs) if rid_of else None
            with tracer.span(name, rid=rid) as rec:
                result = orig(*args, **kwargs)
            if after is not None:  # outside the span: not timed
                after(rec, result, args, kwargs)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


def jvm_counters(spark) -> dict:
    """JVM-global compile counters: Janino compiles and compile time
    (CodegenMetrics / CodeGenerator) and JIT time (CompilationMXBean)."""
    jvm = spark.sparkContext._jvm
    cg = getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$")
    cg = getattr(cg, "MODULE$")
    cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
    mx = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return {
        "codegen_compiles": int(cm.METRIC_COMPILATION_TIME().getCount()),
        "codegen_compile_ms": cg.compileTime() / 1e6,
        "jit_ms": float(mx.getTotalCompilationTime()),
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id (seconds): its duration minus the part of its
    interval that its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
