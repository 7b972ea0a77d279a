"""Shared helpers: Spark start-up confined to the work directory, peak RSS,
percentiles, and the layer wrappers both workloads install in a traced run."""

from __future__ import annotations

import os
import resource
import shlex
import signal
import statistics
import subprocess
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Pin cores and keep every file Spark and Python write under ``work``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files: the JVM would put them in /tmp whatever its tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def start_spark():
    from prometheus_parquet_server_spark import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop Spark and end its JVM, waiting until it has exited.
    ``spark.stop()`` leaves the gateway JVM running until this process
    exits, and it would still be shutting down after the process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def stop_descendants() -> None:
    """Kill and wait for any process this one started that is still there
    (the multiprocessing resource tracker, a worker or JVM that outlived
    its owner). Runs last, on every way out."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 30.0
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                # a child is reaped here; a grandchild is reaped by its
                # parent, which has been killed too, so wait for it to vanish
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    break
            except ChildProcessError:
                if _state(pid) in (None, "Z"):
                    break
            time.sleep(0.01)


def _state(pid: int) -> str | None:
    """The process's state letter from /proc, None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its child processes (the JVM), each
    process's own high-water mark from /proc, summed."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own + sum(_vm_hwm_kb(p) for p in descendants(os.getpid()))) / 1024.0


#: relative tolerance on sample values when an answer is recomputed on
#: another plan: the engine's sum/avg round in partition order, so the same
#: frame repartitioned already differs in the last bits
REL_TOL = 1e-12


def first_difference(got: dict, want: dict) -> str | None:
    """None when two matrix envelopes are equal, else where they first
    differ. Sample values may differ by :data:`REL_TOL` (labels and
    timestamps must match exactly)."""
    import json
    import math

    got, want = json.loads(json.dumps(got)), json.loads(json.dumps(want))
    if got == want:
        return None
    if (got["status"], got["data"]["resultType"]) != (want["status"], want["data"]["resultType"]):
        return "envelope kinds differ"
    g, w = got["data"]["result"], want["data"]["result"]
    if len(g) != len(w):
        return f"{len(g)} series, expected {len(w)}"
    for gs, ws in zip(g, w):
        if gs["metric"] != ws["metric"]:
            return f"series {gs['metric']}, expected {ws['metric']}"
        if len(gs["values"]) != len(ws["values"]):
            return f"{gs['metric']}: {len(gs['values'])} points, expected {len(ws['values'])}"
        for gp, wp in zip(gs["values"], ws["values"]):
            if gp != wp and not (
                gp[0] == wp[0]
                and math.isclose(float(gp[1]), float(wp[1]), rel_tol=REL_TOL)
            ):
                return f"{gs['metric']} at {wp[0]}: {gp[1]}, expected {wp[1]}"
    return None


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


# ---- traced-run wrappers shared by both workloads --------------------------


def install_query_wrappers(tracer) -> None:
    """Spans around plan construction, parsing, the collect and the
    envelope, wrapped at the names their callers look up."""
    from pyspark.sql.classic.dataframe import DataFrame

    import prometheus_parquet_server_spark.json_out as json_out
    import prometheus_parquet_server_spark.plans.compiler as compiler
    import prometheus_parquet_server_spark.server.app as app

    tracer.wrap(compiler, "parse_promql", "parser.parse")
    tracer.wrap(app, "run_query", "compiler.run_query")
    tracer.wrap(compiler, "run_query", "compiler.run_query")

    def points(rec, result, args, kwargs):
        rec["points"] = sum(len(s["values"]) for s in result["data"]["result"])

    tracer.wrap(app, "matrix_result", "json_out.matrix_result", after=points)
    tracer.wrap(json_out, "matrix_result", "json_out.matrix_result", after=points)
    tracer.wrap(DataFrame, "toPandas", "exec.collect")


def layer_summary(spans: list[dict], ops: int, counters: dict):
    """Per-layer metrics shared by both workloads: self time per operation
    (ms), jobs per call, and the traced window's JVM compile counters.
    Returns the metrics, self time per span id, and the spans by name."""
    from spans import self_times

    st = self_times(spans)
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def self_ms(name):
        return sum(st[s["id"]] for s in by.get(name, [])) * 1000.0 / max(ops, 1)

    def per_call(name, key):
        xs = by.get(name, [])
        return sum(s.get(key, 0) for s in xs) / len(xs) if xs else 0.0

    queries = len(by.get("compiler.run_query", []))
    collect_jobs = sum(s["jobs"] for s in by.get("exec.collect", []))
    return {
        "parser.parse_ms": self_ms("parser.parse"),
        "compiler.plan_ms": self_ms("compiler.run_query"),
        "compiler.plan_jobs": per_call("compiler.run_query", "jobs"),
        "exec.collect_ms": self_ms("exec.collect"),
        "exec.jobs_per_query": collect_jobs / queries if queries else 0.0,
        "exec.codegen_compiles": counters["codegen_compiles"],
        "exec.codegen_compile_ms": counters["codegen_compile_ms"],
        "jvm.jit_ms": counters["jit_ms"],
        "json_out.envelope_ms": self_ms("json_out.matrix_result"),
        "json_out.points_per_response": per_call("json_out.matrix_result", "points"),
        "trace.spans": float(len(spans)),
    }, st, by
