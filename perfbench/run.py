#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload explore|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the seed,
starts Spark on ``local[<cores>]`` with every scratch file under
``.perfbench_work/`` in the current directory, measures for ``--seconds``,
checks the outputs, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run installs span
wrappers around the program's layer entry points and the metrics are the
per-layer ones (the span file and a full report land in ``--out``).
Exits 1 when an output check fails, 2 when the program cannot be run.
On every way out it stops Spark's JVM and any other process it started and
waits until each has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "read_p50_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: explore / ingest workloads")
    ap.add_argument("--workload", required=True, choices=["explore", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=None,
                    help="directory for the report (and spans with --trace 1)")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "prometheus_parquet_server_spark")):
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.abspath(os.path.join(".perfbench_work", str(os.getpid())))
    os.makedirs(work, exist_ok=True)
    common.configure_env(work)
    t_proc = time.perf_counter()
    spark = None
    try:
        try:
            spark, spark_s = common.start_spark()
        except Exception as exc:
            print(f"perfbench: cannot start the program: {exc!r}", file=sys.stderr)
            return 2
        if args.workload == "explore":
            import explore as wl
        else:
            import ingest as wl
        res = wl.run(spark, work, args.seed, args.seconds, bool(args.trace))
    finally:
        try:
            if spark is not None:
                common.stop_spark(spark)
        finally:
            common.stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    tracer = res.pop("tracer", None)
    res["report"].update({
        "workload": args.workload,
        "seed": args.seed,
        "cores": common.cpus(),
        "spark_start_s": spark_s,
        "process_s": time.perf_counter() - t_proc,
    })
    if args.trace:
        layers = res["layers"]
        layers["spark.session_start_s"] = spark_s
        layers["proc.peak_rss_mb"] = res["report"]["peak_rss_mb"]
        # a layer the workload does not reach reads 0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_units().items()}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in END_TO_END.items()}
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        stem = f"{args.workload}_s{args.seed}_t{args.trace}"
        with open(os.path.join(args.out, stem + ".json"), "w") as f:
            json.dump(res, f, indent=1, default=str)
        if tracer is not None:
            tracer.write(os.path.join(args.out, stem + ".spans.jsonl"))
    for err in res["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(json.dumps(res["report"], default=str), file=sys.stderr)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
