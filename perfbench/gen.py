"""Seeded generator for the reference's input layout: a zip of wide Parquet
members (FIXTURES.md section 1), plus the canonical long rows the engine
should ingest from it, as an independent oracle.

Member kinds:
- ``single``: one value column (SingleColumn gauge);
- ``multi``: ``value`` plus suffix columns (MultiColumn counters);
- ``hist``: ``Le<bound>`` columns including the exponent form and ``Le+Inf``,
  plus ``sum`` and ``max`` (Histogram);
- ``hist_count``: the variant with ``count`` instead of ``Le+Inf``.

Members live under directory prefixes that the re-tag mapping
(:data:`MAPPING`) turns into fixed labels; one member sits at the zip root.

Run ``python3 perfbench/gen.py --seed 1`` to print the sizes of both
workloads' inputs for a seed.
"""

from __future__ import annotations

import argparse
import io
import json
import math
import zipfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: zip directory prefix -> fixed labels (the re-tag YAML, already parsed)
MAPPING = {
    "__root__": {},
    "hosts": {"dc": "eu1"},
    "api": {"service": "frontend"},
    "db": {"service": "storage"},
}

HOSTS = [f"h{i}" for i in range(8)]
ENVS = ["prod", "staging"]
REGIONS = ["north", "south", "east", "west"]
HANDLERS = ["get", "put", "list", "delete", "auth", "search"]
TIMINGS = ["fetch", "store", "auth", "render", "index", "sync"]
SENSORS = [f"s{i}" for i in range(8)]


@dataclass(frozen=True)
class Member:
    path: str  # zip member name
    kind: str  # single | multi | hist | hist_count
    time_col: str
    labels: dict  # label column -> values (cross product = label tuples)
    cols: tuple  # value columns, in file order


MEMBERS = [
    Member("hosts/cpu_usage.parquet", "single", "time",
           {"host": HOSTS, "env": ENVS}, ("cpu",)),
    Member("hosts/net_rx.parquet", "single", "timestamp",
           {"host": HOSTS, "env": ENVS}, ("rx",)),
    Member("api/http_requests.parquet", "multi", "timestamp",
           {"region": REGIONS, "handler": HANDLERS},
           ("value", "errors", "retries")),
    Member("api/rpc_duration.parquet", "hist", "__time__",
           {"timing": TIMINGS},
           ("Le0.1", "Le0.5", "Le2.5", "Le1.0E1", "Le+Inf", "sum", "max")),
    Member("db/query_duration.parquet", "hist_count", "__time__",
           {"timing": TIMINGS},
           ("Le0.01", "Le0.1", "Le1.0E0", "count", "sum")),
    Member("temperature.parquet", "single", "time", {"sensor": SENSORS}, ("celsius",)),
]


def _tuples(labels: dict) -> list[dict]:
    out = [{}]
    for k, vals in labels.items():
        out = [{**t, k: v} for t in out for v in vals]
    return out


def _stem(path: str) -> str:
    return path.rsplit("/", 1)[-1][: -len(".parquet")]


def _prefix(path: str) -> str:
    return path.rsplit("/", 1)[0] if "/" in path else "__root__"


def _member_columns(m: Member, seed: int, idx: np.ndarray) -> dict:
    """Value columns for one label tuple. ``idx`` is each sample's absolute
    sample number in the recording, so any window of the recording is the
    same data as the corresponding slice of a longer window."""
    rng = np.random.default_rng([seed, len(m.path), sum(map(ord, m.path))])
    base = rng.uniform(1.0, 100.0)
    phase = rng.uniform(0.0, 2 * math.pi)
    # per-sample noise keyed by absolute sample number: window-independent
    noise = np.sin(idx * 0.731 + phase * 7.0) * 0.5 + np.cos(idx * 0.173 + phase)
    wave = np.sin(idx * 0.01 + phase)
    k = idx.astype(np.float64)
    cols: dict[str, np.ndarray] = {}
    if m.kind == "single":
        cols[m.cols[0]] = np.round(base * (1.0 + 0.3 * wave) + noise, 3)
    elif m.kind == "multi":
        rate0 = rng.uniform(1.0, 20.0)
        for j, c in enumerate(m.cols):
            per = rate0 / (1 + 4 * j)
            # counters: monotone, integral increments
            cols[c] = np.floor(k * per + (1 + wave) * per * 3.0)
    else:
        total = np.floor(k * rng.uniform(5.0, 30.0) + (1 + wave) * 4.0)
        bounds = [c for c in m.cols if c.startswith("Le")]
        fracs = np.sort(rng.uniform(0.05, 0.95, len(bounds)))
        if m.kind == "hist":
            fracs[-1] = 1.0  # Le+Inf holds the total
        for c, f in zip(bounds, fracs):
            cols[c] = np.floor(total * f)
        if m.kind == "hist_count":
            cols["count"] = total
        cols["sum"] = np.round(total * rng.uniform(0.2, 3.0), 3)
        if "max" in m.cols:
            cols["max"] = np.round(rng.uniform(5.0, 20.0) + wave, 3)
    return {c: cols[c] for c in m.cols}


def _member_table(m: Member, seed: int, t0: float, i0: int, i1: int,
                  interval: float):
    """Wide table of samples ``i0 <= i < i1`` (absolute sample numbers; the
    recording starts at ``t0``), and its canonical long rows."""
    frames: dict[str, list] = {m.time_col: []}
    for lc in m.labels:
        frames[lc] = []
    for c in m.cols:
        frames[c] = []
    long_rows = []
    stem = _stem(m.path)
    fixed = MAPPING[_prefix(m.path)]
    for ti, tup in enumerate(_tuples(m.labels)):
        # each label tuple scrapes at its own sub-interval offset
        off = float((ti * 3) % int(interval))
        idx = np.arange(i0, i1)
        ts = t0 + idx * interval + off
        cols = _member_columns(m, seed * 1000 + ti, idx)
        frames[m.time_col].append(ts)
        for lc, v in tup.items():
            frames[lc].append(np.full(len(idx), v, dtype=object))
        for c, arr in cols.items():
            frames[c].append(arr)
        for name, extra, src in _long_plan(m, stem):
            labels = {**fixed, **tup, **extra}
            long_rows.append((name, labels, ts, cols[src]))
    table = pa.table({k: pa.array(np.concatenate(v)) for k, v in frames.items()})
    return table, long_rows


def _long_plan(m: Member, stem: str) -> list[tuple[str, dict, str]]:
    """(series name, extra labels, source column) — the ingest rules of
    FIXTURES.md section 1, restated independently of the engine."""
    if m.kind == "single":
        return [(stem, {}, m.cols[0])]
    if m.kind == "multi":
        return [(stem if c == "value" else f"{stem}_{c}", {}, c) for c in m.cols]
    plan = [
        (f"{stem}_bucket", {"Le": c[2:]}, c) for c in m.cols if c.startswith("Le")
    ]
    plan += [(f"{stem}_{c}", {}, c) for c in ("sum", "max", "count") if c in m.cols]
    if m.kind == "hist":
        plan.append((f"{stem}_count", {}, "Le+Inf"))
    else:
        plan.append((f"{stem}_bucket", {"Le": "+Inf"}, "count"))
    return plan


@dataclass
class Recording:
    zip_bytes: bytes
    long_rows: list  # (name, labels, ts array, value array)
    members: int
    series: int
    samples: int
    parquet_bytes: int

    def sizes(self) -> dict:
        return {
            "members": self.members,
            "series": self.series,
            "samples": self.samples,
            "zip_bytes": len(self.zip_bytes),
            "parquet_bytes": self.parquet_bytes,
        }

    def long_frame(self):
        """Canonical long rows as a pandas frame (name, labels, ts, value)."""
        import pandas as pd

        names, labels, ts, vals = [], [], [], []
        for name, lab, t, v in self.long_rows:
            names += [name] * len(t)
            labels += [lab] * len(t)
            ts.append(t)
            vals.append(v)
        return pd.DataFrame({
            "name": names,
            "labels": labels,
            "ts": np.concatenate(ts).astype(np.float64),
            "value": np.concatenate(vals).astype(np.float64),
        })


def recording(seed: int, t0: float, i0: int, i1: int, interval: float) -> Recording:
    """The zip holding samples ``i0 <= i < i1`` of the seeded recording that
    starts at ``t0``."""
    buf = io.BytesIO()
    long_rows: list = []
    pbytes = 0
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for m in MEMBERS:
            table, rows = _member_table(m, seed, t0, i0, i1, interval)
            out = io.BytesIO()
            pq.write_table(table, out)
            data = out.getvalue()
            pbytes += len(data)
            zf.writestr(m.path, data)
            long_rows += rows
    return Recording(
        zip_bytes=buf.getvalue(),
        long_rows=long_rows,
        members=len(MEMBERS),
        series=len(long_rows),
        samples=sum(len(r[2]) for r in long_rows),
        parquet_bytes=pbytes,
    )


def recording_start(seed: int) -> float:
    """An hour-aligned recording start that differs per seed."""
    return 1_700_000_000.0 // 3600 * 3600 + (seed % 97) * 86400.0


def main() -> None:
    import explore
    import ingest

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    t0 = recording_start(seed)
    n = int(explore.HOURS * 3600 / explore.INTERVAL)
    print(json.dumps({
        "explore recording": recording(seed, t0, 0, n, explore.INTERVAL).sizes(),
        "ingest batch": recording(seed, t0, 0, ingest.BATCH_SAMPLES,
                                  ingest.INTERVAL).sizes(),
    }))


if __name__ == "__main__":
    main()
