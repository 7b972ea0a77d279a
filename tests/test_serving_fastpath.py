"""Serving fast paths must be bit-identical to the batch engine:
instant selectors / rate() over the pre-aligned store, prefix reuse,
and the response cache."""

import math

import pytest
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.operators.interpolate import resample_to_grid
from prometheus_parquet_server_spark.plans.compiler import run_query
from tests.conftest import long_frame

GRID = RegularTimeRange(0.0, 6000.0, 15.0)
PAD = 64


def _collection(spark):
    rows = []
    for s, base in (("a", 10.0), ("b", 5.0)):
        for i in range(40):
            rows.append(("m", {"host": s}, 7.0 + i * 160.0, base + i * 3.0))
    # NULL-labels series under two names: each keys as its own empty-label
    # series (model.series_key_str), so n's samples never reach m's
    for name, base in (("m", 1.0), ("n", 100.0)):
        for i in range(40):
            rows.append((name, None, 7.0 + i * 160.0, base + i * 2.0))
    return long_frame(spark, rows)


def _aligned(spark, coll):
    ext_grid = RegularTimeRange(
        GRID.start - PAD * GRID.increment, GRID.end, GRID.increment
    )
    ext = resample_to_grid(coll, ext_grid.to_df(spark), grid=ext_grid)
    exact = ext.filter(F.col("ts") >= GRID.start)
    return exact, ext


def _rows(df):
    out = {}
    for r in df.collect():
        out[(r["name"], str(sorted(dict(r["labels"]).items())), r["ts"])] = r["value"]
    return out


@pytest.mark.parametrize(
    "q",
    [
        'm{host="a"}',
        "sum(m{})",
        "rate(m{}[300])",
        "sum by (host) (rate(m{}[120]))",
        "rate(m{}[2400])",  # k=160 > PAD → falls back to the raw path
        "max_over_time(m{}[600])",  # over_time always takes the raw path
    ],
)
def test_aligned_store_bit_parity(spark, q):
    coll = _collection(spark)
    exact, ext = _aligned(spark, coll)
    want = _rows(run_query(spark, coll, q, GRID))
    got = _rows(
        run_query(
            spark, coll, q, GRID,
            aligned=exact, aligned_ext=ext, aligned_ext_steps=PAD,
        )
    )
    assert want.keys() == got.keys()
    if 'host="a"' not in q:  # the NULL-labels series answers as labels {}
        assert any(k[1] == "[]" for k in want), q
    for k, v in want.items():
        g = got[k]
        if isinstance(v, float) and math.isnan(v):
            assert isinstance(g, float) and math.isnan(g)
        else:
            assert v == g, (k, v, g)  # bit-identical, not approx


@pytest.mark.parametrize(
    "q,should_build",
    [
        ('m{host="a"}', True),            # instant selector → aligned-eligible
        ("rate(m{}[300])", True),         # range fits the pad → ext fast path
        ("rate(m{}[2400])", False),       # k=160 > PAD → raw path, no build
        ('m{host="a"} offset 60', False), # offsets read raw samples
    ],
)
def test_aligned_provider_lazy(spark, q, should_build):
    """The aligned store is built only when the plan actually reads it."""
    coll = _collection(spark)
    calls = []

    def provider():
        calls.append(1)
        exact, ext = _aligned(spark, coll)
        return exact, ext, PAD

    df = run_query(
        spark, coll, q, GRID,
        aligned_ext_steps=PAD, aligned_provider=provider,
    )
    df.collect()
    assert bool(calls) is should_build
    # and results stay bit-identical to the no-provider path
    want = _rows(run_query(spark, coll, q, GRID))
    got = _rows(
        run_query(
            spark, coll, q, GRID,
            aligned_ext_steps=PAD, aligned_provider=provider,
        )
    )
    assert want.keys() == got.keys()
    for k, v in want.items():
        g = got[k]
        if isinstance(v, float) and math.isnan(v):
            assert isinstance(g, float) and math.isnan(g)
        else:
            assert v == g, (k, v, g)
