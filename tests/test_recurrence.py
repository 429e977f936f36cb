"""Distributed EWMA (operators/recurrence.py) vs pandas — the oracle
is pandas' own sequential ``ewm(alpha, adjust=False)`` per key, the
same parity discipline as the `merge_asof` suite. Boundary
linearization reorders float ops, so parity is rtol-1e-9, not
hash-exact (documented in the module docstring)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.recurrence import ewma
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
    load_table,
)


def _pandas_oracle(df, alpha):
    out = {}
    for key, grp in df.sort_values(["user_id", "ts"]).groupby("user_id"):
        y = grp["value"].ewm(alpha=alpha, adjust=False).mean().to_numpy()
        for ts, v in zip(grp["ts"], y):
            out[(key, ts)] = v
    return out


@pytest.mark.parametrize("alpha", [0.05, 0.3, 0.9])
def test_ewma_matches_pandas(spark, sf_dir, alpha):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    got = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in ewma(
            ev, on="user_id", time_col="ts", value_col="value",
            alpha=alpha, chunk_rows=7,  # small chunks → many boundaries
        ).collect()
    }
    want = _pandas_oracle(ev.toPandas(), alpha)
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, rtol=1e-9, atol=1e-12), (
        f"max rel err {np.max(np.abs(g - w) / np.maximum(np.abs(w), 1e-12))}"
    )


def test_ewma_chunk_size_invariance(spark, sf_dir):
    """The split is an execution detail: chunk_rows=3 (maximum
    boundary count) and chunk_rows=10^6 (single chunk — the pure
    sequential fold) agree to float tolerance."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    kw = dict(on="user_id", time_col="ts", value_col="value", alpha=0.2)
    tiny = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in ewma(ev, chunk_rows=3, **kw).collect()
    }
    one = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in ewma(ev, chunk_rows=1_000_000, **kw).collect()
    }
    assert set(tiny) == set(one)
    ks = sorted(tiny)
    assert np.allclose(
        [tiny[k] for k in ks], [one[k] for k in ks], rtol=1e-9, atol=1e-12
    )


def test_ewma_init_and_alpha_one(spark):
    """y_0 = x_0 per key (pandas adjust=False init); alpha=1 is the
    identity (no smoothing)."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, t(0), 10.0), (1, t(1), 0.0), (2, t(5), -4.0)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        (r["user_id"], r["ts"].second): r["ewma"]
        for r in ewma(
            df, on="user_id", time_col="ts", value_col="value", alpha=0.5
        ).collect()
    }
    assert got[(1, 0)] == 10.0  # init: first value passes through
    assert got[(1, 1)] == pytest.approx(5.0)  # 0.5*0 + 0.5*10
    assert got[(2, 5)] == -4.0
    ident = {
        r["ts"].second: r["ewma"]
        for r in ewma(
            df.filter(F.col("user_id") == 1),
            on="user_id", time_col="ts", value_col="value", alpha=1.0,
        ).collect()
    }
    assert ident == {0: 10.0, 1: 0.0}


def _numpy_irregular_oracle(df, halflife):
    """Sequential replay of the time-decay recurrence per key."""
    import math

    out = {}
    lam = math.log(2.0) / halflife
    for key, grp in df.sort_values(["user_id", "ts"]).groupby("user_id"):
        y = None
        prev = None
        for ts, x in zip(grp["ts"], grp["value"]):
            if y is None:
                y = x
            else:
                d = math.exp(-lam * (ts - prev).total_seconds())
                y = (1.0 - d) * x + d * y
            prev = ts
            out[(key, ts)] = y
    return out


def test_ewma_irregular_matches_numpy_replay(spark, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.recurrence import (
        ewma_irregular,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    hl = 6 * 3600.0
    got = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in ewma_irregular(
            ev, on="user_id", time_col="ts", value_col="value",
            halflife_seconds=hl, chunk_rows=7,
        ).collect()
    }
    want = _numpy_irregular_oracle(ev.toPandas(), hl)
    assert set(got) == set(want)
    ks = sorted(got)
    assert np.allclose(
        [got[k] for k in ks], [want[k] for k in ks], rtol=1e-9, atol=1e-12
    )


def test_ewma_irregular_reduces_to_constant_alpha(spark):
    """On a REGULAR grid the time-decay form equals ewma with
    α = 1 − exp(−ln2·Δt/halflife) — the documented reduction."""
    import datetime as dt
    import math

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.recurrence import (
        ewma_irregular,
    )

    t0 = dt.datetime(2024, 1, 1)
    step, hl = 60.0, 300.0
    df = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(seconds=step * i), float((i * 37) % 11))
            for i in range(25)
        ],
        "user_id long, ts timestamp, value double",
    )
    alpha = 1.0 - math.exp(-math.log(2.0) * step / hl)
    kw = dict(on="user_id", time_col="ts", value_col="value", chunk_rows=4)
    a_out = {
        r["ts"]: r["ewma"]
        for r in ewma(df, alpha=alpha, **kw).collect()
    }
    h_out = {
        r["ts"]: r["ewma"]
        for r in ewma_irregular(df, halflife_seconds=hl, **kw).collect()
    }
    ks = sorted(a_out)
    assert np.allclose(
        [a_out[k] for k in ks], [h_out[k] for k in ks], rtol=1e-9
    )


def test_ewma_rejections(spark):
    df = spark.createDataFrame([(1, 1, 1.0)], "user_id long, ts long, value double")
    with pytest.raises(ValueError, match="alpha"):
        ewma(df, "user_id", "ts", "value", alpha=0.0)
    with pytest.raises(ValueError, match="alpha"):
        ewma(df, "user_id", "ts", "value", alpha=1.5)
    with pytest.raises(ValueError, match="chunk_rows"):
        ewma(df, "user_id", "ts", "value", alpha=0.5, chunk_rows=1)


def test_ewma_plan_no_python(spark, sf_dir):
    """Entirely Catalyst higher-order folds — no EvalPython node
    (zero-UDF discipline, §2.11) and no cartesian anywhere."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    plan = (
        ewma(ev, on="user_id", time_col="ts", value_col="value", alpha=0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def _sequential_replay(rows, decay):
    """y_i = (1 − d_i)·x_i + d_i·y_{i−1}, y_0 = x_0, per key in clock
    order; ``decay(prev_clock, clock)`` gives d_i."""
    out, last = {}, {}
    for key, clock, x in sorted(rows):
        if key in last:
            prev_clock, y = last[key]
            d = decay(prev_clock, clock)
            x = (1.0 - d) * x + d * y
        last[key] = (clock, x)
        out[(key, clock)] = x
    return out


def _extreme_series(n_keys=2, n=700, seed=11):
    """Per key: sub-second bursts (0.05-0.9 s apart) broken every ~40
    rows by a gap of 10³-3·10³ s, with signed values of mixed size."""
    rng = np.random.default_rng(seed)
    rows = []
    for key in range(n_keys):
        us = 1_700_000_000_000_000 + key * 7
        for i in range(n):
            if i and i % 40 == 0:
                us += int(rng.uniform(1_000, 3_000) * 1_000_000)
            else:
                us += int(rng.uniform(0.05, 0.9) * 1_000_000)
            rows.append((key, us, float(rng.normal(0, 50) * rng.choice([1, 1e3]))))
    return rows


def _assert_matches_replay(got, want):
    assert set(got) == set(want)
    ks = sorted(want)
    g = np.array([got[k] for k in ks])
    w = np.array([want[k] for k in ks])
    assert np.all(np.isfinite(g))
    assert np.allclose(g, w, rtol=1e-9, atol=1e-12), (
        f"max rel err {np.max(np.abs(g - w) / np.maximum(np.abs(w), 1e-12))}"
    )


@pytest.mark.parametrize("chunk_rows", [7, 512])
def test_ewma_irregular_extreme_decays_match_replay(spark, chunk_rows):
    """Halflife 1 s: inside a burst d is near 1, across a gap of ≥10³
    halflives it is below 1e-300, and the series' decay exponent runs
    far past what one double can hold as e^x. Outputs stay finite and
    match the sequential replay at both chunk sizes."""
    import math

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.recurrence import (
        ewma_irregular,
    )

    rows = _extreme_series()
    df = spark.createDataFrame(rows, "user_id long, us long, value double").select(
        "user_id", F.timestamp_micros("us").alias("ts"), "value"
    )
    got = {
        (r["user_id"], r["us"]): r["ewma"]
        for r in ewma_irregular(
            df, on="user_id", time_col="ts", value_col="value",
            halflife_seconds=1.0, chunk_rows=chunk_rows,
        ).select("user_id", F.unix_micros("ts").alias("us"), "ewma").collect()
    }
    lam = math.log(2.0) / 1_000_000.0
    want = _sequential_replay(rows, lambda p, c: math.exp(-lam * (c - p)))
    _assert_matches_replay(got, want)


@pytest.mark.parametrize("alpha", [0.9, 0.999, 1.0])
def test_ewma_alpha_near_one_matches_replay(spark, alpha):
    """Constant α close to 1 decays by |ln(1−α)| per row: 512 rows of
    α = 0.999 span an exponent of ~3.5·10³, beyond e^709. Outputs stay
    finite and match the sequential replay; α = 1 is the identity."""
    rows = [(k, us, x) for k, us, x in _extreme_series(seed=12)]
    df = spark.createDataFrame(rows, "user_id long, us long, value double").select(
        "user_id", F.timestamp_micros("us").alias("ts"), "value"
    )
    got = {
        (r["user_id"], r["us"]): r["ewma"]
        for r in ewma(
            df, on="user_id", time_col="ts", value_col="value",
            alpha=alpha, chunk_rows=512,
        ).select("user_id", F.unix_micros("ts").alias("us"), "ewma").collect()
    }
    want = _sequential_replay(rows, lambda p, c: 1.0 - alpha)
    _assert_matches_replay(got, want)
    if alpha == 1.0:
        assert got == {(k, us): x for k, us, x in rows}
