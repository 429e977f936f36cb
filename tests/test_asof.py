"""As-of join vs DuckDB's NATIVE ASOF JOIN — the strongest oracle
available for the semantics (inclusive ≤, latest-state-wins, null
when nothing precedes). Local-oracle (registry sits at the driver's
50-row cap); plan shape pinned: one keyed window shuffle, no range
join degenerating into per-key cross products."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import asof_join
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from tests.oracle_check import assert_frames_match


def _calib(ev):
    """A deterministic 'calibration state' side: every 97th event is a
    state change carrying its value."""
    return ev.filter(F.col("event_id") % 97 == 0).select(
        "user_id", "ts", F.col("value").alias("calib_value")
    )


def test_asof_join_matches_native_duckdb(spark, duck, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    got = asof_join(
        ev, _calib(ev), on="user_id", time_col="ts", value_cols=["calib_value"]
    ).select("event_id", "calib_value")
    oracle = """
    WITH ev AS (SELECT event_id, user_id, ts, value FROM events),
    calib AS (
      SELECT user_id, ts, max(value) AS calib_value
      FROM events WHERE event_id % 97 = 0 GROUP BY user_id, ts
    )
    SELECT l.event_id, r.calib_value
    FROM ev l ASOF LEFT JOIN calib r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """
    assert_frames_match(got.toPandas(), duck.sql(oracle).df(), "asof_join")


def test_asof_join_semantics_edges(spark):
    """Inclusive at equal timestamps, latest-state-wins between
    states, null before the first state, keys with no state at all."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(5)), (1, t(10)), (1, t(20)), (2, t(7)), (3, t(9))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(15), 150.0), (2, t(8), 80.0)],
        "k long, ts timestamp, v double",
    )
    got = {
        (r["k"], r["ts"].second): r["v"]
        for r in asof_join(left, right, "k", "ts", ["v"]).collect()
    }
    assert got[(1, 5)] is None  # before any state
    assert got[(1, 10)] == 100.0  # inclusive at equality
    assert got[(1, 20)] == 150.0  # latest preceding state wins
    assert got[(2, 7)] is None  # state exists but only later
    assert got[(3, 9)] is None  # key with no state rows


def test_asof_join_null_state_values(spark):
    """A state row whose value columns are genuinely NULL is still the
    latest state: it must MASK older non-null state (DuckDB native
    ASOF semantics — the row attaches, NULLs included), and with
    multiple value columns the output must come from ONE state row,
    never stitched across rows."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(12)), (1, t(22)), (1, t(32))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, t(10), 100.0, "a"),
            (1, t(20), None, "b"),  # NULL v at t=20 must mask v=100
            (1, t(30), 300.0, None),  # NULL u at t=30 must mask u='b'
        ],
        "k long, ts timestamp, v double, u string",
    )
    got = {
        r["ts"].second: (r["v"], r["u"])
        for r in asof_join(left, right, "k", "ts", ["v", "u"]).collect()
    }
    assert got[12] == (100.0, "a")
    assert got[22] == (None, "b")  # not (100.0, 'b') — no stitching
    assert got[32] == (300.0, None)  # not (300.0, 'b')


def test_asof_join_same_instant_tie_breaks_on_full_struct(spark):
    """Duplicate state rows at one (key, instant) whose FIRST value
    column ties but later columns differ: the survivor is max over the
    whole value struct, so the result is identical under any physical
    row order (pinned by shuffling the state side)."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([(1, t(15))], "k long, ts timestamp")
    dup_state = [
        (1, t(10), 5.0, "zzz"),
        (1, t(10), 5.0, "aaa"),  # first col ties; 'zzz' must win
        (1, t(10), 5.0, "mmm"),
    ]
    for nparts in (1, 3, 7):
        right = spark.createDataFrame(
            dup_state, "k long, ts timestamp, v double, u string"
        ).repartition(nparts)
        row = asof_join(left, right, "k", "ts", ["v", "u"]).collect()[0]
        assert (row["v"], row["u"]) == (5.0, "zzz")


def test_asof_join_rejects_value_col_collision(spark):
    """A value column whose name already exists on the left would emit
    two same-named output columns — the operator raises instead."""
    import datetime as dt

    import pytest

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t, 9.0)], "k long, ts timestamp, v double")
    right = spark.createDataFrame([(1, t, 1.0)], "k long, ts timestamp, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, "k", "ts", ["v"])


def test_range_join_matches_duckdb(spark, duck, sf_dir):
    """Bucketed containment join vs the plain BETWEEN join in DuckDB:
    every (reading, window) pair whose window contains the reading,
    including readings inside overlapping windows (two output rows)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        range_join,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    wins = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 151 == 0)
        .select(
            F.col("event_id").alias("win_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        )
    )
    got = range_join(
        ev, wins, on="user_id", time_col="ts",
        start_col="start_ts", end_col="end_ts", bucket_seconds=3600,
    ).select("event_id", "win_id")
    oracle = """
    WITH wins AS (
      SELECT event_id AS win_id, user_id, ts AS start_ts,
             ts + INTERVAL 6 HOUR AS end_ts
      FROM events WHERE event_id % 151 = 0
    )
    SELECT l.event_id, w.win_id
    FROM events l JOIN wins w
      ON l.user_id = w.user_id
     AND l.ts >= w.start_ts AND l.ts <= w.end_ts
    """
    sdf = got.toPandas()
    assert len(sdf) > 0
    assert_frames_match(sdf, duck.sql(oracle).df(), "range_join")
    # plan: keyed equi-join on (key, bucket) — never a nested loop
    plan = (
        range_join(ev, wins, "user_id", "ts", "start_ts", "end_ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resample_locf_matches_duckdb(spark, duck, sf_dir):
    """Regular-grid LOCF resampling vs DuckDB (generate_series grid +
    native ASOF LEFT JOIN): same grids, same carried values, nulls
    only at the aligned floor before a key's first reading."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        resample_locf,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 25 == 0)  # a few keys, long spans
        .select("user_id", "ts", "value")
    )
    got = resample_locf(ev, "user_id", "ts", ["value"], step_seconds=6 * 3600)
    oracle = """
    WITH r AS (
      SELECT user_id, ts, max(value) AS value FROM events
      WHERE user_id % 25 = 0 GROUP BY user_id, ts
    ),
    b AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM r GROUP BY user_id),
    grid AS (
      SELECT user_id,
             unnest(generate_series(
               CAST(to_timestamp(CAST(floor(epoch(mn) / 21600) AS BIGINT) * 21600) AS TIMESTAMP),
               mx, INTERVAL 6 HOUR)) AS ts
      FROM b
    )
    SELECT g.user_id, g.ts, r.value
    FROM grid g ASOF LEFT JOIN r ON g.user_id = r.user_id AND g.ts >= r.ts
    """
    sdf = got.toPandas()
    assert len(sdf) > 0
    assert_frames_match(sdf, duck.sql(oracle).df(), "resample_locf")
    # structural sanity: per key the grid is regular at the step
    some_key = sdf["user_id"].iloc[0]
    one = sorted(r["ts"] for r in got.filter(F.col("user_id") == int(some_key)).collect())
    assert len(one) >= 2
    deltas = {int((b - a).total_seconds()) for a, b in zip(one, one[1:])}
    assert deltas == {6 * 3600}


def test_resample_locf_chunked_grid_equivalence(spark):
    """The two-level chunked grid is exactly the single-sequence grid:
    a chunk size that divides the span unevenly (boundary points at
    chunk edges, a final partial chunk) yields the identical row set
    as one giant chunk."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        resample_locf,
    )

    t0 = dt.datetime(2024, 3, 1, 0, 0, 3)
    rd = spark.createDataFrame(
        [(1, t0, 1.0), (1, t0 + dt.timedelta(seconds=497), 2.0),
         (2, t0 + dt.timedelta(seconds=11), 5.0)],
        "k long, ts timestamp, v double",
    )
    rows = lambda cp: sorted(
        (r["k"], r["ts"], r["v"])
        for r in resample_locf(rd, "k", "ts", ["v"], 5, chunk_points=cp).collect()
    )
    big = rows(10_000)  # one chunk: the unchunked semantics
    assert rows(7) == big  # uneven chunk edges
    assert rows(1) == big  # degenerate: one point per chunk
    # key 1: epoch-offsets 3..500 → aligned floor 0, points 0,5,…,500 = 101;
    # key 2: single reading → one grid point. 102 total.
    assert len(big) == 101 + 1


def test_resample_locf_long_span_no_full_span_array(spark):
    """A key spanning months at a 1 s step (~7.8 M grid points) — far
    beyond what one sequence() array value could hold without
    OOM-class allocations — resamples fine because no single array
    ever exceeds chunk_points elements (the outer chunk sequence is
    ~ceil(n/86400) ≈ 91 elements). Count + endpoints verified."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        resample_locf,
    )

    t0 = dt.datetime(2024, 1, 1)
    span = 7_776_000  # 90 days of seconds
    rd = spark.createDataFrame(
        [(1, t0, 1.0), (1, t0 + dt.timedelta(seconds=span), 2.0)],
        "k long, ts timestamp, v double",
    )
    got = resample_locf(rd, "k", "ts", ["v"], 1)
    assert got.count() == span + 1
    agg = got.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx"),
        F.count(F.when(F.col("v") == 2.0, 1)).alias("n2"),
    ).collect()[0]
    assert agg["mn"] == t0
    assert agg["mx"] == t0 + dt.timedelta(seconds=span)
    assert agg["n2"] == 1  # LOCF: only the final instant carries 2.0


def test_rate_of_change_matches_duckdb(spark, duck, sf_dir):
    """Lag-based derivative vs the identical window in DuckDB; NULL at
    each key's first reading and on zero-interval repeats (the x/0
    cross-engine divergence the guard exists for)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        rate_of_change,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    got = rate_of_change(ev, "user_id", "ts", "value").select(
        "event_id", "rate_per_s"
    )
    oracle = """
    SELECT event_id,
           CASE WHEN epoch_us(ts - lag(ts) OVER w) > 0
                THEN (value - lag(value) OVER w)
                     / (CAST(epoch_us(ts - lag(ts) OVER w) AS DOUBLE) / 1000000.0)
           END AS rate_per_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """
    assert_frames_match(got.toPandas(), duck.sql(oracle).df(), "rate_of_change")
    # every key's earliest reading has no rate
    firsts = (
        ev.groupBy("user_id").agg(F.min("ts").alias("ts")).join(ev, ["user_id", "ts"])
    )
    j = got.join(firsts.select("event_id"), "event_id")
    assert j.filter(F.col("rate_per_s").isNotNull()).count() == 0


def test_asof_join_bucketed_equals_plain(spark, sf_dir):
    """The range-split variant is a pure execution-strategy change:
    its output must equal asof_join's exactly, for bucket sizes that
    put many empty buckets between states (1h), align with the data
    (1d), and degenerate to a single bucket (10y)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        asof_join_bucketed,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    want = sorted(
        (r["event_id"], r["calib_value"])
        for r in asof_join(ev, _calib(ev), "user_id", "ts", ["calib_value"]).collect()
    )
    for bs in (3600, 86_400, 10 * 365 * 86_400, "auto"):
        got = sorted(
            (r["event_id"], r["calib_value"])
            for r in asof_join_bucketed(
                ev, _calib(ev), "user_id", "ts", ["calib_value"], bucket_seconds=bs
            ).collect()
        )
        assert got == want, f"bucket_seconds={bs} diverged"


def test_choose_range_bucket_seconds_median(spark):
    """Range-join auto sizing takes the MEDIAN interval length (one
    outlier cannot coarsen it); empty interval side falls back."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        choose_range_bucket_seconds,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, t0 + dt.timedelta(seconds=100)),
        (1, t0, t0 + dt.timedelta(seconds=120)),
        (2, t0, t0 + dt.timedelta(seconds=110)),
        (2, t0, t0 + dt.timedelta(days=365)),  # outlier
    ]
    iv = spark.createDataFrame(rows, "k long, s timestamp, e timestamp")
    bs = choose_range_bucket_seconds(iv, "s", "e")
    assert 100 <= bs <= 120, bs
    empty = iv.filter(F.col("k") == 99)
    assert choose_range_bucket_seconds(empty, "s", "e") == 3600


def test_range_join_auto_equals_fixed(spark, sf_dir):
    """bucket_seconds='auto' is a pure sizing change: the pair set
    must equal a pinned-size run exactly."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        range_join,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    wins = ev.filter(F.col("event_id") % 23 == 0).select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    key = lambda df: sorted(
        (r["event_id"], r["start_ts"]) for r in df.collect()
    )
    want = key(
        range_join(ev, wins, "user_id", "ts", "start_ts", "end_ts", 3600)
    )
    got = key(range_join(ev, wins, "user_id", "ts", "start_ts", "end_ts"))
    assert got == want


def test_choose_bucket_seconds_density(spark):
    """Auto sizing derives bucket_seconds from the hottest key's
    measured rows/s: a 10 k-row key spanning 10 000 s at target 1 000
    rows/bucket → 1 000 s buckets; a cold companion key (under the
    target) imposes no constraint."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        choose_bucket_seconds,
    )

    hot = spark.range(10_000).select(
        F.lit(1).alias("k"), F.timestamp_micros(F.col("id") * 1_000_000).alias("ts")
    )
    cold = spark.range(10).select(
        F.lit(2).alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000_000).alias("ts"),
    )
    bs = choose_bucket_seconds(hot.unionByName(cold), "k", "ts", target_rows=1_000)
    # density ≈ 10_000 rows / 9_999 s ≈ 1.0001 rows/s → just under 1000
    assert 900 <= bs <= 1_000, bs


def test_choose_bucket_seconds_no_hot_key_single_bucket(spark):
    """When no key exceeds the target, auto returns the full data span
    — ONE bucket, so the decomposition degenerates to the plain join
    (no split overhead paid for skew that isn't there)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        choose_bucket_seconds,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    bs = choose_bucket_seconds(df, "k", "ts", target_rows=1_000)
    assert bs >= 99, bs  # ≥ the 99 s span: everything lands in one bucket


def test_choose_bucket_seconds_right_side_hot_key(spark):
    """A hot key whose density lives on the RIGHT/state side must
    still shrink the bucket: the within-bucket pass sorts the UNION of
    both sides' rows per key, so profiling only the quiet left frame
    would size the bucket from the wrong side and hand the hot key
    straight back to the single-task funnel (r10 ADVICE finding)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        choose_bucket_seconds,
    )

    quiet_left = spark.range(10).select(
        F.lit(1).alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000_000).alias("ts"),
    )
    hot_right = spark.range(10_000).select(
        F.lit(1).alias("k"), F.timestamp_micros(F.col("id") * 1_000_000).alias("ts")
    )
    # left alone: no key over target → full span (one bucket)
    assert choose_bucket_seconds(quiet_left, "k", "ts", target_rows=1_000) >= 9_000
    # union with the hot right side: density ≈ 1 row/s → ~1000 s buckets
    bs = choose_bucket_seconds(
        quiet_left, "k", "ts", target_rows=1_000, right=hot_right
    )
    assert 900 <= bs <= 1_100, bs


def test_asof_join_bucketed_null_state_across_buckets(spark):
    """NULL-state semantics must survive the split: a state row with a
    NULL field in an EARLIER bucket still masks older non-null state
    for rows in later buckets (the incoming-state carry attaches the
    whole row, NULLs included — no coalesce leak-through)."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        asof_join_bucketed,
    )

    t = lambda h: dt.datetime(2024, 1, 1, h, 0, 0)
    left = spark.createDataFrame(
        [(1, t(1)), (1, t(7)), (1, t(13))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(0), 10.0, "a"), (1, t(6), None, "b")],
        "k long, ts timestamp, v double, u string",
    )
    got = {
        r["ts"].hour: (r["v"], r["u"])
        for r in asof_join_bucketed(
            left, right, "k", "ts", ["v", "u"], bucket_seconds=3600
        ).collect()
    }
    assert got[1] == (10.0, "a")
    # buckets 7 and 13 have no in-bucket state; incoming is the t(6)
    # row whose v is genuinely NULL — must NOT fall back to 10.0
    assert got[7] == (None, "b")
    assert got[13] == (None, "b")


def _run_in_job_group(spark, fn):
    """``fn()`` and the number of Spark jobs it submitted."""
    import uuid

    sc = spark.sparkContext
    gid = f"asof-route-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_bucketed_auto_routes_by_hot_key(spark, monkeypatch):
    """``bucket_seconds="auto"`` pays for the bucketed plan only when
    the pre-flight finds a hot key. With none (900 rows on the busiest
    key, under the default target), the call submits no more jobs than
    the pre-flight plus plain :func:`asof_join`, and no ``_bk`` window
    is planned. With the target lowered under that key's row count,
    the same call runs the ``_bk`` plan. Both equal the plain join."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators import asof

    left = spark.range(1_000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, F.col("id") % 3 + 2).otherwise(1).alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    right = spark.range(0, 1_000, 7).select(
        F.when(F.col("id") % 2 == 0, 1).otherwise(F.col("id") % 3 + 2).alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )

    def run(how):
        def go():
            df = how(left, right, "k", "ts", ["v"])
            rows = sorted((r["id"], r["v"]) for r in df.collect())
            return rows, _executed_plan(df)

        return _run_in_job_group(spark, go)

    (want, _), plain_jobs = run(asof.asof_join)
    _, preflight_jobs = _run_in_job_group(
        spark, lambda: asof.choose_bucket_seconds(left, "k", "ts", right=right)
    )
    (got, plan), auto_jobs = run(asof.asof_join_bucketed)
    assert got == want
    assert auto_jobs <= plain_jobs + preflight_jobs, (
        auto_jobs, plain_jobs, preflight_jobs
    )
    assert "_bk" not in plan

    monkeypatch.setattr(asof, "AUTO_BUCKET_TARGET_ROWS", 100)
    (got, plan), _ = run(asof.asof_join_bucketed)
    assert got == want
    assert "_bk" in plan


def test_asof_join_hot_key_skew_correctness(spark):
    """One hot key carrying 2M readings (every other key's volume is
    negligible): the keyed-window sort serializes in a single task —
    the operator's skew funnel (quantified in the asof_join docstring:
    2.5-4.7x at 8M rows vs a 32-key spread). This pins that the hot
    path stays CORRECT under that load: carried values are exact at
    state boundaries and the row count is preserved."""
    n = 2_000_000
    left = spark.range(n).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    left = left.unionByName(
        spark.range(10).select(
            F.lit(2).alias("k"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        )
    )
    # state changes every 1000 s on the hot key only
    right = spark.range(n // 1000).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 1000).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    out = asof_join(left, right, "k", "ts", ["v"])
    agg = out.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("n_filled"),
        F.sum("v").alias("s"),
    ).collect()
    by_k = {r["k"]: r for r in agg}
    assert by_k[1]["n"] == n and by_k[1]["n_filled"] == n
    # v at offset t is floor(t/1000): sum over t in [0, n) is
    # 1000 * sum(j for j in [0, n/1000)) = 1000 * (m-1)m/2
    m = n // 1000
    assert int(by_k[1]["s"]) == 1000 * (m - 1) * m // 2
    assert by_k[2]["n"] == 10 and by_k[2]["n_filled"] == 0  # no state on key 2
    # NB: the exact sum equality above is the boundary check — it only
    # holds if every offset t carries floor(t/1000), i.e. each state
    # change applies inclusively AT its instant and persists until the
    # next one.


def test_skewed_bench_heads_are_equivalent(spark, sf_dir):
    """The bench skew pair (plain vs bucketed as-of on the hot-key
    workload, one key carrying ~50% of rows) must produce identical
    per-key summaries — the bucketed head's number is only evidence
    if it computes the same thing."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.temporal import (
        asof_join_skewed_bucketed_head,
        asof_join_skewed_head,
    )

    rows = lambda df: sorted(
        (
            r["user_id"],
            r["n_readings"],
            r["n_calibrated"],
            None if r["avg_calib"] is None else round(r["avg_calib"], 9),
        )
        for r in df.collect()
    )
    plain = rows(asof_join_skewed_head(spark, sf_dir))
    bucketed = rows(asof_join_skewed_bucketed_head(spark, sf_dir))
    assert plain == bucketed
    # the workload is actually skewed: key 0 holds ~half the rows
    counts = {u: n for u, n, _, _ in plain}
    assert counts[0] > 0.4 * sum(counts.values())


def test_stream_asof_enrich_equals_batch(spark, sf_dir, tmp_path):
    """Streaming face of the as-of join: the same readings delivered
    across FOUR micro-batches (maxFilesPerTrigger=1 over a 4-file
    landing dir) through per-batch as-of enrichment must equal the
    batch as-of over the whole table — as-of against static state is
    per-row, so batching must be invisible."""
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_enrich,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    state = _calib(ev)
    landing = str(tmp_path / "landing")
    ev.repartition(4).write.parquet(landing)
    phys = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    got = stream_asof_enrich(
        spark, stream, state, "user_id", "ts", ["calib_value"],
        out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    want = asof_join(ev, state, "user_id", "ts", ["calib_value"])
    pairs = lambda df: sorted(
        (r["event_id"], r["calib_value"]) for r in df.collect()
    )
    assert pairs(got) == pairs(want)


def test_stream_asof_enrich_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: replaying every micro-batch into
    the SAME output dir (fresh checkpoint, same 4-file source => same
    batch ids) must leave the result identical — each batch dynamically
    overwrites its own _batch_id partition instead of appending
    duplicates."""
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_enrich,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    state = _calib(ev)
    landing = str(tmp_path / "landing")
    ev.repartition(4).write.parquet(landing)
    phys = spark.read.parquet(landing).schema

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(phys)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        return stream_asof_enrich(
            spark, stream, state, "user_id", "ts", ["calib_value"],
            out_dir=str(tmp_path / "out"), checkpoint_dir=ckpt,
        )

    first = run(str(tmp_path / "ckpt1")).count()
    replayed = run(str(tmp_path / "ckpt2"))  # full redelivery
    assert replayed.count() == first
    want = asof_join(ev, state, "user_id", "ts", ["calib_value"])
    pairs = lambda df: sorted(
        (r["event_id"], r["calib_value"]) for r in df.collect()
    )
    assert pairs(replayed) == pairs(want)


def test_stream_sink_compaction_roundtrip(spark, sf_dir, tmp_path):
    """The maintenance story end-to-end: the per-micro-batch enrich
    sink leaves one-file-per-batch fragments; compacting the sink dir
    reduces files and preserves the enrichment result exactly."""
    import os

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        compact_parquet_dir,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_enrich,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    state = _calib(ev)
    landing = str(tmp_path / "landing")
    ev.repartition(4).write.parquet(landing)
    phys = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    out = str(tmp_path / "out")
    stream_asof_enrich(
        spark, stream, state, "user_id", "ts", ["calib_value"],
        out_dir=out, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pairs = lambda df: sorted(
        (r["event_id"], r["calib_value"]) for r in df.collect()
    )
    want = pairs(spark.read.parquet(out).drop("_batch_id"))
    before, after = compact_parquet_dir(spark, out, sort_col="event_id")
    assert after < before
    assert pairs(spark.read.parquet(out)) == want
    assert not os.path.exists(out + "_old")


def test_stream_interval_join_caps_interval_length(spark, sf_dir):
    """max_duration is a hard cap: with intervals LONGER than the cap,
    the streamed result must equal the batch range_join against
    end-clamped intervals (matches beyond start+max_duration expire
    with the state store, by design)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        range_join,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        stream_events,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_interval_join,
    )

    def wins_of(df):
        return df.filter(F.col("event_id") % 151 == 0).select(
            F.col("event_id").alias("win_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        )

    s_ev = stream_events(spark, sf_dir).select("event_id", "user_id", "ts")
    joined = stream_interval_join(
        s_ev, wins_of(stream_events(spark, sf_dir)),
        on="user_id", time_col="ts",
        start_col="start_ts", end_col="end_ts",
        max_duration="2 hours",  # cap < the 6-hour interval length
    )
    got = {
        (r["event_id"], r["win_id"])
        for r in drain_to_memory(joined, output_mode="append").collect()
    }
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    clamped = wins_of(load_table(spark, sf_dir, "events")).withColumn(
        "end_ts",
        F.least(F.col("end_ts"), F.col("start_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    want = {
        (r["event_id"], r["win_id"])
        for r in range_join(
            ev, clamped, on="user_id", time_col="ts",
            start_col="start_ts", end_col="end_ts", bucket_seconds=3600,
        ).collect()
    }
    assert got == want and got


def test_stream_interval_join_equals_batch_range_join(spark, sf_dir):
    """Stream-stream containment join (both sides watermarked, time
    bound in the condition) drained over bounded input must equal the
    batch range_join pair set exactly."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        range_join,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        stream_events,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_interval_join,
    )

    def wins_of(df):
        return df.filter(F.col("event_id") % 151 == 0).select(
            F.col("event_id").alias("win_id"),
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        )

    s_ev = stream_events(spark, sf_dir).select("event_id", "user_id", "ts")
    s_wins = wins_of(stream_events(spark, sf_dir))
    joined = stream_interval_join(
        s_ev, s_wins, on="user_id", time_col="ts",
        start_col="start_ts", end_col="end_ts",
    )
    got = {
        (r["event_id"], r["win_id"])
        for r in drain_to_memory(joined, output_mode="append").collect()
    }
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    want = {
        (r["event_id"], r["win_id"])
        for r in range_join(
            ev, wins_of(load_table(spark, sf_dir, "events")),
            on="user_id", time_col="ts",
            start_col="start_ts", end_col="end_ts", bucket_seconds=3600,
        ).collect()
    }
    assert got == want and got


def test_stream_latest_state_equals_batch_max_by(spark, sf_dir, tmp_path):
    """Stateful latest-state maintenance across micro-batches: the
    final emission per key must equal the batch max_by(value, ts),
    with state surviving a forced 4-micro-batch delivery (late
    batches must never regress a newer state)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_latest_state,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    landing = str(tmp_path / "landing")
    ev.repartition(4).write.parquet(landing)
    phys = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        normalize_event_ts,
    )

    live = stream_latest_state(
        normalize_event_ts(stream), on="user_id", time_col="ts", value_col="value"
    )
    drained = drain_to_memory(live, output_mode="update")
    got = {
        r["user_id"]: (r["ts_us"], r["value"])
        for r in drained.groupBy("user_id").agg(
            F.max(F.struct("ts_us", "value")).alias("s")
        ).select("user_id", "s.ts_us", "s.value").collect()
    }
    want = {
        r["user_id"]: (r["ts_us"], r["value"])
        for r in ev.groupBy("user_id").agg(
            F.max_by(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"), F.col("value")
                ),
                F.struct("ts", "value"),
            ).alias("s")
        ).select("user_id", "s.ts_us", "s.value").collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0], k  # latest timestamp matches


def test_stream_state_enrich_pipeline_equals_batch(spark, sf_dir, tmp_path):
    """The composed pipeline (state STREAM → maintained latest-state
    table → per-batch as-of on a reading stream) across forced
    4-micro-batch delivery on BOTH streams must equal the batch as-of
    against the final maintained table, and the maintained table must
    equal the batch max_by over the state events."""
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        normalize_event_ts,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_state_enrich_pipeline,
    )

    ev = load_table(spark, sf_dir, "events")
    readings = ev.select("event_id", "user_id", "ts")
    states = ev.filter(F.col("event_id") % 97 == 0).select(
        "user_id", "ts", F.col("value").alias("calib")
    )

    def landed_stream(df, name):
        landing = str(tmp_path / name)
        df.repartition(4).write.parquet(landing)
        phys = spark.read.parquet(landing).schema
        return normalize_event_ts(
            spark.readStream.schema(phys)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

    got = stream_state_enrich_pipeline(
        spark,
        landed_stream(states, "state_landing"),
        landed_stream(readings, "reading_landing"),
        on="user_id",
        time_col="ts",
        value_col="calib",
        work_dir=str(tmp_path / "work"),
    )
    # final maintained table == batch latest state per key
    final_state = states.groupBy("user_id").agg(
        F.max_by(F.struct("ts", "calib"), F.struct("ts", "calib")).alias("s")
    ).select("user_id", "s.ts", "s.calib")
    want = asof_join(readings, final_state, "user_id", "ts", ["calib"])
    pairs = lambda df: sorted(
        (r["event_id"], r["calib"]) for r in df.collect()
    )
    assert pairs(got) == pairs(want)


def test_asof_join_plan_is_single_keyed_window(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    plan = (
        asof_join(ev, _calib(ev), "user_id", "ts", ["calib_value"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def _land(tmp_path, name, dfs):
    """Write each frame as one file into a landing dir (ordered file
    names → deterministic micro-batch order under maxFilesPerTrigger)."""
    import glob as _glob
    import shutil as _shutil

    landing = str(tmp_path / name)
    os.makedirs(landing, exist_ok=True)
    for i, df in enumerate(dfs):
        stage = str(tmp_path / f"_{name}_{i}")
        df.coalesce(1).write.parquet(stage)
        src = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        _shutil.copy(src, os.path.join(landing, f"{i:03d}.parquet"))
    return landing


def _stream_dir(spark, landing):
    phys = spark.read.parquet(landing).schema
    return (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def test_stream_interval_join_outer_emits_null_for_unmatched(spark, tmp_path):
    """Left-outer stream-stream interval join: matched readings pair
    with their windows; a reading outside every window — or on a key
    with no window at all — emits exactly once with NULL interval
    columns after the watermark passes (forced here by a far-future
    flush row per side, so the trailing no-data batch releases the
    state)."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_interval_join_outer,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1)
    ev_schema = "event_id long, user_id long, ts timestamp"
    win_schema = (
        "win_id long, user_id long, start_ts timestamp, end_ts timestamp"
    )
    readings = spark.createDataFrame(
        [
            (1, 10, t0 + dt.timedelta(hours=1)),  # inside the window
            (2, 10, t0 + dt.timedelta(hours=5)),  # same key, outside
            (3, 20, t0 + dt.timedelta(hours=1)),  # key with no window
        ],
        ev_schema,
    )
    flush_ev = spark.createDataFrame(
        [(99, 999, t0 + dt.timedelta(days=400))], ev_schema
    )
    wins = spark.createDataFrame(
        [(7, 10, t0, t0 + dt.timedelta(hours=2))], win_schema
    )
    flush_win = spark.createDataFrame(
        [(98, 999, t0 + dt.timedelta(days=400),
          t0 + dt.timedelta(days=400, hours=1))],
        win_schema,
    )
    sev = _stream_dir(spark, _land(tmp_path, "ev", [readings, flush_ev]))
    swin = _stream_dir(spark, _land(tmp_path, "win", [wins, flush_win]))
    joined = stream_interval_join_outer(
        sev, swin, on="user_id", time_col="ts",
        start_col="start_ts", end_col="end_ts",
        watermark="1 minute", max_duration="6 hours",
    )
    got = [
        r for r in drain_to_memory(joined, output_mode="append").collect()
        if r["event_id"] < 90  # the flush rows are harness, not data
    ]
    pairs = {(r["event_id"], r["win_id"]) for r in got}
    assert pairs == {(1, 7), (2, None), (3, None)}
    assert len(got) == 3  # each unmatched reading emitted exactly once
    for r in got:
        if r["win_id"] is None:
            assert r["start_ts"] is None and r["end_ts"] is None


def test_stream_interval_join_outer_equals_batch_left_outer(spark, sf_dir, tmp_path):
    """Drained over bounded real input (with watermark-flush
    sentinels), the outer stream join must equal the batch left-outer
    oracle: the range_join pair set plus one NULL row per never-
    matched reading."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        range_join,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_interval_join_outer,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select("event_id", "user_id", "ts")
    )
    wins = ev.filter(F.col("event_id") % 151 == 0).select(
        F.col("event_id").alias("win_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    far = mx + dt.timedelta(days=400)
    flush_ev = spark.createDataFrame(
        [(999_999_999, 999_999, far)], ev.schema
    )
    flush_win = spark.createDataFrame(
        [(999_999_998, 999_999, far, far + dt.timedelta(hours=1))], wins.schema
    )
    sev = _stream_dir(spark, _land(tmp_path, "oev", [ev, flush_ev]))
    swin = _stream_dir(spark, _land(tmp_path, "owin", [wins, flush_win]))
    joined = stream_interval_join_outer(
        sev, swin, on="user_id", time_col="ts",
        start_col="start_ts", end_col="end_ts",
        watermark="1 minute", max_duration="6 hours",
    )
    got = {
        (r["event_id"], r["win_id"])
        for r in drain_to_memory(joined, output_mode="append").collect()
        if r["event_id"] < 999_999_990
    }
    matched = range_join(
        ev, wins, on="user_id", time_col="ts",
        start_col="start_ts", end_col="end_ts", bucket_seconds=3600,
    )
    want = {(r["event_id"], r["win_id"]) for r in matched.collect()}
    matched_ids = {e for e, _ in want}
    want |= {
        (r["event_id"], None)
        for r in ev.collect()
        if r["event_id"] not in matched_ids
    }
    assert got == want
    assert any(w is None for _, w in got)  # never-matched rows present


def test_stream_asof_join_equals_batch(spark, sf_dir, tmp_path):
    """The TRUE stream-stream as-of (applyInPandasWithState) drained
    over bounded input must equal the batch asof_join exactly —
    readings and calibration state both arriving as streams, flush
    sentinels driving the final watermark."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_join,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select("event_id", "user_id", "ts", "value")
    )
    calib = ev.filter(F.col("event_id") % 97 == 0).select(
        "user_id", "ts", F.col("value").alias("calib_value")
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    far = mx + dt.timedelta(days=400)
    flush_r = spark.createDataFrame(
        [(999_999_999, 999_999, far, 0.0)], ev.schema
    )
    flush_s = spark.createDataFrame([(999_999, far, 0.0)], calib.schema)
    s_ev = _stream_dir(spark, _land(tmp_path, "aev", [ev, flush_r]))
    s_st = _stream_dir(spark, _land(tmp_path, "ast", [calib, flush_s]))
    joined = stream_asof_join(
        s_ev.select("event_id", "user_id", "ts"), s_st,
        on="user_id", time_col="ts", id_col="event_id",
        value_col="calib_value", watermark="1 minute",
    )
    got = {
        r["event_id"]: r["calib_value"]
        for r in drain_to_memory(joined, output_mode="append").collect()
        if r["event_id"] < 999_999_990
    }
    want = {
        r["event_id"]: r["calib_value"]
        for r in asof_join(
            ev.select("event_id", "user_id", "ts"), calib,
            on="user_id", time_col="ts", value_cols=["calib_value"],
        ).collect()
    }
    assert got == want and got
    assert any(v is None for v in got.values())  # pre-first-state readings


def test_stream_asof_join_cross_stream_late_state(spark, tmp_path):
    """The guarantee the per-micro-batch composition cannot give: a
    state change DELIVERED after the reading's batch but with an
    EARLIER event time still attaches — readings finalize only when
    the watermark proves no older state can arrive."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    ev_schema = "event_id long, user_id long, ts timestamp"
    st_schema = "user_id long, ts timestamp, calib_value double"
    reading = spark.createDataFrame(
        [(1, 10, t0 + dt.timedelta(hours=5))], ev_schema
    )
    late_state = spark.createDataFrame(  # older event time, later delivery
        [(10, t0 + dt.timedelta(hours=3), 42.0)], st_schema
    )
    flush_r = spark.createDataFrame(
        [(99, 999, t0 + dt.timedelta(days=400))], ev_schema
    )
    flush_s = spark.createDataFrame(
        [(999, t0 + dt.timedelta(days=400), 0.0)], st_schema
    )
    s_ev = _stream_dir(spark, _land(tmp_path, "lev", [reading, flush_r]))
    s_st = _stream_dir(
        spark, _land(tmp_path, "lst", [spark.createDataFrame([], st_schema),
                                       late_state, flush_s])
    )
    joined = stream_asof_join(
        s_ev, s_st, on="user_id", time_col="ts", id_col="event_id",
        value_col="calib_value", watermark="1 minute",
    )
    rows = [
        r for r in drain_to_memory(joined, output_mode="append").collect()
        if r["event_id"] < 90
    ]
    assert len(rows) == 1
    assert rows[0]["calib_value"] == 42.0  # late-delivered older state attached


def test_stream_asof_join_null_state_value_masks(spark, tmp_path):
    """A state row whose value is NULL is still the latest state — it
    attaches (as NULL) and masks older non-null state, mirroring the
    batch operator's DuckDB-native semantics; NaN never enters a raw
    tuple comparison in the ordering."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    ev_schema = "event_id long, user_id long, ts timestamp"
    st_schema = "user_id long, ts timestamp, calib_value double"
    readings = spark.createDataFrame(
        [(1, 10, t0 + dt.timedelta(hours=2)),
         (2, 10, t0 + dt.timedelta(hours=6))],
        ev_schema,
    )
    states = spark.createDataFrame(
        [(10, t0 + dt.timedelta(hours=1), 7.0),
         (10, t0 + dt.timedelta(hours=4), None)],  # NULL masks 7.0
        st_schema,
    )
    flush_r = spark.createDataFrame([(99, 999, t0 + dt.timedelta(days=400))], ev_schema)
    flush_s = spark.createDataFrame([(999, t0 + dt.timedelta(days=400), 0.0)], st_schema)
    s_ev = _stream_dir(spark, _land(tmp_path, "nev", [readings, flush_r]))
    s_st = _stream_dir(spark, _land(tmp_path, "nst", [states, flush_s]))
    joined = stream_asof_join(
        s_ev, s_st, on="user_id", time_col="ts", id_col="event_id",
        value_col="calib_value", watermark="1 minute",
    )
    got = {
        r["event_id"]: r["calib_value"]
        for r in drain_to_memory(joined, output_mode="append").collect()
        if r["event_id"] < 90
    }
    assert got == {1: 7.0, 2: None}


def test_stream_asof_join_random_batch_splits(spark, tmp_path):
    """Cross-batch disorder on BOTH streams: readings and state rows
    shuffled into interleaved micro-batches (seeded) must still equal
    the batch as-of — finalization depends only on the watermark,
    never on delivery order."""
    import datetime as dt
    import random

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_join,
    )

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    ev_schema = "event_id long, user_id long, ts timestamp"
    st_schema = "user_id long, ts timestamp, calib_value double"
    readings = [
        (i, rng.randrange(3), t0 + dt.timedelta(minutes=rng.randrange(500)))
        for i in range(40)
    ]
    states = [
        (rng.randrange(3), t0 + dt.timedelta(minutes=rng.randrange(500)),
         float(rng.randrange(100)))
        for _ in range(15)
    ]
    rng.shuffle(readings)
    rng.shuffle(states)
    far = t0 + dt.timedelta(days=400)
    r_files = [
        spark.createDataFrame(readings[i::3], ev_schema) for i in range(3)
    ] + [spark.createDataFrame([(999, 999, far)], ev_schema)]
    s_files = [
        spark.createDataFrame(states[i::3], st_schema) for i in range(3)
    ] + [spark.createDataFrame([(999, far, 0.0)], st_schema)]
    joined = stream_asof_join(
        _stream_dir(spark, _land(tmp_path, "rev", r_files)),
        _stream_dir(spark, _land(tmp_path, "rst", s_files)),
        on="user_id", time_col="ts", id_col="event_id",
        value_col="calib_value", watermark="10 hours",
    )
    # watermark must COVER the disorder span (500 min): like every
    # watermarked stateful op, input later than the delay is dropped
    # at ingestion — the operator's documented contract, not a bug.
    got = {
        r["event_id"]: r["calib_value"]
        for r in drain_to_memory(joined, output_mode="append").collect()
        if r["event_id"] < 900
    }
    bl = spark.createDataFrame(readings, ev_schema)
    br = spark.createDataFrame(states, st_schema)
    want = {
        r["event_id"]: r["calib_value"]
        for r in asof_join(
            bl, br, on="user_id", time_col="ts", value_cols=["calib_value"]
        ).collect()
    }
    assert got == want and len(got) == 40


def test_stream_asof_join_preserves_large_ids(spark, tmp_path):
    """Reading ids above 2^53 must survive: a nullable long chunk
    materializes as float64 in pandas and silently corrupts them, so
    the state side carries a sentinel instead of NULL
    (review-found)."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        stream_asof_join,
    )

    big = (1 << 60) + 12345  # not representable in float64
    t0 = dt.datetime(2024, 1, 1)
    ev_schema = "event_id long, user_id long, ts timestamp"
    st_schema = "user_id long, ts timestamp, calib_value double"
    readings = spark.createDataFrame(
        [(big, 10, t0 + dt.timedelta(hours=2))], ev_schema
    )
    states = spark.createDataFrame(
        [(10, t0 + dt.timedelta(hours=1), 5.0)], st_schema
    )
    flush_r = spark.createDataFrame([(99, 999, t0 + dt.timedelta(days=400))], ev_schema)
    flush_s = spark.createDataFrame([(999, t0 + dt.timedelta(days=400), 0.0)], st_schema)
    joined = stream_asof_join(
        _stream_dir(spark, _land(tmp_path, "bev", [readings, flush_r])),
        _stream_dir(spark, _land(tmp_path, "bst", [states, flush_s])),
        on="user_id", time_col="ts", id_col="event_id",
        value_col="calib_value", watermark="1 minute",
    )
    rows = [
        r for r in drain_to_memory(joined, output_mode="append").collect()
        if r["user_id"] == 10
    ]
    assert len(rows) == 1
    assert rows[0]["event_id"] == big  # exact, not float-rounded
    assert rows[0]["calib_value"] == 5.0


def test_stream_asof_join_head_matches_batch_summary(spark, sf_dir):
    """The bench head's drained summary must equal the same summary
    computed from the BATCH as-of join over the identical readings /
    calibration split — the head measures cost, this pins that what
    it measures is the correct join. The head reads the keyed landing
    its setup hook built, and does not land it again."""
    import pytest

    import sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal as st

    st.stream_asof_join_head_setup(spark, sf_dir)
    r_dir, s_dir = st.land_asof_streams(spark, sf_dir)
    landed = {d: os.stat(d).st_mtime_ns for d in (os.path.dirname(r_dir), r_dir, s_dir)}
    got = st.stream_asof_join_head(spark, sf_dir).collect()[0]
    assert st.land_asof_streams(spark, sf_dir) == (r_dir, s_dir)
    assert {d: os.stat(d).st_mtime_ns for d in landed} == landed
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    calib = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % st._ASOF_HEAD_STATE_MOD == 0)
        .select("user_id", "ts", F.col("value").alias("calib_value"))
    )
    want = (
        asof_join(ev, calib, on="user_id", time_col="ts",
                  value_cols=["calib_value"])
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.count("calib_value").alias("n_matched"),
            F.avg("calib_value").alias("avg_calib"),
            F.avg(F.unix_micros("ts")).alias("avg_ts_us"),
        )
        .collect()[0]
    )
    assert got["n_readings"] == want["n_readings"] > 0
    assert got["n_matched"] == want["n_matched"] > 0
    assert got["avg_calib"] == pytest.approx(want["avg_calib"], rel=1e-12)
    assert got["avg_ts_us"] == pytest.approx(want["avg_ts_us"], rel=1e-12)
