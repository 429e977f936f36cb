"""Exact stratified sampling (operators/sampling.py) vs DuckDB oracles."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
    sample_per_group,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
EV = os.path.join(SF_DIR, "events.parquet")


def duck(sql: str):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


# ----------------------------------------------------- stratified sample


def test_sample_per_group_matches_oracle(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    got = {
        (r["user_id"], r["event_id"])
        for r in sample_per_group(ev, "user_id", "event_id", 10).collect()
    }
    want = {
        (u, e)
        for u, e in duck(f"""
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY md5('stratum:' || CAST(event_id AS VARCHAR)),
                                event_id
                     ) AS rk
              FROM read_parquet('{EV}')
            ) WHERE rk <= 10
        """)
    }
    assert got == want


def test_sample_per_group_exact_counts_and_stability(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    out = sample_per_group(ev, "user_id", "event_id", 7)
    sizes = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {u: min(7, c) for u, c in totals.items()}
    # repartition-stable: the picks are a property of the data
    again = {
        (r["user_id"], r["event_id"])
        for r in sample_per_group(
            ev.repartition(13), "user_id", "event_id", 7
        ).collect()
    }
    assert again == {(r["user_id"], r["event_id"]) for r in out.collect()}
    with pytest.raises(ValueError):
        sample_per_group(ev, "user_id", "event_id", 0)


def test_sample_per_group_salt_decorrelates(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    a = {
        (r["user_id"], r["event_id"])
        for r in sample_per_group(ev, "user_id", "event_id", 10).collect()
    }
    b = {
        (r["user_id"], r["event_id"])
        for r in sample_per_group(
            ev, "user_id", "event_id", 10, salt="other"
        ).collect()
    }
    assert a != b  # different salts pick different strata


# ---------------------------------------------------- weighted sampling


def test_weighted_sample_matches_oracle(spark, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        sample_per_group_weighted,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    got = {
        (r["user_id"], r["event_id"])
        for r in sample_per_group_weighted(
            ev, "user_id", "event_id", 8, "value"
        ).collect()
    }
    want = {
        (u, e)
        for u, e in duck(f"""
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY es DESC NULLS LAST, event_id
                     ) AS rk, es
              FROM (
                SELECT user_id, event_id,
                       CASE WHEN CAST(value AS DOUBLE) > 0 THEN
                         ln((CAST(CAST(('0x' || substr(md5('wstratum:' ||
                               CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
                             AS DOUBLE) + 0.5) / 4503599627370496.0)
                          / CAST(value AS DOUBLE)
                       END AS es
                FROM read_parquet('{EV}')
              )
            ) WHERE rk <= 8 AND es IS NOT NULL
        """)
    }
    assert got == want


def test_weighted_sample_properties(spark):
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        sample_per_group_weighted,
    )

    rows = [(1, i, 1000.0 if i < 5 else 0.001) for i in range(50)]
    rows += [(1, 100, 0.0), (1, 101, None)]  # never selectable
    df = spark.createDataFrame(rows, "g long, k long, w double")
    out = sample_per_group_weighted(df, "g", "k", 10, "w")
    ks = {r["k"] for r in out.collect()}
    assert len(ks) == 10
    assert {0, 1, 2, 3, 4} <= ks  # heavy weights dominate the sample
    assert 100 not in ks and 101 not in ks  # zero/NULL weight excluded
    # deterministic under repartition
    again = {
        r["k"]
        for r in sample_per_group_weighted(
            df.repartition(7), "g", "k", 10, "w"
        ).collect()
    }
    assert again == ks
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_per_group_weighted(df, "g", "k", 0, "w")


def test_sample_per_group_duplicate_keys_deterministic(spark):
    """Rows sharing key_col used to tie on (md5, key) and fall back to
    partition arrival order (r7 verdict #6); the full-row struct
    tiebreak makes the draw partitioning-independent. Same picks under
    opposite partitionings, exactly n per group."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        sample_per_group,
    )

    rows = [("g", 1, p) for p in ["a", "b", "c", "d", "e", "f"]] + [
        ("g", 2, p) for p in ["x", "y", "z"]
    ]
    df = spark.createDataFrame(rows, ["grp", "k", "payload"])
    picks = []
    for parts in (1, 7):
        got = sample_per_group(df.repartition(parts), "grp", "k", n=4)
        picks.append(sorted((r["k"], r["payload"]) for r in got.collect()))
        assert len(picks[-1]) == 4
    assert picks[0] == picks[1]


def test_sample_per_group_dotted_column_name(spark):
    """A payload column whose literal name contains a dot must not
    break the duplicate-key tiebreak (df[c] accessor, not F.col —
    review-found regression risk)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        sample_per_group,
    )

    rows = [("g", i, f"p{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["grp", "k", "pay.load"])
    got = sample_per_group(df, "grp", "k", n=3)
    assert got.count() == 3
