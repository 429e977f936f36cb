"""Interval merging (operators/asof.py::merge_intervals)."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import merge_intervals
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
EV = os.path.join(SF_DIR, "events.parquet")


def _iv(spark, rows):
    return spark.createDataFrame(
        [
            (k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=s),
             dt.datetime(2024, 1, 1) + dt.timedelta(minutes=e))
            for k, s, e in rows
        ],
        "k long, s timestamp, e timestamp",
    )


def test_merge_intervals_islands(spark):
    iv = _iv(spark, [
        (1, 0, 10), (1, 5, 20), (1, 20, 30),   # overlap + touch -> one island
        (1, 40, 50),                            # separate
        (2, 0, 100), (2, 10, 20),               # contained
    ])
    got = {
        (r["k"], str(r["s"]), str(r["e"]), r["n_merged"])
        for r in merge_intervals(iv, "k", "s", "e").collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:30:00", 3),
        (1, "2024-01-01 00:40:00", "2024-01-01 00:50:00", 1),
        (2, "2024-01-01 00:00:00", "2024-01-01 01:40:00", 2),
    }


def test_merge_intervals_gap_tolerance(spark):
    iv = _iv(spark, [(1, 0, 10), (1, 14, 20)])  # 4-minute gap
    assert merge_intervals(iv, "k", "s", "e").count() == 2
    merged = merge_intervals(iv, "k", "s", "e", min_gap_seconds=300).collect()
    assert len(merged) == 1 and merged[0]["n_merged"] == 2


def test_merge_intervals_matches_oracle(spark, sf_dir):
    """Synthetic maintenance windows from the events table, checked
    against a DuckDB gaps-and-islands twin."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_id") % 11 == 0).select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("e"),
    )
    got = {
        (r["user_id"], str(r["s"]), str(r["e"]), r["n_merged"])
        for r in merge_intervals(iv, "user_id", "s", "e").collect()
    }
    con = duckdb.connect()
    want = {
        (u, str(s), str(e), n)
        for u, s, e, n in con.execute(f"""
            WITH iv AS (
              SELECT user_id, ts AS s, ts + INTERVAL 12 HOUR AS e
              FROM read_parquet('{EV}') WHERE event_id % 11 = 0
            ),
            fl AS (
              SELECT user_id, s, e,
                     CASE WHEN max(epoch_us(e)) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ) IS NULL
                          OR epoch_us(s) > max(epoch_us(e)) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          THEN 1 ELSE 0 END AS new_isl
              FROM iv
            ),
            isl AS (
              SELECT user_id, s, e,
                     sum(new_isl) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS isl
              FROM fl
            )
            SELECT user_id, min(s), max(e), count(*)
            FROM isl GROUP BY user_id, isl
        """).fetchall()
    }
    con.close()
    assert got == want and got
