"""Shared fixtures: one SparkSession per test run, DuckDB oracle con."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sensorstream_scalable_sensor_data_pipeline_spark.session import get_spark
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def commit_state(spark):
    """``commit_state(state_dir, table, bid, frame)`` lays a hand-made
    frame out as one live state batch dir: it writes
    ``<state_dir>/<table>/batch=<bid>`` and commits a manifest version
    naming it, as an ingest's commit does."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators import (
        dedup_incremental as di,
    )

    def commit(state_dir, table, bid, frame):
        m = di._read_manifest(spark, state_dir)
        frame.write.parquet(di._dir(state_dir, table, bid))
        di._publish(spark, state_dir, m, add={table: {bid: None}})

    return commit


@pytest.fixture
def crash_mid_swap(monkeypatch):
    """``with crash_mid_swap():`` makes the second ``os.rename`` in the
    block raise OSError("injected ..."): a crash between the two
    renames of a directory swap."""
    import contextlib

    @contextlib.contextmanager
    def crash():
        real_rename, calls = os.rename, []

        def rename(src, dst):
            calls.append(src)
            if len(calls) == 2:
                raise OSError("injected crash between the swap renames")
            real_rename(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            yield

    return crash


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's oracle setup: each parquet registered as a view."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_DIR)
    yield con
    con.close()
