"""The event-log and progress folds, on a log recorded from a tiny
local job and on hand-written progress records."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import fold, metrics
from perfbench.trace import Tracer, self_time, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """Spans and the event log of three small jobs: a scan, a
    shuffle under a nested span, and a second scan."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("fold")
    log = base / "eventlog"
    log.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(base / "local"))
        .config("spark.sql.warehouse.dir", str(base / "wh"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + str(log))
        .getOrCreate()
    )
    try:
        tracer = Tracer("t", traced=True, spark=spark)
        with tracer.span("scan", op=True):
            spark.range(0, 1000, 1, 2).filter("id % 7 = 0").collect()
        with tracer.span("shuffle", op=True):
            with tracer.span("shuffle.inner"):
                spark.range(0, 20000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        with tracer.span("scan2", op=True):
            spark.range(0, 10, 1, 1).collect()
    finally:
        spark.stop()
    return tracer.spans, str(log)


def _by_name(spans, name):
    return next(s for s in spans if s["name"] == name)["id"]


def test_stages_land_on_the_span_that_ran_them(recorded):
    spans, log = recorded
    folded = fold.fold_event_log(log, spans)
    scan, shuffle, inner, scan2 = (
        folded[_by_name(spans, n)] for n in ("scan", "shuffle", "shuffle.inner", "scan2")
    )
    assert scan["jobs"] >= 1 and scan["tasks"] >= 2
    assert scan["shuffle_write_bytes"] == 0
    assert inner["shuffle_write_bytes"] > 0 and inner["shuffle_read_bytes"] > 0
    # a parent's figures include its children's
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "executor_run_s"):
        assert shuffle[k] == inner[k], k
    assert scan2["jobs"] >= 1
    total_tasks = sum(folded[s["id"]]["tasks"] for s in spans if s["parent"] is None)
    assert total_tasks == scan["tasks"] + shuffle["tasks"] + scan2["tasks"]
    for s in spans:
        f = folded[s["id"]]
        assert 0 <= f["driver_s"] <= s["end"] - s["start"] + 1e-6
        assert f["executor_cpu_s"] >= 0 and f["gc_s"] >= 0


def test_task_skew_reads_the_heaviest_stage():
    assert fold.task_skew({}) == 0.0
    assert fold.task_skew({"1.0": [10, 10, 10], "2.0": [10, 10, 100]}) == 10.0
    assert fold.task_skew({"1.0": [5, 5]}) == 1.0


def test_fold_progress_sums_durations_and_peaks_state():
    progress = [
        {
            "numInputRows": 10,
            "durationMs": {"addBatch": 1000, "getBatch": 5, "queryPlanning": 15,
                           "walCommit": 20, "commitOffsets": 30, "triggerExecution": 1200},
            "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": 700, "numRowsDroppedByWatermark": 1}],
        },
        {
            "numInputRows": 0,
            "durationMs": {"addBatch": 500, "triggerExecution": 600},
            "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 900, "numRowsDroppedByWatermark": 2}],
        },
    ]
    out = fold.fold_progress(progress)
    assert out == {
        "triggers": 2, "add_batch_s": 1.5, "planning_s": 0.02, "commit_s": 0.05,
        "state_rows_max": 7, "state_bytes_max": 900, "late_rows": 3,
    }
    assert fold.trigger_latencies(progress) == [1.2]


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert self_time(spans, 0) == 5.0
    assert self_time(spans, 1) == 2.0


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
