"""The drain contract and the per-batch sink's replay guarantee
(``streaming/pipeline.py`` module docstring): every public drain entry
point stops its query and raises ``TimeoutError`` at the bound, and a
batch replayed after a crash at the checkpoint commit does not
duplicate its rows."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from sensorstream_scalable_sensor_data_pipeline_spark.streaming import pipeline
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.observability import (
    drain_with_progress,
)
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
    drain,
    drain_to_memory,
    drain_to_parquet,
    file_stream,
    land_files,
)
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
    stream_asof_enrich,
    stream_state_enrich_pipeline,
)

SCHEMA = "id long, pc long, seq long, user_id long, ts timestamp, v double"
T0 = dt.datetime(2024, 1, 1)


def _rows(batch):
    return [
        (batch * 10 + i, i % 2, batch, i % 3, T0 + dt.timedelta(minutes=batch * 10 + i), float(i))
        for i in range(5)
    ]


def _landing(spark, tmp_path, name="landing", cols=None):
    frames = [spark.createDataFrame(_rows(b), SCHEMA) for b in range(3)]
    if cols is not None:
        frames = [f.select(*cols) for f in frames]
    return land_files(frames, str(tmp_path / name))


def _state(spark):
    return spark.createDataFrame(
        [(0, T0, 1.0), (1, T0, 2.0)], "user_id long, ts timestamp, calib double"
    )


def _entry_points():
    """name -> fn(spark, tmp_path) running one drain over a 3-file
    landing (one file per trigger)."""
    ck = lambda p: str(p / "ckpt")  # noqa: E731
    return {
        "drain": lambda s, p: drain(
            s, file_stream(s, _landing(s, p)).writeStream.format("memory").queryName("t_drain")
        ),
        "drain_to_memory": lambda s, p: drain_to_memory(file_stream(s, _landing(s, p)), "append"),
        "drain_with_progress": lambda s, p: drain_with_progress(
            file_stream(s, _landing(s, p)), "append"
        ),
        "drain_to_parquet": lambda s, p: drain_to_parquet(
            file_stream(s, _landing(s, p)), str(p / "out")
        ),
        "stream_asof_enrich": lambda s, p: stream_asof_enrich(
            s, file_stream(s, _landing(s, p)), _state(s), "user_id", "ts", ["calib"],
            out_dir=str(p / "out"), checkpoint_dir=ck(p),
        ),
        "stream_state_enrich_pipeline": lambda s, p: stream_state_enrich_pipeline(
            s,
            file_stream(s, _landing(s, p)),
            file_stream(s, _landing(s, p, "readings", ["id", "user_id", "ts"])),
            on="user_id", time_col="ts", value_col="v", work_dir=str(p / "work"),
        ),
    }


@pytest.mark.parametrize("entry", sorted(_entry_points()))
def test_drain_overrun_stops_and_raises(spark, tmp_path, monkeypatch, entry):
    """With the bound far below the run time, the drain must stop its
    query and raise — not return what the sink holds so far and leave
    the query running — and must restore the progress-retention conf."""
    key = "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(key, None)
    monkeypatch.setattr(pipeline, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="still running"):
        _entry_points()[entry](spark, tmp_path)
    assert spark.streams.active == []
    assert spark.conf.get(key, None) == before


def test_drain_to_parquet_replay_after_commit_crash(spark, tmp_path):
    """A crash between the sink's write of the last batch and its
    checkpoint commit (the commit file missing) replays that batch on
    restart from the same checkpoint; the read-back must not change."""
    landing = _landing(spark, tmp_path)
    out = str(tmp_path / "sink")
    cols = ["id", "pc", "seq", "user_id", "ts", "v"]

    def run():
        path = drain_to_parquet(file_stream(spark, landing), out)
        return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())

    first = run()
    assert len(first) == 15
    commits = os.path.join(out, "_checkpoint", "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last == 2  # one batch per landed file
    for n in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    assert run() == first
    assert os.path.exists(os.path.join(commits, str(last)))  # the batch was replayed


def test_land_files_pins_delivery_order(spark, tmp_path):
    """Files land one per frame, with strictly increasing mtimes in
    list order, and the stream delivers them in that order."""
    landing = _landing(spark, tmp_path)
    names = sorted(n for n in os.listdir(landing) if not n.startswith("."))
    assert names == ["000.parquet", "001.parquet", "002.parquet"]
    mtimes = [os.stat(os.path.join(landing, n)).st_mtime for n in names]
    assert mtimes == sorted(set(mtimes))
    out = drain_to_parquet(file_stream(spark, landing), str(tmp_path / "out"))
    got = {(r["_batch_id"], r["seq"]) for r in spark.read.parquet(out).collect()}
    assert got == {(0, 0), (1, 1), (2, 2)}


def test_stream_sensor_pipeline_leaves_no_sink_dir(spark, sf_dir):
    """The registry's sink query drains into a dir its call owns and
    removes: the temp dir lists the same ``ss_sink_*`` entries before
    and after one call, and the returned frame still reads."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.streaming_queries import (
        stream_sensor_pipeline,
    )

    def sinks():
        return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("ss_sink_")}

    before = sinks()
    out = stream_sensor_pipeline(spark, sf_dir)
    assert sinks() == before
    assert out.count() > 0
