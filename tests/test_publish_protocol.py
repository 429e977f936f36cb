"""The two directory-publish protocols of ``sources/writers.py`` on the
plain filesystem, no Spark: ``staged_swap`` (replace a live dir, heal a
crashed swap) and ``publish_once`` (land a keyed cache dir once)."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    bench_cache_dir,
    publish_once,
    staged_swap,
)


def _put(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _get(path):
    with open(path) as f:
        return f.read()


def _write_stage(text):
    return lambda stage: _put(os.path.join(stage, "data"), text)


def test_publish_once_failed_build_leaves_nothing(tmp_path):
    out = str(tmp_path / "cache")

    def build(stage):
        _put(os.path.join(stage, "half"), "x")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        publish_once(out, build)
    assert os.listdir(tmp_path) == []


def test_publish_once_skips_builder_when_out_exists(tmp_path):
    out = str(tmp_path / "cache")
    assert publish_once(out, _write_stage("first")) == out

    def never(stage):
        raise AssertionError("builder called for a published dir")

    assert publish_once(out, never) == out
    assert _get(os.path.join(out, "data")) == "first"
    assert os.listdir(tmp_path) == ["cache"]


def test_publish_once_race_loser_keeps_winners_copy(tmp_path):
    """A concurrent builder publishes while this one builds: the
    loser's rename fails against the complete dir, so it deletes its
    stage and returns the winner's bytes."""
    out = str(tmp_path / "cache")

    def build_while_winner_lands(stage):
        _put(os.path.join(stage, "data"), "loser")
        _put(os.path.join(out, "data"), "winner")

    assert publish_once(out, build_while_winner_lands) == out
    assert _get(os.path.join(out, "data")) == "winner"
    assert glob.glob(out + ".tmp.*") == []


def test_publish_once_rename_failure_without_winner_raises(tmp_path, monkeypatch):
    out = str(tmp_path / "cache")

    def refuse(src, dst):
        raise OSError("rename refused")

    monkeypatch.setattr(os, "rename", refuse)
    with pytest.raises(OSError, match="rename refused"):
        publish_once(out, _write_stage("x"))
    assert os.listdir(tmp_path) == []


def test_bench_cache_dir_keys_every_input():
    a = bench_cache_dir("corpus_images", "/sf", "images", "v1")
    assert a == bench_cache_dir("corpus_images", "/sf", "images", "v1")
    assert os.path.dirname(a) == tempfile.gettempdir()
    assert os.path.basename(a).startswith("spark_graft_bench_")
    assert "_corpus_images_" in os.path.basename(a)
    others = {
        bench_cache_dir("corpus_audio", "/sf", "images", "v1"),
        bench_cache_dir("corpus_images", "/sf2", "images", "v1"),
        bench_cache_dir("corpus_images", "/sf", "images", "v2"),
    }
    assert a not in others and len(others) == 3


def _live(tmp_path):
    live = str(tmp_path / "live")
    _put(os.path.join(live, "data"), "old")
    return live


def test_staged_swap_without_stage_write_keeps_live(tmp_path):
    live = _live(tmp_path)
    with staged_swap(live):
        _put(os.path.join(live, "more"), "appended")
    assert sorted(os.listdir(live)) == ["data", "more"]
    assert os.listdir(tmp_path) == ["live"]


def test_staged_swap_body_failure_keeps_live(tmp_path):
    live = _live(tmp_path)
    with pytest.raises(RuntimeError):
        with staged_swap(live) as stage:
            _put(os.path.join(stage, "data"), "new")
            raise RuntimeError("write died")
    assert _get(os.path.join(live, "data")) == "old"
    assert os.listdir(tmp_path) == ["live"]


@pytest.mark.parametrize("window", ["none", "before", "between", "after"])
def test_staged_swap_heals_each_crash_window(tmp_path, window):
    """Lay out what a crash in each window leaves (nothing for
    "none"); entering the next swap must show the body the right live
    content, clean up, and swap the body's stage in."""
    live = _live(tmp_path)
    stage, old = live + "_staging", live + "_old"
    if window != "none":
        _put(os.path.join(stage, "data"), "crashed attempt")
    if window == "between":
        os.rename(live, old)
    elif window == "after":
        os.rename(live, old)
        os.rename(stage, live)
    seen = "crashed attempt" if window == "after" else "old"
    with staged_swap(live) as st:
        assert _get(os.path.join(live, "data")) == seen
        assert not os.path.exists(old) and not os.path.exists(st)
        _put(os.path.join(st, "data"), "retry")
    assert _get(os.path.join(live, "data")) == "retry"
    assert os.listdir(tmp_path) == ["live"]
