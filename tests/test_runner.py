"""End-to-end runner tests: config validation, incremental runs,
idempotency (re-run ⇒ identical output), regex sensor selection."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.config import (
    PipelineConfig,
    from_dict,
    load_config,
)
from sensorstream_scalable_sensor_data_pipeline_spark.runner import run_pipeline


def _snapshot(spark, path):
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.collect()))


def test_config_validation():
    with pytest.raises(ValueError, match="write_mode"):
        PipelineConfig(input_dir="x", output_dir="y", write_mode="upsert")
    with pytest.raises(ValueError, match="lookback_days"):
        PipelineConfig(input_dir="x", output_dir="y", lookback_days=0)
    with pytest.raises(ValueError, match="unknown config keys"):
        from_dict({"input_dir": "x", "output_dir": "y", "bogus": 1})


def test_load_config_file_and_gated_sources(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"input_dir": "/in", "output_dir": "/out", "lookback_days": 7}))
    cfg = load_config("file", str(p), write_mode="append")
    assert (cfg.lookback_days, cfg.write_mode) == (7, "append")
    with pytest.raises(RuntimeError, match="airflow"):
        load_config("airflow")


def test_run_pipeline_idempotent(spark, sf_dir, tmp_path):
    cfg = PipelineConfig(input_dir=sf_dir, output_dir=str(tmp_path / "out"))
    r1 = run_pipeline(spark, cfg)
    s1 = _snapshot(spark, r1["output"])
    assert r1["rows"] == len(s1) > 0
    # re-run over the same inputs: merged+deduped state is unchanged
    r2 = run_pipeline(spark, cfg)
    s2 = _snapshot(spark, r2["output"])
    assert s1 == s2


def test_run_pipeline_idempotent_append(spark, sf_dir, tmp_path):
    """Append mode must not duplicate rows on re-run: the lookback
    window re-extracts already-materialized rows, and the anti-join
    against recent materialized keys must drop them (ADVICE r1 high)."""
    cfg = PipelineConfig(
        input_dir=sf_dir, output_dir=str(tmp_path / "out"), write_mode="append"
    )
    r1 = run_pipeline(spark, cfg)
    s1 = _snapshot(spark, r1["output"])
    assert r1["rows"] == len(s1) > 0
    r2 = run_pipeline(spark, cfg)
    s2 = _snapshot(spark, r2["output"])
    assert s1 == s2
    r3 = run_pipeline(spark, cfg)
    assert _snapshot(spark, r3["output"]) == s1


def test_run_pipeline_recovers_from_stale_old_dir(spark, sf_dir, tmp_path):
    """A run that died after the second overwrite swap rename (the new
    series already live) leaves '<out>_old' behind; the next run must
    clear it and proceed."""
    import os

    cfg = PipelineConfig(input_dir=sf_dir, output_dir=str(tmp_path / "out"))
    r1 = run_pipeline(spark, cfg)
    s1 = _snapshot(spark, r1["output"])
    stale = r1["output"] + "_old"
    os.makedirs(os.path.join(stale, "junk"))  # non-empty stale dir
    r2 = run_pipeline(spark, cfg)
    assert _snapshot(spark, r2["output"]) == s1
    assert not os.path.exists(stale)


def _mk_inputs(spark, path, rows):
    """Minimal events/customer inputs shaped like the driver tables."""
    import os

    ev = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    ev.write.mode("overwrite").parquet(os.path.join(path, "events.parquet"))
    cust = spark.createDataFrame(
        [(1, "TAG_A"), (2, "TAG_B")], "c_custkey long, c_mktsegment string"
    )
    cust.write.mode("overwrite").parquet(os.path.join(path, "customer.parquet"))


def test_series_layout_is_time_partitioned(spark, sf_dir, tmp_path):
    """The materialized state must be partitionBy(tagpath, year, month)
    so that incremental reads prune: the cutoff MAX and the append
    anti-join scan lookback months, not history. Pinned at the plan
    level: the month predicate must appear as PartitionFilters."""
    import datetime as dt
    import os

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.incremental import (
        partition_months_pred,
    )

    cfg = PipelineConfig(input_dir=sf_dir, output_dir=str(tmp_path / "out"))
    r = run_pipeline(spark, cfg)
    # layout: three nested partition levels on disk
    tag_dirs = [d for d in os.listdir(r["output"]) if d.startswith("tagpath=")]
    assert tag_dirs
    y_dirs = os.listdir(os.path.join(r["output"], tag_dirs[0]))
    assert any(d.startswith("year=") for d in y_dirs)
    # the pruned cutoff scan carries real PartitionFilters
    existing = spark.read.parquet(r["output"])
    pruned = existing.filter(partition_months_pred(dt.datetime(2024, 3, 1)))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "year" in pf and "month" in pf, plan


def test_append_conflict_policies(spark, tmp_path):
    """A late corrected reading for an already-materialized key:
    keep_max (the reference's union+dedup semantics,
    main_pipeline.py:321-328) replaces the value via a
    dynamic-partition-overwrite merge of the lookback months;
    existing_wins (immutable history) keeps the original."""
    import datetime as dt
    import os
    from dataclasses import replace

    now = dt.datetime(2024, 3, 15)
    t = dt.datetime(2024, 3, 10, 12, 0, 0)
    in1, in2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    _mk_inputs(spark, in1, [(t, 1, 5.0)])
    _mk_inputs(spark, in2, [(t, 1, 7.0)])  # corrected reading, same key

    def run_two(policy, out):
        cfg = PipelineConfig(
            input_dir=in1,
            output_dir=out,
            write_mode="append",
            append_conflict=policy,
        )
        run_pipeline(spark, cfg, now=now)
        run_pipeline(spark, replace(cfg, input_dir=in2), now=now)
        rows = spark.read.parquet(os.path.join(out, "series")).collect()
        assert len(rows) == 1
        return rows[0]

    kept = run_two("keep_max", str(tmp_path / "km"))
    assert kept["sensor_value"] == 7.0
    kept = run_two("existing_wins", str(tmp_path / "ew"))
    assert kept["sensor_value"] == 5.0
    with pytest.raises(ValueError, match="append_conflict"):
        PipelineConfig(input_dir="x", output_dir="y", append_conflict="bogus")


def _tree(root):
    """Every file under ``root`` with its size and mtime."""
    import os

    return sorted(
        (os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns)
        for d, _, files in os.walk(root)
        for f in files
        for st in [os.stat(os.path.join(d, f))]
    )


def test_legacy_layout_refused(spark, sf_dir, tmp_path):
    """State written by the pre-(year, month) engine (tagpath-only
    partitioning) is refused in either write mode: the run raises a
    ValueError naming the series path before any write, and leaves
    the file tree as it was."""
    import os
    import re
    from dataclasses import replace

    out = str(tmp_path / "out")
    cfg = PipelineConfig(input_dir=sf_dir, output_dir=out, write_mode="append")
    # Build a legacy store: same series content, tagpath-only layout.
    from sensorstream_scalable_sensor_data_pipeline_spark.runner import build_series
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        write_partitioned,
    )

    legacy = build_series(spark, cfg, None).drop("year", "month")
    series = os.path.join(out, "series")
    write_partitioned(legacy, series, ["tagpath"])
    before = _tree(out)
    for mode in ("append", "overwrite"):
        with pytest.raises(ValueError, match=re.escape(series)):
            run_pipeline(spark, replace(cfg, write_mode=mode))
        assert _tree(out) == before


def test_overwrite_crash_between_swap_renames_keeps_history(
    spark, tmp_path, crash_mid_swap
):
    """The daily overwrite dies between its two swap renames (series
    renamed aside, the new state not yet in place) after the source
    dropped the first day's rows. The retry must restore the history
    before reading it, so the state ends as R1 ∪ R2 with no '_old'
    left; rebuilding from the current inputs alone would lose R1."""
    import datetime as dt
    import os

    now = dt.datetime(2024, 3, 15)
    r1 = [(dt.datetime(2024, 3, 1, 8), 1, 1.0), (dt.datetime(2024, 3, 1, 9), 2, 2.0)]
    r2 = [(dt.datetime(2024, 3, 10, 8), 1, 3.0), (dt.datetime(2024, 3, 10, 9), 2, 4.0)]
    inp = str(tmp_path / "in")
    cfg = PipelineConfig(input_dir=inp, output_dir=str(tmp_path / "out"))
    series = os.path.join(cfg.output_dir, "series")
    _mk_inputs(spark, inp, r1)
    run_pipeline(spark, cfg, now=now)
    _mk_inputs(spark, inp, r2)  # source retention dropped R1

    with crash_mid_swap(), pytest.raises(OSError, match="injected"):
        run_pipeline(spark, cfg, now=now)
    assert not os.path.exists(series) and os.path.exists(series + "_old")

    run_pipeline(spark, cfg, now=now)
    got = spark.read.parquet(series).select("datetime", "sensor_id", "sensor_value")
    assert sorted(map(tuple, got.collect())) == sorted(r1 + r2)
    assert not os.path.exists(series + "_old")
    assert not os.path.exists(series + "_staging")


def test_append_keep_max_idempotent(spark, sf_dir, tmp_path):
    """keep_max appends must also be re-run-safe: the merge is
    deterministic, so running the same increment again rewrites the
    same partitions with identical content."""
    cfg = PipelineConfig(
        input_dir=sf_dir,
        output_dir=str(tmp_path / "out"),
        write_mode="append",
        append_conflict="keep_max",
    )
    r1 = run_pipeline(spark, cfg)
    s1 = _snapshot(spark, r1["output"])
    assert r1["rows"] == len(s1) > 0
    r2 = run_pipeline(spark, cfg)
    assert _snapshot(spark, r2["output"]) == s1


def test_run_pipeline_pattern_selection(spark, sf_dir, tmp_path):
    cfg = PipelineConfig(
        input_dir=sf_dir,
        output_dir=str(tmp_path / "sel"),
        sensor_patterns=("^BUIL", "MACH"),
    )
    run_pipeline(spark, cfg)
    out = spark.read.parquet(str(tmp_path / "sel" / "series"))
    tags = {r["tagpath"] for r in out.select("tagpath").distinct().collect()}
    assert tags == {"BUILDING", "MACHINERY"}
