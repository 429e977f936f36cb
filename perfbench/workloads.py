"""The four workloads: a fixed operation sequence each ("iteration"),
run against fresh state until the run's time is used up.

Every engine call goes through the package's public functions. An
operation is one top-level call the workload times (``op`` span); the
checks in ``perfbench/checks.py`` run on what each call returned.

Each ``run_*`` returns an iteration record::

    {"ops": [(name, seconds)], "op_latencies": [s, ...],
     "backfill_s": s, "failures": [msg, ...], "attempted": n,
     "failed": n, "layer": {...per-layer counters...}}

An operation that raises, or whose result check fails, is one failed
operation.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import functools
import json
import os
import shutil
import sys
import traceback
from typing import Any, Callable

from pyspark.sql import functions as F

from perfbench import checks
from perfbench import gen
from perfbench.fold import trigger_latencies
from perfbench.trace import Tracer, duration


class OpFailed(Exception):
    """An operation raised; the iteration stops at that operation."""


class Iteration:
    """Collects one iteration's operations, latencies and failures."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.ops: list[tuple[str, float]] = []
        self.op_latencies: list[float] = []
        self.backfill_s: float | None = None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.current: dict[str, Any] = {}
        self.layer: dict[str, Any] = {}

    def op(self, name: str, fn: Callable[[], Any], latency: bool = True) -> Any:
        """Run one operation under an op span; a raise is a failure."""
        self.attempted += 1
        with self.tracer.span(name, op=True) as rec:
            self.current = rec
            try:
                out = fn()
            except Exception as exc:  # the op boundary: record and stop the iteration
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"{name} raised {type(exc).__name__}: {exc}")
                self.failed += 1
                raise OpFailed(name) from exc
        self.ops.append((name, duration(rec)))
        if latency:
            self.op_latencies.append(duration(rec))
        return out

    def check(self, name: str, fn: Callable[[], list[str]]) -> None:
        """A result check, timed as a (non-latency) span so traced
        top-level spans cover the whole iteration."""
        with self.tracer.span(f"verify.{name}"):
            msgs = fn()
        self.failures.extend(msgs)
        self.failed += bool(msgs)
        for m in msgs:
            print(f"CHECK FAILED: {m}", file=sys.stderr)

    def whole_pass_is_first_run(self) -> None:
        """For a batch job whose one run is the whole pass (the
        read-only analytics, the media dedup), its first run into empty
        state is the pass: the sum of its calls."""
        self.backfill_s = sum(t for _, t in self.ops)

    def mean_call_latency(self) -> None:
        """For a pass of different calls, the repeated operation's
        latency is the pass's mean call latency: a median pooled over
        unlike calls falls between two call types and jumps between
        them from run to run."""
        lat = self.op_latencies
        self.op_latencies = [sum(lat) / len(lat)] if lat else []

    def record(self) -> dict[str, Any]:
        return {
            "ops": self.ops,
            "op_latencies": self.op_latencies,
            "backfill_s": self.backfill_s,
            "failures": self.failures,
            "attempted": self.attempted,
            "failed": self.failed,
            "layer": self.layer,
        }


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _link(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def _file_stats(root: str, since: float, suffix: str = ".parquet") -> tuple[int, int]:
    n = size = 0
    for r, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            if f.endswith(suffix) and os.path.getmtime(p) >= since:
                n += 1
                size += os.path.getsize(p)
    return n, size


# ------------------------------------------------------------ sensor_daily


def run_sensor_daily(ctx: "Context", i: int) -> dict[str, Any]:
    """Backfill into empty state, then one scheduled run per landed
    day with the write mode pinned (append/existing_wins,
    append/keep_max, overwrite), then read the final series back."""
    from sensorstream_scalable_sensor_data_pipeline_spark import runner, schedule
    from sensorstream_scalable_sensor_data_pipeline_spark.config import PipelineConfig

    it = Iteration(ctx.tracer)
    exp, plan = ctx.expected, ctx.expected["plan"]
    base = _fresh(os.path.join(ctx.work, f"daily{i}"))
    in_dir, out_dir = os.path.join(base, "in"), os.path.join(base, "out")
    events = os.path.join(in_dir, "events.parquet")
    os.makedirs(events)
    _link(os.path.join(ctx.inputs, "customer.parquet"), os.path.join(in_dir, "customer.parquet"))
    _link(os.path.join(ctx.inputs, "history", "part-h.parquet"), os.path.join(events, "part-h.parquet"))
    cfg = PipelineConfig(
        input_dir=in_dir,
        output_dir=out_dir,
        lookback_days=gen.DAILY_LOOKBACK_DAYS,
        default_start_date=gen.DAILY_START.date().isoformat(),
    )
    counters = it.layer.setdefault("runner", {"attempts": 0, "rows_out": 0})

    def run_fn_for(now: dt.datetime) -> Callable[..., dict]:
        run = functools.partial(runner.run_pipeline, now=now)
        if not ctx.tracer.traced:
            return run

        def traced_run(spark, cfg_):
            counters["attempts"] += 1
            with ctx.tracer.span("runner.run_pipeline"):
                return run(spark, cfg_)

        return traced_run

    steps = [(plan["backfill_now"], "overwrite", "existing_wins", None)] + [
        (d["now"], d["write_mode"], d["append_conflict"], d["file"]) for d in plan["days"]
    ]
    try:
        for k, (now_s, mode, conflict, fname) in enumerate(steps):
            if fname is not None:  # the day's file lands
                _link(os.path.join(ctx.inputs, "days", fname), os.path.join(events, fname))
            now = dt.datetime.fromisoformat(now_s)
            run_cfg = dataclasses.replace(cfg, append_conflict=conflict)
            stats = it.op(
                "backfill" if k == 0 else "daily_run",
                lambda: schedule.scheduled_run(
                    ctx.spark, run_cfg, run_date=now.date(), write_mode=mode,
                    run_fn=run_fn_for(now),
                ),
                latency=k > 0,
            )
            if k == 0:
                it.backfill_s = it.ops[-1][1]
            counters["rows_out"] += stats["rows"]
            it.check(f"run{k}", lambda: checks.check_daily_run(k, stats["rows"], exp))
        row = it.op(
            "read_series",
            lambda: ctx.spark.read.parquet(os.path.join(out_dir, "series"))
            .agg(F.count(F.lit(1)).alias("n"), F.expr(gen.DAILY_CHECKSUM_SPARK).alias("c"))
            .first(),
            latency=False,
        )
        it.check("final", lambda: checks.check_daily_final(row["n"], int(row["c"]), exp))
    except OpFailed:
        pass
    return it.record()


def daily_traced_hooks(ctx: "Context") -> None:
    """Deeper runner boundaries, reached by wrapping the attributes the
    runner calls through (traced runs only)."""
    from sensorstream_scalable_sensor_data_pipeline_spark import runner

    writes = ctx.layer_totals.setdefault("writers", {"files_out": 0, "bytes_out": 0})

    def after_write(rec, _out, args, kwargs):
        n, size = _file_stats(args[1], rec["start"])
        writes["files_out"] += n
        writes["bytes_out"] += size

    ctx.tracer.wrap(runner, "compute_cutoff_pruned", "runner.cutoff")
    ctx.tracer.wrap(runner, "write_partitioned", "runner.write", after=after_write)
    ctx.tracer.wrap(runner, "validate_output", "runner.validate")


# -------------------------------------------------------- sensor_analytics


def _summary(df, value_col: str | None, key_cols: tuple[str, ...] = ()) -> dict[str, int]:
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(F.count(value_col).alias("n_value"))
    if key_cols:
        # order-independent content checksum (Spark's murmur3 ``hash``)
        aggs.append(F.sum(F.hash(*key_cols).cast("long")).alias("checksum"))
    return {k: int(v) if v is not None else 0 for k, v in df.agg(*aggs).first().asDict().items()}


def run_sensor_analytics(ctx: "Context", i: int) -> dict[str, Any]:
    """Each temporal operator over the hot-key readings, collected as
    a summary row; plain and bucketed as-of must agree."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators import anomaly, asof, recurrence

    it = Iteration(ctx.tracer)
    rd = ctx.spark.read.parquet(os.path.join(ctx.inputs, "readings.parquet"))
    st = ctx.spark.read.parquet(os.path.join(ctx.inputs, "state.parquet"))
    iv = ctx.spark.read.parquet(os.path.join(ctx.inputs, "intervals.parquet"))
    on, t = "sensor_id", "ts"
    calls: list[tuple[str, Callable[[], dict[str, int]]]] = [
        ("asof_join", lambda: _summary(
            asof.asof_join(rd, st, on=on, time_col=t, value_cols=["calib"]),
            "calib", (on, t, "calib"))),
        ("asof_join_bucketed", lambda: _summary(
            asof.asof_join_bucketed(rd, st, on=on, time_col=t, value_cols=["calib"], bucket_seconds="auto"),
            "calib", (on, t, "calib"))),
        ("range_join", lambda: _summary(
            asof.range_join(rd, iv, on=on, time_col=t, start_col="win_start", end_col="win_end"), None)),
        ("resample_locf", lambda: _summary(
            asof.resample_locf(rd, on=on, time_col=t, value_cols=["value"], step_seconds=gen.ANALYTICS_STEP_S),
            "value")),
        ("rate_of_change", lambda: _summary(
            asof.rate_of_change(rd, on=on, time_col=t, value_col="value"), "rate_per_s")),
        ("ewma_irregular", lambda: _summary(
            recurrence.ewma_irregular(rd, on=on, time_col=t, value_col="value", halflife_seconds=3600.0),
            "ewma")),
        ("rolling_zscore", lambda: _summary(
            anomaly.rolling_zscore(rd, on=on, time_col=t, value_col="value", window_seconds=3600), None)),
    ]
    results: dict[str, dict[str, int]] = {}
    try:
        for name, fn in calls:
            results[name] = it.op(name, fn)
        it.whole_pass_is_first_run()
        it.mean_call_latency()
        it.check("analytics", lambda: checks.check_analytics(results, ctx.expected))
    except OpFailed:
        pass
    return it.record()


# ----------------------------------------------------------- stream_ingest

FUNNEL_STEPS = ["view", "click", "purchase"]


def _file_stream(spark, path: str):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def run_stream_ingest(ctx: "Context", i: int) -> dict[str, Any]:
    """Drain the funnel one file per trigger, then drain the fuzzy
    dedup ingest into a fresh state dir, then read the corpus."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators import dedup_incremental
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.funnel import stream_funnel
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.ingest import stream_ingest
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.observability import drain_with_progress

    it = Iteration(ctx.tracer)
    spark, exp = ctx.spark, ctx.expected
    base = _fresh(os.path.join(ctx.work, f"stream{i}"))
    layer = it.layer
    try:
        def funnel():
            out = stream_funnel(
                _file_stream(spark, os.path.join(ctx.inputs, "events")),
                on="user_id", time_col="ts", type_col="event_type",
                steps=FUNNEL_STEPS, watermark=gen.STREAM_WATERMARK,
            )
            table, progress = drain_with_progress(out, "append")
            if progress:
                it.current["groups"].append(progress[0]["runId"])
            n = table.filter(F.col("user_id") != gen.STREAM_FLUSH_USER).count()
            return n, progress

        chains, f_prog = it.op("funnel_drain", funnel, latency=False)
        layer["funnel_progress"] = f_prog
        ctx.stream_chains.append(chains)

        accepted: list[int] = []

        def ingest_fn(spark_, batch, state_dir, batch_id=None, **kw):
            with ctx.tracer.span("ingest.batch"):
                out = dedup_incremental.ingest_fuzzy_batch(
                    spark_, batch, state_dir, batch_id=batch_id, **kw
                )
                accepted.append(out.count())
            return out

        state = os.path.join(base, "state")

        def ingest():
            q = stream_ingest(
                spark, _file_stream(spark, os.path.join(ctx.inputs, "docs")),
                state, os.path.join(base, "ckpt"), run_id=f"it{i}", ingest_fn=ingest_fn,
            )
            it.current["groups"].append(str(q.runId))
            q.awaitTermination(170)
            if q.isActive:
                q.stop()
                raise TimeoutError("ingest drain did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return [json.loads(p.json) for p in q.recentProgress]

        i_prog = it.op("ingest_drain", ingest, latency=False)
        layer["ingest_progress"] = i_prog
        row = it.op(
            "read_accepted",
            lambda: dedup_incremental.read_accepted(spark, state).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc_id").alias("ids"),
                F.count(F.when(F.col("doc_id") >= exp["redeliver_base"], 1)).alias("synth"),
            ).first(),
            latency=False,
        )
        lat_f, lat_i = trigger_latencies(f_prog), trigger_latencies(i_prog)
        it.op_latencies = lat_f + lat_i
        it.backfill_s = lat_i[0] if lat_i else None
        layer["ingest"] = {
            "accepted": sum(accepted),
            "rejected": exp["docs"] - sum(accepted),
            "input": exp["docs"],
            "state_dir": state,
        }
        it.check("ingest", lambda: checks.check_ingest(
            accepted, row["n"], row["ids"], row["synth"], len(accepted), exp))
    except OpFailed:
        pass
    return it.record()


def stream_ingest_traced_hooks(ctx: "Context") -> None:
    from sensorstream_scalable_sensor_data_pipeline_spark.operators import dedup_incremental

    ctx.tracer.wrap(dedup_incremental, "maintain_state", "ingest.maintain")


def stream_ingest_finish(ctx: "Context") -> list[str]:
    """After the timed phase: the batch funnel over the same events,
    once, against every iteration's streaming count."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.funnel import funnel_match

    ev = ctx.spark.read.parquet(os.path.join(ctx.inputs, "events")).filter(
        F.col("user_id") != gen.STREAM_FLUSH_USER
    )
    batch = funnel_match(ev, on="user_id", time_col="ts", type_col="event_type", steps=FUNNEL_STEPS).count()
    out: list[str] = []
    for n in ctx.stream_chains:
        out += checks.check_funnel(n, batch, ctx.expected)
    return out


# ------------------------------------------------------------- media_dedup

MEDIA_CALLS = ("dedup_audio", "dedup_phash", "dedup_videos", "decontaminate_videos")


def run_media_dedup(ctx: "Context", i: int) -> dict[str, Any]:
    """Audio, image and video near-dup dedup plus video
    decontamination, each quarantining corrupt payloads; survivors are
    collected and compared with the planted closed form."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators import audio_fp, phash, video_dedup

    it = Iteration(ctx.tracer)
    spark, exp = ctx.spark, ctx.expected

    def read(name):
        return spark.read.parquet(os.path.join(ctx.inputs, f"{name}.parquet"))

    def ids(df):
        return sorted(r[0] for r in df.select("doc_id").collect())

    calls = {
        "dedup_audio": lambda: ids(audio_fp.dedup_audio(read("audio"), "doc_id", "payload", on_error="quarantine")),
        "dedup_phash": lambda: ids(phash.dedup_phash(read("images"), "doc_id", "payload", max_hamming=8, on_error="quarantine")),
        "dedup_videos": lambda: ids(video_dedup.dedup_videos(read("videos"), "doc_id", "payload", every_n=2, on_error="quarantine")),
        "decontaminate_videos": lambda: ids(video_dedup.decontaminate_videos(
            read("videos"), read("video_eval"), "doc_id", "payload", every_n=2, on_error="quarantine")),
    }
    quarantined = 0
    try:
        for name in MEDIA_CALLS:
            survivors = it.op(name, calls[name])
            it.check(name, lambda: checks.check_media(name, survivors, exp))
            q_key = {"dedup_audio": "audio", "dedup_phash": "images"}.get(name, "videos")
            quarantined += len(set(survivors) & set(exp["quarantined"][q_key]))
        it.whole_pass_is_first_run()
        it.mean_call_latency()
    except OpFailed:
        pass
    it.layer["decode"] = {"quarantined": quarantined}
    return it.record()


# --------------------------------------------------------------- registry


class Context:
    """Everything one run's iterations share."""

    def __init__(self, spark, tracer: Tracer, inputs: str, work: str, expected: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.expected = expected
        self.layer_totals: dict[str, dict[str, float]] = {}
        self.stream_chains: list[int] = []


WORKLOADS: dict[str, dict[str, Callable[..., Any] | None]] = {
    "sensor_daily": {"iteration": run_sensor_daily, "traced_hooks": daily_traced_hooks},
    "sensor_analytics": {"iteration": run_sensor_analytics},
    "stream_ingest": {
        "iteration": run_stream_ingest,
        "traced_hooks": stream_ingest_traced_hooks,
        "finish": stream_ingest_finish,
    },
    "media_dedup": {"iteration": run_media_dedup},
}
