"""From a run's raw measurements to its metrics and result record.

End-to-end metrics are per-iteration medians (the iteration is the
workload's fixed operation sequence), so a run that fits more
iterations reports the same quantities with more samples. Per-layer
metrics of a traced run are per-iteration figures too: a count, a
byte total or a summed time is the run total divided by the number of
iterations; a per-call latency is the median over its calls.
"""

from __future__ import annotations

import os
import statistics
from typing import Any

from perfbench import fold, gen
from perfbench.trace import duration, self_time
from perfbench.workloads import MEDIA_CALLS

TEMPORAL_CALLS = (
    "asof_join",
    "asof_join_bucketed",
    "range_join",
    "resample_locf",
    "rate_of_change",
    "ewma_irregular",
    "rolling_zscore",
)
SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_s",
)

#: every end-to-end metric an untraced run reports, with its unit
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "run_s": "s",
    "cpu_s": "s",
    "records_per_s": "1/s",
    "op_p50_s": "s",
    "backfill_s": "s",
}

#: every per-layer metric a traced run reports, with its unit
PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "sources.input_records": "count",
    "sources.input_bytes": "bytes",
    "runner.cutoff_s": "s",
    "runner.write_s": "s",
    "runner.validate_s": "s",
    "runner.rows_out": "count",
    "schedule.attempts": "count",
    "writers.files_out": "count",
    "writers.bytes_out": "bytes",
    "writers.bytes_per_user_byte": "ratio",
    **{f"temporal.{c}_s": "s" for c in TEMPORAL_CALLS},
    "asof.task_skew": "ratio",
    "asof.shuffle_bytes": "bytes",
    "asof.spill_bytes": "bytes",
    **{f"media.{c}_s": "s" for c in MEDIA_CALLS},
    "decode.python_cpu_s": "s",
    "decode.worker_rss_peak_mb": "MB",
    "decode.items": "count",
    "decode.quarantined": "count",
    **{f"spark.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count") for k in SPARK_METRICS},
    "host.steal_cores": "cores",
    "host.iowait_cores": "cores",
    "trace.run_s": "s",
    "trace.span_coverage": "ratio",
}

#: the streaming and incremental-ingest layers, reported by traced
#: ``stream_ingest`` runs only (that workload is not in BENCHMARK.json;
#: see perfbench/README.md)
STREAM_LAYER: dict[str, str] = {
    **{
        f"streaming.{q}.{k}": u
        for q in ("funnel", "ingest")
        for k, u in (
            ("triggers", "count"),
            ("add_batch_s", "s"),
            ("planning_s", "s"),
            ("commit_s", "s"),
            ("state_rows_max", "count"),
            ("state_bytes_max", "bytes"),
            ("late_rows", "count"),
        )
    },
    "ingest.batch_s": "s",
    "ingest.accepted": "count",
    "ingest.rejected": "count",
    "ingest.accept_frac": "ratio",
    "ingest.maintain_s": "s",
    "ingest.state_files": "count",
    "ingest.state_bytes": "bytes",
    "ingest.provenance_bytes": "bytes",
}


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(expected: dict, setups: list[dict], warm_pass: dict, iters: list[dict]) -> dict[str, float]:
    return {
        "setup_s": _med([s["build_s"] + s["warmup_s"] for s in setups]) + warm_pass["wall_s"],
        "run_s": (run_s := _med([it["wall_s"] for it in iters])),
        "cpu_s": _med([it["cpu_s"] for it in iters]),
        "records_per_s": expected["records"] / run_s if run_s > 0 else 0.0,
        "op_p50_s": _med([x for it in iters for x in it["op_latencies"]]),
        # the cold pass's first operation: what a freshly scheduled
        # process pays for its first run into empty state
        "backfill_s": warm_pass["backfill_s"] or 0.0,
    }


def _spans_named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name and s["end"] is not None]


def _dir_stats(root: str) -> tuple[int, int, int]:
    """(files, bytes, bytes of _sources.json provenance files)."""
    n = size = prov = 0
    for r, _, fs in os.walk(root):
        for f in fs:
            b = os.path.getsize(os.path.join(r, f))
            n += 1
            size += b
            if f == "_sources.json":
                prov += b
    return n, size, prov


def per_layer(
    workload: str,
    expected: dict,
    setups: list[dict],
    iters: list[dict],
    interf: dict,
    tracer,
    log_dir: str,
    layer_totals: dict,
) -> tuple[dict[str, float], dict[str, Any]]:
    """The traced run's per-layer metrics, plus the per-span fold for
    the full record."""
    n_it = max(1, len(iters))
    spans = tracer.spans
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["session.build_s"] = _med([s["build_s"] for s in setups])
    m["session.warmup_s"] = _med([s["warmup_s"] for s in setups])

    per_span = fold.fold_event_log(log_dir, spans)
    top = [s for s in spans if s["parent"] is None and s["end"] is not None]
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = sum(per_span[s["id"]][k] for s in top) / n_it
    m["sources.input_records"] = sum(per_span[s["id"]]["input_records"] for s in top) / n_it
    m["sources.input_bytes"] = sum(per_span[s["id"]]["input_bytes"] for s in top) / n_it

    # runner / schedule / writers (sensor_daily)
    for metric, name in (
        ("runner.cutoff_s", "runner.cutoff"),
        ("runner.write_s", "runner.write"),
        ("runner.validate_s", "runner.validate"),
    ):
        m[metric] = sum(duration(s) for s in _spans_named(spans, name)) / n_it
    runner = [it["layer"].get("runner", {}) for it in iters]
    m["runner.rows_out"] = sum(r.get("rows_out", 0) for r in runner) / n_it
    m["schedule.attempts"] = sum(r.get("attempts", 0) for r in runner) / n_it
    writes = layer_totals.get("writers", {})
    m["writers.files_out"] = writes.get("files_out", 0) / n_it
    m["writers.bytes_out"] = writes.get("bytes_out", 0) / n_it
    if expected.get("input_bytes"):
        m["writers.bytes_per_user_byte"] = m["writers.bytes_out"] / expected["input_bytes"]

    # temporal operators (sensor_analytics)
    for c in TEMPORAL_CALLS:
        m[f"temporal.{c}_s"] = _med([duration(s) for s in _spans_named(spans, c)])
    asof_spans = _spans_named(spans, "asof_join")
    if asof_spans:
        m["asof.task_skew"] = _med([fold.task_skew(per_span[s["id"]]["stage_task_ms"]) for s in asof_spans])
        m["asof.shuffle_bytes"] = _med([per_span[s["id"]]["shuffle_write_bytes"] for s in asof_spans])
        m["asof.spill_bytes"] = _med([per_span[s["id"]]["spill_bytes"] for s in asof_spans])

    if workload == "stream_ingest":
        m.update(_stream_layers(iters, spans, n_it))

    # Python decode layer (media_dedup)
    for c in MEDIA_CALLS:
        m[f"media.{c}_s"] = _med([duration(s) for s in _spans_named(spans, c)])
    m["decode.python_cpu_s"] = _med([it["worker_cpu_s"] for it in iters])
    m["decode.worker_rss_peak_mb"] = max(it["worker_rss_peak_mb"] for it in iters)
    if workload == "media_dedup":
        # the decontamination pass decodes the corpus videos again
        m["decode.items"] = (
            gen.MEDIA_AUDIO + gen.MEDIA_IMAGES + 2 * gen.MEDIA_VIDEOS
            + len(range(1, gen.MEDIA_VIDEOS, gen.MEDIA_EVAL_STRIDE))
        )
        m["decode.quarantined"] = _med([it["layer"].get("decode", {}).get("quarantined", 0) for it in iters])

    m["host.steal_cores"] = interf["steal_cores"]
    m["host.iowait_cores"] = interf["iowait_cores"]
    walls = [it["wall_s"] for it in iters]
    m["trace.run_s"] = _med(walls)
    m["trace.span_coverage"] = sum(duration(s) for s in top) / sum(walls) if walls else 0.0

    detail = {
        "spans": [
            {
                "id": s["id"], "name": s["name"], "parent": s["parent"],
                "start": s["start"], "end": s["end"],
                "self_s": self_time(spans, s["id"]),
                "spark": {k: v for k, v in per_span.get(s["id"], {}).items() if k != "stage_task_ms"},
            }
            for s in spans
        ],
    }
    return m, detail


def _stream_layers(iters: list[dict], spans: list[dict], n_it: int) -> dict[str, float]:
    m: dict[str, float] = {k: 0.0 for k in STREAM_LAYER}
    for q in ("funnel", "ingest"):
        folded = [fold.fold_progress(it["layer"].get(f"{q}_progress", [])) for it in iters]
        for k in fold.STREAM_KEYS:
            vals = [f[k] for f in folded]
            m[f"streaming.{q}.{k}"] = max(vals) if k.endswith("_max") else sum(vals) / n_it
    ing = [it["layer"]["ingest"] for it in iters if "ingest" in it["layer"]]
    if ing:
        m["ingest.batch_s"] = _med([duration(s) for s in _spans_named(spans, "ingest.batch")])
        m["ingest.accepted"] = sum(x["accepted"] for x in ing) / n_it
        m["ingest.rejected"] = sum(x["rejected"] for x in ing) / n_it
        total_in = sum(x["input"] for x in ing)
        m["ingest.accept_frac"] = sum(x["accepted"] for x in ing) / total_in if total_in else 0.0
        m["ingest.maintain_s"] = sum(duration(s) for s in _spans_named(spans, "ingest.maintain")) / n_it
        files, size, prov = _dir_stats(ing[-1]["state_dir"])
        m["ingest.state_files"], m["ingest.state_bytes"], m["ingest.provenance_bytes"] = files, size, prov
    return m


def build_record(
    args, expected, setups, warm_pass, iters, interf, tracer, log_dir, layer_totals, finish_failures
) -> dict[str, Any]:
    passes = [warm_pass] + iters
    attempted = sum(it["attempted"] for it in passes)
    failed = sum(it["failed"] for it in passes) + len(finish_failures)
    e2e = end_to_end(expected, setups, warm_pass, iters)
    record: dict[str, Any] = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "generator_version": gen.GEN_VERSION,
        "iterations": len(iters),
        "fail_frac": failed / attempted if attempted else 1.0,
        "failures": [f for it in passes for f in it["failures"]] + finish_failures,
        "end_to_end": e2e,
        "samples": {
            "setup_s": [s["build_s"] + s["warmup_s"] for s in setups],
            "warm_pass_s": warm_pass["wall_s"],
            "warm_pass_ops": warm_pass["ops"],
            "timed_backfill_s": [it["backfill_s"] for it in iters],
            "run_s": [it["wall_s"] for it in iters],
            "cpu_s": [it["cpu_s"] for it in iters],
            "op_latencies": [x for it in iters for x in it["op_latencies"]],
            "ops": [it["ops"] for it in iters],
        },
        "host": dict(interf),
    }
    if args.trace:
        layers, detail = per_layer(
            args.workload, expected, setups, iters, interf, tracer, log_dir, layer_totals
        )
        record["per_layer"] = layers
        record["trace_detail"] = detail
        units = {**PER_LAYER, **(STREAM_LAYER if args.workload == "stream_ingest" else {})}
        values = {k: (layers[k], u) for k, u in units.items()}
    else:
        values = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    record["summary"] = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    return record
