"""Streaming observability: event-time health from query progress
(§2.10 ops tooling).

A watermark silently DROPS data that arrives too late — correct
semantics, but a deployment must SEE it happening: a clock-skewed
sensor feeding 3%-late readings loses 3% of its data with zero
errors anywhere. Structured Streaming already publishes the numbers
(per-trigger ``StreamingQueryProgress``: rows dropped by the
watermark per stateful operator, state rows, input rates); this
module is the thin discipline of capturing and summarizing them.

Every drain returns the query's progress history
(``streaming/pipeline.py::drain``, which also raises Spark's progress
retention for the drain); ``drain_with_progress`` is its memory-sink
harness form, re-exported here. ``progress_summary`` folds any
progress list — from a drain or from a live query's
``recentProgress`` — into the numbers an alert fires on. No listener
threads, no globals: progress objects are plain dicts the query
already retains.
"""

from __future__ import annotations

from typing import Any

from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (  # noqa: F401
    drain_with_progress,
)


def progress_summary(progress: list[dict[str, Any]]) -> dict[str, Any]:
    """Fold a progress history into event-time health numbers:

    * ``input_rows`` — total rows entering the query;
    * ``late_rows_dropped`` — rows the watermark discarded (summed
      over every stateful operator and trigger) — THE silent-loss
      number; alert when ``late_fraction`` is nonzero and climbing;
    * ``late_fraction`` — dropped / input (0.0 on empty input);
    * ``max_state_rows`` — peak state-store rows (eviction health:
      unbounded growth means a missing/ineffective watermark bound);
    * ``n_triggers`` — progress entries folded.
    """
    input_rows = 0
    dropped = 0
    max_state = 0
    for p in progress:
        input_rows += int(p.get("numInputRows") or 0)
        for op in p.get("stateOperators") or []:
            dropped += int(op.get("numRowsDroppedByWatermark") or 0)
            max_state = max(max_state, int(op.get("numRowsTotal") or 0))
    return {
        "input_rows": input_rows,
        "late_rows_dropped": dropped,
        "late_fraction": (dropped / input_rows) if input_rows else 0.0,
        "max_state_rows": max_state,
        "n_triggers": len(progress),
    }
