"""In-memory spans around the calls into each engine layer.

A span is (id, name, parent, run id, start, end) plus the Spark job
groups whose work it owns. Spans live in a list until the run ends;
``perfbench/fold.py`` joins them with Spark's event log afterwards.

Two depths:

* ``op`` spans (the workload's top-level calls) are always recorded:
  they cost two clock reads and give the end-to-end latencies.
* with ``traced=True`` every span also sets the Spark job group (so
  the event log names the span that ran each stage), and
  :meth:`Tracer.wrap` can replace a module attribute with a spanning
  wrapper for the run's lifetime — the way deeper boundaries are
  reached without editing the engine.
"""

from __future__ import annotations

import contextlib
import functools
import time
from typing import Any, Callable, Iterator


class Tracer:
    def __init__(self, run_id: str, traced: bool, spark=None) -> None:
        self.run_id = run_id
        self.traced = traced
        self.spark = spark
        self.spans: list[dict[str, Any]] = []
        # One stack for every thread: the workload runs one operation at
        # a time, and a streaming callback runs while the thread that
        # started the query blocks, so its spans nest under that op.
        self._open: list[int] = []
        self._restore: list[Callable[[], None]] = []

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            rec = self.spans[span_id]
            sc.setJobGroup(rec["group"], rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False, **attrs: Any) -> Iterator[dict[str, Any]]:
        """Record one span. ``op=True`` marks a workload operation;
        it is recorded whether or not tracing is on. Other spans are
        recorded only when traced."""
        if not (op or self.traced):
            yield {}
            return
        stack = self._open
        sid = len(self.spans)
        rec: dict[str, Any] = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{sid}",
            "groups": [f"{self.run_id}-{sid}"],
            "op": op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(sid)
        if self.traced:
            self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.traced:
                self._set_group(stack[-1] if stack else None)

    def wrap(self, module: Any, attr: str, span_name: str, after: Callable[..., None] | None = None) -> None:
        """Traced runs only: replace ``module.attr`` with a wrapper that
        opens a span per call. ``after(rec, result, args, kwargs)`` may
        annotate the span. Undone by :meth:`unwrap_all`."""
        if not self.traced:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            with self.span(span_name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out, args, kwargs)
                return out

        setattr(module, attr, wrapper)
        self._restore.append(lambda: setattr(module, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            self._restore.pop()()


def duration(rec: dict[str, Any]) -> float:
    return rec["end"] - rec["start"]


def self_time(spans: list[dict[str, Any]], span_id: int) -> float:
    """Duration minus the union of the intervals its children cover."""
    rec = spans[span_id]
    kids = sorted(
        (max(s["start"], rec["start"]), min(s["end"], rec["end"]))
        for s in spans
        if s["parent"] == span_id
    )
    return duration(rec) - union_length(kids)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
