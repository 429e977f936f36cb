"""Streaming funnel matching — the event-time streaming face of
:mod:`operators.funnel` (§2.10 custom stateful operators; Flink-CEP
territory, which Structured Streaming has no native answer to).

Same last-touch backward semantics as the batch operator: each
final-step event emits at most one chain, built from the LATEST prior
step at-or-before it, recursively. Event-time correct under disorder:
an event finalizes only when the watermark passes its event time
STRICTLY — only then can no earlier-timestamped step still arrive —
so the composition is exact, not best-effort-per-micro-batch, the
same guarantee discipline as ``stream_asof_join``.

State per key is BOUNDED by construction, the property that decides
whether a stateful operator survives 100 TB:

* a pending buffer of (ts, step) pairs inside one watermark horizon —
  the same bound as Spark's native stream-stream joins; entries are
  two longs, never payloads;
* one "best chain" per non-final depth — a FIXED (n−1)·n/2 longs —
  because last-touch matching needs only the latest complete prefix
  chain at each depth, nothing about older occurrences (processing in
  event-time order makes the invariant hold: when a step-i event
  finalizes, best[i−1] IS the latest valid prefix);
* with ``within_seconds``, chains whose first step has aged past the
  span bound are provably useless for any future final event
  (ts ≥ watermark ⇒ ts − chain[0] > within) and are evicted; a key
  with no pending and no live chain removes its state entirely.

Emission latency = the watermark delay (the price of exactness);
input later than the delay is dropped at ingestion, as with every
watermarked stateful operator. Drained bounded input equals the batch
:func:`operators.funnel.funnel_match` exactly — pinned in
tests/test_funnel.py across forced multi-micro-batch delivery.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.functions.identifiers import (
    quote_ident,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    bench_cache_dir,
    publish_once,
)
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
    drain_to_memory,
    file_stream,
    land_files,
    prepare_session,
)

#: "no chain" sentinel for b_flat slots: Long.MIN_VALUE, unreachable by
#: any Spark timestamp's epoch-micros (min representable instant is
#: ~-9.2e18 µs only at the long boundary itself), so legitimate
#: pre-epoch events (ts_us == -1, -1000, …) never collide with it.
NO_CHAIN = -(2**63)


def stream_funnel(
    events: DataFrame,
    on: str,
    time_col: str,
    type_col: str,
    steps: list[str],
    within_seconds: int | None = None,
    watermark: str = "30 days",
    key_type: str = "long",
) -> DataFrame:
    """Streaming last-touch funnel: emits one row per completed chain
    — ``(on, ts_us_0 … ts_us_{n-1})``, chain times as epoch-micros
    longs (state-store rows stay narrow; convert downstream) — with
    event-time exactness under cross-batch disorder."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    for a, b in zip(steps, steps[1:]):
        if a == b:
            raise ValueError(
                "consecutive identical steps would self-match under the "
                "inclusive as-of convention; use distinct adjacent steps"
            )
    if within_seconds is not None and within_seconds < 0:
        raise ValueError("within_seconds must be non-negative")
    n = len(steps)
    within_us = None if within_seconds is None else within_seconds * 1_000_000

    step_idx = F.lit(None).cast("int")
    for i, s in enumerate(steps):
        step_idx = F.when(F.col(type_col) == s, F.lit(i)).otherwise(step_idx)
    tagged = (
        events.select(
            F.col(on),
            F.col(time_col).alias("_ts"),
            step_idx.alias("_step"),
        )
        .filter(F.col("_step").isNotNull())
        .withWatermark("_ts", watermark)
    )

    out_schema = quote_ident(on) + f" {key_type}, " + ", ".join(
        f"ts_us_{i} long" for i in range(n)
    )
    state_schema = "p_ts array<long>, p_step array<int>, b_flat array<long>"
    #: chain for depth i (0-based, non-final only) lives at
    #: b_flat[off(i) : off(i) + i + 1]; NO_CHAIN (Long.MIN_VALUE, far
    #: outside the epoch-micros domain Spark timestamps can reach, so
    #: a legitimate pre-epoch event such as 1969-12-31T23:59:59.999999
    #: — whose ts_us is -1 — can never collide) marks "no chain"
    offs = [i * (i + 1) // 2 for i in range(n - 1)]
    flat_len = offs[-1] + (n - 1) if n > 1 else 0

    def update(key, pdfs, gs: GroupState):
        import pandas as pd

        p_ts, p_step, b_flat = (
            [list(x) for x in gs.get]
            if gs.exists
            else ([], [], [NO_CHAIN] * flat_len)
        )
        if not gs.hasTimedOut:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                # r16: ``Series.values`` on a datetime column yields
                # datetime64[ns] (UTC-normalized when tz-aware) — the
                # same epoch the previous pd.to_datetime +
                # tz_localize(None) chain produced, without the two
                # per-GROUP pandas calls (this function runs once per
                # key per micro-batch; per-group Python overhead is
                # the head's dominant cost — guide §4.5). r17:
                # ``.tolist()`` — one C loop to Python ints instead of
                # an interpreted genexpr of ``int()`` calls.
                us = pdf["_ts"].values.astype("datetime64[us]").astype("int64")
                p_ts.extend(us.tolist())
                p_step.extend(pdf["_step"].to_numpy().tolist())
        wm_us = gs.getCurrentWatermarkMs() * 1000

        def get_chain(i):
            c = b_flat[offs[i] : offs[i] + i + 1]
            return None if c[0] == NO_CHAIN else c

        def set_chain(i, chain):
            b_flat[offs[i] : offs[i] + i + 1] = chain

        # r17: one pass splits pending into ready/keep (was two zip
        # comprehensions + two more in gs.update); same tuple order,
        # same sort.
        ready = []
        keep_ts: list = []
        keep_st: list = []
        for t, s in zip(p_ts, p_step):
            if t < wm_us:
                ready.append((t, s))
            else:
                keep_ts.append(t)
                keep_st.append(s)
        ready.sort()
        out_rows = []
        for t, s in ready:
            if s == 0:
                set_chain(0, [t])
                continue
            prev = get_chain(s - 1)
            if prev is None:
                continue
            chain = prev + [t]
            if s == n - 1:
                if within_us is None or t - chain[0] <= within_us:
                    out_rows.append(chain)
            else:
                set_chain(s, chain)
        if within_us is not None:
            # a future final event has ts ≥ watermark, so any chain
            # whose first step is older than watermark − within can
            # never complete inside the span bound — evict
            for i in range(n - 1):
                c = get_chain(i)
                if c is not None and c[0] < wm_us - within_us:
                    set_chain(i, [NO_CHAIN] * (i + 1))
        alive = any(get_chain(i) is not None for i in range(n - 1))
        if keep_ts or alive:
            gs.update((keep_ts, keep_st, b_flat))
            if keep_ts or (within_us is not None and alive):
                # pending events need finalizing when the watermark
                # advances; with a span bound, live chains eventually
                # die and the key's state should clear without
                # waiting for new key data
                gs.setTimeoutTimestamp(gs.getCurrentWatermarkMs() + 1)
        else:
            gs.remove()
        # r16: yield NOTHING for the (majority) no-output groups —
        # constructing an empty pandas DataFrame per key per
        # micro-batch was pure per-group overhead (guide §4.5).
        if out_rows:
            data = {on: [key[0]] * len(out_rows)}
            for i in range(n):
                data[f"ts_us_{i}"] = [c[i] for c in out_rows]
            yield pd.DataFrame(data)

    return tagged.groupBy(on).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------- bench head

#: Micro-batches the bench head splits the event stream into (plus a
#: far-future flush batch that advances the final watermark so every
#: completed chain finalizes before the drain ends).
_HEAD_BATCHES = 4

#: Bump when the landing layout changes — the cache key embeds it.
#: v2: explicit per-file mtimes (delivery order no longer depends on
#: write latency), so stale v1 fixtures with accidental ordering are
#: never reused.
_HEAD_LAYOUT_V = "v2"

#: Flush-sentinel key, filtered back out of the head's aggregate.
_FLUSH_KEY = -1


def _head_landing(spark, sf_dir: str) -> str:
    """The keyed landing dir of the events table, landed once per bench
    run (``sources/writers.py::publish_once``), not once per cold-JVM
    rep: ``_HEAD_BATCHES`` interleaved parquet files (split by a row
    hash, so every micro-batch spans the full time range — the
    cross-batch-disorder worst case the operator exists for) plus one
    far-future flush file. ``streaming/pipeline.py::land_files`` pins
    the delivery order: the flush batch must arrive LAST or its
    far-future timestamp advances the watermark immediately and every
    real event is dropped as late."""
    import datetime as _dt

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )

    def land(stage: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_type"
        )
        mx = ev.agg(F.max("ts")).collect()[0][0]
        flush = ev.sparkSession.createDataFrame(
            [(_FLUSH_KEY, mx + _dt.timedelta(days=400), "view")], ev.schema
        )
        # pmod, not abs(hash) % n: hash() can return Int.MIN_VALUE, whose
        # abs overflows under ANSI mode
        parts = [
            ev.filter(F.pmod(F.hash("user_id", "ts"), F.lit(_HEAD_BATCHES)) == i)
            for i in range(_HEAD_BATCHES)
        ] + [flush]
        land_files(parts, stage)

    out = bench_cache_dir(
        "sfunnel", os.path.abspath(sf_dir), f"b{_HEAD_BATCHES}", _HEAD_LAYOUT_V
    )
    return publish_once(out, land)


def stream_funnel_head_setup(spark, sf_dir: str) -> None:
    """Untimed fixture: land the events table for the head's stream."""
    _head_landing(spark, sf_dir)


def stream_funnel_head(spark, sf_dir: str):
    """Bench head (r11): the streaming funnel's standing perf
    evidence, like the other ``stream_*`` heads. Drains the full
    event stream — delivered as ``_HEAD_BATCHES`` interleaved
    micro-batches + a watermark flush — through the 3-step
    view → click → purchase funnel and summarizes the completed
    chains (count + span stats, so every chain column is consumed)."""
    prepare_session(spark)
    out = stream_funnel(
        file_stream(spark, _head_landing(spark, sf_dir)),
        on="user_id",
        time_col="ts",
        type_col="event_type",
        steps=["view", "click", "purchase"],
        watermark="1 minute",
    )
    drained = drain_to_memory(out, output_mode="append")
    return drained.filter(F.col("user_id") != _FLUSH_KEY).agg(
        F.count(F.lit(1)).alias("n_chains"),
        F.countDistinct("user_id").alias("n_keys"),
        F.avg(F.col("ts_us_2") - F.col("ts_us_0")).alias("avg_span_us"),
        # avg, not sum: ~10^4 chains × ~1.7×10^15 µs overflows a long
        F.avg(F.col("ts_us_1")).alias("ts1_avg"),
    )
