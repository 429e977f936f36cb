"""Streaming face of the temporal-join family (§2.10 × §2.12).

The batch as-of join (operators/asof.py) enriches each reading with
the latest state row at or before its timestamp. Production sensor
pipelines need the same against a LIVE reading stream: calibration /
configuration state lives in a slowly-changing table, readings arrive
continuously, and every micro-batch must attach the state that was
current at each reading's event time.

Spark's native stream-static join is equality-only, and event-time
window functions with unbounded frames are unsupported on streams —
so the engine composes the stream-static as-of the production way:
``foreachBatch`` runs the BATCH as-of against the static state table
on each micro-batch. This is exactly correct under any batching:
as-of enrichment is per-row (a reading's answer depends only on the
reading and the state table, never on which batch carried it), so
re-batching, re-ordering across batches, and replay after failure all
yield identical rows — the property the equivalence test pins by
streaming the same data in several micro-batches.

Scale notes: per micro-batch the state table joins via the usual one
keyed window (or broadcast, when the state fits); the stream side
never accumulates state-store entries for this operator (stateless
per batch), so there is no watermark requirement. A fast-changing
state table is the one thing this pattern does NOT cover — that is a
stream-stream interval join, which needs both sides watermarked and
a bounded join window.
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.functions.identifiers import (
    quote_ident,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import asof_join
from sensorstream_scalable_sensor_data_pipeline_spark.session import prepare_session
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    bench_cache_dir,
    publish_once,
)
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
    drain_to_memory,
    drain_to_parquet,
    file_stream,
    land_files,
    read_sink,
)


def stream_asof_enrich(
    spark: SparkSession,
    stream: DataFrame,
    state: DataFrame,
    on: str,
    time_col: str,
    value_cols: list[str],
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a bounded reading stream through per-micro-batch as-of
    enrichment against a static ``state`` table into the per-batch
    parquet sink (``streaming/pipeline.py::drain_to_parquet``, which
    states the drain contract and the replay guarantee); returns the
    read-back result.

    ``stream`` must be a streaming DataFrame carrying ``on``,
    ``time_col`` and any passthrough columns; ``state`` is a batch
    frame with (on, time_col, value_cols). The ``availableNow``
    trigger makes this testable as batch while keeping the exact
    production plan (swap the trigger for continuous ingestion).
    As-of enrichment is per-row, so a replayed batch rewrites the
    same rows into its own partition."""
    prepare_session(spark)
    out = drain_to_parquet(
        stream,
        out_dir,
        checkpoint=checkpoint_dir,
        per_batch=lambda b: asof_join(b, state, on, time_col, value_cols),
    )
    return read_sink(spark, out)


def stream_latest_state(
    stream: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Maintain the LIVE "latest state per key" table from a state
    stream — the stateful companion to :func:`stream_asof_enrich`:
    calibration changes arrive as events, and downstream micro-batch
    enrichment wants the current latest row per key at any moment.

    ``applyInPandasWithState`` keyed by ``on``; GroupState holds
    (epoch-µs, value) of the newest row seen, updated only when a
    batch carries something newer (late/replayed rows never regress
    state — the monotonicity a state table needs under at-least-once
    delivery). Each batch emits the key's current latest, so an
    update-mode sink holds the live state table. State is two fields
    per key — O(keys); attach a timeout in deployments where keys
    retire.

    The drained last-emission-per-key equals the batch
    ``max_by(value, time)`` (pinned in tests with multi-batch
    delivery)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{quote_ident(on)} long, ts_us long, {quote_ident(value_col)} double"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        best_us, best_v = (state.get if state.exists else (None, None))
        for p in pdfs:
            if len(p) == 0:
                continue
            # r16: ``Series.values`` on a datetime column yields
            # datetime64[ns] (UTC-normalized when tz-aware) — same
            # epoch as the old pd.to_datetime + tz_localize(None)
            # chain without two per-GROUP pandas calls; argmax is
            # idxmax on the chunk's RangeIndex (first max either
            # way). Guide §4.5: this runs once per key per batch.
            us = p[time_col].values.astype("datetime64[us]").astype("int64")
            i = int(us.argmax())
            if best_us is None or int(us[i]) > best_us:
                best_us, best_v = (
                    int(us[i]),
                    float(p[value_col].to_numpy()[i]),
                )
        state.update((best_us, best_v))
        yield pd.DataFrame(
            {on: [key[0]], "ts_us": [best_us], value_col: [best_v]}
        )

    return stream.groupBy(on).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="best_us long, best_v double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_state_enrich_pipeline(
    spark: SparkSession,
    state_stream: DataFrame,
    reading_stream: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    work_dir: str,
) -> DataFrame:
    """The composed fast-changing-state pipeline the two pieces above
    exist for — state changes arrive as a STREAM (not a static
    table), readings arrive as a stream, and every reading must
    attach the state current at its event time:

    1. *Maintain*: :func:`stream_latest_state` folds the state stream
       into a live latest-per-key table; each micro-batch's emissions
       land in the per-batch parquet sink as a durable state log
       (``streaming/pipeline.py``: replay overwrites, never
       duplicates).
       Emissions are monotone (late/replayed rows never regress), so
       ``max_by`` over the log IS the maintained table at any moment.
    2. *Enrich*: per reading micro-batch, the BATCH as-of join runs
       against the maintained table as it stands, into the same
       per-batch sink.

    Both queries use ``availableNow`` so the composition is testable
    end-to-end; in production they run concurrently and enrichment
    simply sees the freshest drained state. Readings that outrun
    state delivery attach the newest state visible at their batch's
    processing time — the inherent freshness race of ANY external
    state store; when state is fully drained first (as the
    equivalence test forces), the result equals the batch as-of
    against the final maintained table exactly.

    Scale notes: the state log holds one row per (key, state batch) —
    O(state events), compacted to O(keys) by the per-batch ``max_by``
    read; the enrich side is the usual one keyed window per batch.
    ``value_col`` must not collide with a reading column
    (:func:`~...operators.asof.asof_join` raises).
    """
    prepare_session(spark)
    state_log = drain_to_parquet(
        stream_latest_state(state_stream, on, time_col, value_col),
        posixpath.join(work_dir, "state_log"),
        checkpoint=posixpath.join(work_dir, "ckpt_state"),
        output_mode="update",
    )

    def _current_state() -> DataFrame:
        log = spark.read.parquet(state_log)
        return (
            log.groupBy(on)
            .agg(F.max(F.struct("ts_us", value_col)).alias("_s"))
            .select(
                on,
                F.timestamp_micros(F.col("_s.ts_us")).alias(time_col),
                F.col(f"_s.{value_col}").alias(value_col),
            )
        )

    out = drain_to_parquet(
        reading_stream,
        posixpath.join(work_dir, "enriched"),
        checkpoint=posixpath.join(work_dir, "ckpt_enrich"),
        per_batch=lambda b: asof_join(b, _current_state(), on, time_col, [value_col]),
    )
    return read_sink(spark, out)


def stream_asof_join(
    readings: DataFrame,
    state: DataFrame,
    on: str,
    time_col: str,
    id_col: str,
    value_col: str,
    watermark: str = "30 days",
    key_type: str = "long",
) -> DataFrame:
    """TRUE stream-STREAM as-of join: both the readings and the state
    changes arrive as streams, and every reading attaches the latest
    state at-or-before its event time — with EVENT-TIME correctness
    under cross-stream disorder, the guarantee the per-micro-batch
    composition (:func:`stream_state_enrich_pipeline`) explicitly
    cannot give (its "freshness race": a state row delivered after a
    reading's batch is missed even when its event time precedes the
    reading).

    Spark has no native stream-stream as-of, so this is the custom
    stateful operator the brief's §2.10 escape hatch exists for:
    union the two streams with a side tag, watermark the shared event
    time, group by key, and run ``applyInPandasWithState``
    (EventTimeTimeout). Per key the state holds (a) pending readings
    and (b) the state history; a reading finalizes — emits exactly
    once — when the watermark passes its event time STRICTLY, because
    only then can no state row with ts ≤ reading.ts still arrive.
    History eviction keeps every state row at-or-after the watermark
    plus the single newest older row (the horizon carrier any future
    reading may still attach). Ties at one instant resolve by max
    value — the batch operator's max-struct survivor. Keys with
    pending readings re-arm an event-time timeout at watermark+1 ms,
    so drains flush on no-data batches without new key data.

    CONTRACT: readings carry (on, id_col, time_col) — enrichment
    returns (on, id_col, ts_us, value_col) keyed by ``id_col`` for a
    downstream join back to wide payloads (state-store rows must stay
    narrow; buffering arbitrary payloads per key is how streaming
    state explodes at 100 TB). ``state`` carries
    (on, time_col, value_col), value cast to double. Emission latency
    = the watermark delay, the price of exactness; the per-micro-batch
    composition remains the right tool when processing-time freshness
    beats event-time correctness. And like every watermarked stateful
    operator, input arriving LATER than the watermark delay (on either
    stream) is dropped at ingestion — size the delay to the real
    cross-stream disorder (pinned: the randomized-split equivalence
    test holds exactly once the delay covers the disorder span).

    Scale shape: state per key = readings inside one watermark horizon
    + compacted state history — the same bound as Spark's native
    stream-stream joins; one shuffle on the key, Arrow-batched Python
    for the buffer logic only.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    r_side = readings.select(
        F.col(on),
        F.col(time_col).alias("_ts"),
        F.col(id_col).cast("long").alias("_rid"),
        F.lit(None).cast("double").alias("_sv"),
        F.lit(False).alias("_is_state"),
    )
    s_side = state.select(
        F.col(on),
        F.col(time_col).alias("_ts"),
        # sentinel, NOT NULL: a nullable long chunk materializes as
        # float64 in pandas and silently corrupts reading ids ≥ 2^53
        # (review-found); the value is never read — state rows are
        # masked out before ids are touched.
        F.lit(-1).cast("long").alias("_rid"),
        F.col(value_col).cast("double").alias("_sv"),
        F.lit(True).alias("_is_state"),
    )
    tagged = r_side.unionByName(s_side).withWatermark("_ts", watermark)

    out_schema = (
        f"{quote_ident(on)} {key_type}, {quote_ident(id_col)} long, "
        f"ts_us long, {quote_ident(value_col)} double"
    )
    state_schema = (
        "p_ids array<long>, p_ts array<long>, s_ts array<long>, s_v array<double>"
    )

    def update(key, pdfs, gs: GroupState):
        import bisect
        import math

        import pandas as pd

        p_ids, p_ts, s_ts, s_v = (
            [list(x) for x in gs.get] if gs.exists else ([], [], [], [])
        )
        new_state_rows = False
        if not gs.hasTimedOut:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                # r16: same per-group pandas trim as stream_funnel —
                # .values is the to_datetime+tz_localize(None) epoch
                # without the two per-group calls (guide §4.5). r17:
                # ``.tolist()`` — one C loop to Python scalars instead
                # of interpreted genexprs of int()/float() calls.
                us = pdf["_ts"].values.astype("datetime64[us]").astype("int64")
                is_state = pdf["_is_state"].to_numpy()
                if is_state.any():
                    new_state_rows = True
                    s_ts.extend(us[is_state].tolist())
                    s_v.extend(pdf["_sv"].to_numpy()[is_state].tolist())
                not_state = ~is_state
                if not_state.any():
                    p_ts.extend(us[not_state].tolist())
                    p_ids.extend(pdf["_rid"].to_numpy()[not_state].tolist())
        wm_us = gs.getCurrentWatermarkMs() * 1000

        def _isnan(v):
            return v is None or (isinstance(v, float) and math.isnan(v))

        # (ts, value) sorted so the LAST entry ≤ r is the max-struct
        # survivor — batch asof semantics, with NULL (NaN) values
        # ordered BELOW non-null at the same instant (Spark's struct
        # ordering: nulls sort first), never compared raw (NaN in a
        # tuple comparison is undefined ordering). r17: the STORED
        # history is already in this key order (``kept_hist`` below is
        # an order-preserving filter of a sorted ``hist``, inductively
        # from the empty state), so the O(H) per-element Python key
        # evaluation re-runs only on invocations that actually brought
        # new state rows.
        if new_state_rows:
            hist = sorted(
                zip(s_ts, s_v),
                key=lambda p: (p[0], 0 if _isnan(p[1]) else 1,
                               0.0 if _isnan(p[1]) else p[1]),
            )
        else:
            hist = list(zip(s_ts, s_v))
        hts = [p[0] for p in hist]
        out_ids, out_ts, out_v = [], [], []
        keep_ids, keep_ts = [], []
        for rid, rts in zip(p_ids, p_ts):
            if rts < wm_us:  # strict: a state row AT the watermark may still come
                j = bisect.bisect_right(hts, rts) - 1
                v = hist[j][1] if j >= 0 else None
                out_ids.append(rid)
                out_ts.append(rts)
                out_v.append(None if _isnan(v) else v)
            else:
                keep_ids.append(rid)
                keep_ts.append(rts)
        # evict: keep rows ≥ watermark + the newest older one (horizon
        # carrier for future readings)
        older = [p for p in hist if p[0] < wm_us]
        kept_hist = ([older[-1]] if older else []) + [p for p in hist if p[0] >= wm_us]
        if keep_ids or kept_hist:
            gs.update(
                (
                    keep_ids,
                    keep_ts,
                    [p[0] for p in kept_hist],
                    [p[1] for p in kept_hist],
                )
            )
            if keep_ids or len(kept_hist) > 1:
                # re-fire this key when the watermark next advances:
                # pending readings need finalizing, and a dormant key's
                # multi-row history needs re-compacting down to the
                # single horizon carrier (without this, a key that goes
                # quiet retains every history row ≥ the last-seen
                # watermark forever). A 1-row history is already
                # minimal — no timeout, no wasted re-invocations.
                gs.setTimeoutTimestamp(gs.getCurrentWatermarkMs() + 1)
        else:
            gs.remove()
        # r16: yield NOTHING for no-output groups — an empty pandas
        # DataFrame per key per micro-batch was pure per-group
        # overhead (guide §4.5; same trim as stream_funnel)
        if out_ids:
            yield pd.DataFrame(
                {
                    on: [key[0]] * len(out_ids),
                    id_col: out_ids,
                    "ts_us": out_ts,
                    value_col: out_v,
                }
            )

    return tagged.groupBy(on).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_interval_join(
    left: DataFrame,
    intervals: DataFrame,
    on: str,
    time_col: str,
    start_col: str,
    end_col: str,
    watermark: str = "30 days",
    max_duration: str = "30 days",
) -> DataFrame:
    """True stream-STREAM containment join — the streaming face of
    ``operators/asof.py::range_join``: every left reading paired with
    every same-key interval containing its event time, where BOTH
    sides arrive as streams (readings and, e.g., live maintenance
    windows).

    This is Structured Streaming's native interval join: both sides
    watermarked, and the join condition bounds each side's event time
    against the OTHER side's *watermarked* column in both directions
    — that is what lets the state store evict buffered rows on both
    sides. ``l.time >= r.start`` bounds the readings side; the
    intervals side needs ``l.time <= r.start + max_duration`` (the
    raw ``l.time <= r.end`` exactness filter involves the
    non-watermarked ``end_col``, so Spark cannot derive an intervals-
    side eviction horizon from it — with only that bound, interval
    state would grow without bound). ``max_duration`` is therefore a
    hard CAP on interval length the caller must size: any part of an
    interval beyond ``start + max_duration`` is treated as expired
    and readings there do not match. Returns the streaming frame;
    drain with ``streaming/pipeline.py::drain_to_memory`` (append
    mode) or a checkpointed sink. For bounded input whose intervals
    respect the cap, the drained result equals the batch
    ``range_join`` exactly (pinned in tests, including the cap's
    truncation behavior).

    Scale notes: state per key ≈ rows within one
    watermark + max_duration horizon on each side; the join itself is
    the ordinary keyed shuffle. The bucketed-explode trick
    ``range_join`` uses in batch is NOT needed here — the state store
    already indexes by key and evicts by time, so Spark never
    materializes a per-key cross product beyond the horizon.
    """
    l, r, cond = _interval_join_parts(
        left, intervals, on, time_col, start_col, end_col, watermark, max_duration
    )
    return l.join(r, cond, "inner").select(
        "l.*", *[F.col(f"r.{c}") for c in intervals.columns if c != on]
    )


def _interval_join_parts(
    left: DataFrame,
    intervals: DataFrame,
    on: str,
    time_col: str,
    start_col: str,
    end_col: str,
    watermark: str,
    max_duration: str,
):
    l = left.withWatermark(time_col, watermark).alias("l")
    r = intervals.withWatermark(start_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"l.{time_col}") >= F.col(f"r.{start_col}"))
        & (
            F.col(f"l.{time_col}")
            <= F.col(f"r.{start_col}") + F.expr(f"INTERVAL {max_duration}")
        )
        & (F.col(f"l.{time_col}") <= F.col(f"r.{end_col}"))
    )
    return l, r, cond


def stream_interval_join_outer(
    left: DataFrame,
    intervals: DataFrame,
    on: str,
    time_col: str,
    start_col: str,
    end_col: str,
    watermark: str = "30 days",
    max_duration: str = "30 days",
) -> DataFrame:
    """LEFT-OUTER :func:`stream_interval_join` (r6 verdict task #6):
    every reading emits — matched readings paired with each containing
    same-key interval, and a reading no interval ever covers emits
    ONCE with NULL interval columns, released when the watermark
    passes its match horizon (no earlier: only then can the state
    store prove no matching interval can still arrive; Spark's
    standard outer-join semantics on the same two-sided time-range
    condition as the inner variant).

    EMISSION LATENCY, the operational contract: an unmatched
    reading's NULL row appears only after event time advances past
    ``reading.time + watermark`` on BOTH inputs (the global watermark
    is the min across them) — a quiet intervals feed delays NULL
    emission exactly as it delays state eviction. Bounded drains need
    the event-time horizon crossed in a LATER micro-batch (watermarks
    advance at batch boundaries; the trailing no-data batch then
    flushes), which the equivalence test forces with a far-future
    flush row per side.

    Scale shape: identical to the inner variant — same watermark
    state bounds, same keyed shuffle; outer rows add no state, only
    the deferred NULL emission at eviction."""
    l, r, cond = _interval_join_parts(
        left, intervals, on, time_col, start_col, end_col, watermark, max_duration
    )
    return l.join(r, cond, "leftOuter").select(
        "l.*", *[F.col(f"r.{c}") for c in intervals.columns if c != on]
    )


# ------------------------------------------------------- bench head

#: Every 29th event becomes a calibration state change — dense enough
#: that most keys carry real as-of history at bench scale.
_ASOF_HEAD_STATE_MOD = 29
_ASOF_HEAD_FLUSH_ID = 999_999_999

#: Bump when the landing layout changes — the cache key embeds it.
_ASOF_LAYOUT_V = "v1"


def land_asof_streams(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Land the full event stream as readings and a 1-in-29
    calibration subset as state changes, each followed by a far-future
    flush file that drives the final watermark past every real event.
    The landing is a keyed cache dir built once
    (``sources/writers.py::publish_once``), so the bench setup hook,
    every timed rep and the registry query share it; the key covers
    the events file's path, size and mtime. Returns
    (readings_dir, state_dir)."""
    import datetime as dt

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )

    def land(stage: str) -> None:
        ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        state = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % _ASOF_HEAD_STATE_MOD == 0)
            .select("user_id", "ts", F.col("value").alias("calib_value"))
        )
        far = ev.agg(F.max("ts")).collect()[0][0] + dt.timedelta(days=400)
        flush_r = spark.createDataFrame(
            [(_ASOF_HEAD_FLUSH_ID, -1, far)], ev.schema
        )
        flush_s = spark.createDataFrame([(-1, far, 0.0)], state.schema)
        land_files([ev, flush_r], os.path.join(stage, "readings"))
        land_files([state, flush_s], os.path.join(stage, "state"))

    events = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    st = os.stat(events)
    root = publish_once(
        bench_cache_dir(
            "asof_streams", events, st.st_size, st.st_mtime_ns,
            _ASOF_HEAD_STATE_MOD, _ASOF_LAYOUT_V,
        ),
        land,
    )
    return os.path.join(root, "readings"), os.path.join(root, "state")


def drain_landed_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream as-of join over the two landed streams
    (:func:`land_asof_streams`), drained, with the flush reading
    removed: one (user_id, event_id, ts_us, calib_value) row per
    event."""
    r_dir, s_dir = land_asof_streams(spark, sf_dir)
    joined = stream_asof_join(
        file_stream(spark, r_dir),
        file_stream(spark, s_dir),
        on="user_id",
        time_col="ts",
        id_col="event_id",
        value_col="calib_value",
        watermark="1 minute",
    )
    return drain_to_memory(joined, output_mode="append").filter(
        F.col("event_id") != _ASOF_HEAD_FLUSH_ID
    )


def stream_asof_join_head_setup(spark: SparkSession, sf_dir: str) -> None:
    """Untimed fixture for the bench head: land the two streams."""
    land_asof_streams(spark, sf_dir)


def stream_asof_join_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed bench head for the TRUE stream-stream as-of join (r8
    verdict task #5: sessionize was the only streaming head with a
    recorded cost). Drains the full availableNow run — the unioned
    tagged stream, the keyed ``applyInPandasWithState`` buffer logic,
    watermark-driven finalization, and the timeout-flushed tail —
    then summarizes so every output column is consumed (bench-head
    doctrine: the aggregate must read the joined values or Catalyst
    prunes the operator from the timed plan)."""
    return drain_landed_asof(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.count("calib_value").alias("n_matched"),
        F.avg("calib_value").alias("avg_calib"),
        # avg, not sum: Σ ts_us over ~1e5 µs-epoch rows overflows long
        F.avg("ts_us").alias("avg_ts_us"),
    )
