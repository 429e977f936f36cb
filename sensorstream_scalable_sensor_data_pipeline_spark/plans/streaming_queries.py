"""Streaming queries (SURVEY §2.10/M5), oracle-checked.

Each query runs a *bounded* Structured Stream (``availableNow``) to
completion and returns the drained result, which must equal the batch
SQL over the same files — that equivalence is exactly the streaming/
batch unification Structured Streaming promises (SIGMOD'18, PAPERS.md)
and it is what lets the correctness driver hash-check a streaming
engine against DuckDB.

The three queries cover the reference's hand-rolled streaming triad
(SURVEY §2.10): windowed rollup (the scheduled daily aggregation),
stateful dedup (idempotent re-ingest), and the end-to-end incremental
pipeline with a checkpointed ``foreachBatch`` parquet sink (the S3
writer role).
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.functions.aggfns import dsum
from sensorstream_scalable_sensor_data_pipeline_spark.plans.registry import dsum_sql, query
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
    drain_to_memory,
    drain_to_parquet,
    read_sink,
    stream_events,
)

#: A watermark delay far beyond the data's time range: nothing is ever
#: late, so the drained stream equals the batch query. Production
#: deployments shrink this to bound state (the reference's analog is
#: its 30-day lookback, main_pipeline.py:36).
_NEVER_LATE = "3650 days"

_mem_counter = itertools.count()


@query(
    "stream_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup on the event stream: watermark + 1-hour
    windows per event_type, complete-mode drain. State is one row per
    (window, type) — bounded by the watermark; partial aggregation
    collapses the stream map-side exactly like the batch rollup."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", _NEVER_LATE)
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )
    drained = drain_to_memory(agg, output_mode="complete")
    return drained.select(
        F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value"
    )


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, ts FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: ``dropDuplicatesWithinWatermark`` on
    the event-time key — the native replacement for the reference's
    dropDuplicates-before-write idempotency (main_pipeline.py:328),
    with state bounded by the watermark instead of growing forever."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", _NEVER_LATE)
    deduped = ev.select("user_id", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "ts"]
    )
    return drain_to_memory(deduped, output_mode="append")


@query(
    "stream_sensor_pipeline",
    oracle="""
    SELECT DISTINCT c.c_mktsegment AS tagpath, e.ts AS datetime,
           e.value AS sensor_value, e.user_id AS sensor_id
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.value <> 0
    """,
)
def stream_sensor_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full flow as a native stream: file source →
    integrity filter → stream-static broadcast enrichment → stateful
    dedup on (sensor, time, value) → checkpointed ``foreachBatch``
    parquet sink → read-back. Dedup includes ``value`` so the kept row
    is well-defined regardless of arrival order (the batch flagship
    instead keeps max-value; both are deterministic policies).
    The per-batch sink makes the output exactly-once per checkpoint
    (``streaming/pipeline.py``) — the streaming form of the
    reference's idempotent re-ingest. The sink dir belongs to the call:
    the small result is materialized before the dir is removed."""
    ev = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("tagpath")
    )
    clean = ev.filter(F.col("value") != 0).withWatermark("ts", _NEVER_LATE)
    enriched = clean.join(F.broadcast(dim), "user_id", "left")
    deduped = enriched.dropDuplicatesWithinWatermark(["user_id", "ts", "value"])
    series = deduped.select(
        F.col("tagpath"),
        F.col("ts").alias("datetime"),
        F.col("value").alias("sensor_value"),
        F.col("user_id").alias("sensor_id"),
    )
    with tempfile.TemporaryDirectory(prefix="ss_sink_") as out:
        return read_sink(spark, drain_to_parquet(series, out)).localCheckpoint(
            eager=True
        )


@query(
    "stream_stateful_counts",
    oracle="SELECT event_type, count(*) AS n_events FROM events GROUP BY 1",
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-key running counter whose state survives micro-batches (the
    building block for custom sessionization, gap-fill, CDC merge —
    anything groupBy/agg can't express). Each batch updates GroupState
    and emits the running total; the last emission per key equals the
    batch GROUP BY count, which is what the oracle checks. State is
    one int per key — O(keys), watermark-expirable in production."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"event_type": [key[0]], "n_events": [total]})

    ev = stream_events(spark, sf_dir).select("event_type", "ts")
    running = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_events long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = drain_to_memory(running, output_mode="update")
    # Last emission per key = final running total.
    return drained.groupBy("event_type").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_asof_join",
    oracle="""
    WITH calib AS (
      SELECT user_id, ts, max(CAST(value AS DOUBLE)) AS calib_value
      FROM events WHERE event_id % 29 = 0 GROUP BY user_id, ts
    )
    SELECT CAST(l.user_id AS BIGINT) AS user_id,
           CAST(l.event_id AS BIGINT) AS event_id,
           epoch_us(l.ts) AS ts_us,
           r.calib_value
    FROM events l ASOF LEFT JOIN calib r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def stream_asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-STREAM as-of join, driver-checked end to end:
    readings and calibration-state changes both arrive as bounded
    file streams (maxFilesPerTrigger=1, far-future flush rows driving
    the final watermark), union-tagged, watermarked, and joined by the
    custom ``applyInPandasWithState`` operator
    (streaming/temporal.py::stream_asof_join) — every reading attaches
    the latest state at-or-before its event time with event-time
    correctness under cross-stream disorder, which Spark's native
    stream-stream joins cannot express. The oracle is DuckDB's NATIVE
    ``ASOF LEFT JOIN`` over the same batch data (ties at one instant
    collapse to max value, the operator's max-struct survivor), so the
    driver's value hash pins the full chain per reading: tagging,
    buffering, watermark-driven finalization, history eviction, and
    the timeout-flushed tail.

    Rotated INTO the 50-slot driver registry in round 10 (r9 verdict
    task #4), taking ``dedup_ngram_blocked``'s slot (that query stays
    locally oracle-pinned in the rotated-slot suite)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.temporal import (
        drain_landed_asof,
    )

    return drain_landed_asof(spark, sf_dir).select(
        "user_id", "event_id", "ts_us", "calib_value"
    )


@query(
    "stream_rate_source",
    oracle="SELECT CAST(range AS BIGINT) AS bucket, CAST(100 AS BIGINT) AS n FROM range(5)",
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-file streaming source (BASELINE.json north star: "Kafka/IoT
    sources"): the built-in ``rate-micro-batch`` generator plays the
    IoT feed — the same declarative-source treatment a Kafka topic
    gets via ``sources.readers.read_kafka_stream`` (no broker in this
    container). Deterministic values (0,1,2,… per batch) make even a
    *generator* stream hash-checkable: cap at value < 500, bucket by
    value div 100, complete-mode aggregate → exactly five buckets of
    100. The plan is the canonical ingest shape: source → filter →
    keyed agg with partial aggregation; swapping in Kafka changes only
    the source node."""
    import time as _time

    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 100)
        .option("numPartitions", 2)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    capped = raw.filter(F.col("value") < 500)
    agg = capped.groupBy((F.col("value") / 100).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    name = f"ss_rate_{next(_mem_counter)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    # The generator never ends; stop once the capped prefix is fully
    # ingested (5 batches × 100 rows), bounded by a hard deadline. On
    # deadline expiry RAISE: returning the partial aggregate would
    # surface as a spurious oracle mismatch on a loaded runner, which
    # reads as a correctness bug instead of what it is — a timeout.
    deadline = _time.time() + 120
    got = None
    try:
        while _time.time() < deadline:
            got = spark.table(name).agg(F.sum("n").alias("s")).first()["s"]
            if got == 500:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    if got != 500:
        raise TimeoutError(
            f"stream_rate_source: ingested {got or 0}/500 rows before the "
            "120 s deadline - runner too loaded, not a correctness failure"
        )
    return spark.table(name)
