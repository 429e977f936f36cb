"""Structured Streaming face of the engine (SURVEY §2.10, M5).

The reference hand-rolls streaming semantics as scheduled incremental
batch: a cutoff watermark from max materialized datetime bounded by a
30-day lookback (main_pipeline.py:331-341), dropDuplicates for
idempotent re-ingest (:328), daily Airflow trigger. This module
provides the native equivalents — ``withWatermark`` for the cutoff,
``dropDuplicatesWithinWatermark`` for bounded dedup state, windowed
aggregates for rollups, ``foreachBatch`` reusing the batch writers for
the sink, ``Trigger.AvailableNow`` for the scheduled-batch cadence.

Everything runs as a *bounded* stream over the same parquet testdata
(``availableNow`` drains all available input then stops), which makes
the streaming path oracle-checkable: the drained result must equal the
batch query over the same files.

THE DRAIN. :func:`drain` is the only way the engine waits on a
streaming query. It starts the query with the ``availableNow``
trigger and waits at most :data:`DRAIN_TIMEOUT_S`. A query still
running at that bound is stopped and the drain raises
``TimeoutError``, so no caller reads a partly drained sink and no
overrun query keeps running behind it; a query that fails re-raises
its error. It returns the query's progress history, one dict per
trigger, with Spark's retention raised to :data:`PROGRESS_RETENTION`
for the drain (``streaming/observability.py`` folds it).

THE PER-BATCH SINK. :func:`drain_to_parquet` is the one
``foreachBatch`` parquet sink: micro-batch *k* lands in its own
``_batch_id=k`` partition by dynamic partition overwrite.
``foreachBatch`` is at-least-once: a crash after the sink's write but
before the checkpoint commits batch *k* replays *k* on restart, with
the same id and the same input, and the replay replaces that
partition instead of appending a second copy. Output is therefore
exactly-once per checkpoint. :func:`read_sink` reads it back without
the partition column.

Input landing: :func:`land_files` writes frames as one parquet file
each, with pinned, strictly increasing mtimes (``FileStreamSource``
delivers files in mtime order), and :func:`file_stream` opens a
directory as a one-file-per-trigger stream with the footer's schema.

Scale notes: state stores are keyed by (group, window) or dedup key —
per-key state is O(1) and the watermark bounds total state; the
stream-static dim join broadcasts the static side per micro-batch, so
the stream never shuffles for enrichment.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from sensorstream_scalable_sensor_data_pipeline_spark.session import prepare_session

#: Seconds a drain may run before it is stopped and raises.
DRAIN_TIMEOUT_S = 300

#: Progress entries retained per query. Spark's default cap is 100 —
#: a 150-trigger drain would silently lose the first 50 triggers'
#: late-drop counts from the summary, which defeats the module.
PROGRESS_RETENTION = 10_000

#: First pinned mtime of a landing; file ``i`` gets this plus ``i``.
_LANDING_MTIME = 1_700_000_000

_mem_counter = itertools.count()


def drain(spark: SparkSession, writer: DataStreamWriter) -> list[dict]:
    """Run ``writer``'s query to completion under the drain contract
    (module docstring) and return its progress history."""
    conf_key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(PROGRESS_RETENTION))
    try:
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"stream drain {q.name or q.id} still running after "
                f"{DRAIN_TIMEOUT_S}s; stopped, its output is partial"
            )
        return [json.loads(p.json) for p in q.recentProgress]
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def file_stream(spark: SparkSession, path: str, glob: str = "*.parquet") -> DataFrame:
    """``readStream`` over the parquet files in directory ``path`` that
    match ``glob``, one file per trigger. A streaming file source needs
    an explicit schema; it is taken from the file footers (a metadata
    read, no data scan), so the stream tracks whichever physical types
    the files carry."""
    phys = spark.read.option("pathGlobFilter", glob).parquet(path).schema
    return (
        spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .parquet(path)
    )


def land_files(frames: list[DataFrame], landing: str) -> str:
    """Write each frame as one parquet file ``<landing>/<i:03d>.parquet``
    and return ``landing``. ``FileStreamSource`` orders files by
    modification time, not name, so each file's mtime is pinned to
    :data:`_LANDING_MTIME` + i: delivery order under :func:`file_stream`
    is the list order, whatever the write latency or the filesystem's
    timestamp resolution."""
    os.makedirs(landing, exist_ok=True)
    for i, df in enumerate(frames):
        stage = os.path.join(landing, f"_w{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = [n for n in os.listdir(stage) if n.endswith(".parquet")]
        dst = os.path.join(landing, f"{i:03d}.parquet")
        os.replace(os.path.join(stage, part), dst)
        os.utime(dst, (_LANDING_MTIME + i, _LANDING_MTIME + i))
        shutil.rmtree(stage)
    return landing


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet as a file source, with
    the same event-time normalization as the batch loader
    (``sources.tables.normalize_event_ts``). The glob scopes the
    source to the events file of the testdata directory (a real
    deployment points at a landing directory that receives files over
    time)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        normalize_event_ts,
    )

    prepare_session(spark)
    return normalize_event_ts(file_stream(spark, sf_dir, "events.parquet"))


def drain_with_progress(
    sdf: DataFrame, output_mode: str
) -> tuple[DataFrame, list[dict]]:
    """:func:`drain_to_memory`, plus the query's progress history:
    (result table, [progress dict per trigger])."""
    name = f"ss_drain_{next(_mem_counter)}"
    progress = drain(
        sdf.sparkSession,
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
    )
    return sdf.sparkSession.table(name), progress


def drain_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Drain a bounded stream into a memory sink and return the
    drained result table.

    ORACLE HARNESS ONLY: a memory sink materializes the whole result
    in driver memory — with ``output_mode="complete"`` that is the
    full aggregate state, a driver OOM at 100× scale. The production
    sink is :func:`drain_to_parquet` (checkpointed, replay-safe,
    executor-side writes)."""
    return drain_with_progress(sdf, output_mode)[0]


def drain_to_parquet(
    sdf: DataFrame,
    out_dir: str,
    checkpoint: str | None = None,
    per_batch: Callable[[DataFrame], DataFrame] | None = None,
    output_mode: str = "append",
) -> str:
    """Drain a bounded stream through the per-batch parquet sink (the
    reference's S3 writer role; replay guarantee in the module
    docstring) into ``out_dir`` and return it. ``per_batch``, when
    given, maps each micro-batch before the write (a batch as-of join,
    say). The checkpoint defaults to ``<out_dir>/_checkpoint``, which
    parquet reads of ``out_dir`` skip; re-running with the same
    checkpoint resumes after the last committed batch."""
    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        if per_batch is not None:
            bdf = per_batch(bdf)
        (
            bdf.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    drain(
        sdf.sparkSession,
        sdf.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint or os.path.join(out_dir, "_checkpoint")),
    )
    return out_dir


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    """The rows :func:`drain_to_parquet` wrote to ``path``, without its
    ``_batch_id`` partition column."""
    return spark.read.parquet(path).drop("_batch_id")
