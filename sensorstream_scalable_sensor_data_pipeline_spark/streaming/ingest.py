"""Streaming face of the crash-consistent incremental dedup ingest.

Composes two existing guarantees into end-to-end EXACTLY-ONCE state
semantics with zero new machinery — the Spark-first layering this
engine is built on:

* Structured Streaming's ``foreachBatch`` delivers each micro-batch
  AT LEAST once, with a ``batch_id`` (epoch) that is STABLE across
  retries and restarts from the same checkpoint (the documented
  foreachBatch contract);
* :mod:`operators.dedup_incremental`'s ingests are idempotent by
  ``batch_id``: a batch whose state already committed returns its
  staged survivors without recomputing or double-appending (the
  state dir's manifest log records every committed batch).

Keying the ingest's ``batch_id`` on ``(run_id, epoch)`` therefore
makes the at-least-once redelivery a no-op: a micro-batch that
crashed mid-ingest re-runs cleanly (overwrite staging), and one that
committed is skipped. The accepted corpus IS the state dir's
``accepted/batch=*`` dirs that the latest manifest version names —
there is no second sink to keep consistent.

Works for all four modalities by passing the matching ``ingest_fn``
(text :func:`~...dedup_incremental.ingest_batch` by default; image /
audio / video ingests share the same ``(spark, batch, state_dir)``
+ ``batch_id=`` shape). ``on_error="quarantine"`` and every other
modality knob thread through ``ingest_kwargs`` — a corrupt payload
in a stream must not kill the query (the r14/r15 quarantine
doctrine applies unchanged, content identity included).

Scale notes: each micro-batch pays one ingest — candidate joins
against committed state only (never all-pairs), inline
``maintain_state`` keeps fragmentation bounded under continuous
micro-batching (the threshold sweep is a no-op 15 of 16 epochs), and
the per-epoch state append is survivor-sized, not input-sized.
Serialize writers per state_dir exactly as in batch mode
(schedule.py's run lock): one streaming query per state dir.
Provenance stays bounded too (r16, closing the r15 watch):
``stream_ingest`` registers its ``run_id`` in the manifest as a
sequential-epoch run, so compaction provenance records its folded
epochs as ONE per-run ``[lo, hi]`` interval instead of one id per
epoch — a year at one epoch/minute is two integers in the manifest,
not ~525k ids, and the driver-side resume set is O(#runs +
#batch-mode-ids) regardless of total epochs ever ingested.
Registered run ids are a reserved namespace: never hand-issue
``<run_id>-<n>`` batch ids against a state dir whose ``run_id`` is
registered (the interval arithmetic assumes foreachBatch's
sequential commit order).

Reference tie: the reference hand-rolls scheduled incremental batch
(SURVEY §1.3/§2.10 — cutoff watermark + dropDuplicates + daily
trigger); this face is the same semantics as a genuine stream with
the dedup state made durable and transactional.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
    ingest_batch,
)


def ingest_writer(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    ingest_fn=ingest_batch,
    **ingest_kwargs,
) -> DataStreamWriter:
    """The checkpointed streaming dedup-ingest sink, not yet started:
    every micro-batch runs ``ingest_fn`` with
    ``batch_id=f"{run_id}-{epoch}"``. Drain it with
    ``streaming/pipeline.py::drain``.

    ``run_id`` namespaces the epoch counter inside the state dir —
    keep it STABLE for the lifetime of one checkpoint (epoch numbers
    restart only with a fresh checkpoint; a new checkpoint against
    the same state dir needs a new run_id, or epoch 0 would resume
    the OLD epoch 0's committed batch instead of ingesting).

    Empty micro-batches are skipped entirely (availableNow commonly
    emits one; an empty ingest would commit an empty state dir per
    epoch for nothing). Raises ValueError when ``state_dir`` was
    written by the pre-manifest layout."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        _register_stream_run,
    )

    # Registering in the manifest BEFORE the query starts makes every
    # compaction compress this run's folded epochs to one [lo, hi]
    # interval (bounded provenance under continuous micro-batching).
    _register_stream_run(spark, state_dir, run_id)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_fn(
            spark,
            batch_df,
            state_dir,
            batch_id=f"{run_id}-{epoch_id}",
            **ingest_kwargs,
        )

    return source.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )


def stream_ingest(
    spark: SparkSession,
    source: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream",
    ingest_fn=ingest_batch,
    **ingest_kwargs,
) -> StreamingQuery:
    """Start :func:`ingest_writer`'s query with the ``availableNow``
    trigger (drain the currently-available input, then stop: the
    daily-batch shape) and return it, for a caller that watches the
    live query. The caller owns the wait; engine code drains the
    writer instead."""
    return ingest_writer(
        spark, source, state_dir, checkpoint_dir, run_id, ingest_fn, **ingest_kwargs
    ).trigger(availableNow=True).start()


def accepted_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """Every durably accepted row across all committed ingest batches
    (streaming epochs and batch ingests alike — they share the state
    layout, including the tiered accepted-corpus compaction). Thin
    alias of :func:`~...dedup_incremental.read_accepted`."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        read_accepted,
    )

    return read_accepted(spark, state_dir)


def stream_corrupt_rate(
    spark: SparkSession, state_dir: str, run_id: str
) -> DataFrame | None:
    """Per-epoch corrupt-payload counts for one streaming run — the
    operational drift alarm over the quarantine identity table (r15
    verdict task #6): one ``(epoch, n_corrupt, n_distinct_payloads)``
    row per epoch of ``run_id`` that accepted corrupt rows under
    ``on_error="quarantine"``. A sudden jump in ``n_corrupt`` with
    flat ``n_distinct_payloads`` is a re-delivered corrupt source; a
    jump in both is upstream corruption drift.

    One groupBy over the tiny identity table (corrupt rows are the
    exception at any scale). Attribution SURVIVES compaction: every
    identity row carries its originating batch in a ``src_batch``
    data column that folding preserves, so folded epochs stay in
    this view. Returns None before any quarantined acceptance."""
    import re

    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        quarantine_report,
    )

    rep = quarantine_report(spark, state_dir)
    if rep is None:
        return None
    pat = "^" + re.escape(run_id) + r"-(\d+)$"
    return (
        rep.withColumn(
            "epoch",
            # try_cast: a non-matching batch id extracts '' — under
            # ANSI semantics a plain cast would throw, not NULL
            F.regexp_extract(F.col("batch"), pat, 1).try_cast("long"),
        )
        .filter(F.col("epoch").isNotNull())
        .groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_corrupt"),
            F.countDistinct("content_md5").alias("n_distinct_payloads"),
        )
        .orderBy("epoch")
    )
