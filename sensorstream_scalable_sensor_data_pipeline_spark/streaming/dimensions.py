"""Streaming SCD2 dimension maintenance (§2.10 × sources/merge.py):
a change stream keeps a full-history dimension table current.

The batch half (sources/merge.py::scd2_apply) answers "apply this
batch of attribute changes"; deployments get those changes as a
STREAM (CDC feed, state events). This module runs the same pure
transform inside a checkpointed ``foreachBatch``: each micro-batch is
pre-collapsed to its latest row per key, applied to the current
dimension, and the new dimension swapped in through
``sources/writers.py::staged_swap``, so a failure mid-write leaves
the previous dimension intact and the checkpoint replays the batch.

IDEMPOTENCY, the at-least-once requirement: ``scd2_apply`` is a
fixpoint under replay BY CONSTRUCTION — a replayed batch's updates
are now the dimension's current rows, the NULL-safe change detection
sees identical attributes, and every branch lands in "unchanged"
(pinned by applying the same batch twice and hashing the dimension).
No batch-id bookkeeping needed; algebraic idempotency beats marker
files.

Rewrite cost: each batch rewrites the dimension — dimensions are
key-cardinality-sized (thousands-millions of rows), orders below the
fact stream, and the full-history table IS the product. A dimension
too large for that moves to ``merge_upsert`` on a partition column of
the key domain; the transform is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.sources.merge import (
    _path_exists as _table_exists,
    merge_upsert,
    scd2_apply,
    scd2_init,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import staged_swap
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import drain


def latest_per_key(
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str,
) -> DataFrame:
    """Collapse a batch to ONE row per key — the newest by
    (effective, attrs struct): scd2_apply's single-row-per-key
    contract, enforced deterministically (an effective-instant tie
    resolves by the full attr struct, never arrival order)."""
    pick = F.max_by(
        F.struct(*attr_cols, effective_col),
        F.struct(F.col(effective_col), F.struct(*attr_cols)),
    ).alias("_p")
    return (
        updates.groupBy(*key_cols)
        .agg(pick)
        .select(
            *key_cols,
            *[F.col("_p")[c].alias(c) for c in attr_cols],
            F.col("_p")[effective_col].alias(effective_col),
        )
    )


def apply_scd2_batch(
    spark: SparkSession,
    dim_dir: str,
    batch: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str,
) -> None:
    """One batch against the durable dimension: read (or bootstrap),
    apply, swap in through :func:`staged_swap`, which also heals an
    interrupted earlier swap before the read. Exposed for tests and for
    batch backfills — the streaming sink below is just this per
    micro-batch.

    Crash windows are those of :func:`staged_swap` (see
    ``sources/writers.py``); a replay of the crashed batch is safe in
    each, because scd2_apply is a fixpoint under replay."""
    with staged_swap(dim_dir) as staging:
        collapsed = latest_per_key(batch, key_cols, attr_cols, effective_col)
        if os.path.exists(dim_dir):
            dim = spark.read.parquet(dim_dir)
            updated = scd2_apply(dim, collapsed, key_cols, attr_cols, effective_col)
        else:
            updated = scd2_init(collapsed, key_cols, attr_cols, effective_col)
        updated.write.mode("overwrite").parquet(staging)


def stream_scd2_maintain(
    spark: SparkSession,
    changes: DataFrame,
    dim_dir: str,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str,
    checkpoint: str,
) -> DataFrame:
    """Drain a bounded change stream into the dimension at
    ``dim_dir`` and return the resulting dimension (drain contract in
    ``streaming/pipeline.py``; production drops the trigger for a
    continuous feed). Batches arrive through the checkpointed
    ``foreachBatch`` sink; every batch is one :func:`apply_scd2_batch`.
    A timed-out drain raises and leaves the dimension at its last
    completed batch."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_scd2_batch(
            spark, dim_dir, batch_df, key_cols, attr_cols, effective_col
        )

    drain(
        spark,
        changes.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint),
    )
    return spark.read.parquet(dim_dir)


def pruned_table_rows(
    spark: SparkSession,
    table_path: str,
    touched: DataFrame,
    join_cols: list[str],
    partition_col: str | None,
) -> DataFrame:
    """The durable table's rows matching ``touched``'s keys, read at
    touched-partition cost: an IN-list partition filter from the
    batch's distinct partition values (static pruning — the filter
    reaches the scan's PartitionFilters; SQL IN never matches NULL,
    so a NULL partition value gets the explicit isNull disjunct),
    then a broadcast semi-join on ``join_cols``. Pass
    ``partition_col=None`` to skip pruning (when keys may move
    partitions). Shared by the merge-upsert and sketch-maintenance
    sinks — one place to maintain the pruning semantics."""
    table = spark.read.parquet(table_path)
    if partition_col is not None:
        # Bounded by the merge granularity (exactly the partitions the
        # dynamic overwrite rewrites anyway) — driver-safe collect,
        # same convention as merge_upsert's touched-partition list.
        parts = [r[0] for r in touched.select(partition_col).distinct().collect()]
        pred = F.col(partition_col).isin([p for p in parts if p is not None])
        if any(p is None for p in parts):
            pred = pred | F.col(partition_col).isNull()
        table = table.filter(pred)
    return table.join(
        F.broadcast(touched.select(*join_cols).distinct()),
        join_cols,
        "left_semi",
    )


def _current_rows_for(
    spark: SparkSession,
    table_path: str,
    latest: DataFrame,
    key_cols: list[str],
    partition_col: str,
    keys_move_partitions: bool,
) -> DataFrame:
    """The table's current rows for the batch's keys — the
    :func:`pruned_table_rows` read projected to the batch's columns.
    Pruning is sound only under the default key-determines-partition
    contract; with ``keys_move_partitions=True`` the read stays
    unpruned."""
    return pruned_table_rows(
        spark,
        table_path,
        latest,
        key_cols,
        None if keys_move_partitions else partition_col,
    ).select(*latest.columns)


def stream_merge_upsert(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str,
    checkpoint: str,
    keys_move_partitions: bool = False,
) -> DataFrame:
    """The fact-table counterpart of :func:`stream_scd2_maintain`:
    a change stream upserts into a partitioned parquet table via
    ``sources/merge.py::merge_upsert`` per micro-batch — CDC into the
    current-state table, cost per batch ∝ touched partitions.

    ORDERING ACROSS BATCHES: each batch collapses to its newest row
    per key by ``order_col`` (:func:`latest_per_key` — ties resolve
    on the full payload struct), and the survivors are then compared
    against the TABLE's current rows for the same keys — an older
    event redelivered or arriving late in a LATER batch can never
    regress a key to stale state (a bare replace would; reviewer-
    found). That comparison is one partition-pruned, key-semi-joined
    read (:func:`_current_rows_for`): under merge_upsert's default
    partition-stability contract a key's current row lives in its
    batch row's partition, so the read is filtered to the batch's
    distinct partition values BEFORE the semi-join — the same
    touched-partition cost class as the merge itself; at 100 TB the
    alternative is a full table scan per CDC batch. When
    ``keys_move_partitions=True`` the contract doesn't hold (a key's
    current row may sit in a partition the batch doesn't mention) and
    the semi-join runs unpruned, matching merge_upsert's own
    moved-keys scan. Replay idempotency follows: re-merging rows that
    already won changes nothing."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        payload = [c for c in batch_df.columns if c not in key_cols]
        attrs = [c for c in payload if c != order_col]
        latest = latest_per_key(batch_df, key_cols, attrs, order_col)
        # FileSystem probe, not os.path — on s3a/hdfs os.path.exists is
        # always False, which would silently skip the anti-regression
        # comparison every batch (review-found; same defect class as
        # merge.py's r8 probe fix).
        if _table_exists(spark, table_path):
            current = _current_rows_for(
                spark, table_path, latest, key_cols, partition_col,
                keys_move_partitions,
            )
            winners = latest_per_key(
                current.unionByName(latest), key_cols, attrs, order_col
            )
        else:
            winners = latest
        merge_upsert(
            spark,
            table_path,
            winners,
            key_cols,
            partition_col,
            keys_move_partitions=keys_move_partitions,
        )

    drain(
        spark,
        changes.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint),
    )
    return spark.read.parquet(table_path)
