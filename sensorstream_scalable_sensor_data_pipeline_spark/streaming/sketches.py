"""Streaming maintenance of mergeable sketch tables (§2.10 × §2.12).

The batch half (operators/sketch_rollup.py) answers "build fine-grain
sketches, merge for any coarser grain"; production feeds arrive as
STREAMS, and the sketch table must stay current without re-scanning
history. This module runs the maintenance inside a checkpointed
``foreachBatch``: each micro-batch aggregates its own rows into
per-group sketches, reads the durable table's CURRENT rows for the
touched groups only (partition-pruned + key-semi-joined, the
streaming/dimensions.py cost class), unions sketch-with-sketch, and
swaps the updated rows in via the partition-pruned ``merge_upsert``
— cost per batch ∝ touched groups, never the table.

REPLAY SAFETY, two mechanisms because the two columns differ:

* the SKETCH is algebraically idempotent — HLL union is a register
  max, so re-unioning a batch a committed row already absorbed is a
  no-op; redelivery can never inflate the distinct estimate;
* the exact ``n_rows`` counter is a sum — NOT idempotent — so each
  row records ``last_batch_id`` and a replayed batch (same id) leaves
  the count untouched. merge_upsert's dynamic overwrite commits per
  partition, so after a mid-write crash each group is individually
  either updated (id recorded → replay skips its count) or not
  (replay applies it) — per-group exactly-once accounting without a
  global transaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.sketch_rollup import (
    DEFAULT_LGK,
    build_distinct_sketches,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.merge import (
    _path_exists,
    merge_upsert,
)
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.dimensions import (
    pruned_table_rows,
)
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import drain


def apply_sketch_batch(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    group_cols: list[str],
    value_col: str,
    partition_col: str,
    batch_id: int,
    lgk: int = DEFAULT_LGK,
) -> None:
    """One micro-batch into the durable sketch table: aggregate the
    batch, union against the touched groups' current sketches,
    merge-upsert the updated rows. ``partition_col`` must be one of
    ``group_cols`` (key-determines-partition, so the current-rows
    read prunes). Exposed for tests and batch backfills."""
    if partition_col not in group_cols:
        raise ValueError("partition_col must be one of group_cols")
    if len(group_cols) < 2:
        raise ValueError(
            "group_cols needs at least one non-partition column "
            "(merge_upsert keys on the non-partition part of the group)"
        )
    fresh = build_distinct_sketches(batch, group_cols, value_col, lgk=lgk).select(
        *group_cols,
        F.col("sketch").alias("_sk_new"),
        F.col("n_rows").alias("_n_new"),
    )
    # materialize once: the null probe below and the join/merge path
    # both consume `fresh`; without this the per-batch groupBy
    # aggregation executes twice per micro-batch (review-found).
    fresh = fresh.localCheckpoint(eager=True)
    # NULL group values would fall through every equi-join below (and
    # merge_upsert's key anti-join): the committed row becomes
    # invisible, rows duplicate, and the replay gate stops gating —
    # silent corruption. Sketch-table group keys are dimensional keys;
    # require them non-null (review-found).
    null_pred = None
    for c in group_cols:
        p = F.col(c).isNull()
        null_pred = p if null_pred is None else (null_pred | p)
    if fresh.filter(null_pred).limit(1).count() > 0:
        raise ValueError(
            f"NULL value in group columns {group_cols}: sketch-table "
            "group keys must be non-null (filter or coalesce upstream)"
        )
    key_cols = [c for c in group_cols if c != partition_col]
    if _path_exists(spark, table_path):
        current = pruned_table_rows(
            spark, table_path, fresh, group_cols, partition_col
        )
        j = fresh.join(current, group_cols, "left")
        replayed = F.col("last_batch_id") == F.lit(int(batch_id))
        merged = j.select(
            *group_cols,
            F.when(F.col("sketch").isNull(), F.col("_sk_new"))
            .otherwise(F.hll_union(F.col("sketch"), F.col("_sk_new")))
            .alias("sketch"),
            F.when(F.col("n_rows").isNull(), F.col("_n_new"))
            .when(replayed, F.col("n_rows"))
            .otherwise(F.col("n_rows") + F.col("_n_new"))
            .cast("long")
            .alias("n_rows"),
            F.lit(int(batch_id)).alias("last_batch_id"),
        )
    else:
        merged = fresh.select(
            *group_cols,
            F.col("_sk_new").alias("sketch"),
            F.col("_n_new").cast("long").alias("n_rows"),
            F.lit(int(batch_id)).alias("last_batch_id"),
        )
    merge_upsert(spark, table_path, merged, key_cols, partition_col)


def stream_sketch_maintain(
    spark: SparkSession,
    stream: DataFrame,
    table_path: str,
    group_cols: list[str],
    value_col: str,
    partition_col: str,
    checkpoint: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Drain a bounded stream into the sketch table (drain contract in
    ``streaming/pipeline.py``; drop the trigger for continuous feeds)
    and return the resulting table. Downstream, any coarser-grain
    distinct question reads the table through
    ``rollup_distinct_sketches`` — never the raw history. (``last_batch_id`` is maintenance metadata; drop it
    before rolling up.)"""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_sketch_batch(
            spark, table_path, batch_df, group_cols, value_col,
            partition_col, batch_id, lgk=lgk,
        )

    drain(
        spark,
        stream.writeStream.foreachBatch(_apply).option("checkpointLocation", checkpoint),
    )
    return spark.read.parquet(table_path)
