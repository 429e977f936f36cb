"""End-to-end pipeline runner (SURVEY §3.1 ``SensorDataPipeline.run``).

The reference's run() (main_pipeline.py:262-271) sequences: load
existing state → discover & extract new data since the cutoff →
enrich/filter/convert → per-sensor deduped ordered write → validate.
This runner is the same lifecycle, Spark-first:

* incremental cutoff from the materialized output — one MAX over a
  partition-PRUNED scan: the state is laid out
  ``partitionBy(tagpath, year, month)``, so the cutoff and the append
  anti-join read the lookback months only, never full history (the
  Spark-native form of the reference's month-table scheme,
  main_pipeline.py:179-187); extraction filter pushed into the scan;
* one declarative transform plan (broadcast enrich → integrity
  filter → schema-shaped series);
* idempotent merge (union + deterministic keyed dedup) and ONE
  partitioned write instead of the reference's per-sensor loop of N
  filtered writes;
* read-back validation (S9).

An overwrite run replaces ``series`` through
``sources/writers.py::staged_swap``, whose module docstring gives the
crash windows: a retry after a crash anywhere in the swap keeps the
history. State without the ``(year, month)`` partition columns (the
pre-partitioning layout) is refused before any write.

Run it twice with the same inputs → byte-identical output (the
idempotency property test in tests/test_runner.py).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.config import PipelineConfig
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup import (
    key_dedup_deterministic,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.enrich import (
    anti_filter,
    enrich,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.filters import (
    integrity_filter,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.incremental import (
    compute_cutoff_pruned,
    partition_months_pred,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    staged_swap,
    validate_output,
    write_partitioned,
)


def build_series(spark: SparkSession, cfg: PipelineConfig, cutoff: dt.datetime | None) -> DataFrame:
    """The transform plan: events≈SENSOR_RAW enriched by
    customer≈TAGS (FIXTURES.md mapping), integrity-filtered, shaped to
    the output schema. Entirely lazy; the cutoff filter pushes into
    the parquet scan."""
    if cutoff is not None:
        # Raw-column range load: the cutoff reaches parquet row-group
        # pruning (see sources/tables.py::load_events_range).
        from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
            load_events_range,
        )

        ev = load_events_range(spark, cfg.input_dir, low=cutoff)
    else:
        ev = load_table(spark, cfg.input_dir, "events")
    dim = load_table(spark, cfg.input_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("tagpath"),
    )
    if cfg.sensor_patterns:
        # P8: regex sensor selection, OR-fold — pushed as one filter on
        # the (broadcast) dim side, the idiomatic form of the
        # reference's collect-ids-then-IN (main_pipeline.py:343-350).
        from functools import reduce

        pred = reduce(
            lambda a, b: a | b,
            [F.col("tagpath").rlike(p) for p in cfg.sensor_patterns],
        )
        dim = dim.filter(pred)
        clean = integrity_filter(ev, "value")
        enriched = enrich(clean, dim, on="user_id", how="inner")
    else:
        clean = integrity_filter(ev, "value")
        enriched = enrich(clean, dim, on="user_id", how="left")
    return enriched.select(
        F.col("tagpath"),
        F.col("ts").alias("datetime"),
        F.col("value").alias("sensor_value"),
        F.col("user_id").alias("sensor_id"),
        # Derived time-partition columns: the materialized layout is
        # partitionBy(tagpath, year, month) so incremental reads prune
        # to the lookback months (X9 on our own state, not just inputs).
        F.year("ts").alias("year"),
        F.month("ts").alias("month"),
    )


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    now: dt.datetime | None = None,
) -> dict:
    """Execute one incremental pipeline run; returns run stats."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    out_data = os.path.join(cfg.output_dir, "series")

    # Entering the swap heals a crashed earlier swap before the state
    # is read; only an overwrite writes to the stage and swaps.
    with staged_swap(out_data) as staging:
        # 1. Cutoff from materialized state (A1/A4/X12): a MAX over the
        # lookback months only — the (year, month) partition columns turn
        # the filter into PartitionFilters, so the scan lists a handful of
        # directories at any history size (plan-pinned in test_runner.py).
        try:
            existing: DataFrame | None = spark.read.parquet(out_data)
        except Exception:
            existing = None
        if existing is not None and not {"year", "month"} <= set(existing.columns):
            raise ValueError(
                f"{out_data} has no (year, month) partition columns: it was "
                "written by the pre-partitioning runner, which this runner "
                "does not read; rebuild it from the sources into a new output_dir"
            )
        cutoff = compute_cutoff_pruned(
            existing,
            "datetime",
            now,
            lookback_days=cfg.lookback_days,
            default_start=dt.datetime.strptime(cfg.default_start_date, "%Y-%m-%d"),
        )

        # 2-3. Extract + transform (one lazy plan).
        increment = build_series(spark, cfg, cutoff)

        # 4. Idempotent merge + single partitioned write. Overwrite mode
        # rewrites the full merged state. Append mode touches history only
        # within the cutoff's months (partition-pruned), under the
        # configured collision policy:
        # * existing_wins: append ONLY rows whose (sensor_id, datetime)
        #   key is not already materialized — the anti-join makes
        #   re-running the same increment a no-op, and its build side is
        #   partition-pruned to the cutoff months, so it stays small at
        #   any history size. History is immutable.
        # * keep_max: the reference's semantics (union existing with the
        #   increment and dedup before writing, main_pipeline.py:321-328)
        #   — a late corrected reading replaces history. Implemented as a
        #   dynamic-partition-overwrite merge: only the lookback months'
        #   partitions are rewritten, never the table.
        keys = ["sensor_id", "datetime"]
        deduped = key_dedup_deterministic(increment, keys, "sensor_value", keep="max")
        write_mode, dynamic = cfg.write_mode, False
        if existing is not None and write_mode == "overwrite":
            deduped = key_dedup_deterministic(
                existing.unionByName(deduped, allowMissingColumns=False),
                keys,
                "sensor_value",
                keep="max",
            )
        elif existing is not None and cfg.append_conflict == "existing_wins":
            recent_keys = (
                existing.filter(partition_months_pred(cutoff))
                .filter(F.col("datetime") >= F.lit(cutoff))
                .select(*keys)
            )
            deduped = anti_filter(deduped, recent_keys, keys)
        elif existing is not None:  # append + keep_max
            # Materialize the (partition-pruned, lookback-sized) months
            # before the write: the merge overwrites the very partitions it
            # reads, so the read must complete first — localCheckpoint cuts
            # the lineage back to materialized blocks (an object-store
            # deployment with stricter durability uses checkpoint() to the
            # cluster store; same O(lookback), never O(history), data).
            recent = existing.filter(partition_months_pred(cutoff)).localCheckpoint(
                eager=True
            )
            deduped = key_dedup_deterministic(
                recent.unionByName(deduped), keys, "sensor_value", keep="max"
            )
            write_mode, dynamic = "overwrite", True
        write_partitioned(
            deduped,
            staging if write_mode == "overwrite" and not dynamic else out_data,
            ["tagpath", "year", "month"],
            mode=write_mode,
            max_records_per_file=cfg.max_records_per_file,
            dynamic_partition_overwrite=dynamic,
        )

    # 5. Validate (S9).
    n = validate_output(spark, out_data)
    return {"rows": n, "cutoff": cutoff.isoformat(), "output": out_data}
