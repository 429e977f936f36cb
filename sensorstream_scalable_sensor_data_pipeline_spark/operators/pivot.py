"""Long→wide reshaping (W1 in SURVEY §2.5) — the reference's emit layer.

The reference pivots its tall fact table into per-sensor outputs with
a driver loop: collect ``distinct tagpath``, then per sensor filter →
drop keys → rename the value column to the sensor's name → write
(main_pipeline.py:305-329). That is O(sensors) Spark jobs and
O(sensors) full scans of the cached input.

Spark-first replacements, both single-job:

* ``pivot_wide`` — one wide DataFrame:
  ``groupBy(time).pivot(key, values).agg(...)``. Passing the explicit
  ``values`` list skips Spark's extra distinct-scan job and keeps the
  plan a single hash aggregate. Right when the key cardinality is
  column-shaped (≤ a few thousand sensors).
* ``sources.writers.write_partitioned`` — `partitionBy(key)` layout.
  Right when cardinality is large (millions of sensors): one shuffle-
  free write, per-key directories, partition-pruned read-back.

Scale note: `pivot` with K values builds K aggregation slots per
group — memory grows with K, so the explicit-values form with bounded
K is mandatory at scale; unbounded-cardinality keys go to the
partitioned layout instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def pivot_wide(
    df: DataFrame,
    time_col: str,
    key_col: str,
    agg: Column,
    values: list[str] | None = None,
) -> DataFrame:
    """W1: tall (time, key, value) → wide (time, <key1>, <key2>, ...)."""
    p = df.groupBy(time_col).pivot(key_col, values) if values else df.groupBy(time_col).pivot(key_col)
    return p.agg(agg)
