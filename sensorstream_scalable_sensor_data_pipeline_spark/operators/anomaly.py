"""Sensor anomaly detection: downtime gaps, rolling z-scores, robust
MAD outliers (§2.12 domain extensions).

The reference's pipeline cleans and reshapes sensor readings but has
no anomaly stage (SURVEY §2 — zero window functions); these are the
three shapes a monitoring deployment bolts on first:

* :func:`detect_gaps` — transmission downtime: consecutive-reading
  gaps beyond a threshold. One keyed lag window.
* :func:`rolling_zscore` — spike detection against the key's own
  trailing statistics. One keyed RANGE window (trailing
  ``window_seconds``); mean/variance from exact grid sums so the
  z-scores — and the flag cut — are bit-stable across engines and
  partitionings (functions/aggfns.py doctrine; a plain
  ``stddev`` OVER would drift by ulps and flip borderline flags).
* :func:`mad_outliers` — distribution-level robust outliers:
  |x − median| > k·MAD. Median/MAD are exact interpolated
  percentiles (``F.percentile``, bit-equal to DuckDB's
  ``quantile_cont``); two aggregate passes +
  broadcastable joins, no window at all — the 100 TB path for
  "flag the corrupt readings" batch QC.

Scale shapes: gaps and z-scores are one hash-partitioned sort per key
(the as-of/window cost class — operators/asof.py's SKEW note applies
verbatim, and its bucketing escape hatch too); MAD is two partial
aggregates over (key) plus joins that broadcast when the key
cardinality is dimension-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GRID = 1_000_000.0


def detect_gaps(
    readings: DataFrame,
    on: str,
    time_col: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Downtime intervals: one row per consecutive-reading pair more
    than ``max_gap_seconds`` apart — (key, gap_start, gap_end,
    gap_seconds). The first reading of a key opens no gap (nothing
    precedes it); gap_seconds is exact micros-derived double."""
    w = Window.partitionBy(on).orderBy(time_col)
    prev = F.lag(F.col(time_col)).over(w)
    dt_us = F.unix_micros(F.col(time_col)) - F.unix_micros(prev)
    return (
        readings.select(
            on,
            prev.alias("gap_start"),
            F.col(time_col).alias("gap_end"),
            dt_us.alias("_dt_us"),
        )
        .filter(F.col("_dt_us") > int(max_gap_seconds) * 1_000_000)
        .select(
            on,
            "gap_start",
            "gap_end",
            (F.col("_dt_us").cast("double") / F.lit(1_000_000.0)).alias(
                "gap_seconds"
            ),
        )
    )


def rolling_zscore(
    readings: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    window_seconds: int,
    z_threshold: float = 3.0,
    min_points: int = 5,
) -> DataFrame:
    """Per-reading z-score against the key's trailing
    ``window_seconds`` of readings (current row included), plus an
    ``is_anomaly`` flag at |z| ≥ ``z_threshold``.

    Variance comes from exact integer grid sums (s1 = Σfloor(v·1e6),
    s2 = Σfloor(v²·1e6)) with a FIXED op order — mean = s1/1e6/n,
    var = s2/1e6/n − mean² — so two engines computing the same window
    produce bit-identical z. Windows with fewer than ``min_points``
    readings or zero variance yield NULL z and a false flag (a
    constant signal has no spikes; a 3-point "baseline" is noise)."""
    us = F.unix_micros(F.col(time_col))
    w = (
        Window.partitionBy(on)
        .orderBy(us)
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    v = F.col(value_col).cast("double")
    s1 = F.sum(F.floor(v * F.lit(GRID)).cast("long")).over(w)
    s2 = F.sum(F.floor(v * v * F.lit(GRID)).cast("long")).over(w)
    n = F.count(v).over(w)
    mean = s1.cast("double") / F.lit(GRID) / n
    var = s2.cast("double") / F.lit(GRID) / n - mean * mean
    z = F.when(
        (n >= int(min_points)) & (var > 0), (v - mean) / F.sqrt(var)
    )
    out = readings.withColumn("zscore", z)
    return out.withColumn(
        "is_anomaly",
        F.coalesce(F.abs(F.col("zscore")) >= F.lit(float(z_threshold)), F.lit(False)),
    )


def mad_outliers(
    readings: DataFrame,
    on: str,
    value_col: str,
    k: float = 6.0,
) -> DataFrame:
    """Robust per-key outlier flag: |x − median| > k·MAD, where MAD is
    the raw median absolute deviation (no normal-consistency constant
    — fold 1.4826 into ``k`` if σ-units are wanted). Keys whose MAD is
    0 (at least half the readings identical) flag only exact
    deviants: |x − median| > 0 is then the sharpest cut that doesn't
    flag the majority value itself.

    Two aggregate passes (median, then MAD on the residuals) + keyed
    joins — no window, no sort of the full data; percentiles are
    exact interpolation (DuckDB ``quantile_cont``-equal)."""
    v = F.col(value_col).cast("double")
    med = readings.groupBy(on).agg(
        F.percentile(F.col(value_col), F.lit(0.5)).alias("_med")
    )
    j = readings.join(med, on)
    mad = (
        j.select(on, F.abs(v - F.col("_med")).alias("_ad"))
        .groupBy(on)
        .agg(F.percentile(F.col("_ad"), F.lit(0.5)).alias("_mad"))
    )
    out = j.join(mad, on)
    dev = F.abs(v - F.col("_med"))
    flag = F.when(
        F.col("_mad") > 0, dev > F.lit(float(k)) * F.col("_mad")
    ).otherwise(dev > 0)
    return out.select(
        *readings.columns,
        F.col("_med").alias("median"),
        F.col("_mad").alias("mad"),
        flag.alias("is_outlier"),
    )
