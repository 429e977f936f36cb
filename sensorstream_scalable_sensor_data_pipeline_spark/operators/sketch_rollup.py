"""Mergeable distinct-count sketch tables — incremental HLL rollups
(§2.12 extension, backed by Datasketches).

The 100 TB pattern: you cannot afford to re-scan history every time
someone asks "distinct users this month". Instead, maintain a SKETCH
TABLE at a fine grain (e.g. one HLL sketch per day) — each increment
scans only its own day — and answer ANY coarser-grain question by
merging sketches: month = union of ~30 sketches, all-time = union of
all of them, each merge a few KB per row instead of a raw re-scan.
HLL union is lossless over register maxima, so a rolled-up estimate
IS the estimate the one-shot sketch would give — order- and
batch-insensitive (pinned in tests).

Spark 3.5+ ships the Apache DataSketches HLL as native expressions
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``) —
JVM-side, map-side partially aggregated, the sketch travels as a
``binary`` column any parquet table can persist. This module is the
thin discipline layer: build at fine grain, persist, merge at query
time; never re-aggregate raw data for a coarser distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: log2 of HLL registers: 12 → 4096 registers, ~1.6% relative
#: standard error, ~4 KB per sketch at most.
DEFAULT_LGK = 12


def build_distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Fine-grain sketch table: one row per group carrying the HLL
    sketch of ``value_col``'s distinct values plus the exact row
    count — (group_cols..., sketch, n_rows). One map-side-combined
    hash aggregate; the shuffle carries sketches, not values."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(int(lgk))).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rollup_distinct_sketches(
    sketches: DataFrame,
    rollup_cols: list[str],
) -> DataFrame:
    """Answer a coarser-grain distinct question FROM the sketch table
    (never from raw data): groups collapse via lossless HLL union —
    (rollup_cols..., sketch, n_rows, approx_distinct). The result is
    itself a sketch table, so rollups chain (day → month → year).
    Pass ``rollup_cols=[]`` for the global estimate (one row)."""
    gb = sketches.groupBy(*rollup_cols) if rollup_cols else sketches.groupBy()
    merged = gb.agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.withColumn(
        "approx_distinct", F.hll_sketch_estimate("sketch").cast("long")
    )


def sketch_estimate(sketch: Column) -> Column:
    """Point estimate off a persisted sketch column."""
    return F.hll_sketch_estimate(sketch).cast("long")


# ------------------------------------------------ KLL quantile rollups

#: KLL accuracy parameter: 200 → ~1.65% one-sided rank error (the
#: DataSketches default); every value is retained EXACTLY while a
#: group holds fewer than ~k items.
DEFAULT_KLL_K = 200


def build_quantile_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = DEFAULT_KLL_K,
) -> DataFrame:
    """Fine-grain QUANTILE sketch table (r8): one KLL double sketch
    per group — the percentile twin of :func:`build_distinct_sketches`
    for "P99 this month without re-scanning history". Same discipline:
    one map-side-combined aggregate, the sketch travels as a binary
    parquet column. (group_cols..., qsketch, n_rows)."""
    return df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(
            F.col(value_col).cast("double"), F.lit(int(k))
        ).alias("qsketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rollup_quantile_sketches(
    sketches: DataFrame,
    rollup_cols: list[str],
    quantiles: list[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Coarser-grain percentiles FROM the sketch table: groups
    collapse via KLL merge (mergeability is the datasketches
    guarantee — rank error does not degrade with merge order), then
    each requested quantile is read off the merged sketch. The result
    keeps the merged sketch column, so rollups chain like the HLL
    ones. ``rollup_cols=[]`` → one global row."""
    gb = sketches.groupBy(*rollup_cols) if rollup_cols else sketches.groupBy()
    merged = gb.agg(
        F.kll_merge_agg_double("qsketch").alias("qsketch"),
        F.sum("n_rows").alias("n_rows"),
    )
    # collision-proof names: q50, q95, q99_5, ... — a whole-percent
    # rounding would silently overwrite one of two close quantiles
    # (0.995 and 0.999 both → "q100"; review-found)
    names = [f"q{float(q) * 100:g}".replace(".", "_") for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantiles requested: {list(quantiles)}")
    for q, name in zip(quantiles, names):
        merged = merged.withColumn(
            name, F.kll_sketch_get_quantile_double("qsketch", F.lit(float(q)))
        )
    return merged


# ------------------------------------------------- Theta set algebra

#: Theta nominal entries (log2): 12 → 4096 retained hashes; below
#: that a sketch is in EXACT mode and set estimates are exact.
DEFAULT_THETA_LGK = 12


def build_theta_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lgk: int = DEFAULT_THETA_LGK,
) -> DataFrame:
    """Theta sketch table (r8): like the HLL table but supporting SET
    ALGEBRA — Theta sketches intersect and subtract, which HLL
    fundamentally cannot (register maxima only union). The audience /
    cohort question "how many users did BOTH A and B" at 100 TB
    without an exact distinct join. (group_cols..., tsketch,
    n_rows)."""
    return df.groupBy(*group_cols).agg(
        F.theta_sketch_agg(F.col(value_col), F.lit(int(lgk))).alias("tsketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def segment_overlap(
    sketches: DataFrame,
    key_col: str,
    seg_a,
    seg_b,
) -> DataFrame:
    """One-row set-algebra report between two segments of a Theta
    sketch table: estimated |A|, |B|, |A∩B|, |A∪B|, |A∖B|, |B∖A| and
    the Jaccard estimate. Rows for each segment first collapse via
    Theta union (so the input may be fine-grain), then the two merged
    sketches combine driver-free — binary expressions over a one-row
    frame."""
    two = (
        sketches.filter(F.col(key_col).isin([seg_a, seg_b]))
        .groupBy(key_col)
        .agg(F.theta_union_agg("tsketch").alias("tsketch"))
        .agg(
            F.first(
                F.when(F.col(key_col) == seg_a, F.col("tsketch")),
                ignorenulls=True,
            ).alias("_sa"),
            F.first(
                F.when(F.col(key_col) == seg_b, F.col("tsketch")),
                ignorenulls=True,
            ).alias("_sb"),
        )
        .localCheckpoint(eager=True)
    )
    # a typo'd segment would propagate NULL through every theta
    # expression and read as "no overlap" in a report — raise instead
    # (review-found); the frame is one row, the check costs nothing
    probe = two.select(
        F.col("_sa").isNull().alias("a_missing"),
        F.col("_sb").isNull().alias("b_missing"),
    ).collect()[0]
    if probe["a_missing"] or probe["b_missing"]:
        missing = [
            s for s, gone in ((seg_a, probe["a_missing"]), (seg_b, probe["b_missing"]))
            if gone
        ]
        raise ValueError(f"segment(s) {missing!r} not present in {key_col!r}")
    est = F.theta_sketch_estimate
    inter = F.theta_intersection(F.col("_sa"), F.col("_sb"))
    union = F.theta_union(F.col("_sa"), F.col("_sb"))
    return two.select(
        est("_sa").alias("n_a"),
        est("_sb").alias("n_b"),
        est(inter).alias("n_intersection"),
        est(union).alias("n_union"),
        est(F.theta_difference(F.col("_sa"), F.col("_sb"))).alias("n_only_a"),
        est(F.theta_difference(F.col("_sb"), F.col("_sa"))).alias("n_only_b"),
        (est(inter) / est(union)).alias("jaccard"),
    )
