"""Distributed linear recurrences — EWMA (exponential smoothing) at
scale (§2.12 custom operators: a running recurrence y_i = α·x_i +
(1−α)·y_{i−1} is SEQUENTIAL, the one shape Spark's window functions
cannot express — `avg over rows between` is a different statistic,
and a naive per-key loop doesn't distribute).

Both forms are one recurrence, ``y_i = (1−d_i)·x_i + d_i·y_{i−1}``
with per-row decay ``d_i = exp(−λ·Δc_i)`` over a clock ``c``: event
time for :func:`ewma_irregular`, the row number for :func:`ewma`
(``λ = −ln(1−α)``, so ``d = 1−α``; ``α = 1`` is the identity).
Unrolled over a run of rows with incoming state ``carry``,
``y_i = A_i + P_i·carry`` with
``A_i = e^{−λ(c_i−r)} · Σ_{j≤i} (1−d_j)·x_j·e^{λ(c_j−r)}`` for any
reference clock ``r``, and ``P_i = e^{−λ(c_i−c_prev)}``, where
``c_prev`` is the clock of the row before the run. One shared core,
zero UDFs, O(1) work per row and no array that grows with a chunk:

1. *Key window* (partitioned by key, ordered by time): row number,
   previous clock, the key's first value. A chunk is at most
   ``chunk_rows`` consecutive rows inside one exponent bucket
   ``floor(λ·(c − c_key0) / _MAX_EXPONENT)``; the bucket's start
   is ``r``, so ``e^{λ(c_j−r)}`` stays below ``e^600`` and never
   overflows (constant α = 0.9 alone would reach ``e^1179`` over 512
   rows).
2. *Chunk window*: ``A_i`` is one running window sum, ordered by the
   key-level row number (never by the timestamp, so ties resolve as
   in the key window); ``P_i`` is a plain column.
3. *Carry pass*: one aggregate per chunk gives its summary
   ``(A_end, B = P_end)``; per key, the summaries fold into the carry
   chain ``c_{k+1} = A_k + B_k·c_k``, and the carries join back per
   row on (key, chunk): ``y_i = A_i + P_i·c_chunk``.

The per-key bound is the carry fold: one summary per chunk, at most
``rows/chunk_rows + λ·span/_MAX_EXPONENT + 1`` of them, and the
fold copies its array at every step, so it costs O(chunks²) per key.
The chunk window's partitions hold at most ``chunk_rows`` rows.

Initialization folds in for free: pandas' ``ewm(adjust=False)`` sets
``y_0 = x_0``; the key's first row has ``d_0 = 1`` (its previous clock
is its own), so with ``carry_0 = x_0`` every row follows one rule.

NUMERICS, stated honestly: the rebased sums and the chunk-boundary
linear form reorder floating-point operations relative to the strict
sequential fold, so results match the sequential replay to float
tolerance (tests pin ``rtol 1e-9`` for α up to 0.999, α = 1, and
halflife-1 s bursts broken by gaps of 10³ halflives), NOT bit-exactly
— unlike the grid-exact aggregates elsewhere in this repo, which is
why this module does not ship a hash-level oracle. Chunk-size
invariance is pinned the same way. A rebased term is at most
``e^600·|x|``, so ``|x|`` must stay below ~1e45.

SKEW: the key window partitions by the bare key (a recurrence cannot
be split by value, only by position), so one task orders one key's
rows — the same funnel note as `operators/asof.py`; the per-row work
after it is chunk-parallel.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Largest decay exponent inside one chunk: e^600 ≈ 4e260 < 1.8e308.
_MAX_EXPONENT = 600.0


def ewma(
    df: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    alpha: float,
    chunk_rows: int = 512,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average in event-time
    order, ``pandas ewm(alpha, adjust=False)`` semantics (``y_0 =
    x_0``). Returns the input's (on, time_col, value_col) plus
    ``out_col``. Rows with NULL values are not supported (filter or
    fill first — a recurrence needs a defined input at every step)."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    if chunk_rows < 2:
        raise ValueError("chunk_rows must be at least 2")
    if alpha == 1.0:  # d = 0: no smoothing
        x = F.col(value_col).cast("double")
        return df.select(on, time_col, x.alias(value_col), x.alias(out_col))
    rn = F.row_number().over(Window.partitionBy(on).orderBy(time_col)) - 1
    return _ewma(
        df, on, time_col, value_col, -math.log1p(-float(alpha)), chunk_rows,
        out_col, clock=rn, prev=F.greatest(rn - 1, F.lit(0)),
    )


def ewma_irregular(
    df: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    halflife_seconds: float,
    chunk_rows: int = 512,
    out_col: str = "ewma",
) -> DataFrame:
    """EWMA for IRREGULARLY-sampled series — the form sensor data
    actually needs: the decay between consecutive readings is
    ``d_i = exp(−ln2 · Δt_i / halflife)`` so a reading twice as far
    back weighs exponentially less *in time*, not in row count:
    ``y_i = (1−d_i)·x_i + d_i·y_{i−1}``, ``y_0 = x_0``. A constant
    sampling interval Δt reduces this exactly to :func:`ewma` with
    ``α = 1 − exp(−ln2·Δt/halflife)``; both run through one core (the
    module docstring), with event-time µs as the clock. Zero UDFs; the
    oracle is a sequential numpy replay (tests)."""
    if halflife_seconds <= 0:
        raise ValueError("halflife_seconds must be positive")
    if chunk_rows < 2:
        raise ValueError("chunk_rows must be at least 2")
    # ln 2 / halflife, in 1/µs — decay exponent per event-time µs
    lam = math.log(2.0) / (float(halflife_seconds) * 1_000_000.0)
    w = Window.partitionBy(on).orderBy(time_col)
    us = F.unix_micros(F.col(time_col))
    t0 = F.first(us).over(w)
    return _ewma(
        df, on, time_col, value_col, lam, chunk_rows, out_col,
        clock=us - t0, prev=F.coalesce(F.lag(us).over(w), us) - t0,
    )


def _ewma(
    df: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    lam: float,
    chunk_rows: int,
    out_col: str,
    clock: Column,
    prev: Column,
) -> DataFrame:
    """The shared core: ``clock``/``prev`` are the row's clock and the
    previous row's (its own on the key's first row), both long, both
    counted from the key's first row and computed over the key window
    ordered by ``time_col``."""
    w = Window.partitionBy(on).orderBy(time_col)
    x = F.col(value_col).cast("double")
    rows = df.select(
        F.col(on),
        F.col(time_col),
        x.alias("_x"),
        (F.row_number().over(w) - 1).alias("_rn"),
        F.first(x).over(w).alias("_x0"),
        clock.alias("_c"),
        prev.alias("_pc"),
    )
    # exponent bucket and row chunk; the bucket's start (in clock
    # units) is the rebase reference, so every e^{λ(c−r)} ≤ e^600
    eb = F.floor(F.lit(lam) * F.col("_c") / _MAX_EXPONENT)
    rows = rows.select(
        "*",
        eb.alias("_eb"),
        F.floor(F.col("_rn") / F.lit(int(chunk_rows))).alias("_rb"),
    ).withColumn(
        "_h",
        F.lit(lam)
        * (F.col("_c") - F.floor(F.col("_eb") * _MAX_EXPONENT / lam)),
    )
    chunk = [on, "_eb", "_rb"]
    gain = -F.expm1(-F.lit(lam) * (F.col("_c") - F.col("_pc")))  # 1 − d
    term = gain * F.col("_x") * F.exp("_h")

    # carry chain per key over the chunk summaries (A_end, B): c_0 = x_0
    # (the init-folds-in trick), c_{k+1} = A_k + B_k * c_k
    summaries = rows.groupBy(*chunk).agg(
        (F.exp(-F.max("_h")) * F.sum(term)).alias("_A"),
        F.exp(-F.lit(lam) * (F.max("_c") - F.min("_pc"))).alias("_B"),
        F.min("_x0").alias("_x0"),
    ).groupBy(on).agg(
        F.array_sort(
            F.collect_list(F.struct("_eb", "_rb", "_A", "_B"))
        ).alias("_sum"),
        F.min("_x0").alias("_x0"),
    )
    carry_fold = F.expr(
        """aggregate(
             _sum,
             struct(cast(array() as array<double>) as arr,
                    cast(_x0 as double) as last),
             (acc, s) -> struct(
                 concat(acc.arr, array(acc.last)),
                 s._A + s._B * acc.last)
           )"""
    )
    carries = summaries.select(
        on,
        F.explode(
            F.arrays_zip("_sum", carry_fold.getField("arr").alias("_carry"))
        ).alias("_z"),
    ).select(on, "_z._sum._eb", "_z._sum._rb", "_z._carry")

    wc = Window.partitionBy(*chunk).orderBy("_rn")
    a = F.exp(-F.col("_h")) * F.sum(term).over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.exp(-F.lit(lam) * (F.col("_c") - F.first("_pc").over(wc)))
    return rows.select(*chunk, time_col, "_x", a.alias("_A"), p.alias("_P")).join(
        carries, chunk
    ).select(
        on,
        time_col,
        F.col("_x").alias(value_col),
        (F.col("_A") + F.col("_P") * F.col("_carry")).alias(out_col),
    )
