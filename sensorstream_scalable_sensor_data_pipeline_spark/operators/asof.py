"""Temporal joins (§2.12 custom operators — Spark has no native ones):
as-of join and bucketed range join.

The classic time-series enrichment the reference's domain wants but
its engine lacks: for every sensor reading at time t, attach the most
recent state row (calibration, configuration, tag revision) at or
before t. SQL engines with native support call it ASOF JOIN (DuckDB,
QuestDB, kdb); Spark must compose it.

Implementation — the union + ordered-window trick, one shuffle total:

1. union the two sides with an ``is_right`` marker (left columns null
   on right rows and vice versa);
2. one window partitioned by key, ordered by (t, is_right DESC) so at
   equal timestamps the state row precedes the readings it governs;
3. ``last(state_struct, ignorenulls=True)`` carries the latest state
   row forward onto every row — ONE struct of all value columns, so a
   state row whose value fields are genuinely NULL is still "the
   latest state" (the struct itself is non-null), and multi-column
   output never stitches fields from different state rows;
4. keep only left rows and unpack the struct.

Scale shape: ONE hash-partitioned sort per key — the same cost as any
keyed window — versus the naive inequality join, which is a range
join that degenerates to per-key cross products. No broadcast
requirement on either side. The oracle twin is DuckDB's native
``ASOF LEFT JOIN`` — native semantics pin ours exactly (inclusive ≤,
null when no state precedes).

SKEW: a window partitions by the key alone, so ONE task sorts and
scans a hot key's entire history serially — AQE cannot split a window
partition the way it splits a skewed join. Measured (8 M rows,
local[8], carried value consumed): all rows on one key 4.7-8.1 s vs
1.7-3.3 s spread over 32 keys — a 2.5-4.7× funnel that grows linearly
with the hot key's row count (tests/test_asof.py pins correctness
under a 2 M-row hot key). The escape hatch is implemented:
:func:`asof_join_bucketed` range-splits by coarse time bucket —
window on (key, bucket) so each bucket sorts independently, then
carries each bucket's LAST state onto later buckets with a second
window over the per-bucket summaries (a parallel prefix pass: the
summary table has one row per (key, bucket), orders smaller). Same
two-level decomposition :func:`resample_locf` uses for its grid;
salting a hot key does NOT apply — window order within the key must
survive the split, so the split must follow time, not a random salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dedup_state_rows(
    right: DataFrame, keys: list[str], time_col: str, value_cols: list[str]
) -> DataFrame:
    """One state row per (key, instant): max over the FULL value
    struct — a first-column tie falls through to the later fields, so
    the survivor is a total-order pick, never Spark's physical row
    order. Same shuffle shape as any keyed dedup (one hash aggregate
    with map-side combine)."""
    packed = right.select(*keys, time_col, F.struct(*value_cols).alias("_s"))
    out = packed.groupBy(*keys, time_col).agg(F.max("_s").alias("_s"))
    return out.select(
        *keys, time_col, *[F.col("_s")[c].alias(c) for c in value_cols]
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    time_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: every ``left`` row gains, for each of
    ``right``'s ``value_cols``, the value from the latest right row
    with the same ``on`` key(s) and ``time_col`` ≤ the left row's
    (inclusive). Rows with no preceding state keep nulls.

    ``on`` may be one column name or a list (composite key — what
    :func:`asof_join_bucketed` uses to split a hot key by time
    bucket). ``right`` must be unique per (key, time); duplicate
    state rows at the same instant are resolved deterministically
    (max over the FULL value struct, field order = ``value_cols``) so
    results never depend on physical row order even when the first
    value column ties and later ones differ.

    ``value_cols`` may not collide with ``left`` column names — the
    output would carry two columns with one name (silently ambiguous
    downstream), so the collision raises instead.
    """
    keys = [on] if isinstance(on, str) else list(on)
    clash = sorted(set(value_cols) & set(left.columns))
    if clash:
        raise ValueError(
            f"value_cols {clash} collide with left columns; rename the "
            "left columns (or the right value columns) before the as-of join"
        )
    r = _dedup_state_rows(right, keys, time_col, value_cols)
    l_cols = [c for c in left.columns]
    carried = _carry_state(left, r, keys, time_col, F.struct(*value_cols))
    return carried.select(
        *l_cols, *[F.col("_state")[c].alias(c) for c in value_cols]
    )


def _carry_state(
    left: DataFrame,
    r: DataFrame,
    keys: list[str],
    time_col: str,
    state: F.Column,
    forward: bool = False,
) -> DataFrame:
    """The union + window carry every as-of pass runs: tag ``left``
    and the per-instant-unique state rows ``r``, null-pad the columns
    each side lacks, and carry ``last(state, ignorenulls)`` along one
    window per key, in ascending time (descending when ``forward``)
    with the state row first at a tie. Returns the left rows with the
    carried ``_state`` struct attached."""
    l_cols = list(left.columns)
    # The whole state row travels as ONE struct: non-null on every
    # right row even when its fields are NULL, so last(ignorenulls)
    # attaches the latest state row wholesale — NULL state values are
    # preserved (matching DuckDB's native ASOF LEFT JOIN) and columns
    # never mix across different state rows.
    tagged_r = r.select(
        *[F.col(k) for k in keys],
        F.col(time_col),
        F.lit(1).alias("_is_r"),
        state.alias("_state"),
    )
    state_type = tagged_r.schema["_state"].dataType
    tagged_l = left.select(
        *l_cols, F.lit(0).alias("_is_r"), F.lit(None).cast(state_type).alias("_state")
    )
    for c in l_cols:
        if c not in keys and c != time_col:
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    u = tagged_l.unionByName(tagged_r.select(*tagged_l.columns))
    t = F.col(time_col)
    w = (
        Window.partitionBy(*keys)
        .orderBy(t.desc() if forward else t.asc(), F.col("_is_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_state", F.last("_state", ignorenulls=True).over(w))
    return carried.filter(F.col("_is_r") == 0)


#: Auto-sizing target: rows in the densest key's densest bucket. Big
#: enough that per-bucket task overhead is noise, small enough that no
#: single in-task sort run dominates a stage or spills (the module
#: docstring's funnel). ~500k 16-byte sort prefixes ≈ 8 MB per task.
AUTO_BUCKET_TARGET_ROWS = 500_000


def choose_bucket_seconds(
    df: DataFrame,
    on: str | list[str],
    time_col: str,
    target_rows: int = AUTO_BUCKET_TARGET_ROWS,
    right: DataFrame | None = None,
) -> int:
    """Pick ``bucket_seconds`` for :func:`asof_join_bucketed` from the
    MEASURED hottest-key density instead of a guess — a skew
    pre-flight (measure the hot key before sizing) applied to the
    window-funnel problem.

    One distributed aggregate (per-key count + time span), one scalar
    to the driver: the maximum rows-per-second density over keys whose
    row count exceeds ``target_rows`` (keys under the target fit one
    bucket no matter what, so they impose no constraint). The returned
    size makes the densest key's densest bucket hold ≈ ``target_rows``
    rows *under a uniform-in-time assumption*; bursty keys exceed it
    by their burst factor, which is exactly the residual the hatch
    tolerates (a 10× burst still sorts 5 M rows, not the key's whole
    history). If NO key exceeds the target the data's full span is
    returned — one bucket; :func:`asof_join_bucketed` with
    ``bucket_seconds="auto"`` does not run that one-bucket plan but
    routes to :func:`asof_join`, which is the correct no-skew behavior
    (don't pay split overhead for skew that isn't there).

    At 100 TB this pre-flight is one map-side-combined aggregate over
    the join's own input — cheap relative to the join, and the
    alternative (a hand-tuned constant) is exactly what goes stale as
    traffic grows.

    When ``right`` is given, density is measured over the UNION of
    both sides' (key, time) projections — exactly the row set the
    within-bucket window sorts, so a hot key whose rows live on the
    state side (e.g. a chatty sensor joined to sparse events) is seen
    too; profiling only ``left`` would size the bucket from the quiet
    side and hand the hot key straight back to the single-task funnel.
    Callers with expensive, uncached upstream plans should note the
    pre-flight re-evaluates them once — ``.cache()`` the inputs or
    pin an int ``bucket_seconds`` to skip it."""
    keys = [on] if isinstance(on, str) else list(on)
    bucket, span = _hot_bucket_and_span(df, keys, time_col, target_rows, right)
    return bucket if bucket is not None else max(1, int(span or 0) + 1)


def _hot_bucket_and_span(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    target_rows: int,
    right: DataFrame | None = None,
) -> tuple[int | None, float | None]:
    """ONE fused aggregate over the (key, time) projection of ``df``,
    unioned with ``right``'s when given. Returns (the bucket seconds
    that put ~``target_rows`` rows in each bucket of the densest key
    over ``target_rows``, or None when no key is over it; the global
    span in seconds), so no sizing entry point scans its input twice
    (review-found: an unfused span fallback made the common no-skew
    'auto' path pay a second full pass)."""
    proj = df.select(*keys, time_col)
    if right is not None:
        proj = proj.unionByName(right.select(*keys, time_col))
    per_key = proj.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        (
            (F.unix_micros(F.max(time_col)) - F.unix_micros(F.min(time_col)))
            / F.lit(1_000_000.0)
        ).alias("_span_s"),
        F.unix_micros(F.min(time_col)).alias("_lo"),
        F.unix_micros(F.max(time_col)).alias("_hi"),
    )
    stats = per_key.agg(
        F.max(
            F.when(
                F.col("_n") > target_rows,
                F.col("_n") / F.greatest(F.col("_span_s"), F.lit(1.0)),
            )
        ).alias("_hot_density"),
        ((F.max("_hi") - F.min("_lo")) / F.lit(1_000_000.0)).alias("_span_s"),
    ).first()
    density = stats["_hot_density"]
    bucket = None if density is None else max(1, int(target_rows / density))
    return bucket, stats["_span_s"]


def hot_key_bucket_seconds(
    df: DataFrame,
    on: str | list[str],
    time_col: str,
    target_rows: int = AUTO_BUCKET_TARGET_ROWS,
) -> int | None:
    """The hot-key pre-flight alone: the measured bucket size when
    some key's row count exceeds ``target_rows``, else ``None`` (no
    skew — callers should take the plain single-window path and skip
    the decomposition's fixed overhead). :func:`choose_bucket_seconds`
    wraps this with the degenerate-to-one-bucket fallback; composite
    operators (:func:`~...funnel.funnel_match`) use it directly as a
    plain-vs-bucketed ROUTE decision."""
    keys = [on] if isinstance(on, str) else list(on)
    return _hot_bucket_and_span(df, keys, time_col, target_rows)[0]


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    time_col: str,
    value_cols: list[str],
    bucket_seconds: int | str = "auto",
) -> DataFrame:
    """:func:`asof_join` with the hot-key funnel removed: identical
    output, but the big window partitions by (key, time-bucket) so a
    key's history sorts in span/bucket_seconds INDEPENDENT tasks
    instead of one. Use when single keys carry enough rows that one
    task's sort dominates the stage (module docstring SKEW note).

    Parallel-prefix decomposition, three cheap stages:

    1. *Within-bucket pass*: the normal union+window as-of on the
       composite key (key, bucket) — embarrassingly parallel across
       buckets. A sentinel ``_present`` column rides along so "the
       latest in-bucket state has NULL fields" (attach it, NULLs and
       all) is distinguishable from "no in-bucket state precedes this
       row" (fall through to stage 3).
    2. *Summary pass*: per (key, bucket), the LAST state row — one
       map-side-combined ``max_by`` aggregate; the summary table has
       one row per (key, bucket), orders smaller than the data.
    3. *Carry pass*: one window over the bucket SPINE (per-key,
       ordered by bucket, ``rowsBetween(unboundedPreceding, -1)``)
       computes each bucket's incoming state from strictly-earlier
       buckets. This window partitions by the bare key, but over
       span/bucket rows per key — thousands, not millions — so the
       serial sort the decomposition exists to avoid never returns.
       Rows stage 1 left unmatched coalesce to their bucket's
       incoming state.

    ``bucket_seconds`` sizes the split: a hot key's densest bucket
    should hold ~10⁵-10⁶ rows — big enough that per-bucket task
    overhead is noise, small enough that no single sort dominates.
    The default ``"auto"`` (r10) measures it: one pre-flight aggregate
    over the union of both sides picks the size from the hottest key's
    observed rows-per-second density (:func:`choose_bucket_seconds`),
    and routes to :func:`asof_join` when no key holds more than
    :data:`AUTO_BUCKET_TARGET_ROWS` rows — there the three stages
    split nothing and ran 14 Spark jobs against the plain join's 4.
    The hand-tuned constant was exactly the knob that goes stale as
    traffic grows. Pass an int to pin it; an int always runs the
    bucketed plan.

    Measured (single 8 M-row hot key, 16 buckets, local[8], values
    consumed): plain 5.3-6.8 s → bucketed 2.8-3.1 s, identical
    checksums — ~2× end-to-end; the within-bucket sort parallelizes
    fully, while the extra keyed join + spine pass add a fixed cost
    that shrinks relative to the win as the hot key grows. On the
    bench's 25.6 M-row half-on-one-key workload (r10 decomposition,
    warm session): plain 21.9 s vs bucketed 9.3 s — the JOIN itself
    wins 2.3×; the cold-JVM bench pair reads ~1.55× end-to-end only
    because ~6 s of shared cold floor (JVM/codegen + the scan-side
    explode both heads pay) dilutes the ratio. Equivalence with
    :func:`asof_join` (including NULL-state carry across bucket
    boundaries) is pinned in tests/test_asof.py.
    """
    if bucket_seconds == "auto":
        bucket_seconds = _hot_bucket_and_span(
            left, [on], time_col, AUTO_BUCKET_TARGET_ROWS, right
        )[0]
        if bucket_seconds is None:
            return asof_join(left, right, on, time_col, value_cols)
    us = 1_000_000 * int(bucket_seconds)
    bucket = F.floor(F.unix_micros(F.col(time_col)) / F.lit(us))
    r = _dedup_state_rows(right, [on], time_col, value_cols)
    l_cols = [c for c in left.columns]
    lb = left.withColumn("_bk", bucket)
    rb = r.withColumn("_bk", bucket).withColumn("_present", F.lit(1))

    within = asof_join(
        lb, rb, [on, "_bk"], time_col, [*value_cols, "_present"]
    )

    # Stage 2: last state per (key, bucket) — max_by on the (already
    # per-instant-unique) state rows; carried as one struct for the
    # same no-stitching/NULL-preserving reasons as asof_join.
    last_per_bucket = rb.groupBy(on, "_bk").agg(
        F.max_by(F.struct(*value_cols), F.col(time_col)).alias("_st")
    )

    # Stage 3: bucket spine = every (key, bucket) either side touches;
    # incoming(k) = last state from buckets strictly before k.
    spine = (
        lb.select(on, "_bk")
        .distinct()
        .unionByName(last_per_bucket.select(on, "_bk"))
        .distinct()
        .join(last_per_bucket, [on, "_bk"], "left")
    )
    w = (
        Window.partitionBy(on)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    incoming = spine.select(
        on, "_bk", F.last("_st", ignorenulls=True).over(w).alias("_in")
    )

    out = within.join(incoming, [on, "_bk"], "left")
    return out.select(
        *l_cols,
        *[
            F.when(F.col("_present") == 1, F.col(c))
            .otherwise(F.col("_in")[c])
            .alias(c)
            for c in value_cols
        ],
    )


#: Max grid points materialized in any single sequence/array value by
#: :func:`resample_locf` — one day of 1 s samples. Bounds per-row
#: memory regardless of a key's time span.
GRID_CHUNK_POINTS = 86_400


def resample_locf(
    readings: DataFrame,
    on: str,
    time_col: str,
    value_cols: list[str],
    step_seconds: int,
    chunk_points: int = GRID_CHUNK_POINTS,
) -> DataFrame:
    """Resample irregular per-key readings onto a regular grid with
    last-observation-carried-forward — the gap-fill every sensor
    dashboard and feature pipeline needs (TimescaleDB's
    ``time_bucket_gapfill`` + ``locf``).

    Composition, not new machinery: each key's grid runs from its
    first reading's step-aligned floor to its last reading, then one
    :func:`asof_join` attaches the latest reading at or before every
    grid instant. Grid points before the first reading (at most one,
    the aligned floor) carry nulls.

    Grid generation is a TWO-LEVEL explode so no single array value
    ever holds a key's full span: the outer ``sequence`` enumerates
    coarse chunks of ``chunk_points`` grid points (≈ ceil(span/step /
    chunk_points) elements — thousands even for multi-year spans at
    1 s), the inner ``sequence`` emits at most ``chunk_points`` offset
    integers per chunk. A key spanning 3 years at a 1 s step is ~95 M
    grid rows streamed through ~1.1 k bounded chunk rows — never one
    95 M-element array (which would OOM the executor and trip Spark's
    sequence length cap). All arithmetic is integer epoch-seconds;
    timestamps materialize only in the final projection.
    """
    if step_seconds <= 0:
        raise ValueError("step_seconds must be positive")
    if chunk_points <= 0:
        raise ValueError("chunk_points must be positive")
    step, cp = int(step_seconds), int(chunk_points)
    bounds = readings.groupBy(on).agg(
        F.min(time_col).alias("_mn"), F.max(time_col).alias("_mx")
    )
    # _a0 = step-aligned floor of the first reading (epoch s);
    # _n = number of grid points (last point ≤ _mx, which may carry
    # sub-second micros — integer floor keeps the comparison exact).
    spans = bounds.select(
        on,
        F.expr(f"(unix_micros(_mn) div 1000000 div {step}) * {step}").alias("_a0"),
        F.expr(
            f"(unix_micros(_mx) div 1000000"
            f" - (unix_micros(_mn) div 1000000 div {step}) * {step})"
            f" div {step} + 1"
        ).alias("_n"),
    )
    chunks = spans.select(
        on,
        "_a0",
        "_n",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.expr(f"(_n - 1) div {cp}"))
        ).alias("_c"),
    )
    grid = chunks.select(
        on,
        "_a0",
        F.explode(
            F.sequence(
                F.expr(f"_c * CAST({cp} AS BIGINT)"),
                F.expr(f"least(_n, (_c + 1) * CAST({cp} AS BIGINT)) - 1"),
            )
        ).alias("_k"),
    ).select(
        on, F.expr(f"timestamp_seconds(_a0 + _k * {step})").alias(time_col)
    )
    return asof_join(
        grid, readings.select(on, time_col, *value_cols), on, time_col, value_cols
    )


def rate_of_change(
    readings: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    out: str = "rate_per_s",
) -> DataFrame:
    """Per-key first derivative: (value − lag(value)) / seconds since
    the previous reading — the sensor-domain staple (leak detection,
    ramp alarms). One keyed window; the first reading per key and any
    zero-interval repeat yield NULL rather than ±Infinity (Spark's
    ANSI double division and DuckDB disagree on x/0, so the guard is
    also what keeps the operator oracle-checkable)."""
    w = Window.partitionBy(on).orderBy(time_col)
    dv = F.col(value_col) - F.lag(value_col).over(w)
    dt_us = F.unix_micros(F.col(time_col)) - F.unix_micros(F.lag(time_col).over(w))
    return readings.withColumn(
        out,
        F.when(dt_us > 0, dv / (dt_us.cast("double") / F.lit(1_000_000.0))),
    )


def choose_range_bucket_seconds(
    intervals: DataFrame, start_col: str, end_col: str
) -> int:
    """Pick ``bucket_seconds`` for :func:`range_join` from the
    MEASURED median interval length (one approx-percentile aggregate,
    one scalar to the driver): a bucket near the typical interval
    keeps the explode fan-out at ≈ 2 rows per interval while leaving
    point buckets as fine as the data allows. The median, not the
    mean, so one multi-year outlier interval cannot coarsen every
    point's bucket. Empty interval side → 3600 (any value joins an
    empty side correctly)."""
    row = intervals.agg(
        F.percentile_approx(
            (
                F.unix_micros(F.col(end_col)) - F.unix_micros(F.col(start_col))
            )
            / F.lit(1_000_000.0),
            F.lit(0.5),
        ).alias("_med")
    ).first()
    if row["_med"] is None:
        return 3600
    return max(1, int(row["_med"]))


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    on: str,
    time_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int | str = "auto",
) -> DataFrame:
    """Inner containment join: every ``left`` row paired with every
    interval of the same key whose ``[start, end]`` (inclusive)
    contains its timestamp — readings → maintenance windows, events →
    sessions, prices → validity ranges.

    Expressed naively this is an inequality join, which Spark plans as
    a nested-loop / per-key cross product. The scalable form buckets
    time: points key on their bucket, intervals EXPLODE to every
    bucket they cover, and the join becomes an ordinary equi-join on
    (key, bucket) followed by the exact containment filter. Each point
    lives in exactly one bucket, so no dedup is needed; interval
    fan-out is ceil(len/bucket) + 1 rows — ``bucket_seconds`` should
    sit near the typical interval length so fan-out stays ~2×. The
    default ``"auto"`` (r10) measures that instead of guessing:
    :func:`choose_range_bucket_seconds` takes the intervals' median
    length from one approx-percentile pre-flight aggregate. Pass an
    int to pin it.
    """
    if bucket_seconds == "auto":
        bucket_seconds = choose_range_bucket_seconds(
            intervals, start_col, end_col
        )
    us = 1_000_000 * int(bucket_seconds)
    lb = left.withColumn(
        "_b", F.floor(F.unix_micros(F.col(time_col)) / F.lit(us))
    )
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / F.lit(us)),
                F.floor(F.unix_micros(F.col(end_col)) / F.lit(us)),
            )
        ),
    )
    return (
        lb.join(iv, [on, "_b"])
        .filter(
            (F.col(time_col) >= F.col(start_col))
            & (F.col(time_col) <= F.col(end_col))
        )
        .drop("_b")
    )


def merge_intervals(
    intervals: DataFrame,
    on: str,
    start_col: str,
    end_col: str,
    min_gap_seconds: int = 0,
) -> DataFrame:
    """Coalesce overlapping/adjacent intervals per key into maximal
    islands — maintenance windows into outage spans, session
    fragments into sessions: (key, start, end, n_merged). Intervals
    closer than ``min_gap_seconds`` (end-to-start) also merge;
    inclusive touch (end == next start) always merges.

    Gaps-and-islands on intervals: one keyed window ordered by
    (start, end) computes the running max of PRIOR ends; a new island
    opens where the current start clears that high-water mark by more
    than the gap. Then one aggregate per island. Same one-sort-per-key
    cost class as every keyed window here (module SKEW note applies);
    ties order deterministically via the (start, end) sort."""
    gap_us = int(min_gap_seconds) * 1_000_000
    w = Window.partitionBy(on).orderBy(start_col, end_col)
    prev_max_end = F.max(F.unix_micros(F.col(end_col))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull()
        | (F.unix_micros(F.col(start_col)) > prev_max_end + F.lit(gap_us)),
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = intervals.withColumn("_new", new_island)
    islanded = flagged.withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islanded.groupBy(on, "_isl").agg(
        F.min(start_col).alias(start_col),
        F.max(end_col).alias(end_col),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("_isl")


def asof_join_ext(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    time_col: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """:func:`asof_join` generalized to full pandas-``merge_asof``
    parity: ``direction`` ∈ backward (latest state at-or-before — the
    base operator), forward (earliest state at-or-after), nearest
    (whichever is closer in time; EXACT ties prefer backward, pandas
    semantics); ``tolerance_seconds`` nulls a match further than the
    tolerance from the reading (inclusive bound, like pandas).

    Same one-keyed-window machinery per direction — forward is the
    backward pass under a reversed sort (state still wins ties so the
    at-or-after inclusive bound holds); nearest runs both passes over
    a row-tagged left and arbitrates per row with an exact ``_rid``
    equi-join (the tag, not (key, time), is the join key — duplicate
    reading timestamps stay distinct rows). The state row's OWN
    timestamp rides inside the carried struct to make tolerance and
    nearest decidable; it never leaks into the output schema."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be backward | forward | nearest")
    if tolerance_seconds is not None and tolerance_seconds < 0:
        raise ValueError("tolerance_seconds must be >= 0")
    keys = [on] if isinstance(on, str) else list(on)
    clash = sorted(set(value_cols) & set(left.columns))
    if clash:
        raise ValueError(
            f"value_cols {clash} collide with left columns; rename before joining"
        )
    tol_us = (
        None if tolerance_seconds is None else int(tolerance_seconds * 1_000_000)
    )
    lts = F.unix_micros(F.col(time_col))

    def within_tol(state) -> F.Column:
        if tol_us is None:
            return F.lit(True)
        return F.abs(state["_sts"] - lts) <= F.lit(tol_us)

    l_cols = list(left.columns)
    if direction in ("backward", "forward"):
        carried = _ext_pass(
            left, right, keys, time_col, value_cols, direction == "forward"
        )
        st = F.when(
            F.col("_state").isNotNull() & within_tol(F.col("_state")),
            F.col("_state"),
        )
        return carried.select(*l_cols, *[st[c].alias(c) for c in value_cols])
    # PIN the row ids before fanning out: monotonically_increasing_id
    # re-evaluated in two independent plan subtrees is not guaranteed
    # to assign the same id to the same row (task retries, AQE
    # re-coalescing) — the arbitration join would then pair states
    # across DIFFERENT rows. The eager localCheckpoint materializes
    # the tagged left ONCE; both passes read the frozen copy.
    tagged_left = left.withColumn(
        "_rid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    back = _ext_pass(tagged_left, right, keys, time_col, value_cols, False)
    fwd = _ext_pass(tagged_left, right, keys, time_col, value_cols, True)
    j = back.withColumnRenamed("_state", "_sb").join(
        fwd.select("_rid", F.col("_state").alias("_sf")), "_rid"
    )
    db = F.abs(F.col("_sb")["_sts"] - lts)
    df_ = F.abs(F.col("_sf")["_sts"] - lts)
    b_ok = F.col("_sb").isNotNull() & within_tol(F.col("_sb"))
    f_ok = F.col("_sf").isNotNull() & within_tol(F.col("_sf"))
    pick = (
        F.when(b_ok & f_ok, F.when(db <= df_, F.col("_sb")).otherwise(F.col("_sf")))
        .when(b_ok, F.col("_sb"))
        .when(f_ok, F.col("_sf"))
    )
    return j.select(*l_cols, *[pick[c].alias(c) for c in value_cols])


def _ext_pass(
    tagged_left: DataFrame,
    right: DataFrame,
    keys: list[str],
    time_col: str,
    value_cols: list[str],
    forward: bool,
) -> DataFrame:
    """One direction of :func:`asof_join_ext`: the union+window carry
    with the state timestamp inside the struct, left rows returned
    with the carried ``_state`` column still attached."""
    r = _dedup_state_rows(right, keys, time_col, value_cols)
    state = F.struct(F.unix_micros(F.col(time_col)).alias("_sts"), *value_cols)
    return _carry_state(tagged_left, r, keys, time_col, state, forward)


def downsample(
    readings: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    every_seconds: int,
) -> DataFrame:
    """Regular-grid DOWNsampling — the complement of
    :func:`resample_locf` (which fills gaps upward): per key and
    step-aligned bucket, the standard compaction aggregate set
    (n / mean / min / max / first / last by time). TimescaleDB's
    ``time_bucket`` + continuous-aggregate shape; what a 1 Hz feed
    becomes before long-term storage.

    One map-side-combined hash aggregate — no window, no sort: first/
    last are ``min_by``/``max_by`` over (time, value) structs, mean
    is the grid-exact dsum (engine-stable, aggfns doctrine)."""
    if every_seconds <= 0:
        raise ValueError("every_seconds must be positive")
    from sensorstream_scalable_sensor_data_pipeline_spark.functions.aggfns import dsum

    from sensorstream_scalable_sensor_data_pipeline_spark.functions.identifiers import (
        quote_ident,
    )

    step = int(every_seconds)
    # expr string for the exact integer `div` chain; the interpolated
    # NAME is backtick-quoted (r7 verdict #4 defect class).
    bucket = F.expr(
        f"timestamp_seconds((unix_micros({quote_ident(time_col)})"
        f" div 1000000 div {step}) * {step})"
    )
    v = F.col(value_col)
    tie = F.struct(F.col(time_col), v)
    return readings.groupBy(
        F.col(on), bucket.alias("bucket_start")
    ).agg(
        F.count(v).alias("n"),
        (dsum(v) / F.count(v)).alias("mean"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.min_by(value_col, tie).alias("first"),
        F.max_by(value_col, tie).alias("last"),
    )


def rolling_agg(
    readings: DataFrame,
    on: str,
    time_col: str,
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Trailing-window statistics per reading (current row included):
    n / sum / mean / min / max over the key's last ``window_seconds``
    — the moving-average / envelope family every sensor dashboard
    draws, and the shared machinery under :mod:`operators.anomaly`'s
    z-score. One keyed RANGE window; sum and mean come from the exact
    integer grid (engine-stable under any partitioning)."""
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    us = F.unix_micros(F.col(time_col))
    w = (
        Window.partitionBy(on)
        .orderBy(us)
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    v = F.col(value_col).cast("double")
    g = F.sum(F.floor(v * F.lit(1_000_000.0)).cast("long")).over(w)
    n = F.count(v).over(w)
    s = g.cast("double") / F.lit(1_000_000.0)
    return readings.select(
        *readings.columns,
        n.alias("w_n"),
        s.alias("w_sum"),
        (s / n).alias("w_mean"),
        F.min(v).over(w).alias("w_min"),
        F.max(v).over(w).alias("w_max"),
    )
