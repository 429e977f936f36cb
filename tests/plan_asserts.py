"""Plan-shape assertions for the test suite.

Every scale claim in this repo is backed by a PLAN pin, not a hope:
no-cartesian for dedup candidate joins, PushedFilters for range
scans, zero-Exchange for bucketed joins, broadcast for dim enrich.
A plan that silently degrades to a nested-loop join passes every
correctness test and then dies at production scale. These helpers
raise ``PlanAssertionError`` with the offending plan attached, so the
failure is diagnosable from the CI log alone.

All checks read the EXECUTED plan string (post-AQE-prep physical
plan) — the same artifact ``df.explain("formatted")`` prints, which
is also what runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class PlanAssertionError(AssertionError):
    """A physical-plan shape contract was violated."""


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fail(message: str, plan: str) -> None:
    raise PlanAssertionError(f"{message}\n--- physical plan ---\n{plan}")


def assert_no_cartesian(df: DataFrame) -> None:
    """No CartesianProduct / BroadcastNestedLoopJoin anywhere: every
    join is keyed (or broadcast-hash). The candidate-generation
    contract of every dedup/similarity family here."""
    p = _plan(df)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in p:
            _fail(f"plan contains {bad} (unkeyed join at scale)", p)


def assert_pushed_filters(df: DataFrame, *needles: str) -> None:
    """At least one scan carries PushedFilters mentioning every
    ``needle`` (column or literal fragment) — the predicate reached
    the reader instead of filtering post-scan."""
    p = _plan(df)
    if "PushedFilters: [" not in p:
        _fail("no PushedFilters in any scan", p)
    pushed = [
        seg.split("]", 1)[0]
        for seg in p.split("PushedFilters: [")[1:]
    ]
    joined = ";".join(pushed)
    for n in needles:
        if n not in joined:
            _fail(f"filter on {n!r} not pushed to any scan", p)


def assert_no_exchange(df: DataFrame) -> None:
    """Zero shuffle in the plan — what co-bucketed joins and
    scan-speed column math must look like. (AQE may label reused
    exchanges; any Exchange node fails.)"""
    p = _plan(df)
    if "Exchange" in p:
        _fail("plan contains an Exchange (unexpected shuffle)", p)


def assert_max_exchanges(df: DataFrame, n: int) -> None:
    """At most ``n`` Exchange nodes — the shuffle budget of a
    composed pipeline, pinned so a regression (a lost reuse, a
    broadcast that fell back to shuffle) fails loudly."""
    p = _plan(df)
    found = sum(
        1
        for line in p.splitlines()
        if line.lstrip("+-: *(0123456789) ").startswith("Exchange")
    )
    if found > n:
        _fail(f"plan has {found} Exchanges, budget is {n}", p)


def assert_broadcast_join(df: DataFrame) -> None:
    """At least one BroadcastHashJoin: the small side actually
    broadcast (a dim join that silently became a sort-merge join
    pays a full shuffle of the fact table)."""
    p = _plan(df)
    if "BroadcastHashJoin" not in p:
        _fail("no BroadcastHashJoin in plan (dim side not broadcast)", p)


def assert_wholestage_codegen(df: DataFrame) -> None:
    """At least one WholeStageCodegen span: the hot path compiles
    instead of interpreting expression trees.

    EXECUTES the query once (``collect``): under AQE the codegen
    spans exist only in the finalized plan, which materializing
    produces — point this at a bounded/test-sized frame, the same
    place the assertion belongs anyway."""
    import re

    df.collect()
    p = _plan(df)
    # the span renders as a WholeStageCodegen node or as the "*(n)"
    # operator prefix, depending on plan format
    if "WholeStageCodegen" not in p and not re.search(r"\*\(\d+\)", p):
        _fail("no WholeStageCodegen span in executed plan", p)


def plan_digest(df: DataFrame) -> dict:
    """Machine-readable plan summary — what a CI job logs next to a
    pipeline's results so plan REGRESSIONS show up in history even
    when no assertion fires: Exchange count, join operators by type,
    scans with their pushed-filter strings, whether any nested-loop
    join is present. Reads the same executed-plan string as the
    assertions (pre-execution under AQE: structure, not runtime
    stats)."""
    p = _plan(df)
    joins: dict[str, int] = {}
    for jt in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        c = p.count(jt)
        if c:
            joins[jt] = c
    scans = []
    for seg in p.split("PushedFilters: [")[1:]:
        scans.append(seg.split("]", 1)[0])
    return {
        "exchanges": sum(
            1
            for line in p.splitlines()
            if line.lstrip("+-: *(0123456789) ").startswith("Exchange")
        ),
        "joins": joins,
        "pushed_filters": scans,
        "has_nested_loop": "BroadcastNestedLoopJoin" in p
        or "CartesianProduct" in p,
    }
