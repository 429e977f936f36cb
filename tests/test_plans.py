"""Physical-plan shape assertions — the scale contract, pinned.

Correctness says the numbers match; these tests say the PLAN is the
one that survives 100×: filters reach the parquet scan, dimension
joins broadcast (the fact side never shuffles for enrichment), grouped
top-k uses the window group-limit, and nothing degenerates into a
cartesian product. A regression here is invisible at sf0.01 and fatal
at 100 TB — hence tests, not eyeballs.
"""

from __future__ import annotations

import pytest

from sensorstream_scalable_sensor_data_pipeline_spark import plans

QUERIES = plans.all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "p6_range_cutoff")
    # the cutoff bounds must reach the parquet reader (row-group
    # pruning), not sit in a post-scan Filter — requires comparing the
    # RAW int64 column, not the converted timestamp
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(ts" in pushed, pushed
    assert "LessThan(ts" in pushed, pushed


def test_enrichment_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j1_broadcast_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_flagship_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sensor_pipeline_e2e")
    assert "BroadcastHashJoin" in plan
    # exactly one exchange: the dedup aggregation; enrichment must not
    # shuffle the fact side
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j3_semi_join")
    assert "LeftSemi" in plan


def test_no_cartesian_anywhere_in_dedup(spark, sf_dir):
    # dedup_simhash (r9) and dedup_ngram_blocked (r10) rotated out of
    # the registry; their plan contracts are pinned here directly,
    # same as the registered family
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.dedup import (
        dedup_ngram_blocked,
        dedup_simhash,
    )

    for name in [
        "dedup_minhash_lsh",
        "dedup_substring",
        "dedup_embedding_cosine",
    ]:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for fn in (dedup_simhash, dedup_ngram_blocked):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_scan_project")
    # ReadSchema must not contain the unused wide columns
    assert "props" not in plan.split("ReadSchema")[1][:200]


def test_compound_filter_conjunction_pushed(spark, sf_dir):
    """p4+p5 merged: BOTH predicates must still reach the scan as a
    pushed conjunction — merging queries must not cost pushdown."""
    plan = _plan(spark, sf_dir, "p4_p5_filters")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "EqualTo(event_type,click)" in pushed, pushed
    assert "Not(EqualTo(value,0.0))" in pushed, pushed


def test_union_suite_flattens(spark, sf_dir):
    """The U1 fold + U2 positional union must plan as ONE multi-child
    Union feeding a single dedup aggregate — not a left-deep chain of
    binary unions with separate exchanges. (Rotated out of the driver
    registry in round 12, so called directly, not via all_queries().)"""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import u1_u2_union_suite

    df = u1_u2_union_suite(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Union") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scalar_agg_suite_single_exchange(spark, sf_dir):
    """A1+A3+A4 in one pass: partial aggregation means the exchange
    carries one row per task — exactly one single-partition exchange."""
    plan = _plan(spark, sf_dir, "a1_a3_a4_scalar_aggs")
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Exchange hashpartitioning" not in plan


def test_month_partition_pruning(spark, sf_dir, tmp_path):
    """X9: the idiomatic replacement for the reference's table-per-month
    scheme (filter_tables name parsing, main_pipeline.py:179-187) is a
    (year, month)-partitioned dataset — a month predicate must prune at
    PLANNING time (PartitionFilters), scanning only the matching
    directories."""
    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "year", F.year("ts")
    ).withColumn("month", F.month("ts"))
    out = str(tmp_path / "events_by_month")
    write_partitioned(ev, out, ["year", "month"])

    got = spark.read.parquet(out).filter("year = 2024 AND month = 1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "year" in pf and "month" in pf, plan
    # and the pruned scan agrees with the unpruned filter
    expect = ev.filter("year = 2024 AND month = 1").count()
    assert got.count() == expect > 0


def test_ivf_probe_join_is_keyed(spark, sf_dir):
    """The ANN scoring join must be a keyed (hash) join on the centroid
    id — the k-way assignment crossJoin against the tiny centroid table
    is the only nested-loop allowed."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        sim_ann_ivf,
    )

    plan = (
        sim_ann_ivf(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_curate_composition_no_cartesian(spark, sf_dir):
    """The full curation composition is now a graded bench head; its
    plan must stay a chain of keyed shuffles — no cartesian anywhere
    (LSH bands, Jaccard verify, component joins, anti-join, split)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.text import (
        curate_training_corpus,
    )

    plan = (
        curate_training_corpus(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_seed_selection_has_no_window(spark, sf_dir):
    """The r2 seed selection ranked the ENTIRE corpus through one
    unpartitioned row_number window — a single-task funnel at scale.
    Seeds must now come from a pushed-down modulo filter: no Window
    node anywhere in the seed plan, and the id predicate at the scan."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        ivf_seed_frame,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )

    # an earlier head may have persisted the corpus; drop caches so the
    # plan shows the raw parquet scan and its pushed filters
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = ivf_seed_frame(emb, k=10, stride=50)
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the strided-id predicate reaches the scan (partial pushdown of
    # the conjunction: the < bound is parquet-pushable)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "LessThan(vec_id" in pushed, plan
    # and it selects exactly the k seeds, labeled by id÷stride
    rows = seeds.count()
    assert rows == 10


def test_ivf_whole_head_window_free_on_corpus(spark, sf_dir):
    """Every Window that survives in the ANN head's final plan must be
    partitioned (per-query probe ranking / per-query top-k) — an
    unpartitioned windowspecdefinition would mean some stage still
    funnels through one task."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        sim_ann_ivf,
    )

    plan = (
        sim_ann_ivf(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for frag in plan.split("windowspecdefinition(")[1:]:
        # a partitioned spec lists bare partition columns before any
        # sort spec; an UNpartitioned spec starts directly with a sort
        # spec ("col ASC/DESC NULLS ...")
        first = frag.split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, (first, plan)


def test_bucketed_asof_plan_shape(spark, sf_dir):
    """The range-split as-of must keep its designed decomposition:
    exactly two Window operators (the (key,bucket) within pass + the
    per-key spine carry over bucket SUMMARIES), keyed joins only —
    never a cartesian/nested-loop fallback. The bucket size is pinned:
    ``"auto"`` on this unskewed input routes to the plain join."""
    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.asof import (
        asof_join_bucketed,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    st = ev.filter(F.col("event_id") % 97 == 0).select(
        "user_id", "ts", F.col("value").alias("calib_value")
    )
    plan = (
        asof_join_bucketed(ev, st, "user_id", "ts", ["calib_value"], bucket_seconds=86_400)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") == 2, plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-bucketed equi-joins must run with ZERO shuffle: the write
    pre-paid it. This is the amortization argument for bucketing a
    daily-joined fact table — pinned at the plan level (no Exchange
    above either scan), and the join result must equal the plain
    join's."""
    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        write_bucketed_table,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    try:
        write_bucketed_table(ev, "ev_bucketed", "user_id", n_buckets=8)
        write_bucketed_table(agg, "agg_bucketed", "user_id", n_buckets=8)
        a = spark.table("ev_bucketed")
        b = spark.table("agg_bucketed")
        # disable broadcast so the join must pick SMJ/shuffle-hash —
        # the bucket metadata is what removes the exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = joined.count()
        want = ev.join(agg, "user_id").count()
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS agg_bucketed")


def test_pq_adc_topk_plan_shape(spark, sf_dir):
    """Flat-PQ serving plan contract (r13 rotation queue): no
    CartesianProduct — the one nested-loop join is the DELIBERATE
    broadcast of the tiny query batch (LUT + q_n2) against the m-byte
    code scan, the same brute-force shape as sim_topk_cosine (the
    encode pass upstream still reads embeddings once — it is the
    scored join that touches only codes + n2)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        sim_pq_adc_topk,
    )

    df = sim_pq_adc_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the intended broadcast BNL


def test_python_workers_get_allocator_pins(spark):
    """get_spark ships the glibc mmap/trim thresholds to every python
    worker via spark.executorEnv (r13 verdict task #4): the
    decode/FFT workers' >128 KB numpy temporaries otherwise ride
    mmap/munmap, and 32 concurrent workers unmapping storms the TLB —
    measured 1.38× on the fingerprint loop, erased by this pin
    (the A/B is recorded in COVERAGE.md). The session fixture builds
    through get_spark, so propagation is asserted on the real
    worker path."""

    def probe(batches):
        import os

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {
                    "mmap": [os.environ.get("MALLOC_MMAP_THRESHOLD_", "")],
                    "trim": [os.environ.get("MALLOC_TRIM_THRESHOLD_", "")],
                }
            )

    row = (
        spark.range(1, 2)
        .mapInPandas(probe, "mmap string, trim string")
        .collect()[0]
    )
    assert row["mmap"] == "134217728"
    assert row["trim"] == "134217728"


def test_allocator_pins_exported_contract():
    """r15 (r14 verdict watch #2): the allocator pin is a PUBLIC
    conf-dict so externally-built sessions (the correctness driver,
    user deployments) can adopt it; get_spark routes through the same
    dict (propagation asserted by the env test above)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.session import (
        ALLOCATOR_PINS,
    )

    assert ALLOCATOR_PINS == {
        "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "134217728",
        "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "134217728",
    }
