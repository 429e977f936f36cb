"""Plan assertions (tests/plan_asserts.py): each helper passes on a plan
with the property and raises PlanAssertionError on one without."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_asserts import (
    PlanAssertionError,
    assert_broadcast_join,
    assert_max_exchanges,
    assert_no_cartesian,
    assert_no_exchange,
    assert_pushed_filters,
    assert_wholestage_codegen,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table


def test_no_cartesian(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    keyed = sup.join(nat, sup.s_nationkey == nat.n_nationkey)
    assert_no_cartesian(keyed)
    cross = sup.crossJoin(nat)
    with pytest.raises(PlanAssertionError, match="Nested|Cartesian"):
        assert_no_cartesian(cross)


def test_pushed_filters(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    f = sup.filter(F.col("s_acctbal") > 100.0)
    assert_pushed_filters(f, "s_acctbal")
    with pytest.raises(PlanAssertionError, match="s_name"):
        assert_pushed_filters(f, "s_name")


def test_exchange_budget(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    scan = sup.select("s_suppkey")
    assert_no_exchange(scan)
    agg = sup.groupBy("s_nationkey").count()
    with pytest.raises(PlanAssertionError, match="Exchange"):
        assert_no_exchange(agg)
    assert_max_exchanges(agg, 1)
    with pytest.raises(PlanAssertionError, match="budget"):
        assert_max_exchanges(agg, 0)


def test_broadcast_and_codegen(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    bj = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
    assert_broadcast_join(bj)
    assert_wholestage_codegen(bj)
    plain = sup.select("s_suppkey")
    with pytest.raises(PlanAssertionError, match="Broadcast"):
        assert_broadcast_join(plain)


def test_plan_digest(spark, sf_dir):
    from tests.plan_asserts import plan_digest

    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    d = plan_digest(
        sup.filter(F.col("s_acctbal") > 0).join(
            F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
        )
    )
    assert d["joins"].get("BroadcastHashJoin") == 1
    assert not d["has_nested_loop"]
    assert any("s_acctbal" in f for f in d["pushed_filters"])
    d2 = plan_digest(sup.crossJoin(nat))
    assert d2["has_nested_loop"]
    d3 = plan_digest(sup.groupBy("s_nationkey").count())
    assert d3["exchanges"] >= 1
