"""One traced pass of every workload against the engine: each
operation runs and every result check passes (this is also the only
place the workloads outside BENCHMARK.json are exercised)."""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Context


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from sensorstream_scalable_sensor_data_pipeline_spark.session import get_spark

    base = tmp_path_factory.mktemp("wl")
    s = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.local.dir": str(base / "local"),
            "spark.sql.warehouse.dir": str(base / "wh"),
        },
    )
    yield s
    s.stop()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_one_traced_pass_is_correct(spark, workload, tmp_path):
    inputs = gen.generate(workload, 5, str(tmp_path))
    work = tmp_path / "work"
    work.mkdir()
    tracer = Tracer("t", traced=True, spark=spark)
    ctx = Context(spark, tracer, inputs, str(work), gen.load_expected(inputs))
    spec = WORKLOADS[workload]
    if spec.get("traced_hooks"):
        spec["traced_hooks"](ctx)
    try:
        rec = spec["iteration"](ctx, 0)
    finally:
        tracer.unwrap_all()
    finish = spec["finish"](ctx) if spec.get("finish") else []
    assert rec["failed"] == 0 and not finish, rec["failures"] + finish
    assert rec["attempted"] == len(rec["ops"]) and rec["backfill_s"] is not None
    assert all(s["end"] is not None for s in tracer.spans)
