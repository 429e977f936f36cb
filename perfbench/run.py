"""Workload benchmark for the sensor engine.

    python3 perfbench/run.py --workload sensor_daily --seed 1 --seconds 6 --trace 0

Run from the repository root. For the named workload and seed it

1. generates the inputs in this process (cached per workload, seed and
   generator version under ``.perfbench_cache/``; not timed);
2. sets up: builds the engine session with ``session.get_spark`` on
   ``local[<usable cores>]`` and warms it up, ``SETUPS`` times in a row,
   then runs the workload's operation sequence once, untimed (the cold
   pass a freshly scheduled process pays); ``setup_s`` is the median
   session set-up plus that pass;
3. runs the operation sequence against fresh state until ``--seconds``
   have passed (at least once), checking every result;
4. prints one JSON line with the full record, then the summary line
   ``{"correct", "attempted", "failed", "metrics"}`` last.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables
spans at every layer boundary, Spark's event log and the streaming
progress fold, and reports the per-layer metrics instead (see
``perfbench/README.md``). Everything it writes stays under
``.perfbench_work/`` and ``.perfbench_cache/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: session builds (plus warm-ups) per run; setup_s is their median
SETUPS = 3


def _parse(argv: list[str]) -> argparse.Namespace:
    from perfbench.gen import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Keep every temporary file of this process tree under ``work``;
    returns the Spark confs that do the same for the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # -XX:-UsePerfData: no hsperfdata files outside the working tree
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _warm(spark, nproc: int) -> None:
    """A neutral scan job and one task per core on the Python worker
    pool, so the first timed call pays neither."""
    spark.range(0, 1_000_000, numPartitions=nproc).selectExpr("sum(id)").collect()
    spark.sparkContext.parallelize(range(nproc), nproc).map(lambda x: x + 1).collect()


def _setup(confs: dict[str, str], nproc: int) -> tuple[object, list[dict]]:
    """``SETUPS`` session builds, each followed by the neutral warm-ups;
    the last session is kept."""
    from sensorstream_scalable_sensor_data_pipeline_spark.session import get_spark

    timings = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]",
            shuffle_partitions=nproc, extra_conf=confs,
        )
        t1 = time.perf_counter()
        _warm(spark, nproc)
        t2 = time.perf_counter()
        timings.append({"build_s": t1 - t0, "warmup_s": t2 - t1})
    return spark, timings


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    try:
        import sensorstream_scalable_sensor_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here ({exc})", file=sys.stderr)
        return 2
    from perfbench import gen, host, metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context

    nproc = len(os.sched_getaffinity(0))
    run_id = f"pb{os.getpid()}-{uuid.uuid4().hex[:6]}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    confs = _isolate(work)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    spec = WORKLOADS[args.workload]
    spark = None
    try:
        inputs = gen.generate(args.workload, args.seed, ROOT)
        expected = gen.load_expected(inputs)
        spark, setups = _setup(confs, nproc)
        # one untimed pass of the operation sequence, outside the spans:
        # the cold pass a freshly scheduled process pays, which also
        # starts every machinery the workload uses (streaming included)
        t0 = time.perf_counter()
        warm_pass = spec["iteration"](Context(spark, Tracer(run_id, False), inputs, work, expected), -1)
        warm_pass["wall_s"] = time.perf_counter() - t0
        tracer = Tracer(run_id, bool(args.trace), spark)
        ctx = Context(spark, tracer, inputs, work, expected)
        if args.trace and spec.get("traced_hooks"):
            spec["traced_hooks"](ctx)
        iters = []
        ticks0, t_phase0 = host.cpu_ticks(), time.time()
        deadline = t_phase0 + args.seconds
        while True:
            c0, w0 = host.tree_cpu(), time.time()
            rec = spec["iteration"](ctx, len(iters))
            w1, c1 = time.time(), host.tree_cpu()
            rec.update(
                start=w0, end=w1, wall_s=w1 - w0,
                cpu_s=c1["total"] - c0["total"],
                worker_cpu_s=c1["python_workers"] - c0["python_workers"],
                worker_rss_peak_mb=host.worker_rss_peak_mb(),
            )
            iters.append(rec)
            if rec["failed"] or w1 >= deadline:
                break
        interf = host.interference(ticks0, host.cpu_ticks(), time.time() - t_phase0)
        tracer.unwrap_all()
        finish_failures = spec["finish"](ctx) if spec.get("finish") else []
        for m in finish_failures:
            print(f"CHECK FAILED: {m}", file=sys.stderr)
        _shutdown(spark)
        spark = None
        record = metrics.build_record(
            args, expected, setups, warm_pass, iters, interf, tracer,
            log_dir if args.trace else None, ctx.layer_totals, finish_failures,
        )
        record["host"]["environment"] = host.environment()
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, sort_keys=True, default=str))
    print(json.dumps(record["summary"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
