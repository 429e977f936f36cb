"""SparkSession construction and session hygiene.

The reference builds its session at main_pipeline.py:245-260 with AQE,
skew-join handling and dynamic allocation enabled; we keep those (they
are pure Catalyst/runtime wins) and add the confs this engine needs:

* ``spark.sql.session.timeZone=UTC`` — the reference's prototype pins
  timezone semantics explicitly (Initial pipeline with pandas.txt:179);
  we pin UTC so timestamp values are stable across engines (DuckDB
  oracle comparisons are tz-naive UTC).
* ``spark.sql.legacy.parquet.nanosAsLong=true`` — the synthetic
  ``events`` table stores TIMESTAMP(NANOS) which Spark has no native
  type for; we read the raw int64 nanoseconds and convert with
  ``timestamp_micros(ns div 1000)`` (exact: the data is µs-aligned,
  and integer ``div`` avoids double-precision loss above 2^53).
* AQE + coalescePartitions + skewJoin — at 100 TB these replace all
  hand-tuning of shuffle partition counts and hot-key splitting.

``prepare_session`` applies the *runtime-settable* subset to a session
we did not build (the correctness driver hands us its own session);
every query entry point calls it defensively.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe (and necessary) to set on an already-running
#: session. Everything here is a runtime SQL conf.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # BOTH batch-size knobs below exist because row-count-sized
    # batches detonate on wide BINARY columns (measured r11: the
    # video-dedup sf1 rung failed with executor OOM the moment its
    # corpus moved from in-plan synthesis to a parquet scan of
    # ~110 KB payloads — "Cannot reserve additional contiguous bytes
    # in the vectorized reader (requested 101438408)").
    #
    # Arrow batches for mapInPandas/applyInPandas: the 10 000-record
    # default × ~110 KB payloads is ~1.1 GB per python worker batch.
    # r11-r15 pinned maxRecordsPerBatch=512 to bound that; r16 moves
    # the bound to the BYTES knob Spark 4 added (the guide §4.2's
    # "more direct knob"): 32 MB per batch caps wide-binary batches
    # ~2× tighter than the 512-row pin did (512 × 110 KB ≈ 56 MB) and
    # is the first bound that also holds for multi-MB payloads (512
    # rows × 5 MB blobs = 2.5 GB under the old pin), while narrow
    # numeric batches (the Arrow scoring path: 96 floats ≈ 400 B/row)
    # can batch 10k rows instead of 512 — measured r16: the 512-row
    # pin forced ~73 batch round-trips per serve task and left the
    # ivf_serve_large scoring stage wait-bound after the NumPy
    # rewrite.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
    # Parquet vectorized-reader batch: the 4096-row default × the
    # same payloads is ~450 MB of contiguous column buffer per TASK
    # (32 concurrent tasks → heap death). 256 caps a 1 MB-payload
    # scan at 256 MB/task worst case, and costs NOTHING measurable on
    # narrow scans at bench scale (q1 warm: 1.28 s at 4096 vs 0.78 s
    # at 256 — the small batch was not slower in any measured run).
    # r12 addendum: for payloads ≫ the ~110 KB this pin was sized on
    # (multi-MB blobs), per-task batch bytes grow past what any
    # row-count pin can bound — those reads should use the row-based
    # path (sources/readers.py::read_binary_corpus, per-read option).
    "spark.sql.parquet.columnarReaderBatchSize": "256",
    # Parquet scans: pushdown + pruning are on by default; stated
    # explicitly because the engine's plans depend on them (SURVEY §4
    # X8/X10).
    "spark.sql.parquet.filterPushdown": "true",
}


#: Python-worker allocator pins (r14, exported r15 — r14 verdict
#: watch #2). SYMPTOM if your session lacks these: decode/FFT-heavy
#: heads (audio fingerprinting, image hashing) run up to ~1.4× slower
#: and breathe up to 2× across reps on many-core glibc hosts. CAUSE:
#: the workers allocate several >128 KB numpy temporaries per payload;
#: glibc serves those via mmap and returns them via munmap, and 32
#: concurrent workers unmapping storms the TLB (kernel IPIs) —
#: measured outside Spark (1.38× at 32 procs vs 1, erased exactly by
#: this 128 MB threshold pin; warm dedup_audio median 9.46 → 4.40 s;
#: the A/B is recorded in COVERAGE.md). These are STATIC confs — they
#: cannot be applied to a running session (prepare_session can't help)
#: — so external session builders should merge this dict into their
#: own builder confs. glibc-specific; other allocators ignore the
#: underlying env vars. Wall-clock only, never semantics.
ALLOCATOR_PINS: dict[str, str] = {
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "134217728",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "134217728",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be rejected (e.g. marked static in a future
            # Spark); the engine degrades gracefully rather than dying.
            pass
    # Right-size shuffle parallelism if the session still has Spark's
    # 200 default: AQE coalesces oversized *batch* shuffles at runtime,
    # but a streaming aggregation materializes one state store per
    # shuffle partition up front (200 stores ≈ 40 s of checkpoint I/O
    # per micro-batch on local disk). On a cluster, size to ~2-3×
    # total executor cores instead.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
            spark.conf.set("spark.sql.shuffle.partitions", str(int(cpus)))
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "sensorstream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's tuned SparkSession.

    ``master`` defaults to ``local[N]`` with N from $SPARK_GRAFT_CPUS
    (falling back to all cores). ``shuffle_partitions`` defaults to the
    core count — the right size for local mode; on a real cluster pass
    ~2-3× total executor cores instead (or rely on AQE coalescing,
    which shrinks the default at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    # Python-worker allocator pin (r14, r13 verdict task #4; exported
    # as ALLOCATOR_PINS in r15 so externally-built sessions can adopt
    # it — see that dict's docstring for the measured symptom/cause).
    # Static conf: it must be set at build time, which is why the
    # correctness driver's plain session runs without it (wall-clock
    # term only, never semantics).
    for k, v in ALLOCATOR_PINS.items():
        builder = builder.config(k, v)
    # Worker-daemon preload (r16): fork Python workers from a daemon
    # that has already imported numpy/pyarrow/pandas, so 32 cold
    # workers stop paying (and contending on) those imports per JVM —
    # see functions/preload_daemon.py for the measured effect. The
    # repo root rides along on the worker PYTHONPATH (merged, not
    # replaced, with Spark's own python path) so the module resolves
    # in `python -m` regardless of the caller's environment. Static
    # confs; wall-clock only, never semantics.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _existing_pp = os.environ.get("PYTHONPATH", "")
    builder = builder.config(
        "spark.python.daemon.module",
        "sensorstream_scalable_sensor_data_pipeline_spark.functions.preload_daemon",
    ).config(
        "spark.executorEnv.PYTHONPATH",
        f"{_pkg_root}:{_existing_pp}" if _existing_pp else _pkg_root,
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare_session(spark)
