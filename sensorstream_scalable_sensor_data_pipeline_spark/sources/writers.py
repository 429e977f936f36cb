"""Sized parquet sinks (S5, S6, S9, X4) and partitioned layout (W1 emit).

The reference writes one parquet dataset per sensor with
``repartition(count // 100000)`` + ``maxRecordsPerFile=100000``
(main_pipeline.py:222-230). The extra ``count()`` job per write is
wasteful (SURVEY §4 X4): ``maxRecordsPerFile`` alone caps file size,
and AQE coalescing right-sizes the partition count from runtime
statistics. At 100 TB the count-then-repartition pattern would add a
full scan per sink — we drop it.

``write_partitioned`` replaces the reference's per-sensor Python loop
(main_pipeline.py:305-329, one filtered job per sensor — O(sensors)
jobs) with a single ``partitionBy(key)`` job: one shuffle-free write
that lays out ``key=.../part-*.parquet`` directories, with Catalyst
partition pruning on read-back (X9).

Every directory the engine publishes goes through one of two
stage-and-rename protocols, both here:

* :func:`staged_swap` replaces a live dir (the runner's overwrite,
  :func:`compact_parquet_dir`, the streaming SCD2 dimension). The new
  content is written to ``<live>_staging``; then ``live`` is renamed
  to ``<live>_old``, the stage to ``live``, and ``_old`` is deleted.
  Crash windows:

  - *before the first rename*: ``live`` is intact; the retry deletes
    the stale stage and redoes the work.
  - *between the two renames*: ``live`` is gone and ``<live>_old``
    holds the previous content. The retry renames ``_old`` back
    before anything reads ``live``, then redoes the work. Without this
    heal a retry would see no state and rebuild from scratch, and its
    own swap would delete the history in ``_old``.
  - *after the second rename*: the new content is live; the retry
    deletes the leftover ``_old`` and runs against the new state.

* :func:`publish_once` lands a keyed cache dir (the bench heads'
  untimed fixtures, keyed by :func:`bench_cache_dir`): build into
  ``<out>.tmp.<pid>``, rename into place. ``out`` exists only through
  that rename, so its existence is its completeness; a crash leaves at
  most a stage dir, never a partial ``out``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_RECORDS_PER_FILE = 100_000  # main_pipeline.py:226-229

WRITE_MODES = ("overwrite", "append")  # S6, main_pipeline.py:228


def write_sized_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """S5/X4: parquet sink with bounded file sizes, no pre-count job."""
    if mode not in WRITE_MODES:
        raise ValueError(f"write mode must be one of {WRITE_MODES}, got {mode!r}")
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .parquet(path)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    dynamic_partition_overwrite: bool = False,
) -> None:
    """Single-job per-key layout replacing the reference's N-writes loop
    (W1). Partition columns become directories; readers get static +
    dynamic partition pruning for free. With
    ``dynamic_partition_overwrite`` an overwrite replaces ONLY the
    partitions present in ``df`` — the scalable merge primitive: a
    30-day merge rewrites 30 days of partitions, never the table."""
    if mode not in WRITE_MODES:
        raise ValueError(f"write mode must be one of {WRITE_MODES}, got {mode!r}")
    w = df.write.mode(mode).option("maxRecordsPerFile", str(max_records_per_file))
    if dynamic_partition_overwrite:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*partition_cols).parquet(path)


def validate_output(spark: SparkSession, path: str) -> int:
    """S9: post-write existence check (Airflow Dags.docx
    ``validate_output`` lists the S3 prefix and fails if empty) —
    re-expressed as a read-back count, which also validates footer
    integrity, not just object existence."""
    n = spark.read.parquet(path).count()
    if n == 0:
        raise RuntimeError(f"output validation failed: {path} is empty")
    return n


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int,
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """Range-clustered layout for scan pruning (SURVEY §4 scale
    tooling): ``repartitionByRange`` + ``sortWithinPartitions`` on the
    filter column every reader predicates on (time, almost always),
    so each output file covers a DISJOINT value range and its parquet
    footer min/max statistics exclude it from any non-overlapping
    range query — row-group/file skipping that every parquet reader
    (Spark, DuckDB, Trino) applies automatically once the layout
    exists. The write costs one range-exchange (sampled boundaries,
    balanced output files regardless of value distribution); every
    later ``WHERE t BETWEEN ...`` reads only the files the range
    touches instead of the whole dataset — at 100 TB the difference
    between a dashboard query and a table scan.

    Disjointness of per-file (min, max) footer ranges is the pinned
    property (tests read footers back with pyarrow); combined with
    the pushed range filter (plan-pinned at P6) that IS the pruning
    evidence, with no dependence on runtime metrics."""
    if mode not in WRITE_MODES:
        raise ValueError(f"write mode must be one of {WRITE_MODES}, got {mode!r}")
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .parquet(path)
    )


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    sort_col: str | None = None,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 16,
) -> tuple[int, int]:
    """Small-file compaction — the maintenance pass every streaming
    sink needs: checkpointed ``foreachBatch`` sinks (streaming/
    temporal.py) and frequent appends accumulate one-file-per-batch
    layouts whose per-file open/footer overhead eventually dominates
    scans. Rewrites the dataset into ``ceil(rows/target)`` right-sized
    files (optionally range-sorted — compaction is the natural moment
    to also fix clustering) and swaps them in through
    :func:`staged_swap` (crash windows in the module docstring).

    Returns ``(files_before, files_after)``. Scale note: compaction
    reads and writes the data once, shuffling only when ``sort_col``
    asks for range clustering — schedule it off-peak per partition,
    not over the whole table at once."""
    import math

    if sort_col is not None and zorder_cols is not None:
        raise ValueError("pass sort_col OR zorder_cols, not both")
    with staged_swap(path) as staging:
        n_files_before = _count_parquet_files(path)
        df = spark.read.parquet(path)
        rows = df.count()
        n_out = max(1, math.ceil(rows / target_records_per_file))
        if zorder_cols is not None:
            # multi-dimension recluster at compaction time — OPTIMIZE
            # ZORDER semantics via write_zorder's staging write
            write_zorder(
                df, staging, zorder_cols, n_out,
                bits=zorder_bits,
                max_records_per_file=target_records_per_file,
            )
        else:
            if sort_col is not None:
                out = df.repartitionByRange(n_out, sort_col).sortWithinPartitions(
                    sort_col
                )
            else:
                out = df.coalesce(n_out)
            out.write.mode("overwrite").option(
                "maxRecordsPerFile", str(target_records_per_file)
            ).parquet(staging)
    n_files_after = _count_parquet_files(path)
    return n_files_before, n_files_after


def _count_parquet_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


@contextlib.contextmanager
def staged_swap(live: str) -> Iterator[str]:
    """Replace the directory ``live`` with what the body writes to the
    yielded stage path. Entering heals a previous swap that crashed
    (see the module docstring), so open the block BEFORE reading
    ``live``. A body that writes nothing to the stage (say, an append
    straight into ``live``) swaps nothing. If the body raises, the
    stage is deleted and ``live`` is untouched."""
    live = live.rstrip("/")
    stage, old = live + "_staging", live + "_old"
    if os.path.exists(old):
        if os.path.exists(live):
            shutil.rmtree(old)  # crashed after the second rename
        else:
            os.rename(old, live)  # crashed between the renames
    shutil.rmtree(stage, ignore_errors=True)
    try:
        yield stage
        if os.path.exists(stage):
            if os.path.exists(live):
                os.rename(live, old)
            os.rename(stage, live)
            shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def bench_cache_dir(tag: str, *inputs: object) -> str:
    """Keyed path of an untimed bench fixture under the temp dir:
    ``spark_graft_bench_<user>_<tag>_<sha12>``, the hash taken over
    ``tag`` and every input that determines the content (sf dir,
    layout version, build parameters), so a change to any of them
    misses the old cache instead of serving it. The user keeps two
    accounts on one host apart."""
    import getpass
    import hashlib
    import tempfile

    key = hashlib.sha256("|".join(map(str, (tag, *inputs))).encode()).hexdigest()
    try:
        user = getpass.getuser()
    except (OSError, KeyError):  # no login name in the env or passwd
        user = f"uid{os.getuid()}"
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_bench_{user}_{tag}_{key[:12]}"
    )


def publish_once(out: str, build: Callable[[str], None]) -> str:
    """Return ``out``, first building it if it does not exist:
    ``build(stage)`` writes ``<out>.tmp.<pid>``, which is renamed into
    place. A concurrent builder that wins the rename leaves a complete
    ``out``; the loser deletes its stage and uses the winner's copy. A
    build that raises leaves no stage behind."""
    if os.path.exists(out):
        return out
    stage = f"{out}.tmp.{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    try:
        build(stage)
        try:
            os.rename(stage, out)
        except OSError:
            if not os.path.exists(out):
                raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return out


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (SURVEY §4 scale tooling): pre-shuffle
    the data ONCE at write time into ``n_buckets`` hash buckets on
    the join/agg key, so every later equi-join or aggregation on that
    key between co-bucketed tables runs with ZERO exchange — the
    write amortizes the shuffle across all future queries, the
    standard warehouse move for a fact table joined daily on the same
    key (plan-pinned: tests assert the bucketed self-join has no
    Exchange).

    Bucketing requires the session catalog (``saveAsTable``); plain
    ``.parquet(path)`` cannot record bucket metadata. Pick
    ``n_buckets`` ≈ cluster cores at the TARGET scale — too few
    buckets caps join parallelism forever; with ``sort_col`` the
    buckets are also sort-merged-ready without a sort stage.
    """
    if mode not in WRITE_MODES:
        raise ValueError(f"write mode must be one of {WRITE_MODES}, got {mode!r}")
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)

def morton_code(cols: list, bits: int = 16):
    """Z-order (Morton) interleave of pre-normalized integer columns
    (each in [0, 2^bits)): bit b of column i lands at position
    b·n_cols + i. Pure Catalyst bit math (shiftright/AND/shiftleft/OR
    unrolled bits× per column) — whole-stage codegen, no UDF. 2-3
    columns × ≤21 bits keeps the code in a signed 64-bit long."""
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("morton_code needs at least 2 columns")
    if bits * n > 63:
        raise ValueError(f"{n} cols x {bits} bits overflows a signed long")
    code = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            code = code.bitwiseOR(F.shiftleft(bit, b * n + i))
    return code


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """Multi-dimension clustered layout (SURVEY §4 scale tooling —
    the 2-D+ complement of :func:`write_range_sorted`): rows are
    range-partitioned and sorted by the MORTON CODE of the listed
    numeric columns, so file locality follows the Z-curve and every
    file's parquet footer carries a NARROW (min, max) range on EVERY
    listed column — range-sorting one column leaves the others
    full-span in each file (no pruning on them), while Z-order
    shrinks all of them to ~globally_span/2^(level/n_cols). This is
    Delta/Iceberg's OPTIMIZE ZORDER BY expressed with nothing but
    Catalyst bit math + a range exchange.

    Columns are min/max-normalized onto the 2^``bits`` grid first
    (one scalar aggregate); NULLs map to grid 0 (they sort first,
    same as a plain sort). The write costs the same single range
    exchange as the 1-D layout."""
    from pyspark.sql import functions as F

    if mode not in WRITE_MODES:
        raise ValueError(f"write mode must be one of {WRITE_MODES}, got {mode!r}")
    if not 1 <= bits <= 21:
        raise ValueError("bits must be in [1, 21]")
    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        aggs += [F.min(v).alias(f"_mn_{c}"), F.max(v).alias(f"_mx_{c}")]
    b = df.agg(*aggs).collect()[0]
    grid = (1 << bits) - 1
    norm = []
    for c in cols:
        mn, mx = b[f"_mn_{c}"], b[f"_mx_{c}"]
        if mn is None:  # all-NULL column: the docstring contract is
            norm.append(F.lit(0).cast("long"))  # grid 0, not a crash
            continue
        lo, hi = float(mn), float(mx)
        v = F.col(c).cast("double")
        if hi > lo:
            scaled = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(grid)))
        else:
            scaled = F.lit(0)
        norm.append(
            F.coalesce(
                F.least(F.greatest(scaled, F.lit(0)), F.lit(grid)), F.lit(0)
            ).cast("long")
        )
    staged = df.withColumn("_z", morton_code(norm, bits))
    (
        staged.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .parquet(path)
    )


def write_with_manifest(
    df: DataFrame,
    path: str,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> dict:
    """Parquet write + integrity manifest: after the data commits, a
    ``_manifest.json`` records the read-back row count and a schema
    fingerprint (md5 of the DDL string). Readers call
    :func:`verify_manifest` to detect silent partial copies, schema
    drift, or lost files BEFORE consuming — the poor-engine's
    transaction-log check, and cheap: one count + one metadata read.
    Returns the manifest dict."""
    import hashlib
    import json
    import os

    write_sized_parquet(df, path, "overwrite", max_records_per_file)
    spark = df.sparkSession
    back = spark.read.parquet(path)
    manifest = {
        "rows": back.count(),
        "schema_md5": hashlib.md5(back.schema.simpleString().encode()).hexdigest(),
        "schema": back.schema.simpleString(),
    }
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> dict:
    """Check a dataset against its ``_manifest.json``: raises on a
    row-count or schema-fingerprint mismatch (files lost/added or
    schema drifted since the manifest was cut); returns the manifest
    on success. Underscore-prefixed files are invisible to Spark's
    parquet reader, so the manifest never pollutes the scan."""
    import hashlib
    import json
    import os

    mpath = os.path.join(path, "_manifest.json")
    if not os.path.exists(mpath):
        raise RuntimeError(f"no _manifest.json under {path}")
    with open(mpath) as f:
        manifest = json.load(f)
    back = spark.read.parquet(path)
    rows = back.count()
    smd5 = hashlib.md5(back.schema.simpleString().encode()).hexdigest()
    problems = []
    if rows != manifest["rows"]:
        problems.append(f"rows {rows} != manifest {manifest['rows']}")
    if smd5 != manifest["schema_md5"]:
        problems.append("schema fingerprint mismatch")
    if problems:
        raise RuntimeError(f"manifest check failed for {path}: " + "; ".join(problems))
    return manifest


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    driver: str | None = None,
    user: str = "",
    password: str = "",
    batch_size: int = 10_000,
    max_connections: int | None = None,
) -> None:
    """JDBC sink — the write half of the S2 database face (the read
    half lives in sources/readers.py). Each PARTITION opens one
    connection and inserts in ``batch_size`` batches, so the write
    parallelism IS the partition count: ``max_connections``
    repartitions/coalesces first, the knob that keeps a 1000-task job
    from opening 1000 database connections (the DBA-visible failure
    mode of naive Spark→RDBMS writes). Executed end-to-end against
    embedded DuckDB JDBC in tests."""
    if mode not in WRITE_MODES:
        raise ValueError(f"write mode must be one of {WRITE_MODES}, got {mode!r}")
    w = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(int(batch_size)))
        .option("user", user)
        .option("password", password)
    )
    if max_connections is not None:
        if max_connections < 1:
            raise ValueError("max_connections must be >= 1")
        # the JDBC source's own knob: it coalesces to this many
        # partitions before writing — no manual rdd probing needed
        w = w.option("numPartitions", str(int(max_connections)))
    if driver:
        w = w.option("driver", driver)
    w.save()
