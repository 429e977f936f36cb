"""Typed readers: parquet-with-schema, path fallback, CSV, JDBC (S1-S3, S8).

Re-expresses the reference's DataLoader (main_pipeline.py:100-169):

* S1 — parquet scan with an explicit schema and a local→s3a path
  fallback chain (main_pipeline.py:108-134). We keep the explicit
  schema (skips footer merging across 10^5 files at 100 TB) and the
  fallback chain, but drop the reference's ``coalesce(1)``
  (main_pipeline.py:116-117) — collapsing to one partition kills read
  parallelism; AQE coalescing already right-sizes small inputs
  (SURVEY §4 X6).
* S2/S3 — JDBC scan with range partitioning
  (main_pipeline.py:147-169). Kept as a thin declarative wrapper; the
  container has no Postgres, so this is exercised only by unit tests
  of the option dict it builds.
* S8 — CSV scan with explicit schema (prototype ``load_data``,
  Initial pipeline with pandas.txt:23-35).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensorstream_scalable_sensor_data_pipeline_spark.schemas import enforce_schema


def read_parquet(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """S1: parquet scan, first readable path wins.

    The reference tries a local path then an ``s3a://`` remap
    (main_pipeline.py:108-120, 126-134); here the caller passes the
    candidate chain explicitly. The read stays lazy — only path
    resolution (cheap driver-side listing) happens eagerly.
    """
    if isinstance(paths, str):
        paths = [paths]
    last_err: Exception | None = None
    for p in paths:
        try:
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(p)
            df.schema  # force plan resolution so a bad path fails here
            return enforce_schema(df, schema) if schema is not None else df
        except Exception as e:  # try the next candidate (AnalysisException etc.)
            last_err = e
    raise last_err if last_err else FileNotFoundError(str(paths))


def read_binary_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with the vectorized reader disabled FOR THIS READ
    — the memory-shape knob for extreme-width binary payloads.

    What this is for: the vectorized reader materializes
    ``columnarReaderBatchSize`` rows into one contiguous column
    buffer per task (the r11 OOM: 4096 × ~110 KB ≈ 450 MB/task); the
    session pins that to 256, which caps a 1 MB-payload scan at
    ~256 MB/task — still 8 GB across 32 tasks. The row-based reader
    materializes one row at a time, so multi-MB payloads (full video
    files, raw audio masters) scan in bounded memory regardless of
    batch tuning, per-read, without touching session confs that
    narrow analytic scans rely on.

    What this is NOT (r12 honesty note): an interim r12 measurement
    attributed a super-linear CPU term to the vectorized reader on
    ~110 KB payloads; quiet-box cold-JVM replay could not reproduce
    it (reader A/B within the ±40 % rep-to-rep variance of the
    decode scan; the original 19× reading was contaminated by a
    concurrent driver_sim run — the round-6 contended-box doctrine
    applies to profiling too). At ~100 KB widths use the default
    reader; reach for this only when per-task batch bytes, not CPU,
    are the constraint."""
    return spark.read.option("enableVectorizedReader", "false").parquet(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True
) -> DataFrame:
    """S8: CSV scan with explicit schema (never inferSchema in prod —
    inference is a full extra pass over the data)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def jdbc_read_options(
    url: str,
    query: str,
    user: str,
    password: str,
    *,
    fetch_size: int = 10_000,
    partition_column: str | None = "tagid",
    lower_bound: int = 1,
    upper_bound: int = 100_000,
    num_partitions: int = 8,
) -> dict[str, str]:
    """S2/S3: the option dict for a range-partitioned JDBC scan.

    Mirrors main_pipeline.py:147-169: the full SQL string is pushed to
    the database; executors open ``num_partitions`` parallel cursors
    split on ``partition_column`` ∈ [lower, upper). At scale, size
    ``num_partitions`` to the database's connection budget, not to
    Spark's parallelism — the DB is the bottleneck.
    """
    opts = {
        "url": url,
        "query": query,
        "user": user,
        "password": password,
        "fetchsize": str(fetch_size),
    }
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def read_jdbc(spark: SparkSession, **options: str) -> DataFrame:
    """Execute a JDBC scan from ``jdbc_read_options`` output."""
    return spark.read.format("jdbc").options(**options).load()


def kafka_read_options(
    bootstrap_servers: str,
    topics: str | Sequence[str],
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 100_000,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """Streaming-source option dict for a Kafka topic subscription —
    the ingestion edge of the reference's architecture
    (Architecture.png; BASELINE.json north star "Kafka/IoT sources"),
    given the same declarative treatment as ``jdbc_read_options``: the
    dict is unit-testable without a broker, and the read itself is one
    ``readStream.format("kafka")`` away.

    ``max_offsets_per_trigger`` bounds micro-batch size — the
    streaming analog of JDBC ``fetchsize``: at 100 TB/day topics it is
    what keeps a recovering stream from pulling an unbounded backlog
    into one batch.
    """
    if not isinstance(topics, str):
        topics = ",".join(topics)
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(spark: SparkSession, **options: str) -> DataFrame:
    """Open the Kafka stream from ``kafka_read_options`` output.

    Returns the raw Kafka frame (key/value binary + topic/partition/
    offset/timestamp); callers parse ``value`` with ``from_json`` /
    ``from_csv`` against an explicit schema and continue through the
    same watermark → dedup → ``foreachBatch`` path as the file source
    (streaming/pipeline.py). Requires the spark-sql-kafka package on
    the classpath; no broker ships in this container, so only the
    option dict is exercised by tests here.
    """
    return spark.readStream.format("kafka").options(**options).load()


#: Schema for a JSONL document corpus — the interchange format
#: training-data pipelines actually receive (one JSON object per
#: line: id, text, optional source/metadata).
JSONL_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Document-corpus JSONL reader with an EXPLICIT schema and
    quarantined corrupt lines — how web-scale text corpora land
    (Common Crawl derivatives, dataset dumps are line-delimited
    JSON). Never ``inferSchema``: inference is a full extra pass and
    silently retypes columns when a shard lacks a field.

    PERMISSIVE mode + a corrupt-record column quarantines malformed
    lines instead of failing the 10^5-file job at 99 % — callers
    split on ``{corrupt_col} IS NULL`` and route the rest to a
    quarantine sink. (Spark requires selecting+caching or a
    filter-on-other-columns to observe the corrupt column; returning
    the raw frame leaves that choice to the caller.) JSONL is
    splittable line-by-line, so parallelism is standard
    ``maxPartitionBytes`` file splitting — no small-files trap beyond
    parquet's.
    """
    st = schema if schema is not None else JSONL_DOCS_SCHEMA
    if corrupt_col not in [f.name for f in st.fields]:
        st = T.StructType(
            list(st.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
    return (
        spark.read.schema(st)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None):
    """ORC scan (format breadth next to parquet/CSV/JSONL — ORC ships
    in Spark with the same predicate-pushdown and column-pruning
    machinery as parquet; a user migrating a Hive-era ORC lake points
    this at their files unchanged). ``columns`` prunes at the reader
    (ReadSchema, not a post-scan select)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(
    df,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: int = 100_000,
) -> None:
    """ORC sink with the same bounded-file-size discipline as
    write_sized_parquet."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .orc(path)
    )


def read_binary_docs(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-payload ingestion for the multimodal family: Spark's
    native ``binaryFile`` source reads a directory of opaque files
    (images, audio, archives) into (path, modification_time, length,
    content) — the ``binary``-column shape operators/multimodal.py
    processes. ``glob`` filters by name (``*.png``); ``max_bytes``
    pushes a LENGTH predicate into the source so oversized payloads
    never cross the wire (the reader exposes length as a filterable
    column — the cheap guard against the one 4 GB file that OOMs a
    task).

    Driver-side file listing is the scale bound of any file source —
    at 10^8 objects, land a manifest (parquet of paths) and join
    instead. ``doc_id`` derives from the md5 of the path: stable,
    content-addressed-per-location, join-ready."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= int(max_bytes))
    return df.select(
        F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
        .cast("long")
        .alias("doc_id"),
        F.col("path"),
        F.col("length"),
        F.col("modificationTime").alias("modification_time"),
        F.col("content"),
    )


def read_text_docs(
    spark: SparkSession,
    path: str,
    whole_file: bool = True,
) -> DataFrame:
    """Plain-text corpus ingestion: one document per FILE
    (``wholetext`` — how scraped/text-dump corpora land) or one per
    LINE (``whole_file=False`` — concatenated dump shards). Returns
    (doc_id, path, text) with the same md5-of-path id derivation as
    :func:`read_binary_docs`; line mode salts the id with the line
    number so ids stay unique within a file.

    Whole-file mode is NOT splittable (one task per file — fine for
    documents, wrong for one giant file); line mode splits normally.

    LINE-MODE ID CONTRACT: ids are CONTENT-keyed — md5 of
    (path, line text, duplicate-occurrence index) — not position-
    keyed. A physical line number would depend on how Spark split
    the file into scan partitions (``monotonically_increasing_id``
    does not follow file offsets across splits), so two runs with
    different split planning would renumber the same line. Content
    keys are split-invariant; among IDENTICAL duplicate lines the
    occurrence index is arbitrary but the id MULTISET is stable —
    interchangeable duplicates, stable joins.
    """
    if whole_file:
        # NB: the .option("wholetext", ...) spelling is silently
        # ignored by Spark 4.1's text source; only the reader kwarg
        # engages whole-file mode (found by test)
        df = (
            spark.read.text(path, wholetext=True)
            .select(
                F.input_file_name().alias("path"),
                F.col("value").alias("text"),
            )
        )
        id_src = F.col("path")
    else:
        from pyspark.sql.window import Window

        df = (
            spark.read.text(path)
            .select(
                F.input_file_name().alias("path"),
                F.col("value").alias("text"),
            )
            .withColumn(
                # disambiguates only IDENTICAL duplicate lines; see
                # the line-mode id contract above
                "_dup",
                F.row_number().over(
                    Window.partitionBy("path", "text").orderBy(
                        F.monotonically_increasing_id()
                    )
                ),
            )
        )
        id_src = F.concat_ws(
            ":", F.col("path"), F.md5(F.col("text")), F.col("_dup")
        )
    return df.select(
        F.conv(F.substring(F.md5(id_src), 1, 15), 16, 10)
        .cast("long")
        .alias("doc_id"),
        "path",
        "text",
    )
