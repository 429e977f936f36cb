"""Streaming face of the incremental dedup ingest (r15): Structured
Streaming's at-least-once ``foreachBatch`` + the ingest's
idempotent-by-batch_id commit protocol = exactly-once state
semantics, with the accepted corpus living in the state dir's durable
staged tables."""

from __future__ import annotations

import pytest

from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from sensorstream_scalable_sensor_data_pipeline_spark.streaming.ingest import (
    accepted_corpus,
    stream_ingest,
)

SF_DIR = "/root/testdata/sf0.001"


def _drain(q, seconds=120):
    assert q.awaitTermination(seconds), "stream did not drain in time"


def test_stream_ingest_text_exactly_once(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1) with planted
    cross-batch re-deliveries, then a restart from the SAME
    checkpoint with a duplicates-only fourth file: the accepted
    corpus holds exactly one row per distinct text at every point —
    re-delivered content never double-enters state, restarts continue
    epochs instead of replaying them."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n_texts = docs.select("text").distinct().count()
    src = str(tmp_path / "incoming")
    # f1: ids < 200; f2: ids 200-399 + re-deliveries of <200 under new
    # ids; f3: ids >= 400
    docs.filter("doc_id < 200").coalesce(1).write.parquet(src + "/f=1")
    docs.filter("doc_id >= 200 AND doc_id < 400").unionByName(
        docs.filter("doc_id < 200").select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text"
        )
    ).coalesce(1).write.parquet(src + "/f=2")
    docs.filter("doc_id >= 400").coalesce(1).write.parquet(src + "/f=3")

    sdir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(stream_ingest(spark, stream, sdir, ckpt, run_id="s"))
    acc = accepted_corpus(spark, sdir)
    assert acc.count() == n_texts
    assert acc.select("text").distinct().count() == n_texts

    # restart from the SAME checkpoint after a duplicates-only file:
    # epochs continue (no batch_id collision with committed state),
    # and nothing new is accepted
    docs.filter("doc_id < 100").select(
        (F.col("doc_id") + 20_000).alias("doc_id"), "text"
    ).coalesce(1).write.parquet(src + "/f=4")
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(stream_ingest(spark, stream2, sdir, ckpt, run_id="s"))
    assert accepted_corpus(spark, sdir).count() == n_texts


def test_stream_ingest_epoch_redelivery_is_noop(spark, tmp_path):
    """The exactly-once mechanism itself: re-running a committed
    epoch's batch_id (what foreachBatch does on retry after a crash)
    resumes from state instead of recomputing — even if the retry
    carries different rows, the committed staging wins."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_batch,
    )

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 50")
    )
    src = str(tmp_path / "in")
    docs.coalesce(1).write.parquet(src)
    sdir = str(tmp_path / "state")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    _drain(stream_ingest(spark, stream, sdir, str(tmp_path / "ck"), run_id="r"))
    before = {r["doc_id"] for r in accepted_corpus(spark, sdir).collect()}
    assert before == set(range(50))
    # "retry" epoch 0 with a poisoned payload: the committed batch
    # short-circuits, state and staged rows unchanged
    poisoned = docs.selectExpr("doc_id + 999 AS doc_id", "text")
    out = {
        r["doc_id"]
        for r in ingest_batch(
            spark, poisoned, sdir, batch_id="r-0"
        ).collect()
    }
    assert out == before
    assert {
        r["doc_id"] for r in accepted_corpus(spark, sdir).collect()
    } == before


def test_stream_ingest_image_quarantine_kwargs(spark, tmp_path):
    """Modality + kwargs threading: the image ingest_fn streams with
    on_error='quarantine' — a corrupt payload in a micro-batch is
    accepted with content identity instead of killing the query, and
    its re-delivery in a later epoch rejects."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    corrupt = b"\x89PNG\r\n\x1a\n" + b"\x00" * 40
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(0, encode_png(synth_image(0, h=32, w=32))), (900, corrupt)],
        "doc_id long, payload binary",
    ).coalesce(1).write.parquet(src + "/f=1")
    spark.createDataFrame(
        [(1, encode_png(synth_image(1, h=32, w=32))), (901, corrupt)],
        "doc_id long, payload binary",
    ).coalesce(1).write.parquet(src + "/f=2")

    sdir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(
        stream_ingest(
            spark,
            stream,
            sdir,
            str(tmp_path / "ck"),
            run_id="q",
            ingest_fn=ingest_image_batch,
            on_error="quarantine",
        )
    )
    acc = {r["doc_id"] for r in accepted_corpus(spark, sdir).collect()}
    # file order decides which corrupt id carried the content; the
    # OTHER one must have been rejected as a re-delivery
    assert acc & {900, 901} and acc != {0, 1, 900, 901}
    assert {0, 1} <= acc and len(acc) == 3


def test_accepted_corpus_requires_committed_batches(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed"):
        accepted_corpus(spark, str(tmp_path / "nothing"))


def test_stream_ingest_provenance_stays_bounded(spark, tmp_path):
    """A stream_ingest run registers its run_id, so the inline
    maintenance sweeps that fire under continuous micro-batching
    record folded epochs as ONE per-run [lo, hi] interval in the
    manifest, and a compact's provenance names no dirs — so the
    manifest does not grow with the number of epochs ever ingested —
    while the corpus stays exact."""
    import json
    import os

    n_epochs = 12
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "incoming")
    for i in range(n_epochs):
        docs.filter(
            f"doc_id >= {i * 40} AND doc_id < {(i + 1) * 40}"
        ).coalesce(1).write.parquet(src + f"/f={i:02d}")
    sdir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(
        stream_ingest(
            spark, stream, sdir, str(tmp_path / "ckpt"),
            run_id="b", maintain_max_batch_dirs=2,
        ),
        seconds=600,
    )
    assert accepted_corpus(spark, sdir).count() == n_epochs * 40
    # every live compact dir under the state tables carries
    # interval-form provenance with zero per-epoch ids
    log = f"{sdir}/_manifest"
    latest = max(f for f in os.listdir(log) if f.endswith(".json"))
    with open(f"{log}/{latest}") as fh:
        manifest = json.load(fh)
    assert manifest["stream_runs"] == ["b"]
    found = 0
    for table in ("accepted", "fingerprints"):
        for prov in manifest["tables"][table].values():
            if prov is None:
                continue
            found += 1
            assert "b" in prov["runs"], prov
            assert prov["ids"] == [], (table, prov)
    assert found >= 2, "maintenance never compacted at threshold 2"


def test_stream_corrupt_rate_per_epoch(spark, tmp_path):
    """r15 verdict task #6: a 3-epoch stream with planted corruption
    yields per-epoch corrupt counts from stream_corrupt_rate — the
    drift alarm view. Epoch 0 accepts corrupt payload A; epoch 1's
    re-delivery of A rejects (no identity row) while fresh payload B
    accepts; epoch 2's two copies of fresh payload C collapse to one
    identity row."""
    import glob
    import os

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.ingest import (
        stream_corrupt_rate,
    )

    bad_a = b"\x89PNG\r\n\x1a\n" + b"\x00" * 40
    bad_b = b"\x89PNG\r\n\x1a\n" + b"\x01" * 40
    bad_c = b"\x89PNG\r\n\x1a\n" + b"\x02" * 40
    src = str(tmp_path / "in")
    assert stream_corrupt_rate(spark, str(tmp_path / "none"), "q") is None
    epochs = [
        [(0, encode_png(synth_image(0, h=32, w=32))), (900, bad_a)],
        [(1, encode_png(synth_image(1, h=32, w=32))), (901, bad_a),
         (902, bad_b)],
        [(903, bad_c), (904, bad_c)],
    ]
    for i, rows in enumerate(epochs):
        d = src + f"/f={i}"
        spark.createDataFrame(
            rows, "doc_id long, payload binary"
        ).coalesce(1).write.parquet(d)
        t = 1_000_000_000 + i * 200
        for p in glob.glob(d + "/part-*"):
            os.utime(p, (t, t))

    sdir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(
        stream_ingest(
            spark, stream, sdir, str(tmp_path / "ck"),
            run_id="q", ingest_fn=ingest_image_batch,
            on_error="quarantine",
        )
    )
    rates = {
        r["epoch"]: (r["n_corrupt"], r["n_distinct_payloads"])
        for r in stream_corrupt_rate(spark, sdir, "q").collect()
    }
    assert rates == {0: (1, 1), 1: (1, 1), 2: (1, 1)}
    # a different run_id sees nothing
    assert stream_corrupt_rate(spark, sdir, "other").count() == 0
