"""Incremental NEAR-duplicate text ingest (r16): MinHash-LSH against
persisted signature state — within-batch exact-Jaccard closure,
cross-batch signature-estimate rejection, the same two-dir
crash-consistency + resume + inline-maintenance contracts as the
exact ingest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
    compact_state,
    ingest_fuzzy_batch,
    read_accepted,
    read_fuzzy_state,
)


def _text(doc: int, n: int = 50) -> str:
    return " ".join(f"d{doc}w{j}" for j in range(n))


def _variant(doc: int, n: int = 50) -> str:
    # same first n-1 words, one swapped tail word: shingle Jaccard
    # (n-2-2)/(n-2+2) approx 0.88 at n=50 -- above the 0.8 cut
    return " ".join(
        [f"d{doc}w{j}" for j in range(n - 1)] + ["zzz"]
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_fuzzy_within_and_cross_batch(spark, tmp_path):
    sdir = str(tmp_path / "state")
    b1 = _df(
        spark,
        [(i, _text(i)) for i in range(10)]
        + [(10, _variant(0)), (11, _text(1))],  # near-dup of 0; exact of 1
    )
    a1 = {
        r["doc_id"]
        for r in ingest_fuzzy_batch(
            spark, b1, sdir, batch_id="f1", maintain_max_batch_dirs=None
        ).collect()
    }
    assert a1 == set(range(10))
    assert read_fuzzy_state(spark, sdir).count() == 10

    b2 = _df(
        spark,
        [
            (20, _variant(2)),   # near-dup of accepted 2 -> reject
            (21, _text(3)),      # exact re-delivery -> reject
            (22, _text(22)),     # fresh -> accept
            (23, _variant(22)),  # near-dup of 22 within batch -> collapse
            (24, _text(24)),     # fresh -> accept
        ],
    )
    a2 = {
        r["doc_id"]
        for r in ingest_fuzzy_batch(
            spark, b2, sdir, batch_id="f2", maintain_max_batch_dirs=None
        ).collect()
    }
    assert a2 == {22, 24}
    corpus = {r["doc_id"] for r in read_accepted(spark, sdir).collect()}
    assert corpus == set(range(10)) | {22, 24}

    # resume: same batch_id returns the staged rows without recompute
    r2 = {
        r["doc_id"]
        for r in ingest_fuzzy_batch(
            spark, b2, sdir, batch_id="f2", maintain_max_batch_dirs=None
        ).collect()
    }
    assert r2 == {22, 24}


def test_ingest_fuzzy_rejects_through_compacted_state(spark, tmp_path):
    sdir = str(tmp_path / "state")
    for i, bid in ((0, "c1"), (1, "c2")):
        ingest_fuzzy_batch(
            spark,
            _df(spark, [(i, _text(i))]),
            sdir,
            batch_id=bid,
            maintain_max_batch_dirs=None,
        ).collect()
    assert compact_state(spark, sdir, "minhash_sigs") == 2
    a = {
        r["doc_id"]
        for r in ingest_fuzzy_batch(
            spark,
            _df(
                spark,
                [(30, _variant(0)), (31, _text(1)), (32, _text(32))],
            ),
            sdir,
            batch_id="c3",
            maintain_max_batch_dirs=None,
        ).collect()
    }
    assert a == {32}


def test_ingest_fuzzy_reserved_columns_and_pure_content(spark, tmp_path):
    sdir = str(tmp_path / "state")
    with pytest.raises(ValueError, match="reserved column"):
        ingest_fuzzy_batch(
            spark,
            _df(spark, [(0, _text(0))]).withColumn("batch", F.lit("x")),
            sdir,
        )
    # omitted batch_id: pure content semantics — re-ingesting accepted
    # near-dup content accepts nothing
    ingest_fuzzy_batch(
        spark, _df(spark, [(0, _text(0))]), sdir,
        maintain_max_batch_dirs=None,
    ).collect()
    again = ingest_fuzzy_batch(
        spark, _df(spark, [(99, _variant(0))]), sdir,
        maintain_max_batch_dirs=None,
    )
    assert again.count() == 0


def test_ingest_fuzzy_streams(spark, tmp_path):
    """The fuzzy ingest satisfies the stream_ingest ingest_fn
    contract: a near-dup re-delivery in a later epoch rejects against
    the signatures the earlier epoch committed."""
    import glob
    import os

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.ingest import (
        accepted_corpus,
        stream_ingest,
    )

    src = str(tmp_path / "in")
    epochs = [
        [(0, _text(0)), (1, _text(1))],
        [(10, _variant(0)), (11, _text(11))],
    ]
    for i, rows in enumerate(epochs):
        d = src + f"/f={i}"
        _df(spark, rows).coalesce(1).write.parquet(d)
        t = 1_000_000_000 + i * 200
        for p in glob.glob(d + "/part-*"):
            os.utime(p, (t, t))
    sdir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_ingest(
        spark, stream, sdir, str(tmp_path / "ck"),
        run_id="fz", ingest_fn=ingest_fuzzy_batch,
    )
    assert q.awaitTermination(180)
    acc = {r["doc_id"] for r in accepted_corpus(spark, sdir).collect()}
    assert acc == {0, 1, 11}


def test_fuzzy_state_hits_plan_shape_and_semantics(spark):
    """The cross-state rejection is two keyed equi-joins plus a
    candidate-sized verify — no cartesian anywhere — and an exact
    re-delivery (agreement 1.0) hits while an unrelated doc
    (agreement ~0) does not."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
        bands_from_sigs,
        minhash_signatures,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        fuzzy_state_hits,
    )
    from tests.plan_asserts import (
        assert_no_cartesian,
    )

    batch = _df(spark, [(100, _text(0)), (101, _text(101))])
    state_docs = _df(spark, [(0, _text(0)), (1, _text(1))])
    sigs = minhash_signatures(batch, "doc_id", "text")
    state = minhash_signatures(state_docs, "doc_id", "text").select(
        "doc_id", "sig"
    )
    bands = bands_from_sigs(sigs, "doc_id")
    hits = fuzzy_state_hits(bands, sigs, state)
    assert_no_cartesian(hits)
    assert {r["doc_id"] for r in hits.collect()} == {100}
