"""Tiered accepted-corpus compaction (r15): continuous micro-batching
leaves one ``accepted/batch=*`` dir per epoch; compact_accepted folds
the committed plain dirs into sized compact dirs (and merges the
compact tier geometrically) while resume-by-batch_id, re-delivery
rejection, and the corpus read all stay exact."""

from __future__ import annotations

import posixpath

import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
    _accepted_listing,
    compact_accepted,
    ingest_batch,
    read_accepted,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, lo, hi):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(f"doc_id >= {lo} AND doc_id < {hi}")
    )


def test_compact_accepted_preserves_corpus_resume_and_rejection(
    spark, tmp_path
):
    sdir = str(tmp_path / "state")
    for i in range(4):
        ingest_batch(
            spark,
            _docs(spark, i * 50, (i + 1) * 50),
            sdir,
            batch_id=f"b{i}",
            maintain_max_batch_dirs=None,
        ).collect()
    before = {
        (r["doc_id"],) for r in read_accepted(spark, sdir).collect()
    }
    assert len(before) == 200

    n = compact_accepted(spark, sdir)
    assert n == 4
    plain, compacts = _accepted_listing(spark, sdir)
    assert plain == [] and len(compacts) == 1
    # corpus read identical through the fold
    assert {
        (r["doc_id"],) for r in read_accepted(spark, sdir).collect()
    } == before

    # resume of a FOLDED batch_id returns exactly its staged rows —
    # filtered out of the compact dir via _src_batch
    resumed = {
        r["doc_id"]
        for r in ingest_batch(
            spark,
            _docs(spark, 50, 100),
            sdir,
            batch_id="b1",
            maintain_max_batch_dirs=None,
        ).collect()
    }
    assert resumed == set(range(50, 100))

    # re-delivery of folded content under new ids still rejects
    # (signature state was never touched by accepted compaction)
    redeliver = _docs(spark, 0, 50).select(
        (F.col("doc_id") + 5_000).alias("doc_id"), "text"
    )
    assert (
        ingest_batch(
            spark, redeliver, sdir, batch_id="rd",
            maintain_max_batch_dirs=None,
        ).count()
        == 0
    )
    # ...and the empty 'rd' staging plus new ingests keep reading
    later = {
        r["doc_id"]
        for r in ingest_batch(
            spark,
            _docs(spark, 200, 250),
            sdir,
            batch_id="b5",
            maintain_max_batch_dirs=None,
        ).collect()
    }
    assert later == set(range(200, 250))
    assert read_accepted(spark, sdir).count() == 250


def test_compact_accepted_tiers_merge_and_empty_batches_fold(
    spark, tmp_path
):
    sdir = str(tmp_path / "state")
    # tier 1: two plain dirs -> compact A
    for i in range(2):
        ingest_batch(
            spark, _docs(spark, i * 30, (i + 1) * 30), sdir,
            batch_id=f"a{i}", maintain_max_batch_dirs=None,
        ).collect()
    assert compact_accepted(spark, sdir) == 2
    # an all-rejected batch stages ZERO survivors; its bid must still
    # fold (provenance) so its resume finds the (empty) record
    ingest_batch(
        spark, _docs(spark, 0, 30), sdir, batch_id="dup",
        maintain_max_batch_dirs=None,
    ).collect()
    ingest_batch(
        spark, _docs(spark, 60, 90), sdir, batch_id="a2",
        maintain_max_batch_dirs=None,
    ).collect()
    assert compact_accepted(spark, sdir) == 2  # dup (empty) + a2
    _, compacts = _accepted_listing(spark, sdir)
    assert len(compacts) == 2
    # resume of the folded EMPTY batch returns empty
    assert (
        ingest_batch(
            spark, _docs(spark, 0, 30), sdir, batch_id="dup",
            maintain_max_batch_dirs=None,
        ).count()
        == 0
    )
    # tier 2: merge the compact dirs
    assert compact_accepted(spark, sdir, fold_compacts=True) == 2
    plain, compacts = _accepted_listing(spark, sdir)
    assert plain == [] and len(compacts) == 1
    assert read_accepted(spark, sdir).count() == 90
    # resume still resolves through the MERGED provenance
    assert ingest_batch(
        spark, _docs(spark, 60, 90), sdir, batch_id="a2",
        maintain_max_batch_dirs=None,
    ).count() == 30


def test_inline_maintenance_bounds_accepted_dirs(spark, tmp_path):
    """The default path: ingests with maintain_max_batch_dirs=3 keep
    the plain accepted tier bounded without any explicit call, and
    the just-committed batch's dir survives its own sweep (the caller
    still holds a lazy frame over it)."""
    sdir = str(tmp_path / "state")
    for i in range(7):
        acc = ingest_batch(
            spark,
            _docs(spark, i * 20, (i + 1) * 20),
            sdir,
            batch_id=f"m{i}",
            maintain_max_batch_dirs=3,
        )
        # consuming the returned frame AFTER the inline sweep must
        # work — the sweep excluded this batch's dir
        assert acc.count() == 20
    plain, compacts = _accepted_listing(spark, sdir)
    assert len(plain) < 3 + 1  # bounded by the threshold (+ current)
    assert compacts, "nothing ever compacted"
    assert read_accepted(spark, sdir).count() == 140


def test_read_accepted_raises_before_any_commit(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed"):
        read_accepted(spark, str(tmp_path / "none"))


def test_compact_accepted_skips_when_nothing_to_fold(spark, tmp_path):
    sdir = str(tmp_path / "state")
    ingest_batch(
        spark, _docs(spark, 0, 10), sdir, batch_id="solo",
        maintain_max_batch_dirs=None,
    ).collect()
    assert compact_accepted(spark, sdir) == 0  # one dir: nothing to do
    # the solo dir is untouched
    root = posixpath.join(sdir, "accepted", "batch=solo")
    import os

    assert os.path.exists(root)


def test_orphan_compact_not_live_and_swept(spark, tmp_path):
    """r15 ADVICE (medium): a compaction that crashed after its
    parquet _SUCCESS but before the _sources.json rename leaves a
    committed-looking compact dir with NO provenance. By the
    protocol's invariant its sources were never deleted, so treating
    the orphan as live would duplicate every folded row — and, with
    a different cid on the next sweep, PERMANENTLY. The orphan must
    be (a) invisible to the corpus read and (b) deleted by the next
    compact_accepted run."""
    import os

    sdir = str(tmp_path / "state")
    for i in range(3):
        ingest_batch(
            spark,
            _docs(spark, i * 30, (i + 1) * 30),
            sdir,
            batch_id=f"b{i}",
            maintain_max_batch_dirs=None,
        ).collect()
    before = {r["doc_id"] for r in read_accepted(spark, sdir).collect()}
    assert len(before) == 90

    # Simulate the crash state: a committed compact dir holding a
    # full copy of the corpus, with no _sources.json (the provenance
    # rename never ran), while all three source dirs still stand.
    root = posixpath.join(sdir, "accepted")
    orphan = posixpath.join(root, "batch=compact-0000deadbeef")
    (
        spark.read.option("basePath", root)
        .parquet(root)
        .withColumn("_src_batch", F.col("batch").cast("string"))
        .drop("batch")
        .write.mode("overwrite")
        .parquet(orphan)
    )
    assert os.path.exists(posixpath.join(orphan, "_SUCCESS"))
    assert not os.path.exists(posixpath.join(orphan, "_sources.json"))

    # (a) the orphan is not live: no duplication, listing skips it
    plain, compacts = _accepted_listing(spark, sdir)
    assert len(plain) == 3 and compacts == []
    dup_check = read_accepted(spark, sdir).groupBy("doc_id").count()
    assert dup_check.filter("count > 1").count() == 0
    assert {
        r["doc_id"] for r in read_accepted(spark, sdir).collect()
    } == before

    # (b) the next sweep deletes the orphan and compacts cleanly
    assert compact_accepted(spark, sdir) == 3
    assert not os.path.exists(orphan)
    assert {
        r["doc_id"] for r in read_accepted(spark, sdir).collect()
    } == before
    plain, compacts = _accepted_listing(spark, sdir)
    assert plain == [] and len(compacts) == 1


def test_reserved_batch_columns_rejected_at_ingest(spark, tmp_path):
    """r15 ADVICE: `batch` (the staging partition column) and
    `_src_batch` (the compaction provenance column) are reserved by
    the accepted-corpus layout — an ingest carrying either must fail
    with a clear ValueError at the API boundary, not a
    duplicate-column conflict inside a later corpus read."""
    sdir = str(tmp_path / "state")
    base = _docs(spark, 0, 5)
    for bad in ("batch", "_src_batch"):
        clashing = base.withColumn(bad, F.lit("x"))
        with pytest.raises(ValueError, match="reserved column"):
            ingest_batch(spark, clashing, sdir, batch_id="r1")
    # nothing staged by the rejected calls
    with pytest.raises(ValueError, match="no committed"):
        read_accepted(spark, sdir)


def test_stream_epoch_provenance_compresses_and_routes(spark, tmp_path):
    """r16 (r15 watch #2): folded epochs of a REGISTERED streaming
    run compress to one per-run [lo, hi] interval in _sources.json —
    provenance stays O(#runs), not O(total epochs ever) — while
    resume-by-epoch still routes to the exact compact that folded it
    (the interval keeps the LOWER bound precisely so a later compact
    cannot claim an earlier epoch). Unregistered lookalike ids stay
    in the exact list (nothing guarantees their commit order)."""
    import json
    import os

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        _batch_committed,
        _register_stream_run,
        _stream_run_ids,
        compact_state,
    )

    sdir = str(tmp_path / "state")
    _register_stream_run(spark, sdir, "runa")
    _register_stream_run(spark, sdir, "runa")  # idempotent
    assert _stream_run_ids(spark, sdir) == {"runa"}

    per_epoch = {}
    for e in range(4):
        b = _docs(spark, e * 20, (e + 1) * 20)
        per_epoch[e] = {r["doc_id"] for r in b.collect()}
        ingest_batch(
            spark, b, sdir, batch_id=f"runa-{e}",
            maintain_max_batch_dirs=None,
        ).collect()
    assert compact_accepted(spark, sdir) == 4

    def _prov(root):
        cdirs = [
            d for d in os.listdir(root) if d.startswith("batch=compact-")
        ]
        assert len(cdirs) == 1, cdirs
        with open(f"{root}/{cdirs[0]}/_sources.json") as fh:
            return json.load(fh)

    prov = _prov(f"{sdir}/accepted")
    assert prov == {"v": 2, "ids": [], "runs": {"runa": [0, 3]}}

    # second tier-1 sweep: disjoint interval, no claim on epochs 0-3
    for e in (4, 5):
        b = _docs(spark, e * 20, (e + 1) * 20)
        per_epoch[e] = {r["doc_id"] for r in b.collect()}
        ingest_batch(
            spark, b, sdir, batch_id=f"runa-{e}",
            maintain_max_batch_dirs=None,
        ).collect()
    assert compact_accepted(spark, sdir) == 2
    # a lookalike id whose run is NOT registered stays exact
    ingest_batch(
        spark, _docs(spark, 120, 130), sdir, batch_id="other-7",
        maintain_max_batch_dirs=None,
    ).collect()

    # signature-table compaction compresses the same way
    assert compact_state(spark, sdir, "fingerprints") == 7
    fp_prov = _prov(f"{sdir}/fingerprints")
    assert fp_prov["runs"] == {"runa": [0, 5]}
    assert fp_prov["ids"] == ["other-7"]

    # epoch-0's fp dir is gone, yet resume-by-id routes through the
    # interval to the exact compact that folded its staged rows
    assert not os.path.exists(f"{sdir}/fingerprints/batch=runa-0")
    assert _batch_committed(spark, sdir, "fingerprints", "runa-0")
    assert not _batch_committed(spark, sdir, "fingerprints", "runa-6")
    assert not _batch_committed(spark, sdir, "fingerprints", "runb-0")
    resumed = ingest_batch(
        spark, _docs(spark, 0, 20), sdir, batch_id="runa-0"
    )
    assert {r["doc_id"] for r in resumed.collect()} == per_epoch[0]
    resumed5 = ingest_batch(
        spark, _docs(spark, 100, 120), sdir, batch_id="runa-5"
    )
    assert {r["doc_id"] for r in resumed5.collect()} == per_epoch[5]
    # corpus intact through compression + resumes
    assert read_accepted(spark, sdir).count() == 130


def test_reserved_stream_run_ids_rejected(spark, tmp_path):
    """'compact' cannot be a stream run_id: compact dir names
    (compact-<hex12>) can be all digits, so a 'compact' run would
    absorb them into an epoch interval and break the re-compaction
    crash-window skip rule."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        _register_stream_run,
    )

    sdir = str(tmp_path / "state")
    for bad in ("compact", "", "a/b", "_x"):
        with pytest.raises(ValueError):
            _register_stream_run(spark, sdir, bad)


def test_corpus_growth_attribution_survives_compaction(spark, tmp_path):
    """r16 ops views: per-batch accepted counts keep their original
    attribution through the accepted-corpus fold (plain dirs carry
    the batch partition value, folded rows the _src_batch column)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        corpus_growth,
    )

    sdir = str(tmp_path / "state")
    sizes = {"b0": 30, "b1": 20, "b2": 10}
    lo = 0
    for bid, n in sizes.items():
        ingest_batch(
            spark, _docs(spark, lo, lo + n), sdir, batch_id=bid,
            maintain_max_batch_dirs=None,
        ).collect()
        lo += n
    before = {
        r["batch"]: r["n_rows"]
        for r in corpus_growth(spark, sdir).collect()
    }
    assert before == sizes
    assert compact_accepted(spark, sdir) == 3
    after = {
        r["batch"]: r["n_rows"]
        for r in corpus_growth(spark, sdir).collect()
    }
    assert after == sizes


def test_crash_left_folded_compact_stays_hidden_across_merges(
    spark, tmp_path
):
    """A compaction that crashed after its provenance rename but
    before deleting its sources leaves folded dirs on disk: here first
    a plain dir, later a compact. Both must stay out of read_accepted,
    and the next compact_accepted sweep deletes them before listing
    its sources. For the compact this is more than hygiene: provenance
    names compact dirs only directly, so once its folder is itself
    folded nothing would name it any more."""
    import os
    import shutil

    sdir = str(tmp_path / "state")
    root = posixpath.join(sdir, "accepted")

    def ingest(i):
        ingest_batch(
            spark, _docs(spark, i * 20, (i + 1) * 20), sdir,
            batch_id=f"c{i}", maintain_max_batch_dirs=None,
        ).collect()

    def corpus_ids():
        return sorted(r["doc_id"] for r in read_accepted(spark, sdir).collect())

    def crash_left(path, fold):
        # run the fold, then put back the source dir it deleted
        shutil.copytree(path, str(tmp_path / "saved"))
        folded_n = fold()
        shutil.move(str(tmp_path / "saved"), path)
        return folded_n

    for i in range(2):
        ingest(i)
    plain_c0 = posixpath.join(root, "batch=c0")
    assert crash_left(plain_c0, lambda: compact_accepted(spark, sdir)) == 2
    assert corpus_ids() == list(range(40))
    for i in range(2, 4):
        ingest(i)
    assert compact_accepted(spark, sdir) == 2
    assert not os.path.exists(plain_c0)
    folded = posixpath.join(
        root, min(d for d in os.listdir(root) if d.startswith("batch=compact-"))
    )
    assert crash_left(
        folded, lambda: compact_accepted(spark, sdir, fold_compacts=True)
    ) == 2
    assert corpus_ids() == list(range(80))

    for i in range(4, 6):
        ingest(i)
    # sources: two plain dirs + the merged compact — never the dead dir
    assert compact_accepted(spark, sdir, fold_compacts=True) == 3
    assert corpus_ids() == list(range(120))
    plain, compacts = _accepted_listing(spark, sdir)
    assert plain == [] and len(compacts) == 1
    assert not os.path.exists(folded)


def test_invalid_arguments_rejected_before_any_state_mutation(
    spark, tmp_path
):
    """An ingest whose arguments are invalid raises BEFORE it stages or
    commits anything — a ValueError must never report an ingest that
    durably happened — and an invalid on_error raises on the resume
    path too, not only where the signer checks it."""
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

    sdir = str(tmp_path / "state")
    with pytest.raises(ValueError, match="max_batch_dirs must be >= 2"):
        ingest_batch(
            spark, _docs(spark, 0, 10), sdir, batch_id="v1",
            maintain_max_batch_dirs=1,
        )
    assert not os.path.exists(posixpath.join(sdir, "accepted"))
    assert not os.path.exists(posixpath.join(sdir, "fingerprints"))

    imgs = spark.createDataFrame(
        [(0, encode_png(synth_image(0, h=32, w=32)))],
        "doc_id long, payload binary",
    )
    with pytest.raises(ValueError, match="on_error"):
        ingest_image_batch(spark, imgs, sdir, batch_id="v2", on_error="skip")
    assert not os.path.exists(posixpath.join(sdir, "accepted"))
    assert not os.path.exists(posixpath.join(sdir, "phashes"))
    assert ingest_image_batch(spark, imgs, sdir, batch_id="v2").count() == 1
    with pytest.raises(ValueError, match="on_error"):
        ingest_image_batch(spark, imgs, sdir, batch_id="v2", on_error="skip")
