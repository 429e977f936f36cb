"""Tiered accepted-corpus compaction (r15): continuous micro-batching
leaves one ``accepted/batch=*`` dir per epoch; compact_accepted folds
the committed plain dirs into sized compact dirs (and merges the
compact tier geometrically) while resume-by-batch_id, re-delivery
rejection, and the corpus read all stay exact."""

from __future__ import annotations

import json
import os
import posixpath
import shutil

import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators import (
    dedup_incremental as di,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
    _read_manifest,
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


def _tiers(spark, sdir):
    """(plain, compact) live accepted dir names."""
    m = _read_manifest(spark, sdir)
    return m.names("accepted", compact=False), m.names("accepted", compact=True)


def _manifest_json(sdir):
    """The latest manifest version, as written on disk."""
    log = os.path.join(sdir, "_manifest")
    latest = max(f for f in os.listdir(log) if f.endswith(".json"))
    with open(os.path.join(log, latest)) as fh:
        return json.load(fh)


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
    plain, compacts = _tiers(spark, sdir)
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
    _, compacts = _tiers(spark, sdir)
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
    plain, compacts = _tiers(spark, sdir)
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
    plain, compacts = _tiers(spark, sdir)
    assert len(plain) < 3 + 1  # bounded by the threshold (+ current)
    assert compacts, "nothing ever compacted"
    assert read_accepted(spark, sdir).count() == 140
    # the manifest log is bounded too: old versions are deleted
    m = _read_manifest(spark, sdir)
    versions = [f for f in os.listdir(f"{sdir}/_manifest") if f.endswith(".json")]
    assert m.version > di._MANIFEST_RETAIN
    assert len(versions) == di._MANIFEST_RETAIN


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
    assert os.path.exists(root)


def test_orphan_compact_not_live_and_swept(spark, tmp_path):
    """An unnamed dir is never read and is swept: a compaction that
    crashed before its manifest rename leaves a complete compact dir
    (here a full copy of the corpus) that no version names. Treating
    it as live would duplicate every folded row. It must be (a)
    invisible to the corpus read and (b) deleted by the next
    compact_accepted run."""
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

    # the crash state: a committed-looking compact dir holding a full
    # copy of the corpus that no manifest version names, while all
    # three source dirs stay live
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

    # (a) the orphan is not live: no duplication, the manifest skips it
    plain, compacts = _tiers(spark, sdir)
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
    plain, compacts = _tiers(spark, sdir)
    assert plain == [] and len(compacts) == 1
    assert sorted(os.listdir(root)) == [f"batch={compacts[0]}"]


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
    run compress to one per-run [lo, hi] interval in the manifest —
    provenance stays O(#runs), not O(total epochs ever) — while
    resume-by-epoch still routes to the exact compact that folded it
    (the interval keeps the LOWER bound precisely so a later compact
    cannot claim an earlier epoch). Unregistered lookalike ids stay
    in the exact list (nothing guarantees their commit order)."""
    import glob

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        _register_stream_run,
        compact_state,
    )

    sdir = str(tmp_path / "state")
    _register_stream_run(spark, sdir, "runa")
    _register_stream_run(spark, sdir, "runa")  # idempotent
    assert _manifest_json(sdir)["stream_runs"] == ["runa"]
    assert _read_manifest(spark, sdir).version == 1

    per_epoch = {}
    for e in range(4):
        b = _docs(spark, e * 20, (e + 1) * 20)
        per_epoch[e] = {r["doc_id"] for r in b.collect()}
        ingest_batch(
            spark, b, sdir, batch_id=f"runa-{e}",
            maintain_max_batch_dirs=None,
        ).collect()
    assert compact_accepted(spark, sdir) == 4

    def _prov(table):
        live = _manifest_json(sdir)["tables"][table]
        compacts = [p for p in live.values() if p is not None]
        assert len(compacts) == 1, live
        return compacts[0]

    prov = _prov("accepted")
    assert prov == {"ids": [], "runs": {"runa": [0, 3]}}

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
    fp_prov = _prov("fingerprints")
    assert fp_prov["runs"] == {"runa": [0, 5]}
    assert fp_prov["ids"] == ["other-7"]

    # epoch-0's fp dir is gone, yet resume-by-id routes through the
    # interval to the exact compact that folded its staged rows
    assert not os.path.exists(f"{sdir}/fingerprints/batch=runa-0")
    m = _read_manifest(spark, sdir)
    assert m.committed("fingerprints", "runa-0")
    assert not m.committed("fingerprints", "runa-6")
    assert not m.committed("fingerprints", "runb-0")
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
    # the manifest replaced the per-dir provenance and run markers
    assert not os.path.exists(f"{sdir}/_stream_runs")
    assert not glob.glob(f"{sdir}/**/_sources.json", recursive=True)


def test_reserved_stream_run_ids_rejected(spark, tmp_path):
    """'compact' cannot be a stream run_id: compact dir names
    (compact-<hex12>) can be all digits, so a 'compact' run's epoch
    ids could name a live compact dir."""
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


def test_invalid_arguments_rejected_before_any_state_mutation(
    spark, tmp_path
):
    """An ingest whose arguments are invalid raises BEFORE it stages or
    commits anything — a ValueError must never report an ingest that
    durably happened — and an invalid on_error raises on the resume
    path too, not only where the signer checks it."""
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


def test_racing_manifest_writers_cannot_swap_content(spark, tmp_path, monkeypatch):
    """Two writers commit on the same base version, interleaved so both
    temp files exist before either rename: A writes, B writes, A
    renames, B renames. A's version holds A's own content, B's rename
    raises, and B's temp file is removed."""
    sdir = str(tmp_path / "state")
    base = _read_manifest(spark, sdir)
    real_rename = di._rename
    renames = []

    def interleave(_spark, src, dst):
        renames.append((src, dst))
        if len(renames) == 1:  # A, between its temp write and rename
            with pytest.raises(Exception, match="exists"):
                di._publish(spark, sdir, base, add={"accepted": {"b": None}})
        else:  # B, after its temp write: A renames first
            real_rename(spark, *renames[0])
            real_rename(spark, src, dst)

    monkeypatch.setattr(di, "_rename", interleave)
    di._publish(spark, sdir, base, add={"accepted": {"a": None}})
    monkeypatch.undo()
    m = _read_manifest(spark, sdir)
    assert (m.version, m.names("accepted")) == (1, ["a"])
    log = sorted(f for f in os.listdir(f"{sdir}/_manifest") if not f.startswith("."))
    assert log == ["00000000000000000001.json"]


def test_pre_manifest_state_dir_rejected_before_any_write(spark, tmp_path):
    """A state dir written by the pre-manifest layout (table dirs, no
    _manifest/ log) is neither read nor adopted: every ingest,
    compaction and reader raises ValueError, and nothing is written."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        _register_stream_run,
        compact_state,
        corpus_growth,
        maintain_state,
        quarantine_report,
        read_audio_hubs,
        read_state,
    )

    sdir = tmp_path / "legacy"
    legacy = sdir / "fingerprints" / "batch=x"
    legacy.mkdir(parents=True)
    (legacy / "_SUCCESS").write_text("")

    def tree():
        return sorted(str(p.relative_to(sdir)) for p in sdir.rglob("*"))

    before = tree()
    s = str(sdir)
    for call in (
        lambda: ingest_batch(spark, _docs(spark, 0, 5), s, batch_id="n1"),
        lambda: compact_state(spark, s, "fingerprints"),
        lambda: compact_accepted(spark, s),
        lambda: maintain_state(spark, s, 2),
        lambda: read_state(spark, s),
        lambda: read_accepted(spark, s),
        lambda: corpus_growth(spark, s),
        lambda: quarantine_report(spark, s),
        lambda: read_audio_hubs(spark, s, 10),
        lambda: _register_stream_run(spark, s, "run"),
    ):
        with pytest.raises(ValueError, match="pre-manifest"):
            call()
    assert tree() == before


# ---------------------------------------- crash at the manifest commit

#: (operation, the module function the injected crash replaces):
#: ``_rename`` is the manifest rename — the crash lands after every
#: data write and before the commit — and ``_sweep`` the source
#: delete that follows a compaction's commit.
_CRASHES = [
    ("ingest", "_rename"),
    ("compact_state", "_rename"),
    ("compact_state", "_sweep"),
    ("compact_accepted", "_rename"),
    ("compact_accepted", "_sweep"),
]


def _audio_batches(spark):
    """Two quarantine-mode audio batches of a few rows. Batch 1 holds a
    within-batch duplicate (2 = 1) and a corrupt clip; batch 2 a
    re-delivery (4 = 1), a fresh clip and another corrupt clip."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        synth_clip,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_wav,
    )

    def clip(seed):
        return encode_wav(synth_clip(70 + seed), 8000)

    schema = "doc_id long, payload binary"
    b1 = spark.createDataFrame(
        [(1, clip(1)), (2, clip(1)), (3, clip(3)), (8, b"RIFF" + b"\x00" * 30)],
        schema,
    )
    b2 = spark.createDataFrame(
        [(4, clip(1)), (5, clip(5)), (9, b"RIFF" + b"\x01" * 30)], schema
    )
    return b1, b2


def _ingest_audio(spark, sdir, batch, bid):
    return sorted(
        r["doc_id"]
        for r in di.ingest_audio_batch(
            spark, batch, sdir, batch_id=bid, on_error="quarantine",
            maintain_max_batch_dirs=None,
        ).collect()
    )


def _observe(spark, sdir):
    """What readers see: corpus ids, audio state rows, quarantine
    identity ids and the hub set at cap 1 (every word seen twice), which
    a double-counted source would change."""
    return (
        sorted(r["doc_id"] for r in read_accepted(spark, sdir).collect()),
        sorted(
            (r["doc_id"], tuple(r["fp"] or ()))
            for r in di.read_audio_state(spark, sdir).collect()
        ),
        sorted(
            r["doc_id"] for r in di.read_quarantine_state(spark, sdir).collect()
        ),
        sorted(r["v"] for r in di.read_audio_hubs(spark, sdir, 1).collect()),
    )


@pytest.fixture(scope="module")
def uncrashed(spark, tmp_path_factory):
    """The two audio batches committed without a crash: copies of the
    state dir after each batch (every case starts from one), what
    readers see at the end, and each batch's accepted ids."""
    root = tmp_path_factory.mktemp("uncrashed")
    sdir = str(root / "state")
    b1, b2 = _audio_batches(spark)
    a1 = _ingest_audio(spark, sdir, b1, "b1")
    shutil.copytree(sdir, root / "after_b1")
    a2 = _ingest_audio(spark, sdir, b2, "b2")
    shutil.copytree(sdir, root / "after_b2")
    assert (a1, a2) == ([1, 3, 8], [5, 9])
    return root, _observe(spark, sdir), (a1, a2)


@pytest.mark.parametrize("op, point", _CRASHES)
def test_crash_at_manifest_commit_reruns_to_uncrashed_result(
    spark, tmp_path, monkeypatch, uncrashed, op, point
):
    """A crash at the manifest rename, or at the source delete after
    it, of an ingest commit and of both compactions. Readers see the
    previous corpus at the crash; a re-run gives the uncrashed corpus,
    state, quarantine identity, hub set and resume result, and leaves
    no dir the manifest does not name. The ingest's signature and
    quarantine dirs commit together, so the crash loses both."""
    root, want, want_accepted = uncrashed
    sdir = str(tmp_path / "state")
    shutil.copytree(root / ("after_b1" if op == "ingest" else "after_b2"), sdir)
    b1, b2 = _audio_batches(spark)
    run = {
        "ingest": lambda: _ingest_audio(spark, sdir, b2, "b2"),
        "compact_state": lambda: di.compact_state(spark, sdir, "audio_fps"),
        "compact_accepted": lambda: compact_accepted(spark, sdir),
    }[op]
    before = _observe(spark, sdir)

    def crash(*_args):
        raise OSError(f"injected crash at {point}")

    with monkeypatch.context() as mp:
        mp.setattr(di, point, crash)
        with pytest.raises(OSError, match="injected crash"):
            run()
    assert _observe(spark, sdir) == before
    run()
    assert _observe(spark, sdir) == want
    assert (
        _ingest_audio(spark, sdir, b1, "b1"),
        _ingest_audio(spark, sdir, b2, "b2"),
    ) == want_accepted
    m = _read_manifest(spark, sdir)
    for table in ("accepted", "audio_fps", "quarantine_md5s"):
        on_disk = sorted(
            d[len("batch="):] for d in os.listdir(f"{sdir}/{table}")
            if d.startswith("batch=")
        )
        assert on_disk == m.names(table), table
