"""Corrupt-payload quarantine (r14): at 100 TB corrupt payloads are a
certainty, and one undecodable blob under the default on_error="raise"
fails its task four times and kills the whole job. Every decode entry
point (image hash, audio fingerprint, video frame hash, feature
extraction) gains on_error="quarantine": the corrupt row degrades to a
NULL/absent signature that can never match, the job completes, the
good rows' results are bit-identical to a clean run, and the
quarantine set is recoverable with one filter."""

from __future__ import annotations

import contextlib
import shutil
import uuid

import numpy as np
import pytest

from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
    decontaminate_audio,
    dedup_audio,
    synth_clip,
    with_audio_fingerprint,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    encode_avi,
    encode_png,
    encode_wav,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.multimodal import (
    extract_features,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
    dedup_phash,
    synth_image,
    with_phash,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
    decontaminate_videos,
    dedup_videos,
    with_frame_phashes,
)

RATE = 8000

#: A payload with a valid PNG magic but garbage body (decode throws
#: mid-parse) and one with no recognizable magic at all.
CORRUPT_PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 40
GARBAGE = b"not a media file at all, definitely not"


def _images(spark, with_corrupt: bool):
    rows = [(i, encode_png(synth_image(i, h=48, w=48))) for i in range(3)]
    # planted variant: 100 is a re-encode of image 0's picture
    rows.append((100, encode_png(synth_image(0, h=48, w=48))))
    if with_corrupt:
        rows += [(900, CORRUPT_PNG), (901, GARBAGE)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_with_phash_quarantine_nulls_and_exact_good_rows(spark):
    clean = {
        r["doc_id"]: r["phash"]
        for r in with_phash(_images(spark, False), "doc_id", "payload").collect()
    }
    rows = with_phash(
        _images(spark, True), "doc_id", "payload", on_error="quarantine"
    ).collect()
    got = {r["doc_id"]: r["phash"] for r in rows}
    assert got[900] is None and got[901] is None
    assert {k: v for k, v in got.items() if k < 900} == clean
    # default mode still raises — corrupt content is loud
    with pytest.raises(Exception):
        with_phash(_images(spark, True), "doc_id", "payload").collect()
    with pytest.raises(ValueError, match="on_error"):
        with_phash(_images(spark, True), "doc_id", "payload", on_error="skip")


def test_dedup_phash_quarantine_end_to_end(spark):
    clean = {
        r["doc_id"]
        for r in dedup_phash(
            _images(spark, False), "doc_id", "payload", max_hamming=8
        ).collect()
    }
    assert clean == {0, 1, 2}  # 100 collapses into 0
    surv = {
        r["doc_id"]
        for r in dedup_phash(
            _images(spark, True), "doc_id", "payload", max_hamming=8,
            on_error="quarantine",
        ).collect()
    }
    # corrupt rows can't match anything: they survive, flagged by a
    # NULL hash upstream; the good rows dedup exactly as before
    assert surv == clean | {900, 901}


def _clips(spark, with_corrupt: bool):
    rows = [(i, encode_wav(synth_clip(50 + i), RATE)) for i in range(3)]
    # planted variant: 100 is a 0.5x-gain re-master of clip 50
    rows.append(
        (100, encode_wav((synth_clip(50) * 0.5).astype(np.int16), RATE))
    )
    if with_corrupt:
        bad_wav = b"RIFF" + b"\x00" * 30  # RIFF magic, truncated body
        rows += [(900, bad_wav), (901, GARBAGE)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_audio_quarantine_end_to_end(spark):
    fps = with_audio_fingerprint(
        _clips(spark, True), "doc_id", "payload", on_error="quarantine"
    )
    nulls = {r["doc_id"] for r in fps.filter("fp IS NULL").collect()}
    assert nulls == {900, 901}
    clean = {
        r["doc_id"]
        for r in dedup_audio(_clips(spark, False), "doc_id", "payload").collect()
    }
    assert clean == {0, 1, 2}
    surv = {
        r["doc_id"]
        for r in dedup_audio(
            _clips(spark, True), "doc_id", "payload", on_error="quarantine"
        ).collect()
    }
    assert surv == clean | {900, 901}
    with pytest.raises(Exception):
        with_audio_fingerprint(_clips(spark, True), "doc_id", "payload").collect()


def _vids(spark, with_corrupt: bool):
    def vid(seed):
        return encode_avi(
            np.stack([synth_image(seed * 10 + i, h=16, w=16) for i in range(4)]),
            codec="dib",
        )

    rows = [(i, vid(i)) for i in range(3)]
    rows.append((100, vid(0)))  # byte-level re-wrap duplicate of clip 0
    if with_corrupt:
        rows += [(900, b"RIFF" + b"\x00" * 20), (901, GARBAGE)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_video_quarantine_end_to_end(spark):
    fh = with_frame_phashes(
        _vids(spark, True), "doc_id", "payload", every_n=1,
        on_error="quarantine",
    )
    present = {r["doc_id"] for r in fh.select("doc_id").distinct().collect()}
    assert present == {0, 1, 2, 100}  # corrupt clips emit NO frame rows
    clean = {
        r["doc_id"]
        for r in dedup_videos(
            _vids(spark, False), "doc_id", "payload", every_n=1
        ).collect()
    }
    assert clean == {0, 1, 2}
    surv = {
        r["doc_id"]
        for r in dedup_videos(
            _vids(spark, True), "doc_id", "payload", every_n=1,
            on_error="quarantine",
        ).collect()
    }
    assert surv == clean | {900, 901}
    with pytest.raises(Exception):
        with_frame_phashes(
            _vids(spark, True), "doc_id", "payload", every_n=1
        ).collect()


def test_extract_features_quarantine(spark):
    df = _images(spark, True)
    rows = extract_features(
        df, "doc_id", "payload", fake_decoder=False, on_error="quarantine"
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[900]["byte_sum"] is None and by_id[901]["n_bytes"] is None
    assert by_id[0]["byte_sum"] is not None
    # the quarantine set is one filter away
    quarantined = {
        r["doc_id"]
        for r in extract_features(
            df, "doc_id", "payload", fake_decoder=False, on_error="quarantine"
        ).filter("byte_sum IS NULL").collect()
    }
    assert quarantined == {900, 901}
    with pytest.raises(Exception):
        extract_features(df, "doc_id", "payload", fake_decoder=False).collect()


def test_ingest_image_batch_quarantine(spark, tmp_path):
    """A corrupt payload in a daily batch must not kill the nightly
    ingest (the operational path): under quarantine the batch
    commits, the corrupt row is accepted with a NULL state signature,
    and re-delivered GOOD content still rejects against state."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    sdir = str(tmp_path / "qstate")
    b1 = spark.createDataFrame(
        [(i, encode_png(synth_image(i, h=32, w=32))) for i in range(2)]
        + [(900, CORRUPT_PNG)],
        "doc_id long, payload binary",
    )
    acc1 = {
        r["doc_id"]
        for r in ingest_image_batch(
            spark, b1, sdir, batch_id="q1", on_error="quarantine"
        ).collect()
    }
    assert acc1 == {0, 1, 900}
    # re-delivered good content rejects; new good content accepts;
    # and since r15 the same corrupt bytes ALSO reject — quarantined
    # rows carry an exact content_md5 identity in state, so a
    # repeating corrupt source can't grow the accepted set
    b2 = spark.createDataFrame(
        [
            (10, encode_png(synth_image(0, h=32, w=32))),
            (11, encode_png(synth_image(7, h=32, w=32))),
            (901, CORRUPT_PNG),
        ],
        "doc_id long, payload binary",
    )
    acc2 = {
        r["doc_id"]
        for r in ingest_image_batch(
            spark, b2, sdir, batch_id="q2", on_error="quarantine"
        ).collect()
    }
    assert acc2 == {11}
    # DIFFERENT corrupt bytes are new content and still accept
    b3 = spark.createDataFrame(
        [(902, GARBAGE)], "doc_id long, payload binary"
    )
    acc3 = {
        r["doc_id"]
        for r in ingest_image_batch(
            spark, b3, sdir, batch_id="q3", on_error="quarantine"
        ).collect()
    }
    assert acc3 == {902}
    # default mode still raises on the corrupt batch
    with pytest.raises(Exception):
        ingest_image_batch(spark, b1, sdir + "_raise", batch_id="qr").collect()


def test_ingest_video_batch_quarantine_accepts_corrupt(spark, tmp_path):
    """Review-found r14: the video ingest derives acceptance from the
    FRAME table, which quarantine empties for corrupt clips — without
    the fix they were silently dropped, diverging from the image and
    audio ingests' accepted-with-NULL-signature contract."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_video_batch,
    )

    def vid(seed):
        return encode_avi(
            np.stack([synth_image(seed * 10 + i, h=16, w=16) for i in range(4)]),
            codec="dib",
        )

    sdir = str(tmp_path / "vqstate")
    b = spark.createDataFrame(
        [(0, vid(0)), (1, vid(1)), (900, b"RIFF" + b"\x00" * 20)],
        "doc_id long, payload binary",
    )
    acc = {
        r["doc_id"]
        for r in ingest_video_batch(
            spark, b, sdir, batch_id="v1", every_n=1, on_error="quarantine"
        ).collect()
    }
    assert acc == {0, 1, 900}
    # re-delivered good clip rejects against state; re-delivered
    # corrupt bytes reject on their content_md5 identity (r15)
    b2 = spark.createDataFrame(
        [(10, vid(0)), (11, vid(5)), (901, b"RIFF" + b"\x00" * 20)],
        "doc_id long, payload binary",
    )
    acc2 = {
        r["doc_id"]
        for r in ingest_video_batch(
            spark, b2, sdir, batch_id="v2", every_n=1, on_error="quarantine"
        ).collect()
    }
    assert acc2 == {11}


def test_ingest_audio_batch_quarantine(spark, tmp_path):
    """Audio ingest parity: corrupt clips accept with a NULL
    fingerprint; good content semantics unchanged."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_audio_batch,
    )

    sdir = str(tmp_path / "aqstate")
    b = spark.createDataFrame(
        [
            (0, encode_wav(synth_clip(70), RATE)),
            (1, encode_wav(synth_clip(71), RATE)),
            (900, b"RIFF" + b"\x00" * 30),
        ],
        "doc_id long, payload binary",
    )
    acc = {
        r["doc_id"]
        for r in ingest_audio_batch(
            spark, b, sdir, batch_id="a1", on_error="quarantine"
        ).collect()
    }
    assert acc == {0, 1, 900}
    # re-delivered good content AND re-delivered corrupt bytes both
    # reject against state (the latter on content_md5, r15)
    b2 = spark.createDataFrame(
        [(10, encode_wav(synth_clip(70), RATE)),
         (11, encode_wav(synth_clip(77), RATE)),
         (901, b"RIFF" + b"\x00" * 30)],
        "doc_id long, payload binary",
    )
    acc2 = {
        r["doc_id"]
        for r in ingest_audio_batch(
            spark, b2, sdir, batch_id="a2", on_error="quarantine"
        ).collect()
    }
    assert acc2 == {11}


def test_decontaminate_eval_side_always_raises(spark):
    """Review-found r14: a quarantined EVAL payload would silently
    disable its own decontamination protection (NULL signature matches
    nothing -> every corpus near-dup of it LEAKS, with no recoverable
    signal). Quarantine therefore applies to the corpus side only —
    a corrupt eval payload raises even under on_error='quarantine',
    for audio and video alike."""
    for decontaminate, rows, kw in (
        (decontaminate_audio, _clips, {}),
        (decontaminate_videos, _vids, {"every_n": 1}),
    ):
        corpus = rows(spark, True)  # corrupt CORPUS rows: fine
        # eval copies of corpus item 0 (and of corrupt 900), keyed apart
        ev_bad = corpus.filter("doc_id IN (0, 900)").selectExpr(
            "doc_id + 500 AS doc_id", "payload"
        )
        with pytest.raises(Exception):
            decontaminate(corpus, ev_bad, on_error="quarantine", **kw).collect()
        # corpus-side corruption quarantines; clean eval still protects
        ev = corpus.filter("doc_id = 0").selectExpr(
            "doc_id + 500 AS doc_id", "payload"
        )
        kept = {
            r["doc_id"]
            for r in decontaminate(
                corpus, ev, on_error="quarantine", **kw
            ).collect()
        }
        # 0 and its re-encode 100 are contaminated; corrupt rows survive
        assert kept == {1, 2, 900, 901}, decontaminate.__name__


def test_quarantine_contract_excludes_runtime_failures():
    """r15 (r14 ADVICE, medium): quarantine mode swallows ONLY the
    malformed-payload contract the decoders guarantee — a transient
    MemoryError / executor failure must still fail the task, not
    silently degrade a good row to a can't-match-anything NULL
    signature. All four decode loops (phash, audio_fp, video_dedup,
    multimodal) route their decode through ``codecs.decode_policy``,
    which catches exactly this tuple."""
    import inspect

    from sensorstream_scalable_sensor_data_pipeline_spark.operators import (
        audio_fp,
        codecs,
        multimodal,
        phash,
        video_dedup,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        MALFORMED_PAYLOAD_ERRORS,
        decode_policy,
    )

    assert MALFORMED_PAYLOAD_ERRORS == (ValueError, NotImplementedError)
    for exc in (MemoryError, RuntimeError, OSError, KeyboardInterrupt):
        assert not issubclass(exc, MALFORMED_PAYLOAD_ERRORS)
    # no decode loop regresses to a bare `except Exception`, and each
    # decodes through the one policy
    for mod in (audio_fp, multimodal, phash, video_dedup):
        src = inspect.getsource(mod)
        assert "except Exception" not in src, mod.__name__
        assert "decode_policy(" in src, mod.__name__
    policy_src = inspect.getsource(codecs.decode_policy)
    assert "except MALFORMED_PAYLOAD_ERRORS" in policy_src
    assert "except Exception" not in policy_src

    # behaviour: the policy maps exactly the malformed tuple to None
    def raising(exc):
        def decode(payload):
            raise exc("boom")

        return decode

    quarantined = decode_policy(lambda p: p * 2, "quarantine")
    assert quarantined(21) == 42
    for exc in (ValueError, NotImplementedError):
        assert decode_policy(raising(exc), "quarantine")(b"") is None
        with pytest.raises(exc):
            decode_policy(raising(exc), "raise")(b"")
    for exc in (MemoryError, RuntimeError, OSError):
        with pytest.raises(exc):
            decode_policy(raising(exc), "quarantine")(b"")
        with pytest.raises(exc):
            decode_policy(raising(exc), "raise")(b"")
    with pytest.raises(ValueError, match="on_error"):
        decode_policy(lambda p: p, "skip")


@contextlib.contextmanager
def _job_group(spark):
    """Collect the ids of every Spark job the block runs, on a cleared
    session cache."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    gid = f"lifecycle-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(gid, gid)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(gid))


def _eval_rows(spark, kind):
    payload = {
        "clips": encode_wav(synth_clip(51), RATE),
        "vids": encode_avi(
            np.stack([synth_image(10 + i, h=16, w=16) for i in range(4)]),
            codec="dib",
        ),
    }[kind]
    return spark.createDataFrame([(500, payload)], "doc_id long, payload binary")


_BAD_KNOBS = [
    pytest.param(
        lambda s: dedup_phash(
            _images(s, True), "doc_id", "payload", max_hamming=-1,
            on_error="quarantine",
        ),
        "max_hamming", id="dedup_phash",
    ),
    pytest.param(
        lambda s: dedup_audio(
            _clips(s, True), "doc_id", "payload", min_probe_frames=0,
            on_error="quarantine",
        ),
        "min_probe_frames", id="dedup_audio",
    ),
    pytest.param(
        lambda s: decontaminate_audio(
            _clips(s, True), _eval_rows(s, "clips"), min_probe_frames=0,
            on_error="quarantine",
        ),
        "min_probe_frames", id="decontaminate_audio",
    ),
    pytest.param(
        lambda s: dedup_videos(
            _vids(s, True), "doc_id", "payload", every_n=1,
            min_match_frac=0.0, on_error="quarantine",
        ),
        "min_match_frac", id="dedup_videos",
    ),
    pytest.param(
        lambda s: decontaminate_videos(
            _vids(s, True), _eval_rows(s, "vids"), every_n=1,
            min_match_frac=0.0, on_error="quarantine",
        ),
        "min_match_frac", id="decontaminate_videos",
    ),
]


@pytest.mark.parametrize("call, knob", _BAD_KNOBS)
def test_invalid_knob_rejected_before_any_decode(spark, call, knob):
    """Every media dedup and decontamination entry point rejects an
    invalid knob before its signer runs: no Spark job, and nothing
    left in the session cache."""
    with _job_group(spark) as jobs, pytest.raises(ValueError, match=knob):
        call(spark)
    assert jobs == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_max_hamming_zero_matches_exact_hashes_on_every_route(spark):
    """``max_hamming=0`` passes the knob check, and both candidate
    routes then match exact hashes only: the lossless re-encode 100
    collapses into 0, while the quarantined rows survive. (``"auto"``
    resolves to one of the two.)"""
    for method in ("pigeonhole", "banded"):
        surv = dedup_phash(
            _images(spark, True), "doc_id", "payload", max_hamming=0,
            method=method, on_error="quarantine",
        )
        assert {r["doc_id"] for r in surv.collect()} == {0, 1, 2, 900, 901}, method


@pytest.mark.parametrize(
    "call",
    [
        pytest.param(
            lambda s: decontaminate_audio(
                _clips(s, True), _eval_rows(s, "clips")
            ),
            id="decontaminate_audio",
        ),
        pytest.param(
            lambda s: decontaminate_videos(
                _vids(s, True), _eval_rows(s, "vids"), every_n=1
            ),
            id="decontaminate_videos",
        ),
    ],
)
def test_decontaminate_releases_cache_on_corrupt_corpus(spark, call):
    """Under the default ``on_error="raise"`` a corrupt corpus payload
    fails the call, and both cached signature tables are released."""
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        call(spark).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "decontaminate, corpus, kind, kw",
    [
        pytest.param(decontaminate_audio, _clips, "clips", {}, id="audio"),
        pytest.param(
            decontaminate_videos, _vids, "vids", {"every_n": 1}, id="videos"
        ),
    ],
)
def test_decontaminate_custom_id_col(spark, decontaminate, corpus, kind, kw):
    """A corpus keyed by a column other than ``doc_id`` decontaminates
    like the default: the signature tables are always keyed
    ``doc_id``, and only the final anti-join speaks ``id_col``."""

    def keyed(df):
        return df.withColumnRenamed("doc_id", "clip_id")

    spark.catalog.clearCache()
    kept = decontaminate(
        keyed(corpus(spark, True)), keyed(_eval_rows(spark, kind)),
        id_col="clip_id", on_error="quarantine", **kw,
    )
    assert {r["clip_id"] for r in kept.collect()} == {0, 2, 100, 900, 901}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quarantine_identity_within_batch_and_firehose(spark, tmp_path):
    """r15 (r14 documented hole, closed): quarantined rows carry an
    exact content_md5 identity, so (a) duplicate corrupt payloads in
    ONE batch collapse to the min-id representative, and (b) a
    firehose re-delivering the same corrupt blob every batch adds
    nothing after the first acceptance — the accepted set stays
    bounded. Distinct corrupt payloads remain distinct content."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
        read_quarantine_state,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    sdir = str(tmp_path / "fstate")
    b1 = spark.createDataFrame(
        [(0, encode_png(synth_image(0, h=32, w=32))),
         (900, CORRUPT_PNG), (901, CORRUPT_PNG), (902, GARBAGE)],
        "doc_id long, payload binary",
    )
    acc1 = {
        r["doc_id"]
        for r in ingest_image_batch(
            spark, b1, sdir, batch_id="f1", on_error="quarantine"
        ).collect()
    }
    # 901 is a within-batch duplicate of 900's bytes; 902 is distinct
    assert acc1 == {0, 900, 902}
    qstate = read_quarantine_state(spark, sdir)
    assert {
        (r["content_md5"], r["doc_id"]) for r in qstate.collect()
    } == {
        (__import__("hashlib").md5(CORRUPT_PNG).hexdigest(), 900),
        (__import__("hashlib").md5(GARBAGE).hexdigest(), 902),
    }
    # firehose: the same corrupt blob every day, never re-accepted
    for day in range(2, 5):
        b = spark.createDataFrame(
            [(day * 1000, CORRUPT_PNG), (day * 1000 + 1, GARBAGE)],
            "doc_id long, payload binary",
        )
        acc = ingest_image_batch(
            spark, b, sdir, batch_id=f"f{day}", on_error="quarantine"
        ).count()
        assert acc == 0
    assert read_quarantine_state(spark, sdir).count() == 2


def test_curate_image_corpus_quarantine_end_to_end(spark, tmp_path):
    """r15 (r14 verdict #7): quarantine threads through the
    plan-level curation entry point. A valid-magic corrupt payload
    passes the format gate and reaches the decoder; under
    on_error='quarantine' the curation completes, the corrupt row
    survives flagged `quarantined`, and the clean rows' dedup + split
    results are identical to a clean run. Default mode still raises."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        _corpus_cache_dir,
        curate_image_corpus,
    )

    corrupt = b"\x89PNG\r\n\x1a\n" + b"\x00" * 1200  # gate-passing magic
    clean_rows = [
        (i, encode_png(synth_image(i, h=48, w=48))) for i in range(3)
    ] + [(100, encode_png(synth_image(0, h=48, w=48)))]  # planted variant

    sfd_dirty = str(tmp_path / "sf_dirty")
    sfd_clean = str(tmp_path / "sf_clean")
    caches = [_corpus_cache_dir(sfd, "images") for sfd in (sfd_dirty, sfd_clean)]
    try:
        spark.createDataFrame(
            clean_rows + [(900, corrupt)], "doc_id long, payload binary"
        ).write.mode("overwrite").parquet(caches[0])
        spark.createDataFrame(
            clean_rows, "doc_id long, payload binary"
        ).write.mode("overwrite").parquet(caches[1])
        out = curate_image_corpus(
            spark, sfd_dirty, on_error="quarantine"
        ).collect()
        by_id = {r["doc_id"]: r for r in out}
        ref = {
            r["doc_id"]: r
            for r in curate_image_corpus(spark, sfd_clean).collect()
        }
        # survivor set = clean-run survivors + the quarantined row
        assert set(by_id) == set(ref) | {900}
        assert by_id[900]["quarantined"] is True
        for i in ref:
            assert by_id[i]["quarantined"] is False
            assert by_id[i]["split"] == ref[i]["split"]
            assert by_id[i]["content_md5"] == ref[i]["content_md5"]
        # default raise-mode: the gate-passing corrupt body is loud
        with pytest.raises(Exception):
            curate_image_corpus(spark, sfd_dirty).collect()
        # raise-mode output carries no quarantined column
        assert "quarantined" not in curate_image_corpus(spark, sfd_clean).columns
    finally:
        for c in caches:
            shutil.rmtree(c, ignore_errors=True)


#: The quarantine identity table's data columns, for hand-laid commits.
_IDENTITY_SCHEMA = "content_md5 string, doc_id long, src_batch string"


def test_quarantine_state_readable_after_empty_commits(
    spark, tmp_path, commit_state
):
    """An EMPTY quarantine commit (a batch whose
    corrupt rows were all re-deliveries) holds no rows, and must not
    break the explicit-schema state read even when it is the ONLY
    live identity dir. The protocol reaches an empty commit only
    after a non-empty one, so the lone empty commit is laid out by
    hand here, through the manifest."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
        read_quarantine_state,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    sdir = str(tmp_path / "estate")
    b1 = spark.createDataFrame(
        [(0, encode_png(synth_image(0, h=32, w=32)))],
        "doc_id long, payload binary",
    )
    # clean batch under raise mode: no quarantine dir
    ingest_image_batch(spark, b1, sdir, batch_id="e1").collect()
    assert read_quarantine_state(spark, sdir) is None
    commit_state(
        sdir, "quarantine_md5s", "e1",
        spark.createDataFrame([], _IDENTITY_SCHEMA),
    )
    qstate = read_quarantine_state(spark, sdir)
    assert qstate is not None and qstate.count() == 0
    # the empty dir must not break the next quarantine ingest's
    # state read — and its corrupt row still accepts + records
    b2 = spark.createDataFrame(
        [(900, CORRUPT_PNG)], "doc_id long, payload binary"
    )
    acc2 = {
        r["doc_id"]
        for r in ingest_image_batch(
            spark, b2, sdir, batch_id="e2", on_error="quarantine"
        ).collect()
    }
    assert acc2 == {900}
    assert {
        r["doc_id"] for r in read_quarantine_state(spark, sdir).collect()
    } == {900}


def test_quarantine_report_attributes_batches(spark, tmp_path):
    """quarantine_report (r15): the operational view — one (batch,
    content_md5, doc_id) row per accepted corrupt payload, batch
    attribution intact across multiple ingests; None before any
    quarantined acceptance."""
    import hashlib

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
        quarantine_report,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    sdir = str(tmp_path / "qrstate")
    assert quarantine_report(spark, sdir) is None
    b1 = spark.createDataFrame(
        [(0, encode_png(synth_image(0, h=32, w=32))), (900, CORRUPT_PNG)],
        "doc_id long, payload binary",
    )
    ingest_image_batch(
        spark, b1, sdir, batch_id="d1", on_error="quarantine"
    ).collect()
    b2 = spark.createDataFrame(
        [(901, GARBAGE)], "doc_id long, payload binary"
    )
    ingest_image_batch(
        spark, b2, sdir, batch_id="d2", on_error="quarantine"
    ).collect()
    rows = {
        (r["batch"], r["content_md5"], r["doc_id"])
        for r in quarantine_report(spark, sdir).collect()
    }
    assert rows == {
        ("d1", hashlib.md5(CORRUPT_PNG).hexdigest(), 900),
        ("d2", hashlib.md5(GARBAGE).hexdigest(), 901),
    }


def test_quarantine_report_empty_when_all_commits_part_file_less(
    spark, tmp_path, commit_state
):
    """r15 ADVICE: when EVERY live quarantine_md5s dir is empty,
    quarantine_report must return the empty (batch, content_md5,
    doc_id) frame instead of raising AnalysisException
    (read_quarantine_state already handles this shape). The empty
    commit is laid out by hand, as in the test above."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
        quarantine_report,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    sdir = str(tmp_path / "estate")
    b1 = spark.createDataFrame(
        [(0, encode_png(synth_image(0, h=32, w=32)))],
        "doc_id long, payload binary",
    )
    ingest_image_batch(spark, b1, sdir, batch_id="e1").collect()
    assert quarantine_report(spark, sdir) is None
    commit_state(
        sdir, "quarantine_md5s", "e1",
        spark.createDataFrame([], _IDENTITY_SCHEMA),
    )
    rep = quarantine_report(spark, sdir)
    assert rep is not None and rep.count() == 0
    assert rep.columns == ["batch", "content_md5", "doc_id"]
    # and once a real corrupt row lands, the report attributes it
    b2 = spark.createDataFrame(
        [(900, CORRUPT_PNG)], "doc_id long, payload binary"
    )
    ingest_image_batch(
        spark, b2, sdir, batch_id="e2", on_error="quarantine"
    ).collect()
    rows = {
        (r["batch"], r["doc_id"])
        for r in quarantine_report(spark, sdir).collect()
    }
    assert rows == {("e2", 900)}


def test_read_quarantine_payloads_triage_join(spark, tmp_path):
    """r16 ops views: the triage export joins the quarantine identity
    table back to the staged corpus — the accepted corrupt BYTES with
    their content_md5, nothing else — on a broadcast of the tiny
    identity side."""
    import hashlib

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_png,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
        read_quarantine_payloads,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        synth_image,
    )

    sdir = str(tmp_path / "state")
    assert read_quarantine_payloads(spark, sdir) is None
    b = spark.createDataFrame(
        [
            (0, encode_png(synth_image(0, h=32, w=32))),
            (900, CORRUPT_PNG),
            (901, GARBAGE),
        ],
        "doc_id long, payload binary",
    )
    ingest_image_batch(
        spark, b, sdir, batch_id="t1", on_error="quarantine"
    ).collect()
    rows = read_quarantine_payloads(spark, sdir).collect()
    got = {
        (r["doc_id"], r["content_md5"], bytes(r["payload"])) for r in rows
    }
    assert got == {
        (900, hashlib.md5(CORRUPT_PNG).hexdigest(), CORRUPT_PNG),
        (901, hashlib.md5(GARBAGE).hexdigest(), GARBAGE),
    }


def test_quarantine_report_attribution_survives_compaction(
    spark, tmp_path
):
    """r16: identity commits carry src_batch, so quarantine_report
    keeps the ORIGINAL per-batch attribution after compact_state
    folds the identity dirs, and the compact's manifest provenance
    records exactly the folded batch ids."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        _read_manifest,
        compact_state,
        ingest_image_batch,
        quarantine_report,
        read_quarantine_state,
    )

    sdir = str(tmp_path / "state")
    for bid, blob, did in (("q1", CORRUPT_PNG, 900), ("q2", GARBAGE, 901)):
        b = spark.createDataFrame(
            [(did, blob)], "doc_id long, payload binary"
        )
        ingest_image_batch(
            spark, b, sdir, batch_id=bid, on_error="quarantine",
            maintain_max_batch_dirs=None,
        ).collect()

    before = {
        (r["batch"], r["doc_id"])
        for r in quarantine_report(spark, sdir).collect()
    }
    assert before == {("q1", 900), ("q2", 901)}

    assert compact_state(spark, sdir, "quarantine_md5s") == 2
    after = {
        (r["batch"], r["doc_id"])
        for r in quarantine_report(spark, sdir).collect()
    }
    assert after == before
    live = _read_manifest(spark, sdir).live("quarantine_md5s")
    assert len(live) == 1
    (prov,) = live.values()
    assert prov.ids == {"q1", "q2"} and not prov.runs
    # identity semantics intact: both md5s still reject
    assert read_quarantine_state(spark, sdir).count() == 2
