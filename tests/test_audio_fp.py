"""Audio fingerprinting + dedup (operators/audio_fp.py).

Oracle strategy mirrors tests/test_phash.py: planted SAME-RECORDING
variants (gain, hop-aligned padding, 8-bit re-quantization, additive
noise — real signal-level transformations over the repo WAV codec)
must verify at low BER while independently generated clips sit at
BER ≈ 0.5; the probe/vote/verify chain is checked end-to-end against
the planted cluster structure, and a local numpy replay pins the
Spark BER fold bit-exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
    HOP,
    N_BANDS,
    audio_candidates,
    audio_candidates_cross,
    decontaminate_audio,
    dedup_audio,
    fingerprint_wav,
    subfingerprints,
    synth_clip,
    with_audio_fingerprint,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    encode_wav,
)

RATE = 8000


make_clip = synth_clip  # shared fixture generator (operators/audio_fp.py)


def variants(base: np.ndarray) -> dict[str, np.ndarray]:
    r = np.random.default_rng(99)
    return {
        "gain05": (base * 0.5).astype(np.int16),
        "gain15clip": np.clip(
            base.astype(np.int32) * 3 // 2, -32768, 32767
        ).astype(np.int16),
        "pad10hop": np.concatenate([np.zeros(HOP * 10, np.int16), base]),
        "requant8": ((base // 256).astype(np.int16) * 256),
        "noise36db": np.clip(
            base + r.normal(0, 300, base.size), -32768, 32767
        ).astype(np.int16),
    }


def local_ber(fa: np.ndarray, fb: np.ndarray, off: int) -> float:
    a = fa[max(off, 0) :]
    b = fb[max(-off, 0) :]
    m = min(len(a), len(b))
    x = (a[:m].astype(np.int64) ^ b[:m].astype(np.int64)) & 0xFFFFFFFF
    return sum(bin(int(v)).count("1") for v in x) / (m * N_BANDS)


def test_fingerprint_gain_invariant_and_distinct_far():
    base = make_clip(1)
    f0 = subfingerprints(base, RATE)
    assert len(f0) > 80
    for name, v in variants(make_clip(1)).items():
        fv = subfingerprints(v, RATE)
        off = 10 if name == "pad10hop" else 0
        # pad10hop shifts by exactly 10 hops → alignment offset -10
        ber = local_ber(f0, fv, -off)
        assert ber <= 0.2, f"{name}: BER {ber}"
        if name == "pad10hop":
            assert ber == 0.0, f"{name}: expected exact bits, BER {ber}"
        if name in ("gain05", "gain15clip"):
            # int16 rounding at the new gain is itself a (tiny)
            # quantization; the SIGNS are what's invariant — allow
            # ≲1 flipped bit per few frames, nothing like noise BER
            assert ber <= 0.005, f"{name}: BER {ber}"
    for seed in range(2, 8):
        fo = subfingerprints(make_clip(seed), RATE)
        m = min(len(f0), len(fo))
        assert local_ber(f0[:m], fo[:m], 0) > 0.35, f"seed {seed} too close"


def test_spark_fingerprint_matches_local(spark):
    payloads = [(i, encode_wav(make_clip(i), RATE)) for i in range(4)]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r["fp"]
        for r in with_audio_fingerprint(df, "doc_id", "payload").collect()
    }
    for i, p in payloads:
        assert got[i] == fingerprint_wav(p).tolist()


def test_candidates_probe_vote_and_ber(spark):
    """Planted variants pass probe+verify with the right offset and a
    BER matching the local numpy replay; distinct pairs are absent."""
    base = make_clip(1)
    rows = [(0, fingerprint_wav(encode_wav(base, RATE)).tolist())]
    vs = variants(base)
    rows.append((1, fingerprint_wav(encode_wav(vs["noise36db"], RATE)).tolist()))
    rows.append((2, fingerprint_wav(encode_wav(vs["pad10hop"], RATE)).tolist()))
    rows.append((3, fingerprint_wav(encode_wav(make_clip(5), RATE)).tolist()))
    fps = spark.createDataFrame(rows, "doc_id long, fp array<int>")
    got = {
        (r["id_a"], r["id_b"]): r
        for r in audio_candidates(fps, "doc_id").collect()
    }
    assert (0, 1) in got and got[(0, 1)]["ber"] <= 0.2
    assert (0, 2) in got and got[(0, 2)]["offset"] == -10
    assert got[(0, 2)]["ber"] == 0.0
    assert not any(3 in k for k in got)
    # Spark BER fold == numpy replay, bit-exact
    fa = np.array(rows[0][1], dtype=np.int64)
    fb = np.array(rows[1][1], dtype=np.int64)
    assert got[(0, 1)]["ber"] == pytest.approx(
        local_ber(fa, fb, got[(0, 1)]["offset"]), abs=1e-12
    )


def test_candidates_plan_no_cartesian(spark):
    fps = spark.createDataFrame(
        [(i, [int(i * 7 + j) for j in range(20)]) for i in range(10)],
        "doc_id long, fp array<int>",
    )
    plan = (
        audio_candidates(fps, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_audio_end_to_end(spark):
    """Two planted clusters (base + 2 variants each) + 3 singles →
    survivors are the cluster min-ids + singles."""
    rows, did, clusters = [], 0, []
    for seed in (1, 21):
        base = make_clip(seed)
        vs = variants(base)
        members = []
        for clip in (base, vs["gain05"], vs["pad10hop"]):
            rows.append((did, encode_wav(clip, RATE)))
            members.append(did)
            did += 1
        clusters.append(members)
    singles = []
    for seed in (31, 41, 51):
        rows.append((did, encode_wav(make_clip(seed), RATE)))
        singles.append(did)
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept = sorted(
        r["doc_id"] for r in dedup_audio(df, "doc_id", "payload").collect()
    )
    assert kept == sorted([min(c) for c in clusters] + singles)


def test_audio_candidates_rejections():
    with pytest.raises(ValueError, match="min_probe_frames"):
        audio_candidates(None, min_probe_frames=0)
    with pytest.raises(ValueError, match="ber_max"):
        audio_candidates(None, ber_max=0.6)


def test_short_clip_empty_fingerprint():
    assert len(subfingerprints(np.zeros(100, np.int16), RATE)) == 0


def test_max_word_df_drops_jingle_hubs_keeps_variants(spark):
    """The document-frequency cap (r11 verdict #4): a shared intro
    jingle puts the SAME sub-fingerprint words into every clip —
    the hub shape (loops/station idents) that quadratically inflates
    the probe join on real corpora. With the cap sized below the
    jingle's df, those words drop from the probe while the planted
    gain variant — whose surviving hits come from clip-SPECIFIC
    words — is still found, and no unrelated jingle-sharing pair
    appears."""
    jingle = make_clip(999)[: HOP * 40]
    clips = {
        i: np.concatenate([jingle, make_clip(i)]) for i in range(10)
    }
    rows = [(i, encode_wav(c, RATE)) for i, c in clips.items()]
    # planted variant of clip 3 (gain copy, jingle included)
    rows.append((100, encode_wav((clips[3] * 0.5).astype(np.int16), RATE)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fps = with_audio_fingerprint(df, "doc_id", "payload")

    capped = {
        (r["id_a"], r["id_b"])
        for r in audio_candidates(fps, "doc_id", max_word_df=4).collect()
    }
    assert (3, 100) in capped
    assert capped == {(3, 100)}

    # the cap's row-bound is real: the jingle words each sit in 11
    # clips, so uncapped the probe join carries ~df^2/2 rows per
    # jingle word; capped at 4 those words are gone entirely
    ex = fps.select("doc_id", F.explode("fp").alias("v")).filter(
        ~F.col("v").isin(0, -1)
    )
    dfs = (
        ex.groupBy("v")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > 4)
    )
    assert dfs.count() > 0  # the fixture really does contain hubs


def test_max_word_df_none_and_default_unchanged_on_clean_corpus(spark):
    """On a hub-free corpus the cap is inert: default (1024),
    disabled (None) and a tight cap all return the identical pair
    set — recall on planted variants is untouched by the guard."""
    base = make_clip(7)
    rows = [
        (0, encode_wav(base, RATE)),
        (1, encode_wav((base * 0.5).astype(np.int16), RATE)),
        (2, encode_wav(make_clip(8), RATE)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fps = with_audio_fingerprint(df, "doc_id", "payload")
    outs = [
        {
            (r["id_a"], r["id_b"])
            for r in audio_candidates(fps, "doc_id", max_word_df=cap).collect()
        }
        for cap in (1024, None, 2)
    ]
    assert outs[0] == outs[1] == outs[2] == {(0, 1)}


def test_max_word_df_rejects_bad_value():
    with pytest.raises(ValueError, match="max_word_df"):
        audio_candidates(None, max_word_df=0)


# ----------------------------- cross-table path / decontamination (r12)


def test_audio_candidates_cross_matches_self_join_pairs(spark):
    """The cross-table probe-vote-verify chain finds exactly the
    a-side↔b-side pairs the self-join finds (same thresholds, same
    BER/offset values) when the two tables partition one corpus."""
    base = make_clip(1)
    vs = variants(base)
    all_rows = [
        (0, fingerprint_wav(encode_wav(base, RATE)).tolist()),
        (1, fingerprint_wav(encode_wav(vs["gain05"], RATE)).tolist()),
        (2, fingerprint_wav(encode_wav(vs["pad10hop"], RATE)).tolist()),
        (3, fingerprint_wav(encode_wav(make_clip(5), RATE)).tolist()),
    ]
    fps = spark.createDataFrame(all_rows, "doc_id long, fp array<int>")
    fps_a = fps.filter("doc_id IN (1, 2, 3)")
    fps_b = fps.filter("doc_id = 0")
    cross = {
        (r["id_a"], r["id_b"]): (r["ber"], r["offset"])
        for r in audio_candidates_cross(fps_a, fps_b, "doc_id").collect()
    }
    selfj = {
        (r["id_b"], r["id_a"]): (r["ber"], r["offset"])
        for r in audio_candidates(fps, "doc_id").collect()
        if r["id_a"] == 0
    }
    # the self-join voted offset is for (0, x); the cross pair is
    # (x, 0), whose aligned offset is the negation
    assert set(cross) == set(selfj)
    for k, (ber, off) in cross.items():
        assert ber == selfj[k][0]
        assert off == -selfj[k][1]


def test_audio_candidates_cross_plan_no_cartesian(spark):
    fps_a = spark.createDataFrame(
        [(i, [int(i * 7 + j) for j in range(20)]) for i in range(10)],
        "doc_id long, fp array<int>",
    )
    fps_b = spark.createDataFrame(
        [(100 + i, [int(i * 5 + j) for j in range(20)]) for i in range(3)],
        "doc_id long, fp array<int>",
    )
    plan = (
        audio_candidates_cross(fps_a, fps_b, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_audio(spark):
    """Audio decontamination: corpus clips that are gain/pad variants
    of EVAL clips drop; unrelated clips survive untouched; the
    session cache is left clean (materialize_and_release)."""
    eval_rows = [
        (100, encode_wav(make_clip(1), RATE)),
        (101, encode_wav(make_clip(2), RATE)),
    ]
    vs1 = variants(make_clip(1))
    vs2 = variants(make_clip(2))
    corpus_rows = [
        (0, encode_wav(vs1["gain05"], RATE)),    # eval twin (gain)
        (1, encode_wav(vs2["pad10hop"], RATE)),  # eval twin (pad)
        (2, encode_wav(make_clip(7), RATE)),     # clean
        (3, encode_wav(make_clip(8), RATE)),     # clean
    ]
    eval_clips = spark.createDataFrame(
        eval_rows, "doc_id long, payload binary"
    )
    corpus = spark.createDataFrame(
        corpus_rows, "doc_id long, payload binary"
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    kept = sorted(
        r["doc_id"] for r in decontaminate_audio(corpus, eval_clips).collect()
    )
    assert kept == [2, 3]
    # the session CacheManager is left clean (the localCheckpoint'd
    # ID set is RDD-level, outside the CacheManager by design)
    assert cm.isEmpty(), "decontaminate_audio leaked persisted frames"


def test_ingest_audio_batch_incremental(spark, tmp_path):
    """Incremental audio ingest: within-batch near-dup clusters
    collapse to min-id; a later batch re-delivering a variant of
    ACCEPTED audio accepts nothing for it (history wins); genuinely
    new clips accept; resuming a committed batch_id returns the
    staged survivors without recompute."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_audio_batch,
        read_audio_state,
    )

    sdir = str(tmp_path / "audiostate")
    clip_a, clip_b, clip_c = make_clip(1), make_clip(2), make_clip(3)
    vs_a = variants(clip_a)
    b1 = spark.createDataFrame(
        [
            (0, encode_wav(clip_a, RATE)),
            (1, encode_wav(vs_a["gain05"], RATE)),  # in-batch dup of 0
            (2, encode_wav(clip_b, RATE)),
        ],
        "doc_id long, payload binary",
    )
    a1 = sorted(
        r["doc_id"]
        for r in ingest_audio_batch(spark, b1, sdir, batch_id="b1").collect()
    )
    assert a1 == [0, 2]
    assert read_audio_state(spark, sdir).count() == 2

    b2 = spark.createDataFrame(
        [
            (10, encode_wav(vs_a["pad10hop"], RATE)),  # variant of accepted 0
            (11, encode_wav(clip_c, RATE)),             # new
            (12, encode_wav((clip_c * 0.5).astype(np.int16), RATE)),  # dup of 11
        ],
        "doc_id long, payload binary",
    )
    a2 = sorted(
        r["doc_id"]
        for r in ingest_audio_batch(spark, b2, sdir, batch_id="b2").collect()
    )
    assert a2 == [11]
    assert read_audio_state(spark, sdir).count() == 3

    # resume: committed batch returns staged rows, state unchanged
    again = sorted(
        r["doc_id"]
        for r in ingest_audio_batch(spark, b2, sdir, batch_id="b2").collect()
    )
    assert again == [11]
    assert read_audio_state(spark, sdir).count() == 3

    # pure content semantics: re-delivering accepted content under a
    # fresh id accepts nothing
    b3 = spark.createDataFrame(
        [(20, encode_wav(clip_b, RATE))], "doc_id long, payload binary"
    )
    assert ingest_audio_batch(spark, b3, sdir).collect() == []


def test_decontaminate_audio_empty_eval_keeps_all(spark):
    """Empty eval set → every corpus clip survives (the empty-side
    probe join, the empty contaminated-ID materialization, and the
    anti-join all compose to identity)."""
    corpus = spark.createDataFrame(
        [(0, encode_wav(make_clip(1), RATE)), (1, encode_wav(make_clip(2), RATE))],
        "doc_id long, payload binary",
    )
    empty = spark.createDataFrame([], "doc_id long, payload binary")
    kept = sorted(
        r["doc_id"] for r in decontaminate_audio(corpus, empty).collect()
    )
    assert kept == [0, 1]

def test_read_audio_hubs_matches_inline_detection(
    spark, tmp_path, commit_state
):
    """The maintained per-batch word-count state (r12 ADVICE fix)
    yields the BIT-IDENTICAL hub set to inline detection over the
    unioned state: deterministic per-(clip, frame) sampling makes
    per-batch counts sum exactly to full-state counts. Checked at
    rate_inv == 1 (exact path, planted hub word crossing the cap
    only when batches COMBINE) and rate_inv > 1 (sampled path)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        hubs_from_counts,
        sampled_word_counts,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        read_audio_hubs,
    )

    sdir = str(tmp_path / "hubstate")
    # word 777 appears 6x per batch (12 total, > cap 10 only combined);
    # word 555 appears 2x total (never a hub); fillers unique
    rows1 = [(i, [777] * 6 + [555] + list(range(100 + i * 50, 140 + i * 50))) for i in range(3)]
    rows2 = [(10 + i, [777] * 6 + [555] + list(range(400 + i * 50, 440 + i * 50))) for i in range(3)]
    b1 = spark.createDataFrame(rows1[:2], "doc_id long, fp array<int>")
    b2 = spark.createDataFrame([rows1[2], *rows2], "doc_id long, fp array<int>")
    commit_state(sdir, "audio_fps", "h1", b1)
    commit_state(sdir, "audio_fps", "h2", b2)

    for cap in (10, 1024):  # exact path (rate_inv=1) and sampled (64)
        state = spark.read.parquet(
            f"{sdir}/audio_fps/batch=h1", f"{sdir}/audio_fps/batch=h2"
        )
        inline = {
            r["v"]
            for r in hubs_from_counts(
                sampled_word_counts(state, "doc_id", cap), cap
            ).collect()
        }
        maintained = {
            r["v"] for r in read_audio_hubs(spark, sdir, cap).collect()
        }
        assert maintained == inline
    # the exact path saw the cross-batch hub; 555 never flagged
    exact_hubs = {
        r["v"] for r in read_audio_hubs(spark, sdir, 10).collect()
    }
    assert 777 in exact_hubs and 555 not in exact_hubs
    # both rates left their own count dirs; guard off returns None
    import os

    assert os.path.isdir(f"{sdir}/word_counts/rate=1/batch=h1")
    assert os.path.isdir(f"{sdir}/word_counts/rate=64/batch=h2")
    assert read_audio_hubs(spark, sdir, None) is None


def test_read_audio_hubs_backfills_after_count_loss(
    spark, tmp_path, commit_state
):
    """Self-healing: a live fingerprint batch whose count table is
    missing (a rate change, an ingest run with the guard off) gets its
    counts recomputed from the durable fingerprints — same hub set,
    dirs restored."""
    import shutil

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        read_audio_hubs,
    )

    sdir = str(tmp_path / "healstate")
    rows = [(i, [42] * 8 + list(range(100 + i * 30, 120 + i * 30))) for i in range(2)]
    commit_state(
        sdir, "audio_fps", "only",
        spark.createDataFrame(rows, "doc_id long, fp array<int>"),
    )
    before = {r["v"] for r in read_audio_hubs(spark, sdir, 10).collect()}
    assert before == {42}  # 16 occurrences > cap 10, exact path
    shutil.rmtree(f"{sdir}/word_counts")
    after = {r["v"] for r in read_audio_hubs(spark, sdir, 10).collect()}
    assert after == before
    import os

    assert os.path.isdir(f"{sdir}/word_counts/rate=1/batch=only")


def test_ingest_audio_batch_maintains_word_counts(spark, tmp_path):
    """ingest_audio_batch commits a per-batch sampled word-count
    table alongside the fingerprints (default cap 1024 → rate dir
    64), so the next ingest's state-side hub detection reads tiny
    aggregated counts instead of re-exploding accepted history."""
    import os

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_audio_batch,
    )

    sdir = str(tmp_path / "wcstate")
    b1 = spark.createDataFrame(
        [(0, encode_wav(make_clip(1), RATE))], "doc_id long, payload binary"
    )
    ingest_audio_batch(spark, b1, sdir, batch_id="wc1")
    assert os.path.exists(f"{sdir}/word_counts/rate=64/batch=wc1/_SUCCESS")


def test_probe_stride_recall_pinned_on_planted_variants(spark):
    """probe_stride 2 and 4 (r12 verdict task #4) return the SAME
    verified pair set — same offsets, same BERs — as stride 1 on the
    planted gain/pad/quantize/noise corpus: variants carry tens of
    bit-exact frames, so ~n_match/k strided votes stay >= the
    min_probe_frames floor. Distinct clips stay absent at every
    stride (striding can only REMOVE probe rows — precision is
    untouched by construction)."""
    rows = []
    for s in range(4):
        base = make_clip(40 + s)
        rows.append((s * 10, fingerprint_wav(encode_wav(base, RATE)).tolist()))
        vs = variants(base)
        rows.append(
            (s * 10 + 1, fingerprint_wav(encode_wav(vs["gain05"], RATE)).tolist())
        )
        rows.append(
            (s * 10 + 2, fingerprint_wav(encode_wav(vs["pad10hop"], RATE)).tolist())
        )
    fps = spark.createDataFrame(rows, "doc_id long, fp array<int>")

    def pairset(stride):
        return {
            (r["id_a"], r["id_b"], r["offset"], round(r["ber"], 9))
            for r in audio_candidates(
                fps, "doc_id", probe_stride=stride
            ).collect()
        }

    base_pairs = pairset(1)
    expected = {(s * 10, s * 10 + 1) for s in range(4)} | {
        (s * 10, s * 10 + 2) for s in range(4)
    } | {(s * 10 + 1, s * 10 + 2) for s in range(4)}
    assert {(a, b) for a, b, _, _ in base_pairs} == expected
    for stride in (2, 4):
        assert pairset(stride) == base_pairs

    with pytest.raises(ValueError, match="probe_stride"):
        audio_candidates(fps, "doc_id", probe_stride=0)


def test_probe_stride_cross_matches_unstrided(spark):
    """Cross-table stride: same hit set as unstrided on planted
    eval twins (the a/probe side strides; the index side is full,
    so the true offset still votes)."""
    base1, base2 = make_clip(60), make_clip(61)
    corpus = spark.createDataFrame(
        [
            (0, fingerprint_wav(encode_wav(base1, RATE)).tolist()),
            (1, fingerprint_wav(encode_wav(base2, RATE)).tolist()),
            (2, fingerprint_wav(encode_wav(make_clip(62), RATE)).tolist()),
        ],
        "doc_id long, fp array<int>",
    )
    ev = spark.createDataFrame(
        [
            (100, fingerprint_wav(
                encode_wav(variants(base1)["pad10hop"], RATE)
            ).tolist()),
            (101, fingerprint_wav(
                encode_wav(variants(base2)["gain05"], RATE)
            ).tolist()),
        ],
        "doc_id long, fp array<int>",
    )
    for stride in (1, 2, 4):
        hits = {
            (r["id_a"], r["id_b"])
            for r in audio_candidates_cross(
                corpus, ev, "doc_id", probe_stride=stride
            ).collect()
        }
        assert hits == {(0, 100), (1, 101)}


def test_decontaminate_audio_plan_broadcasts_id_antijoin(spark):
    """The final corpus-vs-contaminated anti-join must BROADCAST the
    ID set (r13 fix): the r12 plain join measured the corpus PAYLOAD
    column riding a 321 MB shuffle at sf0.1 — the byte volume the
    modality family exists to keep on the scan side. Pinned: the
    executed plan's anti-join is broadcast-hash and no exchange
    partitions the corpus payloads."""
    corpus = spark.createDataFrame(
        [(i, encode_wav(make_clip(80 + i), RATE)) for i in range(3)],
        "doc_id long, payload binary",
    )
    ev = spark.createDataFrame(
        [(100, encode_wav(make_clip(80), RATE))], "doc_id long, payload binary"
    )
    plan = (
        decontaminate_audio(corpus, ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti, BuildRight" in plan
    # the anti-join's left (payload) side reads straight from the
    # scan: no hash-partitioned exchange of the payload column
    left_anti_pos = plan.index("LeftAnti")
    assert "hashpartitioning(doc_id" not in plan[left_anti_pos:].split(
        "BroadcastExchange", 1
    )[0]
    # broadcast_ids=False (r14): the extreme-contamination escape —
    # no forced hint, the planner may shuffle; survivors identical
    plain = decontaminate_audio(corpus, ev, broadcast_ids=False)
    assert "ResolvedHint" not in plain._jdf.queryExecution().analyzed().toString()
    assert {r["doc_id"] for r in plain.collect()} == {1, 2}


def test_audio_candidates_cached_probe_equals_lazy(spark):
    """The partitioned-cache probe path (past PROBE_CACHE_MIN_WORDS;
    forced here) returns the identical verified pair set — offsets
    and BERs included — as the lazy broadcast-regime plan."""
    base1, base2 = make_clip(90), make_clip(91)
    rows = [
        (0, fingerprint_wav(encode_wav(base1, RATE)).tolist()),
        (1, fingerprint_wav(
            encode_wav(variants(base1)["pad10hop"], RATE)
        ).tolist()),
        (2, fingerprint_wav(encode_wav(base2, RATE)).tolist()),
        (3, fingerprint_wav(
            encode_wav(variants(base2)["gain05"], RATE)
        ).tolist()),
        (4, fingerprint_wav(encode_wav(make_clip(92), RATE)).tolist()),
    ]
    fps = spark.createDataFrame(rows, "doc_id long, fp array<int>")

    def pairset(cache):
        return {
            (r["id_a"], r["id_b"], r["offset"], round(r["ber"], 9))
            for r in audio_candidates(
                fps, "doc_id", cache_probe_words=cache
            ).collect()
        }

    lazy, cached = pairset(False), pairset(True)
    assert lazy == cached
    assert {(a, b) for a, b, _, _ in lazy} == {(0, 1), (2, 3)}
