"""Multimodal-column queries (SURVEY §2.12) — ``documents.text``
re-encoded as an opaque binary payload plays the image/audio blob
role (the container has no media testdata; the bytes are real, the
codec is the documented stub in operators/multimodal.py).

``mm_binary_metadata`` is pure codegen column math and fully
oracle-checked. ``mm_feature_extract`` exercises the Arrow-batched
``mapInPandas`` path; its byte statistics are oracle-checked too —
the corpus is pure ASCII (verified), so DuckDB can recompute byte
sums as codepoint sums without a blob-iteration primitive.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.multimodal import (
    binary_with_metadata,
    extract_features,
)
from sensorstream_scalable_sensor_data_pipeline_spark.plans.registry import query
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    bench_cache_dir,
    publish_once,
)


def _with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"), F.encode(F.col("text"), "UTF-8").alias("payload")
    )


#: mm_binary_metadata's oracle, kept importable for the rotated-slot
#: local suite (tests/test_queries_vs_oracle.py) after the round-11
#: third rotation: its slot now carries html_extract_corpus
#: (plans/text.py) — the most user-hit r10 family without a driver
#: row. The multimodal family keeps ``mm_feature_extract``
#: driver-green, which subsumes these metadata stats (it computes
#: n_bytes plus the byte statistics over the same payloads).
MM_BINARY_METADATA_ORACLE = r"""
    SELECT doc_id,
           octet_length(text::BLOB) AS n_bytes,
           md5(text) AS content_md5,
           lower(substr(hex(text::BLOB), 1, 8)) AS magic_hex
    FROM documents
    """


def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column: length, content
    md5, magic-number prefix. Scan-speed column math; storing these
    beside the payload is what lets format/size filters prune 100 TB
    of blobs without reading payload bytes. Rotated OUT of the
    50-slot driver registry in round 11 (stays locally oracle-pinned
    in the rotated-slot suite; the freed slot carries
    ``html_extract_corpus``)."""
    return binary_with_metadata(_with_payload(spark, sf_dir), "payload").select(
        "doc_id", "n_bytes", "content_md5", "magic_hex"
    )


@query(
    "mm_feature_extract",
    oracle=r"""
    SELECT doc_id,
           octet_length(text::BLOB) AS n_bytes,
           list_sum(list_transform(generate_series(1, length(text)),
                                   i -> ascii(substr(text, i, 1))))::BIGINT AS byte_sum,
           CAST(list_sum(list_transform(generate_series(1, length(text)),
                                        i -> ascii(substr(text, i, 1)))) AS DOUBLE)
             / octet_length(text::BLOB) AS byte_mean,
           (octet_length(text::BLOB) // 256)::BIGINT AS n_frames
    FROM documents
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched ``mapInPandas`` feature extraction over binary
    payloads (the deterministic fake decoder — the real codec is the
    documented NotImplementedError stub). The oracle recomputes the
    byte statistics SQL-side, valid because the corpus is pure ASCII
    (bytes ≡ codepoints); ``byte_mean`` is one int-ratio divide,
    identical IEEE in both engines."""
    return extract_features(
        _with_payload(spark, sf_dir), "doc_id", "payload", fake_decoder=True
    )


# --------------------------------------------- perceptual image dedup

#: Images synthesized per documents row for the dedup_phash bench head
#: (documents is 5 k rows at sf0.1; ×4 = 20 k images ≈ the smallest
#: corpus where the hash+join cost dominates fixture noise).
_PHASH_IMAGES_PER_DOC = 4


def _image_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image corpus with PLANTED near-duplicates, built
    executor-side (the container ships no media testdata): one
    structured synthetic image per (doc_id, rep) seed, where every
    5th image is instead a REAL format-level variant — a JPEG-q85
    re-encode or a 0.75× rescale — of its predecessor's picture.
    Payload mix is PNG/BMP/JPEG, so the dedup head exercises all
    three repo codecs. Synthesis is seeded by (doc_id, rep) only —
    re-evaluation under Spark retries is idempotent."""
    from collections.abc import Iterator

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(_PHASH_IMAGES_PER_DOC - 1))))
        .select((F.col("doc_id") * _PHASH_IMAGES_PER_DOC + F.col("rep")).alias("img_id"))
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            encode_bmp,
            encode_png,
            resize_nearest,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.jpeg import (
            encode_jpeg,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
            synth_image,
        )

        for pdf in batches:
            payloads = []
            for img_id in pdf["img_id"].astype("int64"):
                img_id = int(img_id)
                if img_id % 5 == 0 and img_id > 0:
                    base = synth_image(img_id - 1, h=64, w=64)
                    payloads.append(
                        encode_jpeg(base, quality=85, subsampling="420")
                        if img_id % 2 == 0
                        else encode_png(resize_nearest(base, 48, 48))
                    )
                else:
                    img = synth_image(img_id, h=64, w=64)
                    payloads.append(
                        encode_png(img) if img_id % 2 else encode_bmp(img)
                    )
            yield pd.DataFrame(
                {"doc_id": pdf["img_id"].astype("int64").to_numpy(),
                 "payload": payloads}
            )

    return ids.mapInPandas(run, schema="doc_id long, payload binary")


def dedup_phash_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head: perceptual-hash near-duplicate image dedup
    (operators/phash.py) over a 4×|documents| synthetic image corpus
    with ~20 % planted re-encode/rescale variants. Measures the full
    chain — executor-side decode+hash (Arrow mapInPandas), the
    rotating-block Hamming candidate join, exact verify, transitive
    closure, anti-join — and ends in an aggregate that consumes the
    survivor set (bench doctrine: collect() forces it)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        dedup_phash,
    )

    surv = dedup_phash(
        _read_corpus(spark, sf_dir, "images", _image_corpus),
        "doc_id", "payload", max_hamming=8,
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("bytes_kept"),
    )


def dedup_phash_banded_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-rung head (r11, EXTRA_HEADS-only): the same image-dedup
    workload through the SAMPLED-BIT banded candidate generator —
    the subquadratic path whose rung demonstrates the pigeonhole
    join's quadratic bucket term is the scale wall, not the hashing
    or the closure (operators/phash.py::phash_candidates_banded)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        dedup_phash,
    )

    surv = dedup_phash(
        _read_corpus(spark, sf_dir, "images", _image_corpus),
        "doc_id", "payload", max_hamming=8, method="banded",
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("bytes_kept"),
    )


# --------------------------------------------- audio fingerprint dedup

#: Clips synthesized per documents row for the dedup_audio bench head
#: (5 k docs at sf0.1 × 2 = 10 k clips of 2 s — enough that the
#: FFT+probe+verify chain dominates fixture noise).
_AUDIO_CLIPS_PER_DOC = 2
_AUDIO_RATE = 8000


def _audio_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WAV corpus with PLANTED near-duplicates: one
    broadband synthetic clip per (doc_id, rep) seed; every 5th clip
    is instead a signal-level variant — a 0.5× gain copy or a
    10-hop-padded copy — of its predecessor's recording. Seeded by
    clip id only, so Spark retries are idempotent."""
    from collections.abc import Iterator

    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(_AUDIO_CLIPS_PER_DOC - 1)))
        )
        .select(
            (F.col("doc_id") * _AUDIO_CLIPS_PER_DOC + F.col("rep")).alias("clip_id")
        )
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
            HOP,
            synth_clip,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            encode_wav,
        )

        def make_clip(seed: int) -> np.ndarray:
            return synth_clip(seed, rate=_AUDIO_RATE)

        for pdf in batches:
            payloads = []
            for cid in pdf["clip_id"].astype("int64"):
                cid = int(cid)
                if cid % 5 == 0 and cid > 0:
                    base = make_clip(cid - 1)
                    clip = (
                        (base * 0.5).astype(np.int16)
                        if cid % 2 == 0
                        else np.concatenate(
                            [np.zeros(HOP * 10, np.int16), base]
                        )
                    )
                else:
                    clip = make_clip(cid)
                payloads.append(encode_wav(clip, _AUDIO_RATE))
            yield pd.DataFrame(
                {"doc_id": pdf["clip_id"].astype("int64").to_numpy(),
                 "payload": payloads}
            )

    return ids.mapInPandas(run, schema="doc_id long, payload binary")


def dedup_audio_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head (r11): near-duplicate AUDIO dedup
    (operators/audio_fp.py — Haitsma–Kalker sub-fingerprints,
    exact-probe offset vote, aligned-BER verify) over a
    2×|documents| synthetic WAV corpus (2 s broadband clips, ~20 %
    planted gain/pad variants). Ends in an aggregate consuming the
    survivor set."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        dedup_audio,
    )

    surv = dedup_audio(
        _read_corpus(spark, sf_dir, "audio", _audio_corpus),
        "doc_id", "payload",
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("bytes_kept"),
    )


# --------------------------------------------------------- video dedup

#: Videos per documents row (5 k docs at sf0.1 → 5 k clips of 12
#: frames — decode+hash dominates; the frame-hash join is tiny).
_VIDEO_FRAMES = 12


def _video_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic AVI corpus with planted near-duplicates: one
    12-frame DIB clip per doc; every 5th clip is instead a variant of
    its predecessor — an MJPEG-q85 re-encode or a 4-frame head trim."""
    from collections.abc import Iterator

    ids = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("vid_id"))
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            encode_avi,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
            synth_image,
        )

        def make_video(seed: int) -> np.ndarray:
            return np.stack(
                [
                    synth_image(seed * 1000 + i, h=48, w=64)
                    for i in range(_VIDEO_FRAMES)
                ]
            )

        for pdf in batches:
            payloads = []
            for vid in pdf["vid_id"].astype("int64"):
                vid = int(vid)
                if vid % 5 == 0 and vid > 0:
                    base = make_video(vid - 1)
                    payloads.append(
                        encode_avi(base, codec="mjpg", quality=85)
                        if vid % 2 == 0
                        else encode_avi(base[4:], codec="dib")
                    )
                else:
                    payloads.append(encode_avi(make_video(vid), codec="dib"))
            yield pd.DataFrame(
                {"doc_id": pdf["vid_id"].astype("int64").to_numpy(),
                 "payload": payloads}
            )

    return ids.mapInPandas(run, schema="doc_id long, payload binary")


def dedup_video_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-rung head (r11, EXTRA_HEADS-only): near-duplicate VIDEO
    dedup (operators/video_dedup.py) over a |documents|-sized AVI
    corpus with ~20 % planted re-encode/trim variants — sampled-frame
    pHash, offset-consistency vote, closure, broadcast anti-join."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
        dedup_videos,
    )

    surv = dedup_videos(
        _read_corpus(spark, sf_dir, "video", _video_corpus),
        "doc_id", "payload", every_n=2,
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("bytes_kept"),
    )


def curate_image_corpus(
    spark: SparkSession,
    sf_dir: str,
    min_bytes: int = 1_000,
    max_bytes: int = 2_000_000,
    max_hamming: int = 8,
    holdout_per_mille: int = 100,
    dedup_method: str = "auto",
    dedup_kwargs: dict | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """The multimodal curation capstone — the end-to-end flow an
    image-corpus user actually runs, mirroring
    ``plans/text.py::curate_training_corpus`` for the image modality:

    1. typed metadata over the opaque payloads (length/md5/magic —
       scan-speed column math, prunes without touching payload bytes);
    2. size/format gate (corrupt-tiny and giant outliers out; only
       known magics pass — the repo codecs' sniffable set);
    3. perceptual near-dup dedup (operators/phash.py — min-id
       canonical per cluster, payloads never shuffle);
    4. reproducible content-keyed train/holdout split (salted hash
       on the CONTENT md5, so re-ingested bytes keep their
       assignment and near-identical-but-distinct images don't
       correlate across the split).

    ``dedup_method`` plumbs through to :func:`~...phash.dedup_phash`
    — ``"auto"`` (default: one measured count picks pigeonhole below
    the candidate-row budget, banded LSH above — the self-executing
    form of the r11 scale doctrine), ``"pigeonhole"`` (recall 1.0,
    right to ~10⁵ images) or ``"banded"`` (subquadratic, the
    corpus-scale path). ``dedup_kwargs`` forwards tuning knobs
    (``bands``, ``bits_per_band``, ``band_seed``, ``row_budget``) so
    the capstone can size the bands for corpus scale instead of
    being locked to the operator defaults.

    ``on_error`` (r15, r14 verdict #7): a 100 TB curation run is
    exactly where one corrupt blob must not kill the job. The format
    gate only screens the MAGIC — a valid-magic payload with a
    garbage body still reaches the decoder — so ``"quarantine"``
    threads through to :func:`~...phash.dedup_phash`: corrupt rows
    survive curation (NULL hashes never merge), the clean rows'
    dedup/split results are bit-identical to a clean run, and the
    output gains a ``quarantined`` boolean column so downstream
    consumers can filter or route them with one predicate. The
    default ``"raise"`` keeps exact semantics (no extra column —
    every row decoded or the job failed).

    Returns the curated rows: (doc_id, payload, n_bytes, content_md5,
    magic_hex, split[, quarantined])."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        dedup_phash,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        hash_split,
    )

    imgs = binary_with_metadata(
        _read_corpus(spark, sf_dir, "images", _image_corpus), "payload"
    )
    gated = imgs.filter(
        (F.col("n_bytes") >= min_bytes)
        & (F.col("n_bytes") <= max_bytes)
        & F.col("magic_hex").rlike("^(89504e47|424d|ffd8ff)")
    )
    if on_error == "quarantine":
        surv, q_ids = dedup_phash(
            gated, "doc_id", "payload", max_hamming=max_hamming,
            method=dedup_method, on_error="quarantine",
            return_quarantined=True, **(dedup_kwargs or {}),
        )
        # q_ids is checkpointed-tiny (the rare corrupt exception set)
        surv = surv.join(
            F.broadcast(q_ids.withColumn("quarantined", F.lit(True))),
            "doc_id",
            "left",
        ).withColumn(
            "quarantined", F.coalesce(F.col("quarantined"), F.lit(False))
        )
    else:
        surv = dedup_phash(
            gated, "doc_id", "payload", max_hamming=max_hamming,
            method=dedup_method, on_error=on_error, **(dedup_kwargs or {}),
        )
    return hash_split(
        surv, "content_md5", holdout_per_mille=holdout_per_mille
    )


#: dedup_phash_recovery's oracle (registered at r14 — rotation #6;
#: written and locally pinned in r12 per the r11 verdict task #5).
#: The planted corpus structure is closed-form: _image_corpus emits
#: img_id = doc_id·4 + rep, and every img_id ≡ 0 (mod 5), id > 0 is a
#: format-level VARIANT of img_id−1, so perfect near-dup recovery
#: keeps exactly the non-variant ids (min-id survivor per planted
#: pair; the fixture's synthetic images are entropy-injected so
#: distinct seeds sit ≥ 14 bits apart — zero accidental merges,
#: measured in operators/phash.py::synth_image's docstring). DuckDB
#: replays that structure from the documents table alone — a FULL
#: value-hash oracle for an end-to-end perceptual dedup: any missed
#: variant (recall) or accidental merge (precision) breaks the match.
DEDUP_PHASH_RECOVERY_ORACLE = r"""
    SELECT count(*) AS n_kept, CAST(sum(img_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id * 4 + r.range AS img_id
      FROM documents CROSS JOIN range(4) r
    )
    WHERE NOT (img_id % 5 = 0 AND img_id > 0)
    """


@query("dedup_phash_recovery", oracle=DEDUP_PHASH_RECOVERY_ORACLE)
def dedup_phash_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-variant recovery for perceptual image dedup — the
    registry-shaped form of the pHash family (ROTATED IN at r14,
    rotation #6 — the slot freed by o1_global_sort):
    synthesize the deterministic planted corpus, run the full
    hash → candidates → verify → closure → anti-join chain, and emit
    the survivor count + id-sum that the closed-form oracle predicts.

    ``method`` is PINNED to pigeonhole: the oracle demands recall
    1.0 (one missed planted pair breaks the value hash), and the
    default ``"auto"`` flips to banded — 0.95-target, probabilistic —
    past the row budget (~84 k images at b=8), which would make the
    query's correctness scale-dependent (review-found)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        dedup_phash,
    )

    surv = dedup_phash(
        _read_corpus(spark, sf_dir, "images", _image_corpus),
        "doc_id", "payload", max_hamming=8, method="pigeonhole",
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


#: dedup_audio_recovery's oracle (registered at r15 — rotation #7;
#: written and locally pinned in r12, extending the r14 image entry
#: to the audio modality). The planted corpus structure is closed-form:
#: _audio_corpus emits clip_id = doc_id·2 + rep, and every clip_id ≡ 0
#: (mod 5), id > 0 is a signal-level VARIANT (0.5× gain or 10-hop pad)
#: of clip_id−1's recording, so perfect near-dup recovery keeps exactly
#: the non-variant ids (min-id survivor per planted pair; distinct
#: seeds measure BER ≈ 0.5 vs the 0.25 verify bound and the variants
#: 0.00–0.18 — zero accidental merges, zero missed variants, measured
#: in operators/audio_fp.py). DuckDB replays that structure from the
#: documents table alone — a FULL value-hash oracle for the end-to-end
#: fingerprint → probe-vote → BER-verify → closure chain: any recall
#: miss or accidental merge breaks the match.
DEDUP_AUDIO_RECOVERY_ORACLE = r"""
    SELECT count(*) AS n_kept, CAST(sum(clip_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id * 2 + r.range AS clip_id
      FROM documents CROSS JOIN range(2) r
    )
    WHERE NOT (clip_id % 5 = 0 AND clip_id > 0)
    """


@query("dedup_audio_recovery", oracle=DEDUP_AUDIO_RECOVERY_ORACLE)
def dedup_audio_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-variant recovery for near-duplicate audio dedup — the
    registry-shaped form of the Haitsma–Kalker family (ROTATED IN at
    r15, rotation #7 — the slot freed by p7_in_list):
    synthesize the deterministic planted WAV corpus, run the
    full fingerprint → exact-probe vote → aligned-BER verify →
    closure → anti-join chain, and emit the survivor count + id-sum
    the closed-form oracle predicts. Defaults throughout — including
    the ``max_word_df`` hub guard, which the planted-jingle test pins
    as recall-neutral on clip-specific words."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        dedup_audio,
    )

    surv = dedup_audio(
        _read_corpus(spark, sf_dir, "audio", _audio_corpus),
        "doc_id", "payload",
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


#: dedup_video_recovery's oracle (QUEUED r16 — completes the
#: planted-recovery registry trio: image r14, audio r15, video r16).
#: _video_corpus emits one clip per documents row (doc_id = vid_id)
#: and every vid_id ≡ 0 (mod 5), id > 0 is a format-level VARIANT of
#: vid_id−1 (MJPEG-q85 re-encode or 4-frame head trim — the trim is a
#: multiple of the every_n=2 sampling grid, so it matches at the
#: exact negative offset), so perfect near-dup recovery keeps exactly
#: the non-variant ids. Distinct seeds sit ≥ 14 bits apart per frame
#: (synth_image entropy injection), so a radius-2 frame join has zero
#: accidental merges; DuckDB derives the survivor count + id-sum from
#: the documents table alone. The query runs ``max_hamming=2``
#: DELIBERATELY: exact-value matching misses one sf0.01 variant
#: (clip 470 — its q85 re-encode leaves only 2 of 6 sampled frames
#: bit-exact, under the 0.5 vote), i.e. per-frame codec noise is a
#: 1-2 bit phenomenon that the small-radius pigeonhole absorbs at
#: ~zero cost (3 blocks × 21-bit keys, the measured 1.6× fuzzy rung)
#: while exact equality is only ~83 % per frame ON AVERAGE with
#: per-seed tails below the vote threshold.
DEDUP_VIDEO_RECOVERY_ORACLE = r"""
    SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE NOT (doc_id % 5 = 0 AND doc_id > 0)
    """


@query("dedup_video_recovery", oracle=DEDUP_VIDEO_RECOVERY_ORACLE)
def dedup_video_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-variant recovery for near-duplicate video dedup — the
    registry-shaped form of the frame-sampled family (registered r16
    — rotation #8, completing the image/audio/video planted-recovery
    trio): synthesize the deterministic planted AVI corpus, run the
    full decode → frame-pHash → radius-2 pigeonhole frame join →
    offset vote → closure → anti-join chain, and emit the survivor
    count + id-sum the closed-form oracle predicts (see the oracle
    comment for why the radius is 2, not exact-value)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
        dedup_videos,
    )

    surv = dedup_videos(
        _read_corpus(spark, sf_dir, "video", _video_corpus),
        "doc_id", "payload", every_n=2, max_hamming=2,
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


#: decontaminate_audio_summary's oracle (QUEUED as the r17 rotation
#: in-candidate, written and locally pinned in r13 per queue
#: discipline — the decontamination family's first driver slot). The
#: planted structure is closed-form: the corpus holds clip ids
#: 0..2N−1 (N = |documents|), the eval set is a 0.7×-gain re-master
#: of every recording r ≡ 1 (mod 50) — ids where the corpus clip
#: PLAYS its own recording (r % 5 = 1, never a variant slot) and
#: whose successor (≡ 2 mod 5) is never a variant of it — so each
#: eval clip contaminates EXACTLY one corpus clip and perfect
#: decontamination keeps everything except the r ≡ 1 (mod 50) ids.
#: Distinct recordings sit at BER ≈ 0.5 vs the 0.25 verify bound
#: (zero false contaminations by fixture design); a full value-hash
#: oracle for the cross-table fingerprint → probe-vote → BER-verify
#: → broadcast-anti-join chain.
DECONTAMINATE_AUDIO_SUMMARY_ORACLE = r"""
    SELECT count(*) AS n_kept, CAST(sum(clip_id) AS BIGINT) AS id_sum
    FROM (
      SELECT doc_id * 2 + r.range AS clip_id
      FROM documents CROSS JOIN range(2) r
    )
    WHERE clip_id % 50 <> 1
    """


def decontaminate_audio_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval audio decontamination, registry-shaped (r17
    rotation-queue in-candidate): synthesize the planted corpus and
    its stride-50 gain-re-mastered eval set, run the full cross-table
    chain, and emit the survivor count + id-sum the closed-form
    oracle predicts — the same derivation the r13 bench head asserts
    in-head, here as a driver-checked value hash."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        decontaminate_audio,
    )

    clean = decontaminate_audio(
        _read_corpus(spark, sf_dir, "audio", _audio_corpus),
        _read_corpus(spark, sf_dir, "audio_eval", _audio_eval_corpus),
        "doc_id",
        "payload",
    )
    return clean.agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


#: decontaminate_video_summary's oracle (QUEUED as the r18 rotation
#: in-candidate, written and locally pinned in r14 per queue
#: discipline — the decontamination family's second modality slot).
#: The video corpus holds ONE clip per documents row (doc_id =
#: vid_id), the eval set is an MJPEG-q85 re-encode of every recording
#: r ≡ 1 (mod 50) — never a variant slot, never copied by a variant
#: (see test_decontam_fixture_contract for the invariant derivation)
#: — so each eval clip contaminates exactly one corpus clip and
#: perfect decontamination keeps everything except the r ≡ 1 (mod
#: 50) ids. A full value-hash oracle for the cross-table frame-match
#: → offset-vote → broadcast-anti-join chain at the radius-2
#: recall-first default.
DECONTAMINATE_VIDEO_SUMMARY_ORACLE = r"""
    SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id % 50 <> 1
    """


def decontaminate_video_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval video decontamination, registry-shaped (r18
    rotation-queue in-candidate): synthesize the planted AVI corpus
    and its stride-50 q85-re-encoded eval set, run the full
    cross-table frame chain, and emit the survivor count + id-sum
    the closed-form oracle predicts — the same derivation the r13
    bench head asserts in-head, here as a driver-checked value
    hash."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
        decontaminate_videos,
    )

    clean = decontaminate_videos(
        _read_corpus(spark, sf_dir, "video", _video_corpus),
        _read_corpus(spark, sf_dir, "video_eval", _video_eval_corpus),
        "doc_id",
        "payload",
        every_n=2,
    )
    return clean.agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


def dedup_video_fuzzy_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-rung head (r12, EXTRA_HEADS-only; r11 verdict task #7):
    video dedup in FUZZY frame-match mode — ``max_hamming=2`` routes
    the frame join through the pigeonhole blocks instead of exact
    value equality. At this radius the blocks stay WIDE (3 blocks of
    21 bits), so the bucket term is ~n²·3/2^21/2 ≈ 6e4 rows at the
    sf1 rung's 290 k sampled frames — the quadratic wall the image
    path hits at b=8 does not exist at small radii; this rung is the
    measured witness (the de-scope boundary: radii ≥ 8 on frames
    would inherit the image family's auto/banded doctrine)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
        dedup_videos,
    )

    surv = dedup_videos(
        _read_corpus(spark, sf_dir, "video", _video_corpus),
        "doc_id", "payload", every_n=2, max_hamming=2,
    )
    return surv.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("bytes_kept"),
    )


#: Decontamination eval sets: one eval clip per corpus recording
#: r ≡ 1 (mod 50). r % 5 == 1 means corpus clip r PLAYS recording r
#: (it is not a planted variant slot) and clip r+1 (≡ 2 mod 5) is
#: never a variant of r — so each eval clip contaminates EXACTLY one
#: corpus clip and the expected survivor count/id-sum are closed
#: forms of the corpus size alone.
_EVAL_STRIDE = 50


def _decontam_expected(n_corpus: int) -> tuple[int, int]:
    """(expected_kept, expected_id_sum) for a decontamination pass of
    the planted corpus against the stride-50 eval set."""
    m = (n_corpus + _EVAL_STRIDE - 2) // _EVAL_STRIDE  # |{r<N : r≡1 mod 50}|
    id_sum_all = n_corpus * (n_corpus - 1) // 2
    id_sum_contam = m + _EVAL_STRIDE // 2 * m * (m - 1)  # Σ(1+50k), k<m
    return n_corpus - m, id_sum_all - id_sum_contam


def _audio_eval_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval twin of :func:`_audio_corpus`: a 0.7×-gain re-master of
    every recording r ≡ 1 (mod 50) — a signal-level transformation
    the corpus itself does not contain, so the pass must match
    CONTENT, not bytes."""
    from collections.abc import Iterator

    n_docs = load_table(spark, sf_dir, "documents").count()
    n = n_docs * _AUDIO_CLIPS_PER_DOC
    ids = spark.range(1, n, _EVAL_STRIDE).select(
        F.col("id").alias("clip_id")
    ).repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "32")))

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
            synth_clip,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            encode_wav,
        )

        for pdf in batches:
            payloads = [
                encode_wav(
                    (synth_clip(int(cid), rate=_AUDIO_RATE) * 0.7).astype(
                        np.int16
                    ),
                    _AUDIO_RATE,
                )
                for cid in pdf["clip_id"].astype("int64")
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["clip_id"].astype("int64").to_numpy(),
                 "payload": payloads}
            )

    return ids.mapInPandas(run, schema="doc_id long, payload binary")


def _video_eval_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval twin of :func:`_video_corpus`: an MJPEG-q85 re-encode of
    every recording r ≡ 1 (mod 50) — the exact leak shape the r12
    boundary finding quantified (codec noise flips 1-2 bits on a
    minority of frame hashes; radius-2 matching absorbs it)."""
    from collections.abc import Iterator

    n = load_table(spark, sf_dir, "documents").count()
    ids = spark.range(1, n, _EVAL_STRIDE).select(
        F.col("id").alias("vid_id")
    ).repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "32")))

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            encode_avi,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
            synth_image,
        )

        for pdf in batches:
            payloads = []
            for vid in pdf["vid_id"].astype("int64"):
                frames = np.stack(
                    [
                        synth_image(int(vid) * 1000 + i, h=48, w=64)
                        for i in range(_VIDEO_FRAMES)
                    ]
                )
                payloads.append(encode_avi(frames, codec="mjpg", quality=85))
            yield pd.DataFrame(
                {"doc_id": pdf["vid_id"].astype("int64").to_numpy(),
                 "payload": payloads}
            )

    return ids.mapInPandas(run, schema="doc_id long, payload binary")


def _asserted_survivor_summary(
    clean: DataFrame, expected_kept: int, expected_id_sum: int, head: str
) -> DataFrame:
    """Materialize the survivor aggregate and FAIL THE HEAD on any
    deviation from the closed-form expectation (r12 verdict task #2:
    a decontamination bench head must catch correctness drift in the
    cross chains, not just time them). Returns the 1-row summary as a
    DataFrame so the harness sees the standard head shape."""
    row = clean.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("bytes_kept"),
    ).collect()[0]
    if row["n_kept"] != expected_kept or row["id_sum"] != expected_id_sum:
        raise RuntimeError(
            f"{head}: survivor set drifted — kept {row['n_kept']} "
            f"(expected {expected_kept}), id_sum {row['id_sum']} "
            f"(expected {expected_id_sum})"
        )
    from sensorstream_scalable_sensor_data_pipeline_spark.functions.localframe import (
        tiny_local_frame,
    )

    return tiny_local_frame(
        clean.sparkSession,
        [(row["n_kept"], row["id_sum"], row["bytes_kept"])],
        "n_kept long, id_sum long, bytes_kept long",
    )


def decontaminate_audio_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head (r13, r12 verdict task #2): train/eval AUDIO
    decontamination — the 2×|documents| WAV corpus against a
    stride-50 gain-re-mastered eval set through the cross-table
    probe-vote-verify chain (eval side broadcast). The survivor count
    and id-sum are asserted against the planted closed form in-head,
    so a plan regression OR a recall regression in the newest cross
    code both fail loudly."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        decontaminate_audio,
    )

    corpus = _read_corpus(spark, sf_dir, "audio", _audio_corpus)
    ev = _read_corpus(spark, sf_dir, "audio_eval", _audio_eval_corpus)
    clean = decontaminate_audio(corpus, ev, "doc_id", "payload")
    kept, id_sum = _decontam_expected(corpus.count())
    return _asserted_survivor_summary(clean, kept, id_sum, "decontaminate_audio")


def decontaminate_video_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head (r13, r12 verdict task #2): train/eval VIDEO
    decontamination — the |documents| AVI corpus against a stride-50
    q85-re-encoded eval set through the frame-match → offset-vote
    cross chain at the radius-2 recall-first default. Survivor count
    and id-sum asserted in-head against the planted closed form."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
        decontaminate_videos,
    )

    corpus = _read_corpus(spark, sf_dir, "video", _video_corpus)
    ev = _read_corpus(spark, sf_dir, "video_eval", _video_eval_corpus)
    clean = decontaminate_videos(corpus, ev, "doc_id", "payload", every_n=2)
    kept, id_sum = _decontam_expected(corpus.count())
    return _asserted_survivor_summary(clean, kept, id_sum, "decontaminate_video")


def curate_image_corpus_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-rung head (r11, EXTRA_HEADS-only): the image-curation
    capstone, summarized per split so every computed column is
    consumed (bench-head doctrine)."""
    out = curate_image_corpus(spark, sf_dir)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_bytes").alias("total_bytes"),
    )


# ------------------------- cached fixture corpora for the bench heads

#: Bump when any synthetic-corpus recipe changes — embedded in the
#: cache key so stale fixtures never serve.
_CORPUS_LAYOUT_V = "v1"


def _corpus_cache_dir(sf_dir: str, tag: str) -> str:
    """Keyed parquet path for a synthetic payload corpus, so the
    UNTIMED synthesis runs once per bench run and every timed rep
    READS the corpus from storage — which is both the prepare-child
    measurement discipline (bench.py docstring) and the more honest
    workload: a real dedup pass scans payloads from parquet, it does
    not synthesize them."""
    return bench_cache_dir(
        f"corpus_{tag}", os.path.abspath(sf_dir), tag, _CORPUS_LAYOUT_V
    )


def _ensure_corpus(spark: SparkSession, sf_dir: str, tag: str, builder) -> str:
    """Build ``builder(spark, sf_dir)`` into the keyed cache once
    (``sources/writers.py::publish_once``) and return the path."""
    return publish_once(
        _corpus_cache_dir(sf_dir, tag),
        lambda stage: builder(spark, sf_dir).write.parquet(stage),
    )


def _read_corpus(spark: SparkSession, sf_dir: str, tag: str, builder) -> DataFrame:
    """The corpus for a timed head: the cached parquet when the setup
    hook staged it, else built inline (ad-hoc callers outside the
    bench harness still work — they just pay the synth in-plan).
    (r12 note: an interim commit routed this read through the
    row-based parquet path on a contended-box measurement that read
    as a vectorized-reader CPU term; quiet-box cold-JVM replay showed
    NO stable reader difference at this payload width — decode-scan
    wall varies ±40 % across identical reps — so the read stays on
    the default vectorized path the recorded baselines used;
    sources/readers.py::read_binary_corpus remains available as the
    MEMORY knob for ≫100 KB payloads.)"""
    out = _corpus_cache_dir(sf_dir, tag)
    if os.path.exists(out):
        return spark.read.parquet(out)
    return builder(spark, sf_dir)


def dedup_phash_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "images", _image_corpus)


def dedup_phash_banded_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "images", _image_corpus)


def dedup_audio_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "audio", _audio_corpus)


def dedup_video_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "video", _video_corpus)


def dedup_video_fuzzy_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "video", _video_corpus)


def curate_image_corpus_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "images", _image_corpus)


def decontaminate_audio_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "audio", _audio_corpus)
    _ensure_corpus(spark, sf_dir, "audio_eval", _audio_eval_corpus)


def decontaminate_video_head_setup(spark: SparkSession, sf_dir: str) -> None:
    _ensure_corpus(spark, sf_dir, "video", _video_corpus)
    _ensure_corpus(spark, sf_dir, "video_eval", _video_eval_corpus)
