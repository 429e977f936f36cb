"""Near-duplicate VIDEO dedup — frame-sampled perceptual hashing.

The last modality of the dedup family (text / images / audio / now
video): detect clips that are the SAME footage re-encoded (DIB ↔
MJPEG, quality changes) or trimmed, even though they share no bytes.
This is a COMPOSITION, not new machinery — exactly the layering the
module split was designed for:

1. frame sampling: decode every ``every_n``-th frame executor-side
   (the repo AVI codec — operators/codecs.py::decode_avi_frames,
   DIB + MJPEG);
2. per-frame :func:`~...phash.phash64_pixels` (operators/phash.py);
3. matching on the audio-fingerprint template
   (operators/audio_fp.py): candidate pairs from a blocked equi-join
   on frame hashes + a most-common-FRAME-OFFSET vote, then the
   verdict is the fraction of the shorter clip's sampled frames
   matching at that single offset (offset consistency is what
   separates true re-encodes from one coincidentally similar frame —
   e.g. two clips sharing a black frame).

Frame matching is EXACT on the 64-bit pHash by default — the
scan-cheap setting for byte-preserving duplicates — but exact
matching is measured NOT recall-1.0 against lossy re-encodes: a q85
MJPEG copy lands ~83 % of frames bit-exact ON AVERAGE, with
per-seed tails where too few sampled frames survive the vote (r12,
found by the recovery oracle). ``max_hamming=2`` absorbs the 1-2
bit codec noise at the small-radius pigeonhole's near-free cost
(measured 1.6× at 10× data); the dedup default stays 0 for the
byte-preserving workload, decontamination defaults to 2 (recall is
its purpose), and radii ≥ 8 inherit the image family's banded
doctrine (operators/phash.py).

Scale shape: decode+hash is an Arrow ``mapInPandas`` scan (frames
never leave the executor as pixels — only 8-byte hashes shuffle);
the join is keyed on the hash value; the vote is one groupBy; the
closure/anti-join are the shared dedup machinery. At 100 TB of video
the payload bytes cross the wire exactly once (the scan).

Reference tie: SURVEY §2.12 multimodal scope; the reference pipeline
has no video stage (main_pipeline.py:1-369).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    decode_avi_frames,
    decode_policy,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
    blocked_hamming_matches,
    drop_signed_duplicates,
    vote_best_offset,
)

#: Grayscale peak-to-peak below which a frame counts as DEGENERATE
#: (constant/near-constant — fades, title cards, black/white frames).
#: Such frames are ubiquitous in real footage, offset-CONSISTENT
#: across unrelated clips, and hub the frame-hash equi-join
#: quadratically (the same hub reasoning as audio_fp's silence words
#: and text LSH's stopwords). Detection happens at HASH time by pixel
#: variance, not by hash value: a constant frame's pHash is NOT a
#: fixed sentinel — sub-median DCT float noise makes constant 128 /
#: 255 frames hash to arbitrary stable values (measured:
#: -7698788288617737321 / -2350834392976878697), so value-matching
#: only ever caught black. The margin absorbs codec noise: a q85
#: MJPEG re-encode of a constant frame reconstructs within ±2 levels.
_DEGENERATE_PTP = 4.0

FRAME_HASH_SCHEMA = "doc_id long, frame_idx long, phash long"


def with_frame_phashes(
    df: DataFrame, id_col: str, binary_col: str, every_n: int = 4,
    on_error: str = "raise",
) -> DataFrame:
    """(id, avi payload) → (doc_id, frame_idx, phash): decode every
    ``every_n``-th frame and pHash it, all inside one Arrow
    ``mapInPandas`` pass — pixels never leave the executor.
    Degenerate (near-constant) frames emit a NULL hash: the row still
    counts toward the clip's frame total (the match_frac denominator
    must stay the FULL sampled count so mostly-constant clips can't
    qualify on their few live frames), but NULL never joins.
    ``on_error`` follows :func:`~...codecs.decode_policy`: a
    quarantined clip emits NO frame rows, so it can never vote or
    match and survives dedup; anti-join the clip ids against the frame
    table to recover the quarantine set."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")
    # frame_step pushes the every_n sampling INTO the container decode
    # (r16 optimization round): unsampled MJPEG frames skip their
    # Huffman/IDCT work outright, so decode cost is proportional to
    # frames hashed, not frames stored. Sampled indices are j*every_n.
    decode = decode_policy(
        lambda payload: decode_avi_frames(payload, frame_step=every_n)[0],
        on_error,
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
            _to_gray,
            phash64_pixels,
        )

        for pdf in batches:
            ids, idxs, hs = [], [], []
            for doc_id, payload in zip(
                pdf[id_col].astype("int64"), pdf[binary_col]
            ):
                frames = decode(payload)
                if frames is None:
                    continue  # quarantined: no frame rows
                for j in range(frames.shape[0]):
                    ids.append(int(doc_id))
                    idxs.append(j * every_n)
                    # gray once: the ptp gate and the hash share the
                    # h*w*3 luma matmul (phash64_pixels passes 2-D
                    # arrays through _to_gray unchanged)
                    gray = _to_gray(frames[j])
                    degenerate = np.ptp(gray) <= _DEGENERATE_PTP
                    hs.append(None if degenerate else phash64_pixels(gray))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "phash": pd.array(hs, dtype="Int64"),
                }
            )

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=FRAME_HASH_SCHEMA
    )


def _check_video_knobs(min_match_frac: float, max_hamming: int) -> None:
    """The knob checks of the video family, run before any decode."""
    if not (0.0 < min_match_frac <= 1.0):
        raise ValueError("min_match_frac must be in (0, 1]")
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 63] (got {max_hamming})")


def _offset_votes(
    frames_a: DataFrame,
    frames_b: DataFrame,
    id_col: str,
    min_match_frac: float,
    max_hamming: int,
    broadcast_b: bool = False,
    self_join: bool = False,
) -> DataFrame:
    """Frame match → offset vote → shorter-clip fraction between two
    frame-hash tables; see :func:`video_candidates_cross`.
    ``self_join`` (both sides are one table) orders pairs
    ``id_a < id_b`` before the vote and counts frames once."""
    _check_video_knobs(min_match_frac, max_hamming)
    # degenerate frames (NULL hash, see _DEGENERATE_PTP) never match,
    # but they stay in the n_frames counts below, so a clip that is
    # mostly constant frames cannot qualify on its few live frames
    live_a = frames_a.filter(F.col("phash").isNotNull())
    live_b = frames_b.filter(F.col("phash").isNotNull())
    matched = blocked_hamming_matches(
        live_a, live_b, max_hamming, id_col=id_col,
        carry_cols=("frame_idx",), broadcast_b=broadcast_b,
    )
    if self_join:
        matched = matched.filter(F.col("id_a") < F.col("id_b"))
    best = vote_best_offset(
        matched.select(
            "id_a", "id_b",
            (F.col("frame_idx_a") - F.col("frame_idx_b")).alias("off"),
        )
    )

    def lengths(frames: DataFrame) -> DataFrame:
        return frames.groupBy(F.col(id_col)).agg(
            F.count(F.lit(1)).alias("n_frames")
        )

    lens_a = lengths(frames_a)
    lens_b = lens_a if self_join else lengths(frames_b)
    la = lens_a.select(
        F.col(id_col).alias("id_a"), F.col("n_frames").alias("n_a")
    )
    lb = lens_b.select(
        F.col(id_col).alias("id_b"), F.col("n_frames").alias("n_b")
    )
    return (
        best.join(la, "id_a")
        .join(lb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_match")
                / F.greatest(F.least("n_a", "n_b"), F.lit(1)).cast("double")
            ).alias("match_frac"),
            "offset",
        )
        .filter(F.col("match_frac") >= min_match_frac)
    )


def video_candidates(
    frame_hashes: DataFrame,
    id_col: str = "doc_id",
    min_match_frac: float = 0.5,
    max_hamming: int = 0,
) -> DataFrame:
    """Near-dup video pairs within one (id, frame_idx, phash) table:
    the self-join form of :func:`video_candidates_cross`, pairs
    ordered ``id_a < id_b`` before the vote. Returns (id_a, id_b,
    match_frac, offset)."""
    return _offset_votes(
        frame_hashes, frame_hashes, id_col, min_match_frac, max_hamming,
        self_join=True,
    )


def video_candidates_cross(
    frames_a: DataFrame,
    frames_b: DataFrame,
    id_col: str = "doc_id",
    min_match_frac: float = 0.5,
    max_hamming: int = 0,
    broadcast_b: bool = True,
) -> DataFrame:
    """Near-dup video pairs between two frame-hash tables (id_a from
    ``frames_a``, id_b from ``frames_b``): frames match on the exact
    hash value (the shared blocked-pigeonhole match within
    ``max_hamming`` bits when it is > 0), each pair votes its most
    common frame offset, and a pair qualifies when that vote covers ≥
    ``min_match_frac`` of the shorter clip's sampled frames. No
    ``id_a < id_b`` ordering: two distinct tables may reuse numeric
    ids, and every (a, b) hit matters. ``broadcast_b`` (default on)
    marks ``frames_b`` as the small side — the eval set in
    decontamination; pass False when neither side is broadcast-small
    (accepted-state tables ride the keyed shuffle instead). Returns
    (id_a, id_b, match_frac, offset)."""
    return _offset_votes(
        frames_a, frames_b, id_col, min_match_frac, max_hamming,
        broadcast_b=broadcast_b,
    )


def decontaminate_videos(
    corpus: DataFrame,
    eval_videos: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    every_n: int = 4,
    min_match_frac: float = 0.5,
    max_hamming: int = 2,
    broadcast_ids: bool = True,
    on_error: str = "raise",
) -> DataFrame:
    """Drop corpus clips that match any EVAL-set clip under
    :func:`video_candidates_cross` — the video twin of
    :func:`~...audio_fp.decontaminate_audio`. Returns the clean corpus
    rows (lifecycle: :func:`~...dedup_fuzzy.drop_signed_duplicates`).

    Recall first: ``max_hamming`` defaults to 2 HERE, unlike the
    dedup path's 0, because exact-value frame matching is measured
    NOT recall-1.0 against lossy re-encodes (see :func:`dedup_videos`)
    and the radius-2 pigeonhole absorbs the 1-2 bit codec noise at
    near-zero cost. ``on_error`` quarantines CORPUS clips only: a
    quarantined eval clip emits no frame rows and would let its
    corpus near-duplicates leak, so a corrupt eval set raises."""
    _check_video_knobs(min_match_frac, max_hamming)
    return drop_signed_duplicates(
        corpus, id_col,
        [with_frame_phashes(corpus, id_col, binary_col, every_n, on_error=on_error),
         with_frame_phashes(eval_videos, id_col, binary_col, every_n)],
        lambda fh_c, fh_e, *_counts: video_candidates_cross(
            fh_c, fh_e, "doc_id",
            min_match_frac=min_match_frac, max_hamming=max_hamming,
        ),
        broadcast_ids=broadcast_ids,
    )


def dedup_videos(
    videos: DataFrame,
    id_col: str,
    binary_col: str,
    every_n: int = 4,
    min_match_frac: float = 0.5,
    max_hamming: int = 0,
    on_error: str = "raise",
) -> DataFrame:
    """Near-duplicate VIDEO dedup: clips matched by
    :func:`video_candidates` (one frame offset covering ≥
    ``min_match_frac`` of the shorter clip's sampled frames) form
    clusters, and the min id of each survives (lifecycle:
    :func:`~...dedup_fuzzy.drop_signed_duplicates`).

    Choosing ``max_hamming`` is a WORKLOAD decision, not a scale one:
    exact-value frame matching (the 0 default) is the scan-cheap
    setting for byte-preserving duplicates (remux, trims, re-wraps),
    but it is NOT recall-1.0 against lossy re-encodes — measured
    (r12): an MJPEG-q85 copy keeps ~83 % of frames bit-exact ON
    AVERAGE, with per-seed tails below the 0.5 vote (one sf0.01
    planted variant kept 2 of 6 sampled frames). ``max_hamming=2``
    restores recall at the small-radius pigeonhole's near-free cost
    (3 blocks × 21-bit keys, measured 1.6× at 10× data). Rule:
    re-encoded inputs → 2; byte-preserving inputs → 0."""
    _check_video_knobs(min_match_frac, max_hamming)
    return drop_signed_duplicates(
        videos, id_col,
        [with_frame_phashes(videos, id_col, binary_col, every_n, on_error=on_error)],
        lambda fh, _n: video_candidates(
            fh, "doc_id",
            min_match_frac=min_match_frac, max_hamming=max_hamming,
        ),
    )
