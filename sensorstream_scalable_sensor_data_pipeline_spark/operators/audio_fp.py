"""Audio fingerprinting + near-duplicate audio dedup.

Completes the modality coverage of the dedup family (text:
MinHash/SimHash/substring; images: pHash r11; audio: this module) —
the Shazam-era capability a multimodal training corpus needs: detect
clips that are the SAME recording re-encoded, gain-adjusted, padded,
or lightly degraded, even though they share no bytes.

Algorithm — the classic **Haitsma–Kalker (2002) sub-fingerprint**:

1. mono mix → overlapping frames (``FRAME`` samples, ``HOP`` step),
   Hann window, FFT power spectrum;
2. ``N_BANDS+1`` log-spaced LOG band energies over 300–2000 Hz (the
   perceptually robust range; log compression keeps near-empty bands
   from handing their sign bits to the noise floor — measured: raw
   energies gave 8 bit errors/frame at 36 dB SNR, log gives ~2);
3. per frame, one 32-bit **sub-fingerprint**: bit b is the sign of
   the band-energy difference's TIME derivative,
   ``(E[f,b]−E[f,b+1]) − (E[f−1,b]−E[f−1,b+1])`` — a clip's
   fingerprint is its int32 sub-fingerprint SEQUENCE.

The double difference makes bits invariant to gain (log energies
shift by a constant — differences unchanged, signs exact; measured
BER 0.000 at 0.5×/1.5× gain) and to hop-aligned padding (the grid
shifts, the words don't); mild noise costs a few bits per frame
(BER 0.07 at 36 dB, 0.14 at 30 dB) while DISTINCT audio sits at
BER ≈ 0.5 — the exact separation the paper's 0.35 threshold exploits.

Matching follows the paper's two-level design re-expressed as engine
joins: (probe) EXPLODE clips into (sub-fingerprint, frame_idx) rows
and equi-join on the exact 32-bit value — identical recordings keep
a fraction of frames bit-exact even under noise (measured 12 % at
36 dB) while distinct recordings essentially never collide — then
vote the most-common frame OFFSET per pair; (verify) align the two
sequences at that offset and compute the aligned **bit error rate**
in one Catalyst ``zip_with + bit_count`` fold — near-dup iff
BER ≤ ``ber_max`` over a sufficient overlap. Nothing is pairwise:
probe buckets are tiny, the vote is one groupBy, the BER join runs
only on voted candidates, and the closure/anti-join are the shared
dedup machinery.

Reference tie: the reference pipeline (main_pipeline.py:1-369) has no
audio stage; this extends SURVEY §2.12's multimodal scope alongside
operators/phash.py, over the PCM WAV codec in operators/codecs.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import (
    cached,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    decode_policy,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
    drop_signed_duplicates,
    vote_best_offset,
)

#: Frame / hop sizes in samples. At the 8 kHz test rate a 1024-sample
#: frame is 128 ms with 8× overlap — coarser than the paper's 37 ms /
#: 31/32-overlap at 44.1 kHz, but the construction is rate-agnostic.
FRAME = 1024
HOP = 128

#: Sub-fingerprint width: N_BANDS energy differences → N_BANDS bits.
N_BANDS = 32

#: Band range (Hz) — the perceptually robust region of the paper.
F_MIN = 300.0
F_MAX = 2000.0


def synth_clip(seed: int, rate: int = 8000, secs: float = 2.0) -> np.ndarray:
    """Deterministic broadband synthetic clip (pink-ish filtered
    noise bed + tones + slow AM) — the shared fixture generator for
    the audio tests and the ``dedup_audio`` bench corpus (same role
    as ``operators/phash.py::synth_image``). Broadband matters: the
    fingerprint's band-sign bits need energy in every band; pure sine
    mixtures leave bands empty and hand their signs to the noise
    floor (measured)."""
    r = np.random.default_rng(seed)
    n = int(rate * secs)
    t = np.arange(n) / rate
    spec = r.standard_normal(n // 2 + 1) + 1j * r.standard_normal(n // 2 + 1)
    shape = 1.0 / (1.0 + np.arange(n // 2 + 1)) ** r.uniform(0.3, 0.7)
    bed = np.fft.irfft(spec * shape, n)
    bed /= np.abs(bed).max()
    x = 0.7 * bed
    for _ in range(4):
        f = r.uniform(300, 1900)
        x += r.uniform(0.05, 0.25) * np.sin(2 * np.pi * f * t + r.uniform(0, 6.28))
    x *= 0.7 + 0.3 * np.sin(2 * np.pi * r.uniform(0.5, 2.0) * t)
    return (x / np.abs(x).max() * 20000).astype(np.int16)


def subfingerprints(samples: np.ndarray, rate: int) -> np.ndarray:
    """(n, ch) int16 PCM → int32 sub-fingerprint per frame (length
    ``(n - FRAME) // HOP``; empty for clips shorter than 2 frames)."""
    if samples.ndim == 2:
        mono = samples.astype(np.float64).mean(axis=1)
    else:
        mono = samples.astype(np.float64)
    n = mono.shape[0]
    n_frames = (n - FRAME) // HOP + 1 if n >= FRAME else 0
    if n_frames < 2:
        return np.empty(0, dtype=np.int32)
    idx = np.arange(FRAME)[None, :] + HOP * np.arange(n_frames)[:, None]
    frames = mono[idx] * np.hanning(FRAME)[None, :]
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    freqs = np.fft.rfftfreq(FRAME, d=1.0 / rate)
    # log-spaced band edges; clamp to Nyquist so low rates still work
    fmax = min(F_MAX, rate / 2.0 * 0.98)
    edges = np.geomspace(F_MIN, fmax, N_BANDS + 2)
    bins = np.searchsorted(freqs, edges)
    bins = np.maximum.accumulate(np.maximum(bins, 1))  # monotone, non-empty-ish
    energies = np.empty((n_frames, N_BANDS + 1))
    for b in range(N_BANDS + 1):
        lo, hi = bins[b], max(bins[b + 1], bins[b] + 1)
        energies[:, b] = spec[:, lo:hi].sum(axis=1)
    # log compression: raw energies let near-empty bands trade sign
    # bits with the noise floor (measured 8 err-bits/frame at 36 dB
    # SNR vs ~2 with log); gain becomes an additive constant, so
    # difference signs stay EXACT under volume changes
    energies = np.log(energies + 1e-12)
    d = energies[:, :-1] - energies[:, 1:]          # band difference
    dd = d[1:] - d[:-1]                              # time derivative
    bits = (dd > 0).astype(np.uint32)
    weights = (1 << np.arange(N_BANDS, dtype=np.uint32))[None, :]
    return (bits * weights).sum(axis=1, dtype=np.uint32).astype(np.int32)


def fingerprint_wav(payload: bytes) -> np.ndarray:
    """Sub-fingerprint sequence of a PCM WAV payload (repo codec)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        decode_wav,
    )

    samples, rate = decode_wav(payload)
    return subfingerprints(samples, rate)


# ------------------------------------------------------- Spark surface

FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fp", ArrayType(IntegerType())),
    ]
)


def with_audio_fingerprint(
    df: DataFrame, id_col: str, binary_col: str, on_error: str = "raise"
) -> DataFrame:
    """(id, wav payload) → (doc_id, fp: array<int>) via Arrow-batched
    ``mapInPandas`` — same scale shape as the image/audio feature
    extractors (whole record batches per worker; the FFT is the only
    per-payload Python work, and it is numpy-vectorized across the
    clip's frames). ``on_error`` follows
    :func:`~...codecs.decode_policy`: a quarantined clip gets a NULL
    fingerprint, which explodes to zero probe words, so the clip
    survives dedup and ``WHERE fp IS NULL`` recovers the quarantine
    set."""
    decode = decode_policy(fingerprint_wav, on_error)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            fps = [decode(p) for p in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64").to_numpy(),
                    "fp": [None if f is None else f.tolist() for f in fps],
                }
            )

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=FP_SCHEMA
    )


#: Default occurrence cap for probe words: a sub-fingerprint value
#: occurring more than ~this many times across the corpus (station
#: jingles, loops, codec artifacts on common textures — or one clip
#: repeating itself) is a stop-word and is dropped from the probe
#: join — the general form of the silence-word guard, and the audio
#: analog of the video constant-frame guard. Sizing: a word with D
#: occurrences contributes ~D²/2 probe-join rows, so one 4 096-hit
#: jingle word alone costs ~8.4 M rows — more than the ENTIRE
#: measured probe exchange at sf0.1; at the 1 024 default a
#: worst-case hub word costs ~0.5 M rows (noise), while true variant
#: pairs share hundreds of CLIP-SPECIFIC words and need only
#: ``min_probe_frames`` surviving hits, so recall is untouched
#: (pinned on the planted corpus). Detection is SAMPLED (see
#: audio_candidates) — an exact per-word count would itself shuffle
#: a row per distinct word, which the r12 rung measured at +378 MB
#: at sf1 for the first HLL-based cut of this guard.
MAX_WORD_DF = 1024

#: Probe-word count past which audio_candidates shuffles + caches the
#: exploded word table once instead of letting the self-join exchange
#: it per side: ~4M words ≈ 64 MB in-memory — safely past the regime
#: where AQE broadcasts the explode (sf0.1's ~1.1M words measured
#: 0.7 MB total shuffle lazily), and well before the double exchange
#: dominates (sf1's ~11M words measured 501 MB lazily vs 315 cached).
PROBE_CACHE_MIN_WORDS = 4_000_000


def audio_candidates(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_probe_frames: int = 2,
    ber_max: float = 0.25,
    min_overlap_frames: int = 10,
    max_word_df: int | None = MAX_WORD_DF,
    probe_stride: int = 1,
    cache_probe_words: bool | None = None,
) -> DataFrame:
    """Near-dup audio pairs from (id, fp) fingerprint sequences —
    probe-then-verify, the paper's two levels as two joins.

    PROBE: explode to (sub-fingerprint value, frame idx), equi-join
    on the exact 32-bit value, vote the most common ``idx_a − idx_b``
    offset per pair; pairs with ≥ ``min_probe_frames`` bit-exact
    frames at one offset advance (measured: 12 % of frames stay
    bit-exact under 36 dB noise, 3 % at 30 dB — over a ~100-frame
    clip that is 3-14 probe hits; distinct clips essentially never
    produce two hits at a CONSISTENT offset).

    VERIFY: align both sequences at the voted offset and compute the
    aligned bit error rate in one Catalyst fold —
    ``aggregate(zip_with(slice_a, slice_b, bit_count(xor)))`` over
    the overlap — and keep pairs with BER ≤ ``ber_max`` over at
    least ``min_overlap_frames`` frames. Same-recording variants
    measure BER 0.00-0.14 (gain/pad/quantize/noise); distinct audio
    sits at ≈0.5, so the 0.25 default splits cleanly (the paper uses
    0.35 on 3-second blocks).

    The self-join form of :func:`audio_candidates_cross`: one table on
    both sides, pairs ordered ``id_a < id_b`` before the vote. Returns
    (id_a, id_b, ber, offset, overlap_frames).

    Scale shape: probe buckets are tiny for real audio — and
    degenerate values (digital silence → constant words 0/-1) are
    DROPPED before the join, the same hub-removal reasoning as
    stopwords in text LSH; ``max_word_df`` generalizes that guard to
    ANY hub word (loops, jingles, codec artifacts a synthetic corpus
    can't exhibit): deterministic 1-in-(cap/16) row sampling finds
    the heavy hitters (a word AT the cap shows ~Poisson(16) sampled
    occurrences — detected w.p. ≈0.96 at the half cut; words far
    below are essentially never flagged, and the guard's miss
    direction costs only join rows, never recall), the tiny hub list
    broadcasts, and a left-anti join drops those probe rows —
    bounding the join's worst bucket at ~max_word_df²/2 rows no
    matter how adversarial the corpus (``None`` disables). The cap
    is STATISTICAL, not exact, and recall-biased toward catching
    hubs: the cut sits at HALF the cap's expected sampled count, so
    a word at exactly ``max_word_df`` occurrences is flagged w.p.
    ≈0.96, one at HALF the cap w.p. ≈0.40 (P[Poisson(8) > 8]), and
    one at a quarter w.p. ≈0.02 — i.e. the effective threshold is a
    band around cap/2, deliberately: an over-drop costs only probe
    rows (the BER verify and ``min_probe_frames`` vote tolerate
    sparse probes), an under-drop costs the quadratic bucket.
    Treat ``max_word_df`` as an order-of-magnitude knob (r12
    ADVICE: "approximate within ~2x" means the half-cap drop band,
    stated here exactly). Why sampled: an exact per-word count
    shuffles a row per distinct word — measured +38/+378 MB at
    sf0.1/sf1 for the HLL form of this guard, swamping what it
    saves on clean corpora. The vote is one groupBy; the BER join
    touches only voted candidates.

    ``probe_stride`` (r12 verdict task #4) probes only every k-th
    frame's word on the PROBE side (``id_a``; the index side stays
    COMPLETE, so matches at arbitrary offsets are still seen — stride
    BOTH sides and only offsets ≡ 0 mod k could ever vote). The vote
    for the true offset sees ~n_match/k hits instead of n_match;
    planted variants carry tens-to-hundreds of bit-exact frames, so
    recall holds at small strides (pinned identical at stride 2-4 on
    the planted corpus and at sf1). Under the LAZY plan the self-join
    exchange scaled ~(1 + 1/k)/2 — measured 501 → 401 → 350 MB at
    stride 1/2/4 at sf1 — but the partitioned-cache plan (see the
    probe-cache comment below) now subsumes that: the explode
    shuffles ONCE regardless, so stride only trims cached-read rows
    feeding the vote (sf1 cached: 315 → 308 → 303 MB). The default
    stays 1 — with the cache the byte argument is gone and the knob
    would only spend the vote's recall margin; keep it for
    vote-volume control on pathological corpora. The cross shape
    still saves ~1/k of the probe side alone."""
    _check_audio_knobs(min_probe_frames, ber_max, max_word_df, probe_stride)
    # Past the broadcast regime, shuffle the exploded word table ONCE
    # by value, cache it partitioned, and derive BOTH self-join sides
    # from the cache (r13): a plain a.join(b, "v") plans one exchange
    # PER SIDE of the same explode — the repo's largest shuffle,
    # 501 MB at sf1 — because the per-side projections defeat
    # exchange reuse. The partition-preserving cache plans ZERO join
    # exchanges (the InMemory scan reports hashpartitioning(v)) and
    # runs the explode + hub anti-join once instead of twice.
    # Measured at sf1: 501 → 315 MB total shuffle, identical survivor
    # set. Cache cost ~16 B/word (~1.8 KB/clip, MEMORY_AND_DISK so
    # oversize corpora spill instead of evict); released before
    # returning — the verified pair set (vote-bounded, small) is
    # materialized so downstream consumers never re-trigger the
    # explode. BELOW ~4M probe words the old lazy plan stays: AQE
    # broadcasts the small explode (measured 0.7 MB total shuffle at
    # sf0.1) and forcing the repartition there costs wall for nothing
    # (cache_probe_words=None resolves by a one-agg word count over
    # the callers' cached fingerprint table; pass True/False to pin).
    if cache_probe_words is None:
        n_words = fps.agg(F.sum(F.size("fp"))).collect()[0][0] or 0
        cache_probe_words = n_words >= PROBE_CACHE_MIN_WORDS
    ex = _exploded_words(fps, id_col, max_word_df)
    knobs = (id_col, min_probe_frames, ber_max, min_overlap_frames, probe_stride)
    if not cache_probe_words:
        return _probe_vote_verify(ex, ex, fps, fps, *knobs, self_join=True)
    nparts = int(fps.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    ex = ex.repartition(nparts, "v")
    with cached(ex, level=StorageLevel.MEMORY_AND_DISK):
        return _probe_vote_verify(
            ex, ex, fps, fps, *knobs, self_join=True
        ).localCheckpoint(eager=True)


def _check_audio_knobs(
    min_probe_frames: int,
    ber_max: float,
    max_word_df: int | None,
    probe_stride: int = 1,
) -> None:
    """The knob checks of the audio family, run before any decode."""
    if min_probe_frames < 1:
        raise ValueError("min_probe_frames must be positive")
    if not (0.0 < ber_max < 0.5):
        raise ValueError("ber_max must be in (0, 0.5)")
    if max_word_df is not None and max_word_df < 1:
        raise ValueError("max_word_df must be positive (or None to disable)")
    if probe_stride < 1:
        raise ValueError("probe_stride must be >= 1")


def _probe_vote_verify(
    ex_a: DataFrame,
    ex_b: DataFrame,
    fps_a: DataFrame,
    fps_b: DataFrame,
    id_col: str,
    min_probe_frames: int,
    ber_max: float,
    min_overlap_frames: int,
    probe_stride: int,
    broadcast_b: bool = False,
    self_join: bool = False,
) -> DataFrame:
    """The probe → vote → verify chain between two probe-word tables
    (``ex_a``/``ex_b``, exploded from ``fps_a``/``fps_b``): equi-join
    on the word, vote the best offset per pair, keep pairs with ≥
    ``min_probe_frames`` hits, aligned-BER verify. ``probe_stride``
    thins the a (probe) side only, so arbitrary offsets still vote.
    ``self_join`` (both sides are one table) orders pairs
    ``id_a < id_b`` before the vote; ``broadcast_b`` marks the b side
    broadcast-small through both joins."""
    if probe_stride > 1:
        ex_a = ex_a.filter(F.col("idx") % probe_stride == 0)
    a = ex_a.select(
        F.col("v"), F.col(id_col).alias("id_a"), F.col("idx").alias("idx_a")
    )
    b = ex_b.select(
        F.col("v"), F.col(id_col).alias("id_b"), F.col("idx").alias("idx_b")
    )
    matched = a.join(F.broadcast(b) if broadcast_b else b, "v")
    if self_join:
        matched = matched.filter(F.col("id_a") < F.col("id_b"))
    # best offset per pair: max probe hits, ties to the smallest
    # offset (shared vote, operators/dedup_fuzzy.py)
    best = vote_best_offset(
        matched.select(
            "id_a", "id_b", (F.col("idx_a") - F.col("idx_b")).alias("off")
        )
    ).filter(F.col("n_match") >= min_probe_frames)
    fa = fps_a.select(F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"))
    fb = fps_b.select(F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"))
    return _ber_verify(
        best, fa, fb, ber_max, min_overlap_frames, broadcast_b=broadcast_b
    )


def hub_sampling_params(max_word_df: int) -> tuple[int, int]:
    """(rate_inv, cut) of the sampled heavy-hitter ``max_word_df``
    guard — rate 1-in-(cap/16) concentrates true hubs while the
    sampled aggregate's shuffle stays ~rate × the explode (trivial);
    the cut sits at HALF the cap's expected sampled count (see
    :func:`audio_candidates` for the exact drop-probability band).
    ``rate_inv == 1`` (small caps) degenerates to the exact
    occurrence count with an exact cut. Public because the
    incremental ingest state (dedup_incremental.py) persists sampled
    counts keyed by ``rate_inv`` and must reproduce the cut."""
    rate_inv = max(1, max_word_df // 16)
    cut = max_word_df if rate_inv == 1 else max(1, max_word_df // (2 * rate_inv))
    return rate_inv, cut


def _raw_words(fps: DataFrame, id_col: str) -> DataFrame:
    """(id, idx, v) probe words with the degenerate-value drop:
    sub-fingerprints of digital silence / constant tones (0 or -1 =
    all-bits patterns) hub the join and carry no identity."""
    ex = fps.select(F.col(id_col), F.posexplode("fp").alias("idx", "v"))
    return ex.filter(~F.col("v").isin(0, -1))


def sampled_word_counts(
    fps: DataFrame, id_col: str, max_word_df: int
) -> DataFrame:
    """Per-word sampled occurrence counts ``(v, n_sampled)`` — the
    PERSISTABLE half of the hub guard. Sampling is deterministic via
    ``xxhash64(id, idx, 7)``, so counts taken over disjoint row sets
    SUM to the counts over their union: the incremental ingest path
    stores one count table per committed batch and aggregates them
    instead of re-exploding the full state each ingest (r12
    ADVICE)."""
    rate_inv, _ = hub_sampling_params(max_word_df)
    ex = _raw_words(fps, id_col)
    sampled = ex if rate_inv == 1 else ex.filter(
        F.pmod(F.xxhash64(id_col, "idx", F.lit(7)), F.lit(rate_inv)) == 0
    )
    return sampled.groupBy("v").agg(F.count("*").alias("n_sampled"))


def hubs_from_counts(counts: DataFrame, max_word_df: int) -> DataFrame:
    """Hub words ``(v)`` from (possibly pre-aggregated, possibly
    multi-batch) sampled counts: sum per word, threshold at the cut.
    ``hubs_from_counts(sampled_word_counts(fps, ...))`` is bit-equal
    to the inline detection in :func:`_exploded_words`."""
    _, cut = hub_sampling_params(max_word_df)
    return (
        counts.groupBy("v")
        .agg(F.sum("n_sampled").alias("_n"))
        .filter(F.col("_n") > cut)
        .select("v")
    )


def _exploded_words(
    fps: DataFrame,
    id_col: str,
    max_word_df: int | None,
    hubs: DataFrame | None = None,
) -> DataFrame:
    """(id, idx, v) probe words from a fingerprint table, with the
    degenerate-word drop and (optionally) the sampled heavy-hitter
    ``max_word_df`` guard applied — the shared probe front end of the
    self-join (:func:`audio_candidates`) and cross-table
    (:func:`audio_candidates_cross`) paths. ``hubs`` short-circuits
    detection with a precomputed hub-word table (the incremental
    ingest path maintains one per state, so the ever-growing state
    explode never re-aggregates)."""
    ex = _raw_words(fps, id_col)
    if hubs is not None:
        return ex.join(F.broadcast(hubs), "v", "left_anti")
    if max_word_df is not None:
        detected = hubs_from_counts(
            sampled_word_counts(fps, id_col, max_word_df), max_word_df
        )
        ex = ex.join(F.broadcast(detected), "v", "left_anti")
    return ex


def _ber_verify(
    best: DataFrame,
    fa: DataFrame,
    fb: DataFrame,
    ber_max: float,
    min_overlap_frames: int,
    broadcast_b: bool = False,
) -> DataFrame:
    """Aligned-BER verification of voted candidate pairs: join the
    (id_a, fp_a) / (id_b, fp_b) frames back, align at the voted
    offset, and score the bit error rate in one Catalyst fold.
    ``broadcast_b`` marks the b side as broadcast-tiny (the eval set
    in decontamination). Returns
    (id_a, id_b, ber, offset, overlap_frames) under the thresholds."""
    j = best.join(fa, "id_a").join(
        F.broadcast(fb) if broadcast_b else fb, "id_b"
    )
    # overlap under alignment idx_a = idx_b + offset (1-indexed slices)
    start_a = F.greatest(F.col("offset"), F.lit(0)) + 1
    start_b = F.greatest(-F.col("offset"), F.lit(0)) + 1
    length = F.least(
        F.size("fp_a") - start_a + 1, F.size("fp_b") - start_b + 1
    )
    # bit_count sign-extends INT to 64 bits (bit_count(-1::int) = 64,
    # measured), so mask the xor to its low 32 bits first
    errs = F.aggregate(
        F.zip_with(
            F.slice("fp_a", start_a, F.greatest(length, F.lit(0))),
            F.slice("fp_b", start_b, F.greatest(length, F.lit(0))),
            lambda x, y: F.bit_count(
                x.bitwiseXOR(y).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = j.select(
        "id_a",
        "id_b",
        (errs / (F.greatest(length, F.lit(1)) * N_BANDS).cast("double")).alias(
            "ber"
        ),
        "offset",
        length.alias("overlap_frames"),
    )
    return scored.filter(
        (F.col("ber") <= ber_max)
        & (F.col("overlap_frames") >= min_overlap_frames)
    )


def audio_candidates_cross(
    fps_a: DataFrame,
    fps_b: DataFrame,
    id_col: str = "doc_id",
    min_probe_frames: int = 2,
    ber_max: float = 0.25,
    min_overlap_frames: int = 10,
    max_word_df: int | None = None,
    broadcast_b: bool = True,
    hubs_b: DataFrame | None = None,
    probe_stride: int = 1,
) -> DataFrame:
    """Cross-table near-dup audio pairs: same probe-vote-verify chain
    as :func:`audio_candidates`, but between TWO fingerprint tables
    (id_a from ``fps_a``, id_b from ``fps_b``). No ``id_a < id_b``
    ordering: the sides are distinct tables and every (a, b) hit
    matters. ``broadcast_b`` (default on) marks ``fps_b`` as the
    small side — the eval set in decontamination — broadcasting it
    through both the probe join and the verify join; pass False when
    neither side is broadcast-small (e.g. accepted-state tables,
    which ride the keyed shuffle instead).

    ``max_word_df`` defaults OFF here (contrast the self-join's
    default-on): the cross shape's worst bucket is
    df_a(w)·df_b(w) — bounded by the SMALLER side's occurrences, not
    the corpus squared — and in decontamination a dropped word can
    only cost recall, which is the one property the pass exists
    for. ``hubs_b`` (with ``max_word_df`` set) supplies a
    PRECOMPUTED hub-word table for the b side — the incremental
    ingest path maintains one per state so the corpus-sized state
    explode is never re-aggregated per batch; the a side still
    detects inline (a batch is small). ``probe_stride`` strides the
    a (probe) side's frames like :func:`audio_candidates` — the b
    (index) side stays complete so arbitrary offsets still vote."""
    _check_audio_knobs(min_probe_frames, ber_max, max_word_df, probe_stride)
    hubs = hubs_b if max_word_df is not None else None
    return _probe_vote_verify(
        _exploded_words(fps_a, id_col, max_word_df),
        _exploded_words(fps_b, id_col, max_word_df, hubs=hubs),
        fps_a, fps_b,
        id_col, min_probe_frames, ber_max, min_overlap_frames, probe_stride,
        broadcast_b=broadcast_b,
    )


def decontaminate_audio(
    corpus: DataFrame,
    eval_clips: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    min_probe_frames: int = 2,
    ber_max: float = 0.25,
    max_word_df: int | None = None,
    broadcast_ids: bool = True,
    on_error: str = "raise",
) -> DataFrame:
    """Drop corpus clips that match any EVAL-set clip under the
    probe-vote-verify rule of :func:`audio_candidates_cross` (aligned
    BER ≤ ``ber_max`` after ≥ ``min_probe_frames`` bit-exact probe
    hits at one offset) — the audio twin of
    :func:`~...video_dedup.decontaminate_videos`. Returns the clean
    corpus rows (lifecycle:
    :func:`~...dedup_fuzzy.drop_signed_duplicates`).

    Recall first: the ``max_word_df`` hub guard defaults OFF, because
    a dropped probe word can only cost recall (a silent benchmark
    leak) and the cross shape's buckets are already bounded by the
    small eval side; the degenerate silence words are still dropped.
    ``on_error`` quarantines CORPUS clips only: a quarantined eval
    clip would probe nothing and let its corpus near-duplicates leak,
    so a corrupt eval set raises."""
    _check_audio_knobs(min_probe_frames, ber_max, max_word_df)
    return drop_signed_duplicates(
        corpus, id_col,
        [with_audio_fingerprint(corpus, id_col, binary_col, on_error=on_error),
         with_audio_fingerprint(eval_clips, id_col, binary_col)],
        lambda fps_c, fps_e, *_counts: audio_candidates_cross(
            fps_c, fps_e, "doc_id",
            min_probe_frames=min_probe_frames,
            ber_max=ber_max,
            max_word_df=max_word_df,
        ),
        broadcast_ids=broadcast_ids,
    )


def dedup_audio(
    clips: DataFrame,
    id_col: str,
    binary_col: str,
    ber_max: float = 0.25,
    min_probe_frames: int = 2,
    max_word_df: int | None = MAX_WORD_DF,
    probe_stride: int = 1,
    on_error: str = "raise",
) -> DataFrame:
    """Near-duplicate AUDIO dedup: clips matched by
    :func:`audio_candidates` (aligned BER ≤ ``ber_max`` after ≥
    ``min_probe_frames`` bit-exact probe hits at one offset) form
    clusters, and the min id of each survives (lifecycle:
    :func:`~...dedup_fuzzy.drop_signed_duplicates`). ``max_word_df``
    and ``probe_stride`` are the probe guards documented there."""
    _check_audio_knobs(min_probe_frames, ber_max, max_word_df, probe_stride)
    return drop_signed_duplicates(
        clips, id_col,
        [with_audio_fingerprint(clips, id_col, binary_col, on_error=on_error)],
        lambda fps, _n: audio_candidates(
            fps, "doc_id",
            min_probe_frames=min_probe_frames,
            ber_max=ber_max,
            max_word_df=max_word_df,
            probe_stride=probe_stride,
        ),
    )
