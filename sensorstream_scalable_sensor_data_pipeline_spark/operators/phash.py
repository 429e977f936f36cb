"""Perceptual image hashing + near-duplicate image dedup.

The LAION-style capability every multimodal training corpus needs:
detect images that are the SAME picture re-encoded, resized, or
quality-degraded (classic pHash/dHash family), then keep one canonical
copy per cluster. Text near-dup (MinHash/SimHash) can't see this —
two encodings of one photo share no bytes.

Algorithms (both public classics):

* **pHash** (DCT hash, pHash.org / imagehash lineage): grayscale →
  area-mean resize to 32×32 → 2-D orthonormal DCT-II → keep the
  top-left 8×8 low-frequency block → bit i = coeff_i > median(block).
  Low-frequency structure survives re-encoding and rescaling, so
  near-duplicate images land within a few bits.
* **dHash** (difference hash, Krawetz): grayscale → area-mean resize
  to 8×9 → bit (r,c) = px[r,c] > px[r,c+1] (horizontal gradient
  signs). Cheaper, no DCT; slightly less robust to rescaling.

Both emit a SIGNED 64-bit long (Spark has no unsigned), so Hamming
distance is ``bit_count(a ^ b)`` — one codegen expression.

Scale design — identical shape to the proven SimHash path
(operators/dedup_fuzzy.py): hashes are computed executor-side over
Arrow-batched ``mapInPandas`` (the decode is the only genuinely
non-vectorizable step: codec calls), then candidate pairs come from
the rotating-block pigeonhole join — a 64-bit hash cut into
``max_hamming+1`` disjoint blocks; two hashes within the bound differ
in at most ``max_hamming`` blocks so at least one block matches
exactly, and the blocked equi-join (never all-pairs) has recall 1.0
at the bound. At 100 TB of images nothing here is pairwise: hashing
is a scan, candidates are a keyed self-join on (blk, val), the
verifier is one xor+bit_count per surviving pair, and the closure is
the shared :func:`~...dedup_fuzzy.dup_components`.

Reference tie: the reference pipeline (main_pipeline.py:1-369)
ingests structured sensor rows and has no image stage; this module
belongs to the training-data-pipeline extension surface (SURVEY
§2.12 multimodal scope, VERDICT r10 top-next).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    decode_policy,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
    blocked_hamming_matches,
    drop_signed_duplicates,
    simhash_candidates,
)

# --------------------------------------------------------- pixel math


def synth_image(seed: int, h: int = 96, w: int = 128) -> np.ndarray:
    """Deterministic structured synthetic image, seeded — the shared
    fixture generator for the pHash tests and the ``dedup_phash``
    bench head (the container ships no media testdata).

    Two components: Gaussian blobs (smooth, image-like structure —
    perceptual hashing needs low-frequency content, which pure noise
    lacks) PLUS a seeded random low-frequency spectrum rendered
    through the inverse 32-point DCT. The spectrum term matters at
    corpus scale: blobs alone live in a tiny perceptual subspace and
    distinct seeds collide within the dedup threshold once the corpus
    reaches tens of thousands (measured: 24/44 850 distinct pairs
    within 8 bits, which over-merges the planted clusters); injecting
    entropy directly into the hashed 8×8 low-frequency block pushes
    distinct images apart (min pairwise distance 14 over 400 seeds,
    0 pairs ≤ 8 bits) while format-level variants still drift ≤ 6."""
    r = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w))
    for _ in range(6):
        cy, cx = r.uniform(0, h), r.uniform(0, w)
        amp, sig = r.uniform(40, 120), r.uniform(10, 40)
        img += amp * np.exp(-((y - cy) ** 2 + (x - cx) ** 2) / (2 * sig**2))
    spec = np.zeros((32, 32))
    spec[:8, :8] = r.normal(0, 1, (8, 8))
    spec[0, 0] = 0.0
    lf = _DCT32.T @ spec @ _DCT32
    ri = (np.arange(h) * 32) // h
    ci = (np.arange(w) * 32) // w
    img += 60.0 * lf[ri][:, ci] / (np.abs(lf).max() + 1e-9)
    img = (img - img.min()) / (np.ptp(img) + 1e-9) * 255
    return np.repeat(img[:, :, None], 3, axis=2).astype(np.uint8)


def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal n-point DCT-II basis (same construction as the
    8-point basis in operators/jpeg.py, generalized): row k is
    ``s_k * cos((2j+1) k π / 2n)`` with s_0=√(1/n), s_k=√(2/n)."""
    j = np.arange(n)
    k = j.reshape(-1, 1)
    basis = np.cos((2 * j + 1) * k * np.pi / (2 * n))
    basis[0] *= np.sqrt(1.0 / n)
    basis[1:] *= np.sqrt(2.0 / n)
    return basis


_DCT32 = _dct_basis(32)


def _to_gray(img: np.ndarray) -> np.ndarray:
    """(h,w[,3]) uint8 → float64 luma (ITU-R BT.601 weights, the
    JPEG/pHash convention). Already-2-D images pass through."""
    if img.ndim == 2:
        return img.astype(np.float64)
    rgb = img[:, :, :3].astype(np.float64)
    return rgb @ np.array([0.299, 0.587, 0.114])


def _area_resize(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Box/area-mean downsample to (out_h, out_w) — the smoothing
    resize perceptual hashing needs (nearest-neighbor aliases: a
    0.9× rescaled variant would sample DIFFERENT source pixels and
    drift many bits). Bin edges by floor(i·n/out); inputs smaller
    than the target are nearest-upsampled first so no bin is empty."""
    h, w = gray.shape
    if h < out_h or w < out_w:
        ri = np.minimum((np.arange(max(out_h, h)) * h) // max(out_h, h), h - 1)
        ci = np.minimum((np.arange(max(out_w, w)) * w) // max(out_w, w), w - 1)
        gray = gray[ri][:, ci]
        h, w = gray.shape
    re = (np.arange(out_h + 1) * h) // out_h
    ce = (np.arange(out_w + 1) * w) // out_w
    # integral image → exact block sums in O(out_h·out_w)
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = gray.cumsum(0).cumsum(1)
    sums = ii[re[1:, None], ce[None, 1:]] - ii[re[:-1, None], ce[None, 1:]] \
        - ii[re[1:, None], ce[None, :-1]] + ii[re[:-1, None], ce[None, :-1]]
    areas = (re[1:] - re[:-1])[:, None] * (ce[1:] - ce[:-1])[None, :]
    return sums / areas


def _bits_to_long(bits: np.ndarray) -> int:
    """64 bools (MSB first) → SIGNED 64-bit int (Spark long)."""
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def phash64_pixels(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash of a decoded image array."""
    g = _area_resize(_to_gray(img), 32, 32)
    low = (_DCT32 @ g @ _DCT32.T)[:8, :8].ravel()
    return _bits_to_long(low > np.median(low))


def dhash64_pixels(img: np.ndarray) -> int:
    """64-bit difference (gradient-sign) hash of a decoded image."""
    g = _area_resize(_to_gray(img), 8, 9)
    return _bits_to_long((g[:, 1:] > g[:, :-1]).ravel())


def _decode_any(payload: bytes) -> np.ndarray:
    """Decode BMP/PNG/JPEG via the repo codecs (operators/codecs.py,
    operators/jpeg.py); other magics raise NotImplementedError with
    the same contract as operators/multimodal.py::decode_image."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        decode_bmp,
        decode_png,
        sniff_format,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
    )

    kind = sniff_format(payload)
    decoders = {"bmp": decode_bmp, "png": decode_png, "jpeg": decode_jpeg}
    if kind not in decoders:
        raise NotImplementedError(
            "perceptual hashing decodes uncompressed BMP, PNG, and "
            "baseline/progressive JPEG (the repo codecs); other formats "
            "need external codec libraries"
        )
    return decoders[kind](payload)


def phash64_bytes(payload: bytes) -> int:
    """pHash of an encoded image payload (decode + hash)."""
    return phash64_pixels(_decode_any(payload))


def dhash64_bytes(payload: bytes) -> int:
    """dHash of an encoded image payload (decode + hash)."""
    return dhash64_pixels(_decode_any(payload))


# ------------------------------------------------------- Spark surface

PHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("phash", LongType())]
)


def with_phash(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    algo: str = "phash",
    on_error: str = "raise",
) -> DataFrame:
    """(id, payload) → (doc_id, phash) via Arrow-batched
    ``mapInPandas`` — whole record batches per python worker, the
    per-payload decode is the only Python loop (same scale shape as
    operators/multimodal.py::extract_features). ``algo`` picks
    ``"phash"`` (DCT) or ``"dhash"`` (gradient). ``on_error`` follows
    :func:`~...codecs.decode_policy`: a quarantined payload gets a NULL
    hash, which never equi-joins, so the row survives every candidate
    join and ``WHERE phash IS NULL`` recovers the quarantine set."""
    if algo not in ("phash", "dhash"):
        raise ValueError(f"algo must be 'phash' or 'dhash' (got {algo!r})")
    decode = decode_policy(
        phash64_bytes if algo == "phash" else dhash64_bytes, on_error
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64").to_numpy(),
                    "phash": pd.array(
                        [decode(p) for p in pdf[binary_col]], dtype="Int64"
                    ),
                }
            )

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=PHASH_SCHEMA
    )


def phash_candidates(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 10,
    hash_col: str = "phash",
) -> DataFrame:
    """Candidate near-dup image pairs from a (id, phash) frame —
    guaranteed recall 1.0 at ``hamming <= max_hamming`` via the
    rotating-block pigeonhole join (the SimHash construction,
    operators/dedup_fuzzy.py::simhash_candidates, reused verbatim:
    the blocking is a property of 64-bit Hamming space, not of the
    hash that produced the code). Returns (id_a, id_b, hamming);
    filter on hamming to taste — pHash practice: ≤10 near-dup.
    ``max_hamming=0`` is exact-duplicate matching, one equi-join on
    the hash."""
    if max_hamming == 0:
        return blocked_hamming_matches(
            hashes, hashes, 0, hash_col=hash_col, id_col=id_col
        ).filter(F.col("id_a") < F.col("id_b"))
    return simhash_candidates(
        hashes.select(F.col(id_col), F.col(hash_col).alias("simhash")),
        id_col,
        bits=64,
        max_hamming=max_hamming,
    )


# ------------------------------------------- candidate-method choice

#: Intermediate-row budget for ``method="auto"``: above this estimate
#: the pigeonhole join's bucket term dominates the decode scan and
#: auto switches to banded LSH. Basis (r11 sf1 rung): at 200 k images
#: / max_hamming=8 the uniform-model estimate below gives 1.4e9 rows
#: — exactly what the rung measured — and wall clock ran 6.2× at 10×
#: data vs banded's 2.1×; at the budget point (~84 k images at b=8)
#: the bucket term is ~2.5e8 rows, where candidate-join time starts
#: to rival the decode scan. Real corpora skew worse than the uniform
#: model (correlated pHash bits pile into fewer buckets), so the
#: budget errs low.
AUTO_CANDIDATE_ROW_BUDGET = 250_000_000


def pigeonhole_row_estimate(
    n_a: int, max_hamming: int, n_b: int | None = None, bits: int = 64
) -> float:
    """Expected intermediate rows of the rotating-block pigeonhole
    join under a uniform-bit model: ``bits`` split into ``b+1``
    blocks of ``w = bits // (b+1)`` key bits, each block's equi-join
    emitting ~n_a·n_b/2^w rows. ``n_b=None`` means self-join (halved
    by the ``id_a < id_b`` filter). Validated against the r11
    measurement: n=200 k, b=8 → 1.4e9, the observed 1.4 G rows."""
    blocks = max_hamming + 1
    w = bits // blocks
    nb = n_a if n_b is None else n_b
    est = blocks * float(n_a) * float(nb) / (2**w)
    return est / 2.0 if n_b is None else est


def choose_phash_method(
    n_a: int,
    max_hamming: int,
    n_b: int | None = None,
    row_budget: float = AUTO_CANDIDATE_ROW_BUDGET,
) -> str:
    """The ``method="auto"`` decision: pigeonhole (recall 1.0 at the
    bound) while its estimated bucket term fits ``row_budget``, banded
    sampled-bit LSH (recall ≥ the sized target, subquadratic) beyond.
    The estimate needs only corpus counts — a cheap pre-flight on the
    already-persisted hash table, the same measured-pre-flight pattern
    as operators/asof.py's ``bucket_seconds="auto"``."""
    est = pigeonhole_row_estimate(n_a, max_hamming, n_b)
    return "pigeonhole" if est <= row_budget else "banded"


def auto_banded_params(
    n: int,
    max_hamming: int,
    target_recall: float = 0.95,
    bits: int = 64,
    max_bands: int = 96,
    n_b: int | None = None,
) -> tuple[int, int]:
    """Size the banded-LSH knobs — (bands L, bits_per_band k) — from
    corpus size and radius so ``target_recall`` at the DECLARED bound
    always holds (never silently degraded by a cap):

    * a pair at exactly the bound collides in one band with
      ``p(k) = C(bits-d, k) / C(bits, k)`` (the k positions are
      sampled WITHOUT replacement), so ``L(k) = ceil(ln(1-target) /
      ln(1-p(k)))`` bands meet the target — stricter than r11's
      hand-picked (12, 16), which targeted the ≤6-bit MEASURED
      variant drift rather than the ≤8-bit contract;
    * k is chosen by cost search over [16, 32]: expected RANDOM-pair
      candidate rows fall ~2× per extra key bit (n²·L/2^(k+1)) while
      the explode/shuffle term grows only ~1.15× (n·L), so the
      search minimizes their sum — bigger corpora land on bigger k,
      the "k scales with log₂(n)" doctrine made quantitative.
      ``n_b`` switches the random-pair term to the CROSS-join form
      n·n_b·L/2^k (both sides' counts matter — sizing a corpus×eval
      join from the small side alone under-picks k by orders).

    Raises when no k ≤ 32 meets the target within ``max_bands`` —
    true for ``max_hamming ≥ 11`` on 64-bit codes at the default
    0.95 target (L(16) is already 116 at d=11; review-verified — an
    earlier draft claimed ≥13), where banded LSH cannot cheaply
    separate the radius and the caller should lower the bound or pay
    the pigeonhole term. (At ≥10⁸ images even the chosen config
    verifies O(100) candidates/image — the honest price of
    radius-8-of-64; WIDER codes, not more bands, are the remedy past
    that scale.)"""
    import math

    if target_recall <= 0.0 or target_recall >= 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    best = None
    for k in range(16, 33):
        p = 1.0
        for i in range(k):
            p *= (bits - max_hamming - i) / (bits - i)
        if p <= 0.0:
            break
        if p >= 1.0:
            return 1, k
        bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p))
        if bands > max_bands:
            break  # L(k) grows with k — larger k only needs more bands
        pair_base = (
            float(n) * n / 2.0 if n_b is None else float(n) * float(n_b)
        )
        rand_rows = pair_base * min(1.0, bands / 2.0**k)
        cost = rand_rows + (float(n) + float(n_b or 0)) * bands
        if best is None or cost < best[0]:
            best = (cost, bands, k)
    if best is None:
        raise ValueError(
            f"banded LSH cannot reach recall {target_recall} at "
            f"hamming<={max_hamming} on {bits}-bit codes within "
            f"{max_bands} bands; lower the bound or use pigeonhole"
        )
    return best[1], best[2]


def resolve_phash_method(
    max_hamming: int,
    n_a: int,
    n_b: int | None = None,
    row_budget: float = AUTO_CANDIDATE_ROW_BUDGET,
) -> tuple[str, int | None, int | None]:
    """Resolve ``method="auto"`` to a concrete candidate generator
    plus banded knobs: ``(method, bands, bits_per_band)`` — the ONE
    place the auto doctrine lives, shared by :func:`dedup_phash` and
    :func:`~...dedup_incremental.ingest_image_batch`'s two joins.

    Pigeonhole (recall 1.0) while :func:`pigeonhole_row_estimate`
    fits ``row_budget``; banded beyond — UNLESS
    :func:`auto_banded_params` finds no feasible config at the radius
    (``max_hamming ≥ 11`` on 64-bit codes at the 0.95 target), in
    which case auto falls BACK to pigeonhole: the guaranteed-recall
    quadratic term is then the only correct generator, and auto must
    never turn a call that worked under the old pigeonhole default
    into a ValueError (review-found). Callers passing
    ``method="banded"`` explicitly still get the raise — they asked
    for a cost envelope pigeonhole cannot honor.

    Resolving to banded is a BEHAVIORAL switch for default-knob
    callers — guaranteed recall 1.0 becomes a ≥0.95 sized target —
    so it emits a ``RuntimeWarning`` naming both the corpus size that
    tripped the budget and the pin-out (``method="pigeonhole"``) for
    recall-critical callers (r12 ADVICE)."""
    if choose_phash_method(n_a, max_hamming, n_b, row_budget) == "pigeonhole":
        return "pigeonhole", None, None
    try:
        bands, bits = auto_banded_params(n_a, max_hamming, n_b=n_b)
    except ValueError:
        return "pigeonhole", None, None
    import warnings

    warnings.warn(
        f"method='auto' resolved to banded LSH (corpus {n_a:,}"
        + (f" x {n_b:,}" if n_b is not None else "")
        + f" exceeds the ~{row_budget:.1e} candidate-row budget at "
        f"hamming<={max_hamming}): recall drops from the pigeonhole "
        "guarantee of 1.0 to a sized >=0.95 target at the bound; "
        "recall-critical callers should pin method='pigeonhole'",
        RuntimeWarning,
        stacklevel=3,
    )
    return "banded", bands, bits


def phash_candidates_banded(
    hashes: DataFrame,
    id_col: str = "doc_id",
    bands: int = 12,
    bits_per_band: int = 16,
    seed: int = 7,
    hash_col: str = "phash",
) -> DataFrame:
    """Probabilistic candidate pairs — the SCALE path past the exact
    pigeonhole join's quadratic wall.

    Why it exists: guaranteed recall at Hamming radius b on a W-bit
    hash forces block keys of W/(b+1) bits (multi-index hashing's
    known tradeoff — Norouzi et al.), so the bucket self-join costs
    ~n²·(b+1)/2^(W/(b+1)) REGARDLESS of how uniform the hash is: at
    64 bits / b=8 that is 7-bit keys, measured 1.4 G intermediate
    rows at just 200 k images (the sf1 rung's 5.6× super-linear
    wall). And widening the hash doesn't escape — perceptual drift
    grows with hash width, so W/(b+1) stays ~constant.

    The standard subquadratic answer is banded bit-sampling LSH (the
    MinHash-band construction transplanted to Hamming space): each of
    ``bands`` keys packs ``bits_per_band`` SAMPLED bit positions
    (deterministic from ``seed``); a pair at Hamming distance d
    collides in one band with p = 1−(1−((W−d)/W)^k)^L — at k=16,
    L=12: ≈0.94 at d=6, ≈0.995 at d=4, →1 at d≤2 (re-encode variants
    measure d≤4 typical, ≤6 worst) — while random 50 %-agreement
    pairs collide at ~L/2^k = 12/65 536, i.e. ~200× fewer candidate
    rows than the b=8 pigeonhole at 200 k images. ``bits_per_band``
    is the knob that scales with log₂(n) — :func:`auto_banded_params`
    sizes both knobs analytically; the exact verifier downstream
    keeps precision exact either way.

    The self-join form of :func:`banded_hamming_matches`: the same
    keys over one table, pairs ordered ``id_a < id_b``, and no
    Hamming bound (the caller filters). Returns (id_a, id_b, hamming)."""
    return banded_hamming_matches(
        hashes, hashes, 64, bands, bits_per_band, seed, hash_col, id_col
    ).filter(F.col("id_a") < F.col("id_b"))


def banded_hamming_matches(
    a: DataFrame,
    b: DataFrame,
    max_hamming: int,
    bands: int = 12,
    bits_per_band: int = 16,
    seed: int = 7,
    hash_col: str = "phash",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-table banded sampled-bit LSH (see
    :func:`phash_candidates_banded`): each of ``bands`` keys packs
    ``bits_per_band`` bit positions of ``hash_col`` sampled
    deterministically from ``seed``, both sides equi-join on the keys,
    and the exact Hamming verify keeps pairs ≤ ``max_hamming``. The
    subquadratic form of :func:`~...dedup_fuzzy.blocked_hamming_matches`
    for when both sides are large (a big ingest batch against a
    billion-hash state table, where the pigeonhole bilinear term
    n_a·n_b·(b+1)/2^w explodes). Precision exact, recall = the banded
    collision probability at the bound. Returns (id_a, id_b,
    hamming)."""
    import random

    if not (1 <= bits_per_band <= 62):
        raise ValueError("bits_per_band must be in [1, 62]")
    rng = random.Random(seed)
    specs = []
    for bi in range(bands):
        key = F.lit(0).cast("long")
        for j, p in enumerate(rng.sample(range(64), bits_per_band)):
            key = key + F.shiftleft(
                F.shiftrightunsigned(F.col(hash_col), p).bitwiseAND(F.lit(1)),
                j,
            )
        specs.append(F.struct(F.lit(bi).alias("blk"), key.alias("val")))

    def blocked(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(hash_col).alias(f"h_{side}"),
            F.explode(F.array(*specs)).alias("_b"),
        ).select(
            f"id_{side}",
            f"h_{side}",
            F.col("_b.blk").alias("blk"),
            F.col("_b.val").alias("val"),
        )

    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        blocked(a, "a")
        .join(blocked(b, "b"), ["blk", "val"])
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.alias("hamming"))
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def _check_image_knobs(method: str, max_hamming: int) -> None:
    """The knob checks of the image family, run before any decode."""
    if method not in ("auto", "pigeonhole", "banded"):
        raise ValueError(
            f"method must be 'auto', 'pigeonhole' or 'banded' (got {method!r})"
        )
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 63] (got {max_hamming})")


def dedup_phash(
    images: DataFrame,
    id_col: str,
    binary_col: str,
    max_hamming: int = 10,
    algo: str = "phash",
    method: str = "auto",
    bands: int | None = None,
    bits_per_band: int | None = None,
    band_seed: int = 7,
    row_budget: float = AUTO_CANDIDATE_ROW_BUDGET,
    on_error: str = "raise",
    return_quarantined: bool = False,
) -> DataFrame:
    """Near-duplicate IMAGE dedup: images whose hashes lie within
    ``max_hamming`` bits form clusters, and the min id of each
    cluster survives (lifecycle:
    :func:`~...dedup_fuzzy.drop_signed_duplicates`). Returns the
    surviving rows of ``images``.

    ``method`` picks the candidate generator: ``"pigeonhole"`` is
    :func:`phash_candidates` — recall GUARANTEED 1.0 at the bound,
    cost ~n²(b+1)/2^(64/(b+1)) (right up to ~10⁵ images);
    ``"banded"`` is :func:`phash_candidates_banded` — recall ≥ the
    sized target at the bound but subquadratic. ``"auto"`` (default)
    feeds the eager count of the hash table to
    :func:`resolve_phash_method` (r11: the pigeonhole ran 6.2× wall at
    10× data, 1.4 G intermediate rows at 200 k images), falling back
    to pigeonhole where banded cannot reach the recall target
    (``max_hamming ≥ 11``); only an EXPLICIT ``method="banded"``
    raises there. Precision is exact under every method.

    ``bands`` / ``bits_per_band`` tune the banded generator; left
    ``None`` they are sized by :func:`auto_banded_params` at a 0.95
    recall target AT THE BOUND.

    ``return_quarantined=True`` (with ``on_error="quarantine"``)
    returns ``(survivors, quarantined_ids)``: the (doc_id) frame of
    the payloads whose decode failed, checkpointed while the hash
    cache is still hot, so reading it costs no re-decode."""
    _check_image_knobs(method, max_hamming)

    def pairs(hashes: DataFrame, n: int) -> DataFrame:
        how, auto_bands, auto_bits = method, None, None
        if method == "auto":
            how, auto_bands, auto_bits = resolve_phash_method(
                max_hamming, n, row_budget=row_budget
            )
        elif method == "banded" and (bands is None or bits_per_band is None):
            auto_bands, auto_bits = auto_banded_params(n, max_hamming)
        if how == "pigeonhole":
            cand = phash_candidates(hashes, "doc_id", max_hamming=max_hamming)
        else:
            cand = phash_candidates_banded(
                hashes, "doc_id",
                bands=auto_bands if bands is None else bands,
                bits_per_band=auto_bits if bits_per_band is None else bits_per_band,
                seed=band_seed,
            )
        return cand.filter(F.col("hamming") <= max_hamming)

    def quarantined(hashes: DataFrame) -> DataFrame:
        return (
            hashes.filter(F.col("phash").isNull())
            .select("doc_id")
            .localCheckpoint(eager=True)
        )

    return drop_signed_duplicates(
        images, id_col,
        [with_phash(images, id_col, binary_col, algo=algo, on_error=on_error)],
        pairs,
        while_cached=quarantined if return_quarantined else None,
    )

