"""Perceptual-hash image dedup (operators/phash.py).

Oracle strategy: the hash itself is pinned on PLANTED near-duplicates
— the same picture re-encoded (JPEG q85/q50, BMP) and rescaled (via
the repo codecs, so the variants are real format round-trips, not
byte tweaks) must land within a few bits while independently-generated
images land far away; the blocked candidate generator's recall-1.0
guarantee is property-tested directly in Hamming space (pigeonhole —
same construction as SimHash, tests/test_property_pure.py); the
end-to-end dedup is checked against the planted cluster structure.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    encode_bmp,
    encode_png,
    resize_nearest,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.jpeg import encode_jpeg
from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
    dedup_phash,
    synth_image,
    dhash64_bytes,
    phash64_bytes,
    phash64_pixels,
    phash_candidates,
    with_phash,
)


make_img = synth_image  # shared fixture generator (operators/phash.py)


def ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def variants(img: np.ndarray) -> dict[str, bytes]:
    h, w = img.shape[:2]
    return {
        "jpeg85": encode_jpeg(img, quality=85, subsampling="420"),
        "jpeg50": encode_jpeg(img, quality=50, subsampling="420"),
        "bmp": encode_bmp(img),
        "resized75": encode_png(resize_nearest(img, h * 3 // 4, w * 3 // 4)),
        "resized50": encode_png(resize_nearest(img, h // 2, w // 2)),
    }


def test_phash_variants_close_distinct_far():
    """The perceptual contract: every re-encode/rescale of one picture
    stays within a handful of bits of the original; independently
    generated pictures are far (≥ the dedup threshold)."""
    base = make_img(1)
    p0 = phash64_pixels(base)
    for name, payload in variants(base).items():
        d = ham(p0, phash64_bytes(payload))
        assert d <= 6, f"{name}: pHash drifted {d} bits"
    for seed in range(2, 10):
        d = ham(p0, phash64_pixels(make_img(seed)))
        assert d > 10, f"seed {seed}: distinct image only {d} bits away"


def test_dhash_variants_close():
    """dHash (gradient signs, no DCT) also survives re-encoding —
    slightly weaker separation than pHash on smooth synthetics, so
    only variant-closeness is pinned here."""
    base = make_img(1)
    d0 = dhash64_bytes(encode_png(base))
    for name, payload in variants(base).items():
        d = ham(d0, dhash64_bytes(payload))
        assert d <= 6, f"{name}: dHash drifted {d} bits"


def test_blocked_candidates_recall_property(spark):
    """Pigeonhole recall 1.0: every pair within hamming ≤ b survives
    the (b+1)-block equi-join — exercised through phash_candidates'
    own entry point on hashes with planted ≤ b-bit flips."""
    r = np.random.default_rng(42)
    b = 10
    rows, want_pairs = [], set()
    next_id = 0
    for _ in range(40):
        base = int(r.integers(-(2**63), 2**63 - 1))
        rows.append((next_id, base))
        # flip in the unsigned domain (xor on a negative python int
        # sign-extends indefinitely), then fold back to signed 64
        flip = base & ((1 << 64) - 1)
        for bit in r.choice(64, size=int(r.integers(1, b + 1)), replace=False):
            flip ^= 1 << int(bit)
        flip = flip - (1 << 64) if flip >= (1 << 63) else flip
        rows.append((next_id + 1, int(flip)))
        want_pairs.add((next_id, next_id + 1))
        next_id += 2
    hashes = spark.createDataFrame(rows, "doc_id long, phash long")
    got = {
        (row["id_a"], row["id_b"])
        for row in phash_candidates(hashes, max_hamming=b)
        .filter(F.col("hamming") <= b)
        .collect()
    }
    assert want_pairs <= got


def test_candidates_plan_no_cartesian(spark):
    """The candidate join must stay a keyed equi-join at ANY size —
    no cartesian / broadcast-nested-loop node in the plan."""
    hashes = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2654435761).alias("phash")
    )
    plan = (
        phash_candidates(hashes, max_hamming=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_with_phash_spark_matches_local(spark):
    """The Arrow mapInPandas path computes byte-identical hashes to
    the local functions, for both algos."""
    payloads = [
        (i, encode_png(make_img(i))) for i in range(8)
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    for algo, fn in (("phash", phash64_bytes), ("dhash", dhash64_bytes)):
        got = {
            r["doc_id"]: r["phash"]
            for r in with_phash(df, "doc_id", "payload", algo=algo).collect()
        }
        want = {i: fn(p) for i, p in payloads}
        assert got == want, algo


def test_dedup_phash_end_to_end(spark):
    """Planted clusters: 3 base images × 3 encodings each + 4 singles
    → survivors are exactly each cluster's min id + the singles
    (transitive closure through the shared base)."""
    rows = []
    did = 0
    clusters = []
    for seed in (1, 11, 21):
        img = make_img(seed)
        members = []
        for payload in (
            encode_png(img),
            encode_jpeg(img, quality=85, subsampling="420"),
            encode_png(resize_nearest(img, 72, 96)),
        ):
            rows.append((did, payload))
            members.append(did)
            did += 1
        clusters.append(members)
    singles = []
    for seed in (31, 41, 51, 61):
        rows.append((did, encode_bmp(make_img(seed))))
        singles.append(did)
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept = sorted(
        r["doc_id"] for r in dedup_phash(df, "doc_id", "payload").collect()
    )
    want = sorted([min(c) for c in clusters] + singles)
    assert kept == want


def test_with_phash_bad_algo():
    with pytest.raises(ValueError, match="algo"):
        with_phash(None, "doc_id", "payload", algo="ahash")


def test_non_image_magic_raises():
    with pytest.raises(NotImplementedError):
        phash64_bytes(b"\x00\x01\x02\x03 not an image")


def test_banded_candidates_find_planted_variants(spark):
    """The sampled-bit banded generator finds every planted variant
    pair at the MEASURED drift profile (d ≤ 4 for the fixture
    corpus's re-encodes — analytic recall ≈0.995+ there, and the
    seeds are fixed, so this is deterministic), while staying a keyed
    equi-join (no cartesian)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        phash_candidates_banded,
    )

    rows, want = [], set()
    did = 0
    for seed in range(12):
        img = make_img(seed)
        rows.append((did, phash64_pixels(img)))
        rows.append(
            (did + 1, phash64_bytes(encode_jpeg(img, quality=85, subsampling="420")))
        )
        want.add((did, did + 1))
        did += 2
    hashes = spark.createDataFrame(rows, "doc_id long, phash long")
    cand = phash_candidates_banded(hashes)
    got = {
        (r["id_a"], r["id_b"])
        for r in cand.filter(F.col("hamming") <= 8).collect()
    }
    assert want <= got
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_phash_banded_matches_pigeonhole_on_fixture(spark):
    """On the fixture corpus (variant drift well inside the band
    recall sweet spot) the banded method keeps the same survivor set
    as the exact pigeonhole method."""
    rows = []
    did = 0
    for seed in (1, 11, 21, 31):
        img = make_img(seed)
        rows.append((did, encode_png(img)))
        rows.append((did + 1, encode_jpeg(img, quality=85, subsampling="420")))
        did += 2
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    exact = sorted(
        r["doc_id"] for r in dedup_phash(df, "doc_id", "payload").collect()
    )
    banded = sorted(
        r["doc_id"]
        for r in dedup_phash(df, "doc_id", "payload", method="banded").collect()
    )
    assert exact == banded == [0, 2, 4, 6]


def test_dedup_phash_bad_method():
    with pytest.raises(ValueError, match="method"):
        dedup_phash(None, "doc_id", "payload", method="lsh")


def test_ingest_image_batch_incremental(spark, tmp_path):
    """Incremental image ingest: within-batch near-dup clusters
    collapse to min-id; a later batch re-delivering a variant of
    ACCEPTED footage accepts nothing for it (history wins); genuinely
    new images accept; resuming a committed batch_id returns the
    staged survivors without recompute."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
        read_image_state,
    )

    sdir = str(tmp_path / "imgstate")
    img_a, img_b, img_c = make_img(1), make_img(11), make_img(21)
    b1 = spark.createDataFrame(
        [
            (0, encode_png(img_a)),
            (1, encode_jpeg(img_a, quality=85, subsampling="420")),  # in-batch dup of 0
            (2, encode_bmp(img_b)),
        ],
        "doc_id long, payload binary",
    )
    a1 = sorted(r["doc_id"] for r in ingest_image_batch(spark, b1, sdir, batch_id="b1").collect())
    assert a1 == [0, 2]
    assert read_image_state(spark, sdir).count() == 2

    b2 = spark.createDataFrame(
        [
            (10, encode_png(resize_nearest(img_a, 72, 96))),  # variant of accepted 0
            (11, encode_png(img_c)),                           # new
            (12, encode_jpeg(img_c, quality=85, subsampling="420")),  # in-batch dup of 11
        ],
        "doc_id long, payload binary",
    )
    a2 = sorted(r["doc_id"] for r in ingest_image_batch(spark, b2, sdir, batch_id="b2").collect())
    assert a2 == [11]
    assert read_image_state(spark, sdir).count() == 3

    # resume: committed batch returns staged rows, state unchanged
    again = sorted(r["doc_id"] for r in ingest_image_batch(spark, b2, sdir, batch_id="b2").collect())
    assert again == [11]
    assert read_image_state(spark, sdir).count() == 3

    # pure content semantics: re-delivering accepted content under a
    # fresh id accepts nothing
    b3 = spark.createDataFrame(
        [(20, encode_png(img_b))], "doc_id long, payload binary"
    )
    a3 = ingest_image_batch(spark, b3, sdir).collect()
    assert a3 == []


def test_curate_image_corpus_composition(spark):
    """The image-curation capstone composes: planted variants collapse
    (dedup ran), every survivor passes the size/magic gate, the split
    is content-keyed and exhaustive, and re-running is byte-stable."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        curate_image_corpus,
    )

    from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import (
        load_table,
    )

    out = curate_image_corpus(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows
    n_docs = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    n_imgs = 4 * n_docs  # × _PHASH_IMAGES_PER_DOC
    planted = len([i for i in range(n_imgs) if i % 5 == 0 and i > 0])
    assert len(rows) == n_imgs - planted  # exact planted-cluster collapse
    for r in rows:
        assert 1_000 <= r["n_bytes"] <= 2_000_000
        assert any(
            r["magic_hex"].startswith(m) for m in ("89504e47", "424d", "ffd8ff")
        )
        assert r["split"] in ("train", "holdout")
    splits = {r["doc_id"]: r["split"] for r in rows}
    again = {
        r["doc_id"]: r["split"]
        for r in curate_image_corpus(spark, "/root/testdata/sf0.001").collect()
    }
    assert splits == again  # content-keyed: reproducible end-to-end


# ------------------- method="auto" (r12: self-executing scale doctrine)


def test_pigeonhole_row_estimate_matches_measured_wall():
    """The uniform-model estimator reproduces the r11 sf1 measurement:
    200 k images at max_hamming=8 → ~1.4 G intermediate rows (the
    observed quadratic wall), and the auto chooser therefore switches
    exactly where the doctrine says — pigeonhole at bench scale
    (20 k), banded at the rung scale (200 k)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        choose_phash_method,
        pigeonhole_row_estimate,
    )

    est = pigeonhole_row_estimate(200_000, 8)
    assert 1.3e9 <= est <= 1.5e9
    assert choose_phash_method(20_000, 8) == "pigeonhole"
    assert choose_phash_method(200_000, 8) == "banded"
    # cross-table (bilinear) form: a big corpus against a small eval
    # set stays pigeonhole — the decontamination shape
    assert choose_phash_method(1_000_000, 8, n_b=1_000) == "pigeonhole"
    # ... but a big batch against a huge state table does not
    assert choose_phash_method(100_000, 8, n_b=100_000_000) == "banded"


def test_auto_banded_params_meet_recall_target():
    """The analytic sizer always satisfies the recall target at the
    DECLARED bound (no silent cap degradation), scales bits_per_band
    with corpus size, and raises where 64-bit banded LSH genuinely
    cannot separate the radius."""
    import pytest as _pytest

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        auto_banded_params,
    )

    def band_p(k: int, d: int, bits: int = 64) -> float:
        p = 1.0
        for i in range(k):
            p *= (bits - d - i) / (bits - i)
        return p

    ks = []
    for n in (1_000, 200_000, 10**8):
        for d in (4, 6, 8, 10):
            bands, k = auto_banded_params(n, d)
            recall = 1.0 - (1.0 - band_p(k, d)) ** bands
            assert recall >= 0.95, (n, d, bands, k, recall)
        ks.append(k)
    assert ks == sorted(ks) and ks[0] < ks[-1]  # k grows with log2(n)
    with _pytest.raises(ValueError, match="cannot reach"):
        auto_banded_params(10**6, 13)
    with _pytest.raises(ValueError, match="target_recall"):
        auto_banded_params(10**6, 8, target_recall=1.0)


def test_dedup_phash_auto_equivalent_at_both_regimes(spark):
    """The AUTO entry point keeps an identical survivor set whichever
    regime it resolves to: with the default budget the fixture corpus
    routes pigeonhole; with a zero budget the same corpus is forced
    onto the banded path — same survivors (the r12 equivalence pin
    for the self-executing method selection)."""
    rows = []
    for i, seed in enumerate((1, 11, 21, 31)):
        img = make_img(seed)
        rows.append((2 * i, encode_png(img)))
        rows.append(
            (2 * i + 1, encode_jpeg(img, quality=85, subsampling="420"))
        )
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    auto_default = sorted(
        r["doc_id"]
        for r in dedup_phash(df, "doc_id", "payload", method="auto").collect()
    )
    auto_banded = sorted(
        r["doc_id"]
        for r in dedup_phash(
            df, "doc_id", "payload", method="auto", row_budget=0
        ).collect()
    )
    assert auto_default == auto_banded == [0, 2, 4, 6]


def test_dedup_phash_band_knobs_forwarded(spark):
    """ADVICE r11: explicit bands/bits_per_band reach the banded
    generator instead of being ignored — a 1-band/62-bit key config
    is too selective to catch the planted rescale variant (measured
    drift 4 bits for this seed — a 62-bit sampled band only collides
    on drift-0 pairs), so the survivor set visibly changes with the
    knob."""
    img = make_img(11)
    df = spark.createDataFrame(
        [
            (0, encode_png(img)),
            (1, encode_png(resize_nearest(img, 72, 96))),
        ],
        "doc_id long, payload binary",
    )
    generous = sorted(
        r["doc_id"]
        for r in dedup_phash(
            df, "doc_id", "payload", method="banded",
            bands=34, bits_per_band=16,
        ).collect()
    )
    assert generous == [0]
    starved = sorted(
        r["doc_id"]
        for r in dedup_phash(
            df, "doc_id", "payload", method="banded",
            bands=1, bits_per_band=62,
        ).collect()
    )
    assert starved == [0, 1]


def test_banded_hamming_matches_cross_tables(spark):
    """Cross-table banded matcher (the big-state ingest path): planted
    eval twins match across tables with exact hamming attached;
    distinct images do not; the plan stays a keyed equi-join."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        banded_hamming_matches,
    )

    a_rows = [
        (0, phash64_bytes(encode_jpeg(make_img(1), quality=85, subsampling="420"))),
        (1, phash64_pixels(make_img(31))),
    ]
    b_rows = [(100, phash64_pixels(make_img(1))), (101, phash64_pixels(make_img(41)))]
    a = spark.createDataFrame(a_rows, "doc_id long, phash long")
    b = spark.createDataFrame(b_rows, "doc_id long, phash long")
    out = banded_hamming_matches(a, b, max_hamming=8, bands=34, bits_per_band=16)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert set(got) == {(0, 100)}
    assert 0 <= got[(0, 100)] <= 8
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_hamming_matches_returns_hamming(spark):
    """ADVICE r11: the shared pigeonhole helper honors its documented
    contract — the exact hamming distance IS in the output (one row
    per pair even when several blocks match, distance exact)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
        blocked_hamming_matches,
    )

    h = phash64_pixels(make_img(1))
    a = spark.createDataFrame([(0, h)], "doc_id long, phash long")
    b = spark.createDataFrame(
        [(10, h), (11, h ^ 0b111)], "doc_id long, phash long"
    )
    rows = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in blocked_hamming_matches(a, b, 8).collect()
    }
    assert rows == {(0, 10): 0, (0, 11): 3}


def test_ingest_image_batch_banded_matches_default(spark, tmp_path):
    """The incremental-ingest method routing: an explicit banded run
    accepts the same set as the default (auto→pigeonhole here) on the
    planted fixture — within-batch collapse AND cross-state rejection
    both survive the generator swap."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_image_batch,
    )

    def mk(did: int, seed: int, variant: bool = False):
        img = make_img(seed)
        payload = (
            encode_jpeg(img, quality=85, subsampling="420")
            if variant
            else encode_png(img)
        )
        return (did, payload)

    b1 = spark.createDataFrame(
        [mk(0, 1), mk(1, 1, variant=True), mk(2, 11)],
        "doc_id long, payload binary",
    )
    b2 = spark.createDataFrame(
        [mk(3, 11, variant=True), mk(4, 21)], "doc_id long, payload binary"
    )
    out = {}
    for method in ("auto", "banded"):
        sdir = str(tmp_path / f"state_{method}")
        a1 = sorted(
            r["doc_id"]
            for r in ingest_image_batch(
                spark, b1, sdir, batch_id="b1", method=method
            ).collect()
        )
        a2 = sorted(
            r["doc_id"]
            for r in ingest_image_batch(
                spark, b2, sdir, batch_id="b2", method=method
            ).collect()
        )
        out[method] = (a1, a2)
    assert out["auto"] == out["banded"] == ([0, 2], [4])


def test_resolve_phash_method_falls_back_when_banded_infeasible():
    """method='auto' must never turn a working call into a raise
    (review-found r12): past the row budget the resolver picks banded
    only where the analytic sizer can actually reach the recall
    target; at max_hamming >= 11 (64-bit codes, 0.95 target — the
    measured feasibility boundary; an earlier docstring claimed 13)
    it falls back to guaranteed-recall pigeonhole instead of raising
    like the explicit-banded path does."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        auto_banded_params,
        resolve_phash_method,
    )

    # under budget: pigeonhole, no knobs
    assert resolve_phash_method(8, 20_000) == ("pigeonhole", None, None)
    # past budget at a feasible radius: banded with sized knobs
    m, bands, bits = resolve_phash_method(8, 10**6)
    assert m == "banded" and bands >= 1 and 16 <= bits <= 32
    # past budget at an infeasible radius: FALL BACK, don't raise
    for d in (11, 12):
        assert resolve_phash_method(d, 10**6) == ("pigeonhole", None, None)
        with pytest.raises(ValueError, match="cannot reach"):
            auto_banded_params(10**6, d)


def test_auto_banded_params_bilinear_sizing():
    """Cross-join sizing must see BOTH sides (review-found r12: the
    decontamination path sized k from the small eval count alone
    while the candidate term is n_corpus*n_eval*L/2^k — and the
    explode term is (n+n_b)*L, so a huge n_b can also pull the OTHER
    way): under the bilinear cost model the n_b-aware choice is never
    worse than the n-alone choice, and strictly better where the
    terms actually trade (measured: (1e6, 1e9) picks (90, 21) at
    1.33e11 modeled rows vs n-alone (74, 20) at 1.45e11)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        auto_banded_params,
    )

    def bilinear_cost(bands: int, k: int, n: int, n_b: int) -> float:
        pair = float(n) * n_b * min(1.0, bands / 2.0**k)
        return pair + (n + n_b) * bands

    improved = 0
    for n, n_b in ((10**4, 10**9), (10**5, 10**9), (10**6, 10**9),
                   (10**6, 10**7)):
        alone = auto_banded_params(n, 8)
        cross = auto_banded_params(n, 8, n_b=n_b)
        c_alone = bilinear_cost(*alone, n, n_b)
        c_cross = bilinear_cost(*cross, n, n_b)
        assert c_cross <= c_alone, (n, n_b, alone, cross)
        improved += c_cross < c_alone
    assert improved >= 2  # the parameter genuinely changes choices


def test_dedup_phash_auto_infeasible_radius_still_works(spark):
    """End-to-end guard for the fallback: auto at max_hamming=12 with
    a zero row budget (which would have routed banded and raised
    before the fix) must run via pigeonhole and still collapse the
    planted variant pair."""
    img = make_img(31)
    df = spark.createDataFrame(
        [(0, encode_png(img)), (1, encode_jpeg(img, quality=85, subsampling="420"))],
        "doc_id long, payload binary",
    )
    out = sorted(
        r["doc_id"]
        for r in dedup_phash(
            df, "doc_id", "payload", max_hamming=12, method="auto",
            row_budget=0,
        ).collect()
    )
    assert out == [0]


def test_resolve_auto_banded_emits_recall_warning():
    """Resolving method='auto' to banded is a behavioral switch
    (guaranteed recall 1.0 -> sized >=0.95 target), so it must WARN
    with the pin-out for recall-critical callers (r12 ADVICE);
    resolving to pigeonhole — under budget or infeasible-radius
    fallback — stays silent."""
    import warnings

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        resolve_phash_method,
    )

    with pytest.warns(RuntimeWarning, match="pigeonhole"):
        resolve_phash_method(8, 10**6)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        resolve_phash_method(8, 20_000)       # under budget
        resolve_phash_method(11, 10**6)       # infeasible fallback


def test_banded_hamming_matches_validates_bits_per_band(spark):
    """banded_hamming_matches gets the same 1..62 bits_per_band guard
    as phash_candidates_banded (r12 ADVICE): 63-64 would pack a key
    into the sign bit; >64 failed deep inside random.sample with an
    unrelated error."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        banded_hamming_matches,
    )

    df = spark.createDataFrame([(1, 5)], "doc_id long, phash long")
    for bad in (0, 63, 65):
        with pytest.raises(ValueError, match=r"\[1, 62\]"):
            banded_hamming_matches(df, df, 4, bits_per_band=bad)
