"""Hypothesis property tests for the pure driver-side helpers (no
SparkSession — these run in milliseconds and explore the input space
the example-based tests cannot)."""

from __future__ import annotations

import datetime as dt
import json

from hypothesis import given, settings
from hypothesis import strategies as st

from sensorstream_scalable_sensor_data_pipeline_spark.backfill import (
    expected_months,
    plan_backfill,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
    _union_find_components,
)

# ------------------------------------------------------------- months

dates = st.dates(min_value=dt.date(1990, 1, 1), max_value=dt.date(2040, 12, 31))


@given(a=dates, b=dates)
def test_expected_months_contiguous_and_bounded(a, b):
    if b < a:
        a, b = b, a
    ms = expected_months(a, b)
    assert ms[0] == (a.year, a.month) and ms[-1] == (b.year, b.month)
    for (y1, m1), (y2, m2) in zip(ms, ms[1:]):
        assert (y2, m2) == ((y1 + 1, 1) if m1 == 12 else (y1, m1 + 1))
    assert len(ms) == (b.year - a.year) * 12 + b.month - a.month + 1


@given(a=dates, b=dates, chunk=st.integers(1, 7))
@settings(max_examples=60)
def test_plan_backfill_covers_missing_exactly(tmp_path_factory, a, b, chunk):
    if b < a:
        a, b = b, a
    # empty layout -> every month missing -> windows tile the range
    empty = str(tmp_path_factory.mktemp("empty"))
    wins = plan_backfill(empty, a, b, chunk_months=chunk)
    covered = []
    for s, e in wins:
        assert s < e
        y, m = s.year, s.month
        while (y, m) < (e.year, e.month):
            covered.append((y, m))
            y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    assert covered == expected_months(a, b)
    # chunk bound respected
    for s, e in wins:
        n = (e.year - s.year) * 12 + e.month - s.month
        assert 1 <= n <= chunk


# --------------------------------------------------------- union-find


class _FakeSpark:
    def createDataFrame(self, rows, schema):
        return rows  # the test only needs the (doc_id, rep) pairs


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(
            lambda e: e[0] != e[1]
        ),
        max_size=60,
    )
)
@settings(max_examples=100)
def test_union_find_matches_naive_closure(edges):
    got = dict(_union_find_components([tuple(e) for e in edges], _FakeSpark()))
    # naive transitive closure
    nodes = {n for e in edges for n in e}
    comp = {n: {n} for n in nodes}
    for a, b in edges:
        if comp[a] is not comp[b]:
            merged = comp[a] | comp[b]
            for n in merged:
                comp[n] = merged
    assert set(got) == nodes
    for n in nodes:
        assert got[n] == min(comp[n])  # rep is the component min


# ------------------------------------------------------------- morton


@given(
    xs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_python_morton_bijective_and_bounded(xs):
    from tests.test_zorder import py_morton

    codes = [py_morton(list(p), 8) for p in xs]
    assert len(set(codes)) == len(xs)  # injective on the grid
    assert all(0 <= c < (1 << 16) for c in codes)
    # de-interleave inverts
    for (x, y), c in zip(xs, codes):
        rx = sum(((c >> (2 * b)) & 1) << b for b in range(8))
        ry = sum(((c >> (2 * b + 1)) & 1) << b for b in range(8))
        assert (rx, ry) == (x, y)


# -------------------------------------------------- temperature budgets


@given(
    totals=st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=3),
        st.integers(0, 10_000),
        min_size=1,
        max_size=8,
    ),
    alpha=st.floats(0.0, 2.0, allow_nan=False),
    budget=st.integers(0, 50_000),
)
@settings(max_examples=150)
def test_temperature_budgets_invariants(totals, alpha, budget):
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        temperature_budgets,
    )

    b = temperature_budgets(totals, alpha, budget)
    assert set(b) == set(totals)
    for s in totals:
        assert 0 <= b[s] <= totals[s]  # never exceed what a stratum has
    target = min(budget, sum(t for t in totals.values() if t > 0))
    assert sum(b.values()) == target  # water-filling fully allocates


def test_temperature_budgets_shapes():
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        temperature_budgets,
    )

    totals = {"big": 9000, "small": 1000}
    # alpha=1: natural proportions
    b1 = temperature_budgets(totals, 1.0, 1000)
    assert b1 == {"big": 900, "small": 100}
    # alpha=0: uniform split boosts the small stratum
    b0 = temperature_budgets(totals, 0.0, 1000)
    assert b0 == {"big": 500, "small": 500}
    # 0 < alpha < 1 sits between
    bh = temperature_budgets(totals, 0.5, 1000)
    assert b0["small"] >= bh["small"] >= b1["small"]
    # capping: budget above a stratum's total spills to the other
    bc = temperature_budgets(totals, 0.0, 6000)
    assert bc == {"big": 5000, "small": 1000}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_budgets(totals, -0.1, 100)


# ----------------------------- r11: perceptual-hash / audio primitives


@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
@settings(max_examples=200, deadline=None)
def test_bits_to_long_roundtrip(u):
    """_bits_to_long is the exact inverse of unsigned bit expansion,
    landing in Spark's signed-long domain."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        _bits_to_long,
    )

    bits = [(u >> (63 - i)) & 1 for i in range(64)]
    v = _bits_to_long(__import__("numpy").array(bits, dtype=bool))
    assert v & ((1 << 64) - 1) == u
    assert -(1 << 63) <= v < (1 << 63)


@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.integers(min_value=1, max_value=16),
)
@settings(max_examples=200, deadline=None)
def test_hamming_block_specs_partition_bits(u, b):
    """The shared pigeonhole blocks PARTITION the 64 bits: shifting
    each block's value back to its offset reassembles the original
    unsigned word exactly (no bit lost, none double-counted). Pure
    python replay of hamming_block_specs' width/shift/mask scheme
    (the Column exprs themselves need a SparkContext and are
    exercised by the phash/simhash/video suites)."""
    n_blocks = b + 1
    width = 64 // n_blocks
    # replicate the widths the helper derives
    widths = [
        width + (64 % n_blocks if i == n_blocks - 1 else 0)
        for i in range(n_blocks)
    ]
    assert sum(widths) == 64
    signed = u - (1 << 64) if u >= (1 << 63) else u
    off, rebuilt = 0, 0
    for w in widths:
        # python replay of the column expr: arithmetic shift + mask
        rebuilt |= ((signed >> off) & ((1 << w) - 1)) << off
        off += w
    assert rebuilt == u


@given(st.integers(min_value=0, max_value=(1 << 63) - 1))
@settings(max_examples=100, deadline=None)
def test_area_resize_constant_image_is_constant(seed):
    """Area-mean resize of a constant image is that constant at every
    output cell, for arbitrary input/output shapes (the DC-only
    invariant behind pHash's brightness insensitivity)."""
    import numpy as np

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        _area_resize,
    )

    r = np.random.default_rng(seed)
    h, w = int(r.integers(1, 90)), int(r.integers(1, 90))
    c = float(r.uniform(0, 255))
    out = _area_resize(np.full((h, w), c), 32, 32)
    assert out.shape == (32, 32)
    assert np.allclose(out, c)


@given(st.integers(min_value=0, max_value=10_000))
@settings(max_examples=50, deadline=None)
def test_subfingerprint_gain_sign_exact(seed):
    """Gain invariance is EXACT in float (log energies shift by a
    constant; double differences are unchanged): scaling the float
    samples by any positive gain before int16 quantization aside,
    the float pipeline yields identical words."""
    import numpy as np

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        subfingerprints,
        synth_clip,
    )

    clip = synth_clip(seed, rate=8000, secs=0.6)
    # float-domain gain (no int16 re-rounding): exact word equality
    f0 = subfingerprints(clip, 8000)
    f1 = subfingerprints((clip.astype(np.float64) * 0.37), 8000)
    assert np.array_equal(f0, f1)


# ------------------------------------------------- provenance (r16)

from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (  # noqa: E402
    _fold,
    _Provenance,
)

_run_names = st.sampled_from(["runa", "runb", "job-x", "s"])
_epochs = st.integers(min_value=0, max_value=10_000)
_plain_ids = st.text(
    alphabet="abcdef0123456789", min_size=1, max_size=12
).filter(lambda x: not x.isdigit())


@given(
    stream_bids=st.lists(
        st.tuples(_run_names, _epochs), max_size=30
    ),
    plain=st.lists(_plain_ids, max_size=10),
)
def test_provenance_roundtrip_and_membership(stream_bids, plain):
    """Every id added is a member after a JSON round-trip; streaming
    ids compress to intervals (bounded size), plain ids stay exact;
    epochs outside every added run's [lo, hi] are NOT members."""
    runs = {r for r, _ in stream_bids}
    p = _Provenance()
    for r, e in stream_bids:
        p.add(f"{r}-{e}", runs)
    for b in plain:
        p.add(b, runs)
    q = _Provenance.from_obj(json.loads(json.dumps(p.to_obj())))
    for r, e in stream_bids:
        assert f"{r}-{e}" in q
    for b in plain:
        assert b in q
    assert len(q.ids) <= len(plain)
    assert len(q.runs) <= len(runs)
    # out-of-interval epochs reject
    for r in runs:
        lo, hi = q.runs.get(r, (0, -1))
        assert f"{r}-{hi + 1}" not in q
        if lo > 0:
            assert f"{r}-{lo - 1}" not in q
    # an unregistered lookalike is never absorbed
    assert "zzz-17" not in q or "zzz-17" in q.ids


@given(
    a=st.lists(st.tuples(_run_names, _epochs), max_size=20),
    b=st.lists(st.tuples(_run_names, _epochs), max_size=20),
)
def test_provenance_union_covers_both_sides(a, b):
    runs = {r for r, _ in a + b}
    pa, pb = _Provenance(), _Provenance()
    for r, e in a:
        pa.add(f"{r}-{e}", runs)
    for r, e in b:
        pb.add(f"{r}-{e}", runs)
    u = pa.union(pb)
    u2 = pb.union(pa)
    for r, e in a + b:
        assert f"{r}-{e}" in u and f"{r}-{e}" in u2
    assert u.runs == u2.runs and u.ids == u2.ids


@given(run=_run_names, e=_epochs)
def test_provenance_parse_is_unambiguous(run, e):
    """At most one registered run parses any bid: the explicit '-'
    separator plus the all-digits tail make r1 + '-' + d1 == r2 +
    '-' + d2 impossible for r1 != r2 (the longer run would have to
    embed '-' inside the shorter run's digit tail)."""
    runs = {"a", "a-1", "job-x", run}
    bid = f"{run}-{e}"
    hits = [
        r for r in runs
        if bid.startswith(r + "-") and bid[len(r) + 1 :].isdigit()
    ]
    assert len(hits) == 1 and hits[0] == run


def test_provenance_fold_stays_bounded_over_thousands_of_epochs():
    """Replay of the compaction fold (threshold 16, every live dir
    folds, as in compact_state) over 4000 streaming epochs: epochs
    compress to the run's interval and a compact's provenance carries
    no dir names at all — the manifest, not the provenance, says which
    dirs are live — so the provenance stays one interval, and every
    folded epoch stays a member."""
    runs = {"s"}
    dirs: dict[str, _Provenance | None] = {}
    sizes = []
    for e in range(4000):
        dirs[f"s-{e}"] = None
        if len(dirs) < 16:
            continue
        prov = _fold(dirs, runs)
        sizes.append(len(json.dumps(prov.to_obj())))
        dirs = {f"compact-{len(sizes):012x}": prov}
        last = e
    final = next(p for p in dirs.values() if p is not None)
    assert len(sizes) > 250
    assert final.runs == {"s": (0, last)}
    assert final.ids == set()
    assert max(sizes) < 100
    assert all(f"s-{e}" in final for e in range(0, last + 1, 7))
