"""Bench heads for the persisted IVF index (operators/ann_index.py):
build-once vs query-many, measured SEPARATELY.

``sim_ann_ivf`` times train + assign + query as one plan — right for
a one-shot benchmark, but the persisted index's entire argument is
amortization: pay the build once, then serve query batches that read
only nprobe/k of the corpus via partition pruning. That claim had
correctness evidence only (r3/r4 verdict "What's missing"); these two
heads make it perf evidence:

* ``ivf_index_build`` — timed head covering the full build: train
  the quantizer, assign the corpus, write ``centroids/`` +
  ``partitionBy(j)`` inverted lists. Expected ≈ the one-shot head
  (same passes + one partitioned write).
* ``ivf_query_batch`` — the serving path. Its ``_setup`` hook (run
  by bench.py BEFORE the timer starts) builds the index into a
  scratch dir; the timed body is ONLY what a serving batch pays:
  rank centroids for the query batch, prune the list scan to probed
  partitions, score, per-query top-k. Expected ≪ the one-shot head —
  that gap IS the index.

Both recompute nothing across heads (bench children are separate
JVMs); the setup hook keeps the build out of the serving
measurement without hiding it — it is the other head.

SCOPE NOTE — why no HNSW tier: graph-based ANN (HNSW/NSG) answers a
query by a SEQUENTIAL greedy walk with random access to the whole
neighbor graph — a pointer-chasing, latency-serving structure that
maps to a single process holding the index in RAM, not to a
partition-prunable columnar scan. Re-expressing it in Spark means
either collecting the graph to the driver (not distributed) or one
shuffle per hop (latency dead on arrival); neither survives the
100 TB design bar, so the storage tiers here are the
batch-serving-native ones — IVF-float / IVF-SQ8(int8 ADC) / IVF-PQ
(+ sign-LSH), where a query batch prunes to nprobe/k of the
partitions and scoring is one scan. A production system wanting
single-query millisecond latency exports the persisted index to a
dedicated ANN server; building that server is out of a Spark
engine's scope, not an omission of it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.ann_index import (
    build_ivf_index,
    query_ivf_index,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from sensorstream_scalable_sensor_data_pipeline_spark.sources.writers import (
    bench_cache_dir,
    publish_once,
)

#: Scratch index location, one per process (bench children are
#: separate JVMs; tests pass their own tmp dir via the setup hook).
_index_dir: str | None = None


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same query subset as the one-shot heads (every 100th
    vector) so serving-path numbers compare like-for-like."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr("vec_id % 100 = 0"))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed build head: full index construction into a scratch dir,
    returning the materialized inverted-list table (its count
    confirms every corpus vector landed in a list)."""
    out = os.path.join(tempfile.mkdtemp(prefix="ivf_bench_"), "index")
    build_ivf_index(spark, load_table(spark, sf_dir, "embeddings"), out, k=10)
    return spark.read.parquet(os.path.join(out, "lists"))


def ivf_query_batch_setup(spark: SparkSession, sf_dir: str) -> None:
    """Untimed setup (bench.py runs this before the timer): build the
    index the serving head queries."""
    global _index_dir
    out = os.path.join(tempfile.mkdtemp(prefix="ivf_bench_"), "index")
    build_ivf_index(spark, load_table(spark, sf_dir, "embeddings"), out, k=10)
    _index_dir = out


def ivf_query_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed serving head: one query batch against the pre-built
    index — centroid ranking (tiny), pruned list scan, candidate
    scoring, per-query top-k."""
    if _index_dir is None:
        ivf_query_batch_setup(spark, sf_dir)
    return query_ivf_index(
        spark, _index_dir, _queries(spark, sf_dir), k=5, nprobe=2
    )


#: Scratch SQ8 index, same per-process protocol as ``_index_dir``.
_index_dir_sq8: str | None = None


def ivf_query_batch_sq8_setup(spark: SparkSession, sf_dir: str) -> None:
    """Untimed setup: build the SQ8-quantized index (lists stored as
    ``(codes, scale)`` — 4× narrower than float arrays)."""
    global _index_dir_sq8
    out = os.path.join(tempfile.mkdtemp(prefix="ivf_bench_sq8_"), "index")
    build_ivf_index(
        spark, load_table(spark, sf_dir, "embeddings"), out, k=10, quantize=True
    )
    _index_dir_sq8 = out


# ------------------------------------------------ large-corpus serving


#: The large deterministic serving corpus (r7 verdict task #5: a
#: scale where list BYTES dominate the serving read, unlike sf0.1's
#: 2 000 vectors where the whole scan rounds to nothing either way).
#: Corpus size is env-overridable so the sf1 scale-stress harness
#: (scripts/stress_sf1.py) can measure the SAME serving plan at 10×
#: the vectors without a second code path; the query stride scales
#: with it so the batch stays ~120 queries (organic scale-up: more
#: list rows per probe, not more probes).
_LARGE_N = int(os.environ.get("SPARK_GRAFT_ANN_LARGE_N", "300000"))
_LARGE_DIM = 96
_LARGE_K = 32
_LARGE_NPROBE = 4
_LARGE_QUERY_STRIDE = max(1, _LARGE_N // 120)  # default 2 500 → 120 queries

_index_dir_large: str | None = None
_index_dir_large_sq8: str | None = None


def _large_corpus(spark: SparkSession) -> DataFrame:
    """300k × 96-dim deterministic pseudo-random vectors, generated
    JVM-side (xxhash64(id, dim) folded into [-1, 1] — no Python in
    the generate path, identical bytes every run). The fold grid is
    FINE (2M levels) on purpose: a coarse grid's few distinct doubles
    dictionary-encode and the float lists shrink 4× in parquet,
    silently deflating the byte accounting this corpus exists to
    measure (observed: 55 MB coarse vs 218 MB fine)."""
    return spark.range(_LARGE_N).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {_LARGE_DIM - 1}), "
            "d -> cast(pmod(xxhash64(id, d), 2000001) as double)"
            " / 1000000.0 - 1.0)"
        ).alias("embedding"),
    )


def _large_queries(spark: SparkSession) -> DataFrame:
    return (
        _large_corpus(spark)
        .filter(F.col("vec_id") % _LARGE_QUERY_STRIDE == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


#: Bump when any large-index layout/params change — the cached-dir
#: key below embeds it so stale caches from older code never serve.
_LARGE_LAYOUT_V = "v1"


def _large_index(tag: str, build) -> str:
    """Build a large index once per bench run into a keyed cache
    (``sources/writers.py::publish_once``), not once per cold-JVM rep:
    3 reps × a multi-minute PQ build is harness wall, not engine
    signal. The timed serve is unaffected — same files, still a cold
    JVM per rep; reusing a persisted index across query batches is
    what a serving index is for. The key hashes every build
    parameter, so any corpus/quantize change misses the old cache
    (``_LARGE_LAYOUT_V`` stays as a manual escape hatch)."""
    out = bench_cache_dir(
        tag, f"{_LARGE_N}x{_LARGE_DIM}", f"k{_LARGE_K}", f"probe{_LARGE_NPROBE}",
        f"stride{_LARGE_QUERY_STRIDE}", _LARGE_LAYOUT_V,
    )
    return publish_once(out, build)


def _build_large(spark: SparkSession, quantize: bool) -> str:
    return _large_index(
        "ivf_sq8" if quantize else "ivf_float",
        lambda stage: build_ivf_index(
            spark, _large_corpus(spark), stage, k=_LARGE_K,
            sample_per_mille=100, quantize=quantize,
        ),
    )


def _build_large_pq(spark: SparkSession) -> str:
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.pq import (
        build_ivfpq_index,
    )

    return _large_index(
        "ivfpq_m16k64",
        lambda stage: build_ivfpq_index(
            spark, _large_corpus(spark), stage, k=_LARGE_K,
            m=16, ksub=64, sample_per_mille=100,
        ),
    )


def ivf_serve_large_setup(spark: SparkSession, sf_dir: str) -> None:
    global _index_dir_large
    _index_dir_large = _build_large(spark, quantize=False)


def ivf_serve_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed serving head, float lists, 300k×96 corpus: the byte
    accounting the sf0.1 pair can't provide (r7 verdict task #5).

    MEASURED (this corpus, parquet, local[32]): float lists 237 MB,
    SQ8 lists 38 MB — 6.3× narrower; a batch probes nprobe/k = 4/32
    = 1/8 of the partitions, so the pruned scan reads ≈ 30 MB (float)
    vs ≈ 4.7 MB (SQ8) per serve. On a warm local NVMe that byte gap
    is NOT the bottleneck — serving here is scoring-heavy (120
    queries × 4 probes × ~9.4k-vector lists ≈ 4.5M candidate
    96-dim dots) — so the pair records SQ8's SCORING cost, and that
    cost depends on the scoring arithmetic:

    * r8 (dequantize scoring, the only path then): SQ8 LOST on wall
      time — driver bench (cold-JVM, 3 reps) float 8.87 s
      (8.67-9.65) vs SQ8 12.99 s (10.51-13.72), a 1.46× CPU cost
      for the per-candidate ``zip_with`` reconstruct + grid dot.
    * r9 (symmetric int8 ADC, now the SQ8 default): one exact BIGINT
      ``zip_with`` per candidate — no reconstructed array, no double
      multiply/floor — measured warm-session reps: float
      8.2/6.3/5.5 s, SQ8-dequant 7.1/6.5/6.6 s, SQ8-int8
      5.9/4.9/4.4 s. SQ8 now wins BOTH axes locally: ~0.8× the
      float path's CPU and 6.3× fewer pruned-scan bytes (BENCH_r09
      carries the cold-JVM driver numbers for the pair).

    At TB-scale cold object storage the byte side dominates anyway
    (the pruned read IS the latency); the measured 237→38 MB
    footprints are the evidence that side is real, not estimated."""
    if _index_dir_large is None:
        ivf_serve_large_setup(spark, sf_dir)
    return query_ivf_index(
        spark, _index_dir_large, _large_queries(spark),
        k=5, nprobe=_LARGE_NPROBE,
    )


def ivf_serve_large_sq8_setup(spark: SparkSession, sf_dir: str) -> None:
    global _index_dir_large_sq8
    _index_dir_large_sq8 = _build_large(spark, quantize=True)


def ivf_serve_large_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 twin of :func:`ivf_serve_large` — same corpus, same query
    batch, same probe plan; the pruned scan reads the (codes, scale)
    form (≈ 4.7 MB vs 30 MB probed) and scores with the symmetric
    int8 ADC path (r9 default: exact BIGINT code dots — see
    ``query_ivf_index(score=...)``). See the float head's docstring
    for the byte accounting and the r8-dequant vs r9-int8 history."""
    if _index_dir_large_sq8 is None:
        ivf_serve_large_sq8_setup(spark, sf_dir)
    return query_ivf_index(
        spark, _index_dir_large_sq8, _large_queries(spark),
        k=5, nprobe=_LARGE_NPROBE,
    )


_index_dir_large_pq: str | None = None


def ivf_serve_large_pq_setup(spark: SparkSession, sf_dir: str) -> None:
    global _index_dir_large_pq
    _index_dir_large_pq = _build_large_pq(spark)


def ivf_serve_large_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third storage tier of the serving family — IVFPQ (m=16,
    ksub=64: 16 one-byte codes + one double per vector,
    operators/pq.py) over the same 300k×96 corpus, same query batch,
    same probe plan as :func:`ivf_serve_large`.

    MEASURED lists footprint (this corpus, parquet): float 237 MB →
    SQ8 38 MB → PQ 7.9 MB — 30× under float, 4.8× under SQ8; a
    4-probe batch reads ≈ 1 MB. Scoring is the ADC LUT path: m array
    lookups + m−1 adds per candidate — no per-dimension work at all
    (warm-session reps measured 15.3/7.1/3.6 s vs float
    8.2/6.3/5.5 s; BENCH_r09 carries the cold-JVM numbers).

    REP-INVERSION ATTRIBUTION (r9 watch, resolved r10): BENCH_r09's
    samples were 5.8/13.5/11.8 s — first COLD rep fastest by 2×,
    inverted vs every other head. Cause: only rep 1's setup hook ran
    the ~90 s index build (the cache dir was empty), and that untimed
    build JIT/codegen-warmed the JVM before the timed serve.
    Controlled r10 replay: build-in-setup rep 6.3 s vs cache-hit
    reps 12.4/13.7/10.9 s. The honest cold-JVM serving number is the
    cache-hit one (~11-13 s); bench.py now pre-runs every setup hook
    in a throwaway ``--setup-only`` child so all timed reps are
    uniform cache-hits. Recall
    cost is the tier's price and is pinned in tests/test_pq.py at
    small scale (top5-in-top20 ≥ 0.9 vs the float index on
    near-random vectors — the hard case). The build (~150 s at 300k,
    the ×ksub encode fan-out) runs once per bench run via the cached
    index dir; the 3M×96 rung is recorded in COVERAGE.md's sf1
    stress table (r10, via scripts/stress_sf1.py): honest cold
    prepare-child numbers are PQ 8.75 s @300k / 28.4 s @3M vs float
    10.61 / 38.4 — ADC's m LUT lookups beat the 96-dim dot on CPU
    too, so this tier wins BOTH the byte axis and the scoring axis."""
    if _index_dir_large_pq is None:
        ivf_serve_large_pq_setup(spark, sf_dir)
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.pq import (
        query_ivfpq_index,
    )

    return query_ivfpq_index(
        spark, _index_dir_large_pq, _large_queries(spark),
        k=5, nprobe=_LARGE_NPROBE,
    )


def ivf_query_batch_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed serving head against the SQ8 index — same query batch and
    same probe plan as ``ivf_query_batch`` except the pruned list
    scan reads the narrow (codes, scale) form, scored via the
    symmetric int8 ADC default (r9); ranking agreement vs the float
    index is pinned in tests.

    MEASUREMENT HONESTY: at sf0.1's 2 000-vector corpus the pair
    measures the CPU trade, not the I/O trade — the whole list scan
    is a few hundred KB either way, so the pair's delta is the
    scoring arithmetic (int8 code dots vs float grid dots), with
    fixed per-head machinery dominating both. SQ8's argument is
    I/O-bound serving at corpus scale: 4× fewer bytes per
    pruned-partition read when lists are TB-sized and cold (see
    ``ivf_serve_large`` for the corpus where both axes are
    measured). The head exists so the CPU side of that trade is a
    recorded number rather than a guess."""
    if _index_dir_sq8 is None:
        ivf_query_batch_sq8_setup(spark, sf_dir)
    return query_ivf_index(
        spark, _index_dir_sq8, _queries(spark, sf_dir), k=5, nprobe=2
    )
