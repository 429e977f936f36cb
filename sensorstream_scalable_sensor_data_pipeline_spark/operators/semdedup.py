"""Semantic deduplication — cluster-then-prune over embeddings
(§2.12 LLM-pipeline extension; the SemDeDup shape from Abbas et al.
2023, "SemDeDup: Data-efficient learning at web-scale through semantic
deduplication").

`dedup_embedding_cosine` (plans/dedup.py) blocks candidate pairs on a
METADATA key, which only works when the corpus carries one. This
operator LEARNS the blocking key: train the same coarse k-means
quantizer the IVF index uses (plans/similarity.py::ivf_train —
deterministic seeding + one exact-arithmetic Lloyd round), assign
every vector to its nearest centroid, and compare pairs only within a
cluster. Semantically-near documents land in the same cell of the
learned partition, so the quadratic term is bounded by cluster size,
never corpus size — no metadata required.

Scale shape (100 TB honest accounting):

* training + assignment — the IVF build cost class: broadcast
  centroid table (k·dim doubles), min_by partial aggregate, one keyed
  join; no window, no all-pairs (see ivf_train's docstring).
* pair generation — a self-equi-join on the cluster id. With cluster
  sizes s ≈ n/k the pair volume is Σ s_i² ≈ n·s — LINEAR in n for a
  fixed target cluster size. The knob that keeps it linear is k:
  scale k ∝ n (SemDeDup itself used 11k clusters for 5B embeddings,
  holding s ≈ 450k). A skewed cluster is exactly the skew AQE's
  skew-join split handles, since the blowup lives in a join, not a
  window.
* pruning — exact grid cosine (functions/vectors.py) on candidate
  pairs only; norms precomputed once per ROW, not once per pair.
* resolution — the pairs are (id_a, id_b) edges, the shape the
  transitive-closure machinery every other dedup family uses
  (dedup_fuzzy.py::dup_components) consumes.

Unlike MinHash/SimHash (which bound *recall* combinatorially), the
cluster block is heuristic: a near-dup pair straddling a cluster
boundary is missed. That is the published algorithm's documented
trade — recall across boundaries can be bought with multi-probe
assignment (assign each vector to its p nearest centroids; pair
volume ×p²) which `probes` exposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.functions.vectors import (
    grid_cosine,
    grid_dot,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import (
    cached_result,
)

#: Default cosine threshold: SemDeDup's operating range for web text
#: is ~0.95-0.99; duplicates-by-meaning, not just by bytes.
SEMDEDUP_TAU = 0.95


def assign_clusters(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    sample_per_mille: int | None = None,
    probes: int = 1,
) -> DataFrame:
    """Train the coarse quantizer and assign every vector to its
    ``probes`` nearest centroids: (vec_id, j[, probe_rank]).

    One trained-centroid broadcast + one min_by (or bounded top-p)
    partial aggregate — the same argmin shape as the IVF build, tie
    on distance → smaller j, so assignment is engine-deterministic.
    ``sample_per_mille`` trains on the deterministic hash-bucket
    sample when a full training pass is too much (ivf_train's sampled
    seeding path)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        _grid_l2,
        ivf_train,
    )

    if probes < 1:
        raise ValueError("probes must be >= 1")
    from sensorstream_scalable_sensor_data_pipeline_spark.functions.localframe import (
        tiny_local_frame,
    )

    cent = tiny_local_frame(
        spark,
        ivf_train(spark, emb, k, sample_per_mille=sample_per_mille),
        "j int, c array<double>",
    )
    d = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "j", _grid_l2(F.col("embedding"), F.col("c")).alias("dist")
        )
    )
    if probes == 1:
        best = d.groupBy("vec_id").agg(
            F.min(F.struct("dist", "j")).alias("_b")
        )
        return best.select("vec_id", F.col("_b.j").alias("j"))
    # Bounded top-p per vector WITHOUT a row_number window over the
    # ×k fan-out: collect the k (dist, j) pairs map-side via a partial
    # aggregate, sort the k-element array, slice p. k is the (small)
    # centroid count, so the per-row array is bounded by construction.
    packed = d.groupBy("vec_id").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("dist", "j"))), 1, probes
        ).alias("top")
    )
    return packed.select(
        "vec_id", F.posexplode("top").alias("probe_rank", "dj")
    ).select("vec_id", F.col("dj.j").alias("j"), "probe_rank")


def semdedup_pairs(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    tau: float = SEMDEDUP_TAU,
    sample_per_mille: int | None = None,
    probes: int = 1,
) -> DataFrame:
    """Candidate near-duplicate pairs by learned-cluster blocking:
    (id_a, id_b, cosine) with id_a < id_b and cosine ≥ ``tau``, both
    members assigned to the same trained cluster (any shared probe,
    when ``probes`` > 1).

    ``emb`` must carry (vec_id, embedding). Cosines are exact grid
    arithmetic (functions/vectors.py), so the τ-cut — and therefore
    the pair set — is identical across partitionings and engines.
    """
    assigned = assign_clusters(
        spark, emb, k, sample_per_mille=sample_per_mille, probes=probes
    ).select("vec_id", "j")
    # Norms once per row; cached so training's lineage and the norm
    # pass run once, not once per self-join side.
    side = assigned.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "j",
        "vec_id",
        "embedding",
        grid_dot(F.col("embedding"), F.col("embedding")).alias("n2"),
    )

    def cosine_pairs(side: DataFrame) -> DataFrame:
        a = side.select(
            "j",
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("e_a"),
            F.col("n2").alias("n2_a"),
        )
        b = side.select(
            "j",
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("e_b"),
            F.col("n2").alias("n2_b"),
        )
        cos = grid_cosine(
            F.col("e_a"), F.col("e_b"), F.col("n2_a"), F.col("n2_b")
        )
        pairs = (
            a.join(b, "j")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= F.lit(tau))
        )
        if probes > 1:
            # A pair sharing several probes would emit once per shared
            # cluster; max_by keeps one row (cosine is pair-determined,
            # so any survivor carries the same value — max_by for
            # determinism).
            pairs = pairs.groupBy("id_a", "id_b").agg(
                F.max("cosine").alias("cosine")
            )
        return pairs

    return cached_result(cosine_pairs, side)

