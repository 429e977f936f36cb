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
* resolution — the pairs feed the same transitive-closure machinery
  every other dedup family uses (dedup_fuzzy.py::dup_components), so
  chains (a~b, b~c) collapse to ONE survivor.

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
    with_dist: bool = False,
) -> DataFrame:
    """Train the coarse quantizer and assign every vector to its
    ``probes`` nearest centroids: (vec_id, j[, probe_rank][, dist]).

    One trained-centroid broadcast + one min_by (or bounded top-p)
    partial aggregate — the same argmin shape as the IVF build, tie
    on distance → smaller j, so assignment is engine-deterministic.
    ``sample_per_mille`` trains on the deterministic hash-bucket
    sample when a full training pass is too much (ivf_train's sampled
    seeding path). ``with_dist`` (single-probe only) also returns the
    grid-L2 distance to the assigned centroid — what the
    centroid-distance keep policies rank on."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        _grid_l2,
        ivf_train,
    )

    if probes < 1:
        raise ValueError("probes must be >= 1")
    if with_dist and probes != 1:
        raise ValueError("with_dist supports only probes=1")
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
        cols = ["vec_id", F.col("_b.j").alias("j")]
        if with_dist:
            cols.append(F.col("_b.dist").alias("dist"))
        return best.select(*cols)
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
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by learned-cluster blocking:
    (id_a, id_b, cosine) with id_a < id_b and cosine ≥ ``tau``, both
    members assigned to the same trained cluster (any shared probe,
    when ``probes`` > 1).

    ``emb`` must carry (vec_id, embedding). Cosines are exact grid
    arithmetic (functions/vectors.py), so the τ-cut — and therefore
    the pair set — is identical across partitionings and engines.
    ``assigned`` (vec_id, j) reuses a precomputed assignment —
    :func:`semantic_dedup`'s centroid policies pass theirs so the
    quantizer trains ONCE, not once per consumer.
    """
    if assigned is None:
        assigned = assign_clusters(
            spark, emb, k, sample_per_mille=sample_per_mille, probes=probes
        )
    assigned = assigned.select("vec_id", "j")
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


#: Survivor policies for :func:`semantic_dedup`. ``min_id`` keeps the
#: smallest id (the cheap canonical choice every other dedup family
#: uses); ``centroid_far`` keeps the member FARTHEST from its cluster
#: centroid — the published SemDeDup choice (edge examples carry more
#: signal than prototypical ones); ``centroid_near`` keeps the most
#: prototypical member (the summarization-flavored inverse).
KEEP_POLICIES = ("min_id", "centroid_far", "centroid_near")


def semantic_dedup(
    spark: SparkSession,
    docs: DataFrame,
    emb: DataFrame,
    k: int,
    id_col: str = "doc_id",
    tau: float = SEMDEDUP_TAU,
    sample_per_mille: int | None = None,
    probes: int = 1,
    keep: str = "min_id",
) -> DataFrame:
    """End-to-end semantic dedup: keep ONE document per
    semantic-duplicate cluster, chosen by ``keep`` (KEEP_POLICIES).
    ``emb.vec_id`` must equal ``docs[id_col]``. Pairs → transitive
    closure → survivor pick → anti-join; chained near-dups collapse
    to one survivor and non-duplicates pass through untouched.

    The centroid policies rank members by their grid-L2 distance to
    the assigned centroid (ties → the id completes a total order), at
    the cost of ONE extra keyed aggregate over the components — the
    assignment (with distances) is computed ONCE, persisted, and
    shared by the pair stage and the survivor pick (training twice
    was the dominant cost of the centroid path; review-found).
    ``probes`` > 1 is min_id-only (a multi-probed doc has several
    centroid distances; the policy would be ambiguous)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
        drop_near_duplicates,
        dup_components,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.enrich import (
        anti_filter,
    )

    if keep not in KEEP_POLICIES:
        raise ValueError(f"keep must be one of {KEEP_POLICIES}, got {keep!r}")
    if keep != "min_id" and probes != 1:
        raise ValueError("centroid keep policies support only probes=1")
    if keep == "min_id":
        pairs = semdedup_pairs(
            spark, emb, k, tau=tau,
            sample_per_mille=sample_per_mille, probes=probes,
        )
        return drop_near_duplicates(docs, pairs, id_col=id_col)

    def keep_one(assigned: DataFrame) -> DataFrame:
        pairs = semdedup_pairs(
            spark, emb, k, tau=tau,
            sample_per_mille=sample_per_mille, assigned=assigned,
        )
        comp = dup_components(pairs)
        ranked = comp.join(
            assigned.select(F.col("vec_id").alias("doc_id"), "dist"), "doc_id"
        )
        pick = F.struct(F.col("dist"), F.col("doc_id"))
        agg = (
            F.max_by("doc_id", pick)
            if keep == "centroid_far"
            else F.min_by("doc_id", pick)
        )
        survivors = ranked.groupBy("rep").agg(agg.alias("keep_id"))
        losers = (
            comp.join(survivors, "rep")
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        return anti_filter(docs, losers, id_col, broadcast_keys=False)

    # the assignment feeds semdedup_pairs' side build AND the ranked join
    return cached_result(
        keep_one,
        assign_clusters(
            spark, emb, k, sample_per_mille=sample_per_mille, with_dist=True
        ),
    )
