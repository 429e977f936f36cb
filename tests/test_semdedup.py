"""SemDeDup pairs (operators/semdedup.py): learned-cluster candidate
pairs, pinned against an INDEPENDENT numpy re-implementation of the
whole train → assign → pair → threshold chain (same grid arithmetic,
no Spark evaluation anywhere in the oracle), plus the planted-dup /
repartition-stability / multi-probe properties."""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.semdedup import (
    assign_clusters,
    semdedup_pairs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
GRID = 1_000_000.0
K = 8
TAU = 0.95


# ---------------------------------------------------------------- oracle


def np_train(vecs: np.ndarray, k: int) -> np.ndarray:
    """ivf_train's full-table path in numpy: strided seeds, one
    grid-exact Lloyd round. vecs is float32 (n, d), ids = row index."""
    n = len(vecs)
    stride = max(1, n // k)
    seed_ids = [i for i in range(0, stride * k, stride) if i < n]
    cent = vecs[seed_ids].astype(np.float64)
    # assignment to seeds: grid L2, tie -> smaller j
    a0 = np_assign(vecs, cent)
    trained = cent.copy()
    g = np.floor(vecs.astype(np.float64) * GRID)  # per-element grid
    for j in range(len(cent)):
        members = np.nonzero(a0 == j)[0]
        if len(members):
            s = g[members].sum(axis=0)
            trained[j] = s / GRID / len(members)
    return trained


def np_assign(vecs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """argmin over grid L2, ties -> smaller j (np.argmin is first-min)."""
    out = np.empty(len(vecs), dtype=np.int64)
    for i, v in enumerate(vecs):
        dx = v.astype(np.float64)[None, :] - cent
        d = np.floor(dx * dx * GRID).sum(axis=1)
        out[i] = int(np.argmin(d))
    return out


def np_grid_dot(a: np.ndarray, b: np.ndarray) -> float:
    return float(
        np.floor(a.astype(np.float64) * b.astype(np.float64) * GRID).sum() / GRID
    )


def np_pairs(vecs: np.ndarray, k: int, tau: float) -> dict:
    """(id_a, id_b) -> cosine for same-cluster pairs above tau."""
    cent = np_train(vecs, k)
    assign = np_assign(vecs, cent)
    n2 = np.array([np_grid_dot(v, v) for v in vecs])
    out = {}
    for j in np.unique(assign):
        members = np.nonzero(assign == j)[0]
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = int(members[ai]), int(members[bi])
                cos = np_grid_dot(vecs[a], vecs[b]) / (
                    math.sqrt(n2[a]) * math.sqrt(n2[b])
                )
                if cos >= tau:
                    out[(a, b)] = cos
    return out


# ---------------------------------------------------------------- fixture


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """sf0.001 embeddings + planted duplicates, written to parquet so
    Spark and numpy read the identical bytes. Ids stay dense (the
    full-table seeding contract): copies append at 500+.

    Planted structure: 500+i duplicates i for i<10 (exact copies);
    510 is a SECOND copy of 0 (transitive chain 0~500~510); 511 is a
    tiny perturbation of 1 (still >= tau)."""
    vecs = np.stack(
        pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
        .column("embedding")
        .to_pandas()
        .map(np.asarray)
    ).astype(np.float32)
    planted = [vecs[i] for i in range(10)] + [vecs[0]] + [
        vecs[1] * np.float32(1.0 + 1e-4)
    ]
    allv = np.vstack([vecs, np.stack(planted).astype(np.float32)])
    path = tmp_path_factory.mktemp("semdedup") / "emb.parquet"
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(allv)), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in allv],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        str(path),
    )
    return str(path), allv


def spark_pairs(spark, path: str, repartition: int | None = None) -> dict:
    emb = spark.read.parquet(path)
    if repartition:
        emb = emb.repartition(repartition)
    rows = semdedup_pairs(spark, emb, K, tau=TAU).collect()
    return {(r["id_a"], r["id_b"]): r["cosine"] for r in rows}


# ----------------------------------------------------------------- tests


def test_pairs_match_numpy_oracle(spark, corpus):
    path, allv = corpus
    got = spark_pairs(spark, path)
    want = np_pairs(allv, K, TAU)
    assert set(got) == set(want)
    for key, cos in want.items():
        assert got[key] == pytest.approx(cos, abs=1e-12)
    # the planted exact copies MUST be found (identical vectors share
    # an argmin under the deterministic tie-break)
    for i in range(10):
        assert (i, 500 + i) in got
    assert (0, 510) in got and (500, 510) in got
    assert (1, 511) in got


def test_pairs_stable_under_repartition(spark, corpus):
    path, _ = corpus
    assert spark_pairs(spark, path) == spark_pairs(spark, path, repartition=7)


def test_multiprobe_superset_and_dedup(spark, corpus):
    path, _ = corpus
    emb = spark.read.parquet(path)
    p1 = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(spark, emb, K, tau=TAU).collect()
    }
    rows = semdedup_pairs(spark, emb, K, tau=TAU, probes=2).collect()
    p2 = [(r["id_a"], r["id_b"]) for r in rows]
    assert p1 <= set(p2)
    assert len(p2) == len(set(p2))  # shared probes never emit twice


def test_pair_join_is_keyed_not_cartesian(spark, corpus):
    """The ONLY unbounded-side joins are equi-joins: the sole
    nested-loop in the plan is the k-row broadcast centroid fan-out
    (bounded by construction). Pair generation must never plan as a
    CartesianProduct at any size."""
    path, _ = corpus
    emb = spark.read.parquet(path)
    assigned = assign_clusters(spark, emb, K).select("vec_id", "j")
    side = assigned.join(emb.select("vec_id", "embedding"), "vec_id")
    a = side.select("j", F.col("vec_id").alias("id_a"))
    b = side.select("j", F.col("vec_id").alias("id_b"))
    pairs = a.join(b, "j").filter(F.col("id_a") < F.col("id_b"))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the broadcast nested loops are only the ×k centroid fan-out
    # inside assignment — bounded, intentional (ivf doctrine). It
    # shows once per self-join side here because this probe plan skips
    # the persist semdedup_pairs itself puts on `side` (which makes
    # assignment compute once at runtime).
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_assign_clusters_probe_ranks(spark, corpus):
    path, _ = corpus
    emb = spark.read.parquet(path)
    a = assign_clusters(spark, emb, K, probes=2)
    per = a.groupBy("vec_id").agg(
        F.count("*").alias("n"), F.countDistinct("j").alias("dj")
    )
    bad = per.filter((F.col("n") != 2) | (F.col("dj") != 2)).count()
    assert bad == 0
    with pytest.raises(ValueError):
        assign_clusters(spark, emb, K, probes=0)
