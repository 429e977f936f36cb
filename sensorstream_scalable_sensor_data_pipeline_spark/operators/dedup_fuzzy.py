"""Near-duplicate detection family (SURVEY §2.12): MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design, common to all four:

* **Never all-pairs.** Candidate generation is always a *blocked*
  equi-join (LSH band buckets, simhash prefix blocks, metadata
  blocks) so the join key-space bounds the pair count; verification
  (exact Jaccard / hamming / cosine) runs only on candidates. At
  100 TB the candidate join is an ordinary keyed shuffle —
  AQE-skew-splittable — while an all-pairs cross join would be
  O(n²) and dead on arrival.
* **Deterministic hashing.** MinHash permutations are a universal
  affine family over a single md5-derived 28-bit base hash per
  shingle (``MINHASH_A``/``MINHASH_B``); every step is expressible in
  both Spark and ANSI SQL (oracle-checkable) with zero UDFs.
* **Staged projections, flat lambdas.** Every expensive array
  expression (tokens, shingles, signatures) is materialized as its
  own projection before anything iterates over it. Two Spark 4.1
  performance cliffs force this (measured on 500 docs):
  (1) a lambda or CASE-WHEN branch that references a non-trivial
  outer expression defeats subexpression elimination — the
  tokenizer re-runs per array element (45 s vs 0.7 s);
  (2) *nested* higher-order functions (transform inside transform)
  drop out of codegen entirely (75 s vs <1 s). Hence the MinHash
  signature is computed by explode → 12 parallel MIN aggregates —
  one map-side-combined hash aggregate, no nested lambdas anywhere.
  Projection staging is safe: CollapseProject never re-inlines a
  non-cheap expression into multiple consumers.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import cached
from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import tokenize_lower

# Default MinHash geometry: 12 permutations in 4 bands of 3 — catches
# Jaccard ≳ 0.6 pairs with high probability while keeping signatures
# cheap. Tune per corpus: more bands → higher recall, more candidates.
NUM_PERMS = 12
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERMS // NUM_BANDS
SHINGLE_SIZE = 3

# Universal-hash permutation family: each shingle is md5'd ONCE to a
# 28-bit integer h (7 hex digits — keeps a_s·h < 2^59, no overflow in
# either engine), then permuted by s affine maps (a_s·h + b_s) mod P.
# 12× cheaper than md5-per-permutation (the round-1 scheme; measured
# as the dominant cost of dedup_minhash_lsh) and still bit-replayable
# in DuckDB: ('0x'||substr(md5(x),1,7))::BIGINT equals Spark's
# conv(substr(md5(x),1,7),16,10) (verified).
MINHASH_P = 2_147_483_647  # 2^31 - 1, prime
MINHASH_A = tuple((2_654_435_761 * (s + 1)) % MINHASH_P for s in range(NUM_PERMS))
MINHASH_B = tuple((40_503 * (2 * s + 1)) % MINHASH_P for s in range(NUM_PERMS))


def shingle_expr(tk: Column, k: int = SHINGLE_SIZE) -> Column:
    """Word k-grams from a token-array column; documents shorter than
    k tokens collapse to one whole-text shingle.

    ``tk`` MUST be a materialized attribute (use :func:`with_shingles`)
    — passing a raw tokenizer expression here re-evaluates it per
    array element (see module docstring, cliff 1).
    """
    n = F.size(tk)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(tk, i + 1, k)),
    )
    return F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", tk)))


def with_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out: str = "ss",
    k: int = SHINGLE_SIZE,
    distinct: bool = False,
) -> DataFrame:
    """(id, shingle-array) via two staged projections: text → tokens,
    tokens → shingles. Each stage's input is an attribute, so every
    expression evaluates exactly once per row."""
    staged = df.select(F.col(id_col), tokenize_lower(F.col(text_col)).alias("_tk"))
    sh = shingle_expr(F.col("_tk"), k)
    if distinct:
        sh = F.array_distinct(sh)
    return staged.select(F.col(id_col), sh.alias(out))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = NUM_PERMS,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig) where sig[s] = min over shingles of the s-th affine
    permutation of the shingle's 28-bit md5-derived hash.

    Shape: explode(shingles) → ONE md5 per shingle → ``num_perms``
    integer affine maps → one hash aggregate computing all the MINs in
    parallel (partial aggregation collapses the per-doc shingle
    fan-out map-side, so the shuffle carries one ~`num_perms`×8-byte
    row per doc). Signature elements are stringified for the band
    hash; the MIN itself runs on integers.

    Pass a (persisted) ``shingle_df`` of (id, ss) to reuse shingles
    computed elsewhere in the same plan — tokenization is the hot
    path; self-join pipelines must not run it once per branch.
    """
    base = (
        shingle_df
        if shingle_df is not None
        else with_shingles(df, id_col, text_col)
    )
    exploded = base.select(F.col(id_col), F.explode("ss").alias("g"))
    hashed = exploded.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("g")), 1, 7), 16, 10).cast("long").alias("h"),
    )
    permed = hashed.select(
        F.col(id_col),
        *[
            ((F.lit(MINHASH_A[s]) * F.col("h") + F.lit(MINHASH_B[s])) % F.lit(MINHASH_P)).alias(
                f"h{s}"
            )
            for s in range(num_perms)
        ],
    )
    agg = permed.groupBy(id_col).agg(
        *[F.min(f"h{s}").alias(f"m{s}") for s in range(num_perms)]
    )
    return agg.select(
        F.col(id_col),
        F.array(
            *[F.col(f"m{s}").cast("string") for s in range(num_perms)]
        ).alias("sig"),
    )


def bands_from_sigs(
    sigs: DataFrame,
    id_col: str,
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(id, band, band_hash) bucket keys from a materialized
    ``(id, sig)`` frame — the :func:`lsh_bands` tail, split out (r16)
    so the incremental ingest can band PERSISTED state signatures
    without recomputing them from text. Band slices use literal
    offsets over the ``sig`` attribute — plain codegen expressions,
    no lambdas."""
    r = num_perms // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", F.slice(F.col("sig"), b * r + 1, r))).alias(
                    "band_hash"
                ),
            )
            for b in range(num_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )


def lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Explode each doc into (id, band, band_hash) bucket keys. Band
    slices use literal offsets over the materialized ``sig`` attribute
    — plain codegen expressions, no lambdas."""
    sigs = minhash_signatures(df, id_col, text_col, num_perms, shingle_df=shingle_df)
    return bands_from_sigs(sigs, id_col, num_perms, num_bands)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
    shingle_df: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    One keyed self-join on (band, band_hash) + distinct — no
    cross join anywhere. The band table feeds both join sides, so it
    must be persisted or the signature pipeline runs once per branch.

    Persist lifecycle: pass a persisted ``bands_df`` (built with
    :func:`lsh_bands`) to OWN the cache — the composition can then
    release it after materializing (operators/caching.py). Without
    one, the function persists internally; callers that return this
    frame lazily from a long-lived session should release via
    ``materialize_and_release`` at their composition root (see
    plans/dedup.py) so repeated calls don't accumulate dead cached
    relations."""
    b = (
        bands_df
        if bands_df is not None
        else lsh_bands(
            df, id_col, text_col, num_perms, num_bands, shingle_df=shingle_df
        ).persist()
    )
    if bands_df is None:
        # eager (r13 race doctrine): the freshly-persisted band table
        # feeds both self-join map sides
        b.count()
    left = b.select(F.col("band"), F.col("band_hash"), F.col(id_col).alias("id_a"))
    right = b.select(F.col("band"), F.col("band_hash"), F.col(id_col).alias("id_b"))
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def shingle_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_SIZE,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs — the right
    verifier when the vocabulary is small (token-set Jaccard
    saturates; k-gram sets still discriminate). Pass a persisted
    ``shingle_df`` (id, ss) to reuse upstream shingling; both join
    sides read it."""
    if shingle_df is not None:
        sets_ = shingle_df.select(
            F.col(id_col), F.array_distinct(F.col("ss")).alias("ss")
        )
    else:
        sets_ = with_shingles(docs, id_col, text_col, out="ss", k=k, distinct=True)
    out = pairs.join(
        sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("ss", "ss_a"), "id_a"
    ).join(
        sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("ss", "ss_b"), "id_b"
    )
    inter = F.size(F.array_intersect(F.col("ss_a"), F.col("ss_b")))
    union = F.size(F.array_union(F.col("ss_a"), F.col("ss_b")))
    return out.select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))


# --------------------------------------------------------------- SimHash


def _simhash_from_hash(toks: DataFrame, id_col: str, bits: int) -> DataFrame:
    """Shared tail: (id, h) token-hash rows → (id, simhash). Per-bit
    ±1 conditional sums in ONE partial-aggregated hash aggregate →
    sign vector packed into a single long."""
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    packed = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        packed = term if packed is None else packed.bitwiseOR(term)
    return bit_sums.select(F.col(id_col), packed.alias("simhash"))


def simhash_md5(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """Oracle-portable SimHash: token hash = first 15 md5 hex digits as
    a 60-bit integer (``conv(substr(md5(tok),1,15),16,10)`` — the same
    value DuckDB gets from ``('0x'||substr(md5(tok),1,15))::BIGINT``,
    verified bit-identical). 60 bits keeps the pack clear of the sign
    bit. Use this when cross-engine checkability matters;
    :func:`simhash64`'s xxhash64 is marginally cheaper per token."""
    toks = (
        df.select(F.col(id_col), tokenize_lower(F.col(text_col)).alias("_tk"))
        .select(F.col(id_col), F.explode(F.array_distinct(F.col("_tk"))).alias("tok"))
        .withColumn(
            "h", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        )
    )
    return _simhash_from_hash(toks, id_col, bits)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document from xxhash64 token hashes — the
    fast path when no oracle parity is needed (DuckDB lacks
    xxhash64)."""
    toks = (
        df.select(F.col(id_col), tokenize_lower(F.col(text_col)).alias("_tk"))
        .select(F.col(id_col), F.explode(F.array_distinct(F.col("_tk"))).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    return _simhash_from_hash(toks, id_col, 64)


def simhash_candidates(
    sh: DataFrame,
    id_col: str,
    prefix_bits: int = 16,
    bits: int = 64,
    max_hamming: int | None = None,
) -> DataFrame:
    """Candidate pairs from a (id, simhash) frame, two blocking modes:

    * default (``max_hamming=None``): block on the top ``prefix_bits``
      — near-identical docs almost always share the prefix; cheapest,
      probabilistic recall.
    * ``max_hamming=b``: the guaranteed-recall construction — the hash
      is cut into b+1 disjoint blocks; two codes within hamming
      distance b differ in at most b blocks, so BY PIGEONHOLE at least
      one block matches exactly, and every such pair survives the
      blocked join (recall 1.0 at hamming ≤ b, property-pinned in
      tests). Same join shape, (b+1)× the rows.

    Either way the self-join is keyed on the block, never all-pairs;
    exact hamming on the candidates is the verifier.

    ``max_hamming`` must satisfy ``1 <= max_hamming < bits``: 0 would
    make the single block span the whole word (its ``(1<<64)-1`` mask
    overflows a signed long — and "0 differing bits" is exact-match
    dedup, not a near-dup search), and ``>= bits`` would cut
    zero-width blocks whose mask is 0, collapsing every row onto one
    key — the all-pairs join the blocking exists to avoid."""
    if max_hamming is not None and not (1 <= max_hamming < bits):
        raise ValueError(
            f"max_hamming must be in [1, {bits - 1}] (got {max_hamming}); "
            "use exact dedup for 0 and a smaller bound for recall"
        )
    if max_hamming is None:
        blocked = sh.withColumn(
            "block", F.shiftright(F.col("simhash"), bits - prefix_bits)
        )
        a = blocked.select(F.col("block"), F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
        b = blocked.select(F.col("block"), F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
        pairs = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return pairs.select("id_a", "id_b", ham.alias("hamming"))
    specs = hamming_block_specs("simhash", bits, max_hamming)
    blocked = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*specs)).alias("b")
    ).select(
        id_col,
        "simhash",
        F.col("b.blk").alias("blk"),
        F.col("b.val").alias("val"),
    )
    a = blocked.select("blk", "val", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = blocked.select("blk", "val", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
    )


# ------------------------------------------------- pair resolution


#: Below this many verified pairs the transitive closure runs as
#: driver-side union-find: the edge list is a few MB while the
#: distributed loop pays 2-3 rounds of fixed job latency (join + agg +
#: checkpoint + fixpoint probe each). Verified near-dup PAIRS are
#: orders smaller than the corpus, but at true corpus scale they can
#: still be huge — the distributed loop remains the unbounded path.
DRIVER_UNION_FIND_MAX_PAIRS = 100_000


def _union_find_components(edges: list[tuple], spark) -> DataFrame:
    """Driver-side union-find with path compression — exact same
    (doc_id, rep=min id of component) contract as the distributed
    loop, minus per-round job latency. Only ever called on a bounded
    edge list."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the canonical rep
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(x, find(x)) for x in parent]
    # one-slice local frame (r16): the default createDataFrame split
    # this closure result into defaultParallelism Python-RDD slices —
    # 32 worker launches inside every dedup head's final action
    from sensorstream_scalable_sensor_data_pipeline_spark.functions.localframe import (
        tiny_local_frame,
    )

    return tiny_local_frame(spark, rows, "doc_id long, rep long")


def dup_components(
    pairs: DataFrame,
    max_iters: int = 10,
    strict: bool = False,
    driver_max_pairs: int = DRIVER_UNION_FIND_MAX_PAIRS,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: (doc_id, rep)
    where ``rep`` is the minimum doc_id of the document's connected
    component — the canonical survivor every other member dedups to.

    Detection alone is not dedup: pairs (a,b), (b,c) must collapse to
    ONE kept document, which needs the transitive closure. Algorithm:
    iterative min-label propagation — each node adopts the smallest
    label among itself and its neighbors until a fixpoint, reached in
    O(component diameter) rounds (near-dup clusters are tiny and
    dense, so 2-3 rounds in practice; ``max_iters`` bounds
    pathological chains).

    Scale shape: each round is one keyed self-join on doc_id plus a
    min-aggregate — ordinary shuffles, no driver data. The fixpoint
    check is a 1-row count. This is the standard open-source pattern
    for distributed connected components on sparse graphs
    (alternating large/small-star joins reduce to this on
    small-diameter graphs).

    If a component's diameter exceeds ``max_iters`` the labels are not
    a fixpoint: the failure direction is safe (extra survivors — some
    members keep a non-minimal rep, so they under-merge, never
    over-merge), but it must be observable — non-convergence raises
    when ``strict`` else emits a ``RuntimeWarning``.

    Size-aware strategy: when the pair count fits under
    ``driver_max_pairs`` (a few MB — the common case, since VERIFIED
    near-dup pairs are orders smaller than the corpus), the closure
    runs as driver-side union-find with path compression: same
    contract, exact convergence, none of the per-round job latency.
    Pass ``driver_max_pairs=0`` to force the distributed loop.
    """
    if driver_max_pairs:
        head = pairs.select("id_a", "id_b").limit(driver_max_pairs + 1).collect()
        if len(head) <= driver_max_pairs:
            return _union_find_components(
                [(r["id_a"], r["id_b"]) for r in head], pairs.sparkSession
            )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint (eager) each round: iterative self-referential
    # plans otherwise grow an exponentially-nested lineage that blows
    # the analyzer stack after ~10 rounds AND re-executes every prior
    # round inside each new one (measured: deferring the checkpoint to
    # every 3rd round cost +4 s at bench scale — the materialization
    # is memoization, not just lineage hygiene). Production systems
    # with failure-tolerance requirements use reliable checkpoint() to
    # a cluster store instead; same plan shape.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("rep", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for it in range(max_iters):
        # candidate label for each node: min over neighbors' labels
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("rep").alias("nbr_rep"))
            .withColumnRenamed("src", "doc_id")
        )
        updated = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))
                ).alias("rep"),
            )
            .localCheckpoint(eager=True)
        )
        # Round 1 always changes when any edge exists (each pair's
        # larger node adopts the smaller label), so the fixpoint probe
        # — a small but nonzero job — starts at round 2.
        changed = (
            updated.join(
                labels.withColumnRenamed("rep", "old_rep"), "doc_id"
            )
            .filter(F.col("rep") != F.col("old_rep"))
            .limit(1)
            .count()
            if it > 0
            else 1
        )
        # ``updated`` is already materialized with truncated lineage,
        # so the superseded round's checkpoint blocks are dead — free
        # them now instead of accumulating one cached RDD per round.
        superseded, labels = labels, updated
        superseded.unpersist()
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        msg = (
            f"dup_components did not reach a fixpoint in {max_iters} rounds "
            "(a component's diameter exceeds the bound); labels under-merge "
            "- raise max_iters"
        )
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 10,
    strict: bool = False,
    broadcast_losers: bool = False,
) -> DataFrame:
    """The end of the dedup pipeline: keep one canonical document per
    near-dup cluster (the min-id representative) and every document
    that appears in no pair. One components resolution + one left
    anti-join — docs never all-pairs anything. ``max_iters``/``strict``
    plumb through to :func:`dup_components` so pathological chains are
    observable at this level too.

    ``broadcast_losers=True`` broadcasts the loser-ID set into the
    anti-join so ``docs`` never shuffles — the right plan when rows
    are WIDE (image payloads: measured 113 MB of payload shuffle →
    ~0 on the pHash bench corpus) and the loser set is verified-pairs-
    bounded, i.e. orders smaller than the payload bytes. Default
    False: at true corpus scale a loser set can exceed broadcast
    budget, and the shuffle anti-join is the unbounded-safe path."""
    comp = dup_components(pairs, max_iters=max_iters, strict=strict)
    losers = comp.filter(F.col("rep") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.enrich import anti_filter

    return anti_filter(docs, losers, id_col, broadcast_keys=broadcast_losers)


def drop_matched(
    docs: DataFrame,
    hits: DataFrame,
    id_col: str = "doc_id",
    broadcast_ids: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """``docs`` minus every ``id_a`` of the cross-table ``hits`` — the
    tail of decontamination and of the incremental ingests' check
    against history (the other table always wins). ``materialize``
    checkpoints the id set eagerly, so the caches behind ``hits`` can
    be released before the caller reads the result."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.enrich import anti_filter

    ids = hits.select(F.col("id_a").alias(id_col)).distinct()
    if materialize:
        ids = ids.localCheckpoint(eager=True)
    return anti_filter(docs, ids, id_col, broadcast_keys=broadcast_ids)


def drop_signed_duplicates(
    docs: DataFrame,
    id_col: str,
    signatures: list[DataFrame],
    pairs: Callable[..., DataFrame],
    broadcast_ids: bool = True,
    cache: bool = True,
    while_cached: Callable[..., DataFrame] | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """The sign → pair → drop lifecycle shared by the image, audio and
    video dedup and decontamination entry points.

    ``signatures`` holds one table for dedup or two for
    decontamination (corpus, then eval set). With ``cache`` each is
    persisted and filled by one eager count
    (:func:`~...caching.cached`), and released on every path. ``pairs``
    receives the tables, then their counts when cached, and returns
    the verified ``(id_a, id_b, ...)`` pairs. Dedup drops every
    non-minimal member of each cluster of pairs
    (:func:`drop_near_duplicates`); decontamination drops every corpus
    ``id_a`` (:func:`drop_matched`). ``while_cached(*tables)`` runs
    before the release; with it, the call returns ``(survivors, its
    result)``.

    The id set to drop is broadcast into the final anti-join so the
    wide payload column of ``docs`` never shuffles: a plain anti-join
    measured 113 MB of image payload shuffle on the pHash bench
    corpus and 321 MB of audio payload at sf0.1, where the broadcast
    moves ~0. ``broadcast_ids=False`` (decontamination only) is the
    escape for an id set near the broadcast or driver limits
    (~10⁷-10⁸ 8-byte ids): the anti-join then shuffles the corpus
    once instead of OOMing the driver. Below that limit the escape
    costs ~nothing — at sf0.1 with 10 % and 50 % contamination AQE
    re-planned the tiny id side back to a broadcast at runtime
    (identical survivors, ≤0.4 MB shuffle, wall within ±10 %; the
    measurement is recorded in COVERAGE.md)."""
    with cached(*signatures) if cache else contextlib.nullcontext([]) as counts:
        found = pairs(*signatures, *counts)
        if len(signatures) == 1:
            out = drop_near_duplicates(
                docs, found, id_col=id_col, broadcast_losers=broadcast_ids
            )
        else:
            out = drop_matched(docs, found, id_col, broadcast_ids, cache)
        return out if while_cached is None else (out, while_cached(*signatures))


# ------------------------------------- shared Hamming/sequence helpers


def hamming_block_specs(col: str, bits: int, max_hamming: int) -> list:
    """The pigeonhole block exprs shared by every Hamming-blocked
    candidate generator (SimHash, pHash, frame-hash): cut a ``bits``-
    wide hash column into ``max_hamming+1`` disjoint blocks — two
    codes within the bound agree on ≥ 1 block — returning
    ``struct(blk, val)`` columns to explode. Masks after the
    (sign-extending) shift so negative hashes key identically on both
    join sides. Validates the same range as ``simhash_candidates``
    (review-found: a copied block loop in video_dedup dropped the
    guard — max_hamming=-1 silently generated zero blocks and kept
    every duplicate)."""
    if not (1 <= max_hamming < bits):
        raise ValueError(
            f"max_hamming must be in [1, {bits - 1}] (got {max_hamming}); "
            "use exact matching for 0 and a smaller bound for recall"
        )
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    specs, off = [], 0
    for i in range(n_blocks):
        w = width + (bits % n_blocks if i == n_blocks - 1 else 0)
        specs.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col(col), off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("val"),
            )
        )
        off += w
    return specs


def vote_best_offset(matched: DataFrame) -> DataFrame:
    """The offset-consistency vote shared by the audio and video
    matchers: from (id_a, id_b, off) match rows, count matches per
    offset and keep each pair's best — max count, ties to the
    smallest offset (deterministic). Returns
    (id_a, id_b, n_match, offset)."""
    votes = matched.groupBy("id_a", "id_b", "off").agg(
        F.count(F.lit(1)).alias("n_match")
    )
    w_best = F.max_by(
        F.struct("n_match", "off"), F.struct("n_match", F.col("off") * -1)
    )
    return (
        votes.groupBy("id_a", "id_b")
        .agg(w_best.alias("b"))
        .select(
            "id_a", "id_b",
            F.col("b.n_match").alias("n_match"),
            F.col("b.off").alias("offset"),
        )
    )


def blocked_hamming_matches(
    a: DataFrame,
    b: DataFrame,
    max_hamming: int,
    hash_col: str = "phash",
    id_col: str = "doc_id",
    carry_cols: tuple = (),
    bits: int = 64,
    broadcast_b: bool = False,
) -> DataFrame:
    """The full blocked-pigeonhole match — blocks + equi-join + exact
    Hamming verify + per-row dedup — as ONE shared helper (review-
    found: three sites carried byte-identical copies of this
    scaffolding, the same drift risk that motivated
    :func:`hamming_block_specs`). Returns rows
    ``(id_a, id_b[, <carry>_a, <carry>_b], hamming)`` for every
    (a-row, b-row) pair within the bound; callers apply their own
    ``id_a < id_b`` filter for self-joins. ``broadcast_b`` marks the
    b side broadcast-joinable (e.g. a small eval set).
    ``max_hamming=0`` is the exact-hash equi-join: one key, so a pair
    meets once and needs neither the verify nor the dedup."""
    out_cols = (
        ["id_a", "id_b"]
        + [f"{c}_a" for c in carry_cols]
        + [f"{c}_b" for c in carry_cols]
    )
    if max_hamming == 0:

        def exact(df: DataFrame, side: str) -> DataFrame:
            return df.select(
                F.col(hash_col).alias("_v"),
                F.col(id_col).alias(f"id_{side}"),
                *[F.col(c).alias(f"{c}_{side}") for c in carry_cols],
            )

        rhs = exact(b, "b")
        return (
            exact(a, "a")
            .join(F.broadcast(rhs) if broadcast_b else rhs, "_v")
            .select(*out_cols, F.lit(0).alias("hamming"))
        )
    specs = hamming_block_specs(hash_col, bits, max_hamming)

    def blocked(df: DataFrame, side: str) -> DataFrame:
        base = df.select(
            F.col(id_col),
            F.col(hash_col),
            *[F.col(c) for c in carry_cols],
            F.explode(F.array(*specs)).alias("_b"),
        )
        return base.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(hash_col).alias(f"h_{side}"),
            *[F.col(c).alias(f"{c}_{side}") for c in carry_cols],
            F.col("_b.blk").alias("blk"),
            F.col("_b.val").alias("val"),
        )

    rhs = blocked(b, "b")
    if broadcast_b:
        rhs = F.broadcast(rhs)
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        blocked(a, "a")
        .join(rhs, ["blk", "val"])
        .filter(ham <= max_hamming)
        .select(*out_cols, ham.alias("hamming"))
        # a pair can match in several blocks — dedup per row identity;
        # hamming is a pure function of the pair's two hashes, so the
        # min IS the value and the aggregate doubles as the distinct
        .groupBy(*out_cols)
        .agg(F.min("hamming").alias("hamming"))
    )
