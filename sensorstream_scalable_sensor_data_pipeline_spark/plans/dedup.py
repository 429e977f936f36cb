"""Deduplication query family (SURVEY §2.12) over ``documents`` /
``embeddings`` — exact, MinHash+LSH, blocked n-gram Jaccard, SimHash,
embedding-cosine near-dup.

Every query here is fully oracle-checked: the hashing is string-domain
(md5) so DuckDB can replay each step bit-for-bit, and every double
that feeds a comparison is produced by a single IEEE op over exactly
reproduced integers (see ``functions/aggfns.py`` for the grid-sum
rationale the cosine queries reuse).

Scale design (the part that matters at 100 TB): candidate generation
is always a *keyed equi-join on a blocking key* (LSH band bucket,
simhash prefix, min-shingle, metadata label) — never an all-pairs
cross join — so pair count is bounded by bucket occupancy and the
shuffle is AQE-skew-splittable. Verification (exact Jaccard / hamming
/ cosine) touches only the candidates. Reference ties: generalizes the
reference's key dedup (main_pipeline.py:328) and full-row dedup
(Initial pipeline with pandas.txt:186) to content-level identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    minhash_lsh_candidates,
    shingle_jaccard,
    simhash_md5,
    with_shingles,
)
from sensorstream_scalable_sensor_data_pipeline_spark.functions.localframe import (
    tiny_local_frame,
)
from sensorstream_scalable_sensor_data_pipeline_spark.plans.registry import query
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table

# Shared oracle CTE: whitespace-normalized lowercase tokens and
# 3-gram shingle sets — the SQL twin of operators/text.py::tokenize_lower
# + operators/dedup_fuzzy.py::shingles.
_TOKS_CTE = r"""
toks AS (
  SELECT doc_id,
         string_split_regex(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3
           THEN list_transform(generate_series(0, len(tk) - 3),
                               i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
           ELSE [array_to_string(tk, ' ')] END AS ss
  FROM toks
)
"""


@query(
    "dedup_exact",
    oracle=r"""
    SELECT md5(regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                              '^ | $', '', 'g')) AS content_key,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by md5 of whitespace-normalized
    lowercase text, keep the lowest doc_id per group. One map-side-
    combined hash aggregate on a uniform 128-bit key — the cheapest
    possible dedup at any scale (the groupBy generalization of the
    reference's dropDuplicates, main_pipeline.py:328)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        tokenize_lower,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Normalized text = lowercase tokens re-joined with single spaces —
    # identical string to regexp-collapsing whitespace, but avoids the
    # regexp_replace∘lower composition slow path (5.2 s → ~2 s at
    # sf0.1). Staged so the tokenizer runs once per row.
    staged = docs.select(
        F.col("doc_id"), tokenize_lower(F.col("text")).alias("_tk")
    )
    return (
        staged.select(
            F.md5(F.concat_ws(" ", F.col("_tk"))).alias("content_key"),
            F.col("doc_id"),
        )
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_MINHASH_A_SQL = "[" + ", ".join(str(a) for a in MINHASH_A) + "]"
_MINHASH_B_SQL = "[" + ", ".join(str(b) for b in MINHASH_B) + "]"


@query(
    "dedup_minhash_lsh",
    oracle=r"""
    WITH """ + _TOKS_CTE + r""",
    hh AS (
      SELECT doc_id,
             list_transform(ss,
               x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)) AS hv
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(generate_series(0, 11),
               s -> CAST(list_min(list_transform(hv,
                      h -> ((""" + _MINHASH_A_SQL + r""")[s + 1] * h
                            + (""" + _MINHASH_B_SQL + r""")[s + 1])
                           % """ + str(MINHASH_P) + r""")) AS VARCHAR)) AS sig
      FROM hh
    ),
    bands AS (
      SELECT doc_id, b,
             md5(array_to_string(list_slice(sig, b * 3 + 1, b * 3 + 3), '|')) AS band_hash
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a JOIN bands b2 ON a.b = b2.b AND a.band_hash = b2.band_hash
      WHERE a.doc_id < b2.doc_id
    ),
    ssets AS (SELECT doc_id, list_distinct(ss) AS ds FROM sh)
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)
             / len(list_distinct(sa.ds || sb.ds)) AS jaccard
    FROM cand
    JOIN ssets sa ON sa.doc_id = id_a
    JOIN ssets sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)
             / len(list_distinct(sa.ds || sb.ds)) >= 0.8
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by exact shingle Jaccard
    ≥ 0.8. 12 md5 permutations in 4 bands of 3 (operators/
    dedup_fuzzy.py); candidates come from ONE keyed self-join on
    (band, band_hash), verification joins only the candidates — no
    all-pairs stage anywhere, so the plan is a chain of uniform keyed
    shuffles that survives arbitrary corpus growth."""
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize/shingle ONCE; every downstream branch (both band-join
    # sides, both verify sides) reads the persisted (doc_id, ss) table
    # instead of re-running the string pipeline. At 100 TB this is a
    # MEMORY_AND_DISK dataset ~the size of the token stream — still
    # far cheaper than 5 recomputations of the tokenizer. Both caches
    # (shingles, band table) are owned here and released after the
    # (candidate-sized) result materializes — repeated calls in a
    # long session must not accumulate dead cached relations.
    from pyspark import StorageLevel

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import (
        materialize_and_release,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
        lsh_bands,
    )

    sh = with_shingles(docs, "doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = lsh_bands(docs, "doc_id", "text", shingle_df=sh).persist()
    # ONE eager count materializes BOTH caches (r17): the bands
    # lineage scans sh exactly once on its way to the band table, so
    # this single job fills sh's cache as a side effect — the r13 race
    # doctrine needs every cache warm before a MULTI-branch action
    # consumes it, not one job per cache; a linear chain has no
    # parallel branches to race. Dropping sh.count() removes one job
    # (and its whole-stage-codegen compile round, the measured cost of
    # every extra job at this scale — see ingest_fuzzy, r16 §6).
    bands.count()
    cands = minhash_lsh_candidates(
        docs, "doc_id", "text", shingle_df=sh, bands_df=bands
    )
    out = shingle_jaccard(
        cands, docs, "doc_id", "text", shingle_df=sh
    ).filter(F.col("jaccard") >= 0.8)
    return materialize_and_release(out, sh, bands)


#: ngram-blocked dedup's oracle, kept importable for the rotated-slot
#: local suite (tests/test_queries_vs_oracle.py) after the round-10
#: registry rotation: its slot now carries the TRUE stream-stream
#: as-of join (plans/streaming_queries.py::stream_asof_join_query),
#: the most load-bearing streaming operator without a driver row.
DEDUP_NGRAM_BLOCKED_ORACLE = r"""
    WITH """ + _TOKS_CTE + r""",
    keyed AS (
      SELECT doc_id, list_distinct(ss) AS ds,
             list_min(list_transform(ss, x -> md5(x))) AS block
      FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.ds, b.ds)) AS DOUBLE)
             / len(list_distinct(a.ds || b.ds)) AS jaccard
    FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
    """


def dedup_ngram_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard: block key = min md5 over a doc's
    3-gram shingles (a 1-permutation MinHash), exact shingle Jaccard
    within each block. The degenerate-geometry end of the LSH family —
    one blocking join, cheapest recall/cost point.

    Rotated OUT of the 50-slot driver registry in round 10 (r9
    verdict task #4): the dedup family keeps three driver-green rows
    (exact, MinHash-LSH, embedding-cosine) plus span-level substring;
    this query stays locally oracle-pinned in the rotated-slot suite;
    the freed slot carries the TRUE stream-stream as-of join."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import (
        cached_result,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = with_shingles(docs, "doc_id", "text", out="ds", distinct=True).select(
        F.col("doc_id"),
        F.col("ds"),
        F.array_min(F.transform(F.col("ds"), F.md5)).alias("block"),
    )

    def jaccard_pairs(keyed: DataFrame) -> DataFrame:
        a = keyed.select(
            F.col("block"), F.col("doc_id").alias("id_a"), F.col("ds").alias("ds_a")
        )
        b = keyed.select(
            F.col("block"), F.col("doc_id").alias("id_b"), F.col("ds").alias("ds_b")
        )
        inter = F.size(F.array_intersect(F.col("ds_a"), F.col("ds_b")))
        union = F.size(F.array_union(F.col("ds_a"), F.col("ds_b")))
        return (
            a.join(b, "block")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))
        )

    # keyed feeds both self-join sides
    return cached_result(jaccard_pairs, keyed)


#: simhash's oracle, kept importable for the rotated-slot local suite
#: (tests/test_queries_vs_oracle.py) after the round-9 registry
#: rotation (r8 verdict task #3): its slot now carries span-level
#: exact-substring dedup (``dedup_substring`` below).
DEDUP_SIMHASH_ORACLE = r"""
    WITH """ + _TOKS_CTE + r""",
    tok AS (SELECT doc_id, unnest(list_distinct(tk)) AS t FROM toks),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    bits AS (
      SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b)
      GROUP BY 1, 2
    ),
    shash AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
      FROM bits GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM shash a JOIN shash b
      ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit md5-domain simhash per doc
    (operators/dedup_fuzzy.py::simhash_md5), blocked self-join on the
    top-16-bit prefix, hamming ≤ 3. The simhash itself is one
    explode + one partial-aggregated hash aggregate; the pair join is
    keyed on the prefix block (2^16 buckets — uniform unless the
    corpus is one giant near-dup class, which IS the skew AQE
    splits).

    Rotated OUT of the 50-slot driver registry in round 9 (r8 verdict
    task #3): the dedup family keeps four driver-green rows (exact,
    MinHash-LSH, blocked n-gram, embedding-cosine) and simhash stays
    locally oracle-pinned in tests/test_queries_vs_oracle.py's
    rotated-slot suite; the freed slot carries span-level
    exact-substring dedup, the most user-load-bearing r8 addition."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import (
        cached_result,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = simhash_md5(docs, "doc_id", "text", bits=60)
    blocked = sh.withColumn("block", F.shiftright(F.col("simhash"), 44))

    def near_pairs(blocked: DataFrame) -> DataFrame:
        a = blocked.select(
            F.col("block"), F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a")
        )
        b = blocked.select(
            F.col("block"), F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b")
        )
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return (
            a.join(b, "block")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= 3)
        )

    # (doc_id, simhash) is 16 bytes/doc; cached so the hash pipeline
    # runs once, not once per self-join side
    return cached_result(near_pairs, blocked)


#: Span length for the registered query — matches the bench head:
#: below the synthetic documents' typical length so the window stage
#: does real work, long enough that only planted/boilerplate passages
#: match.
_SUBSTR_SPAN = 10

#: Full SQL twin of operators/dedup_substring.py::remove_duplicate_spans
#: at span_tokens=10. Same five stages: tokenize (original case kept,
#: lowercase only for matching), per-position window fingerprints,
#: global canonical = min (doc_id, wpos) per duplicated fingerprint
#: (row_number twin of Spark's min(struct)), covered-position
#: expansion (the set union of removal windows — equals the Spark
#: side's merged-interval complement), and reassembly by anti-joining
#: covered positions then re-joining kept tokens with single spaces.
_DEDUP_SUBSTRING_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(
               regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS tk
      FROM documents
    ),
    lk AS (
      SELECT doc_id, tk, list_transform(tk, t -> lower(t)) AS lt FROM toks
    ),
    winpos AS (
      SELECT doc_id, lt,
             unnest(generate_series(0, len(lt) - {_SUBSTR_SPAN})) AS wpos
      FROM lk
    ),
    wins AS (
      SELECT doc_id, wpos,
             md5(array_to_string(
               list_slice(lt, wpos + 1, wpos + {_SUBSTR_SPAN}), ' ')) AS wfp
      FROM winpos
    ),
    marked AS (
      SELECT doc_id, wpos,
             count(*) OVER (PARTITION BY wfp) AS n,
             row_number() OVER (PARTITION BY wfp ORDER BY doc_id, wpos) AS rn
      FROM wins
    ),
    removal AS (
      SELECT doc_id, wpos FROM marked WHERE n >= 2 AND rn > 1
    ),
    covered AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id,
               unnest(generate_series(wpos + 1, wpos + {_SUBSTR_SPAN})) AS p
        FROM removal
      )
    ),
    pos AS (
      SELECT doc_id,
             unnest(generate_series(1, len(tk))) AS i,
             unnest(tk) AS tok
      FROM toks
    ),
    keptagg AS (
      SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.i) AS ktext
      FROM pos p
      WHERE NOT EXISTS (
        SELECT 1 FROM covered c WHERE c.doc_id = p.doc_id AND c.p = p.i
      )
      GROUP BY p.doc_id
    ),
    nrem AS (
      SELECT doc_id, count(*) AS nr FROM covered GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(k.ktext, '') AS text,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(coalesce(r.nr, 0) AS BIGINT) AS n_tokens_removed
    FROM toks t
    LEFT JOIN keptagg k ON t.doc_id = k.doc_id
    LEFT JOIN nrem r ON t.doc_id = r.doc_id
    """


@query("dedup_substring", oracle=_DEDUP_SUBSTRING_ORACLE)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (span-level) dedup over the full documents
    table — operators/dedup_substring.py::remove_duplicate_spans, the
    Lee et al. 2022 ExactSubstr tier at window granularity. Returns
    every document's rebuilt text plus token accounting, so the
    driver's value hash pins the whole chain per document: window
    fingerprints, the global-canonical aggregate, interval merge, and
    the O(n) complement-slice reassembly.

    Rotated INTO the 50-slot driver registry in round 9 (r8 verdict
    task #3), taking ``dedup_simhash``'s slot (that query stays
    locally oracle-pinned in the rotated-slot suite)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_substring import (
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_duplicate_spans(docs, span_tokens=_SUBSTR_SPAN)


# ------------------------------------------------- embedding near-dup

from sensorstream_scalable_sensor_data_pipeline_spark.functions.vectors import (  # noqa: E402
    grid_cosine_sql,
    grid_dot,
)

_COS_AB = grid_cosine_sql("a.embedding", "b.embedding")


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_AB} >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs within the same coarse cluster
    (``label`` — the metadata blocking key; in production the IVF
    assignment) with cosine ≥ threshold. Candidates come from a keyed
    equi-join on the block — never all-pairs; per-block size bounds
    the quadratic term, and the cosine itself is exact grid
    arithmetic so the threshold cut is engine-stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    b = emb.select(
        F.col("label"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    cos = grid_dot(F.col("e_a"), F.col("e_b")) / (
        F.sqrt(grid_dot(F.col("e_a"), F.col("e_a")))
        * F.sqrt(grid_dot(F.col("e_b"), F.col("e_b")))
    )
    return pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= 0.3
    )


#: ingest_incremental_recovery's oracle (QUEUED for the r19 registry
#: rotation — written and locally pinned in r15, per the r14 verdict's
#: queue-cadence task: the incremental-ingest FAMILY's first driver
#: slot). The derived delivery stream is closed-form: batch 1 = even
#: doc_ids; batch 2 = odd doc_ids plus re-deliveries of every
#: doc_id % 10 == 0 document under id+10^6 and within-batch duplicates
#: of every odd doc_id % 7 == 3 document under id+2·10^6. Perfect
#: incremental recovery accepts, per content key (the md5 of
#: whitespace-normalized lowercase text — fingerprint_docs'
#: identity): the min EVEN id when the key has one (batch 1 committed
#: first — history always wins, even over a smaller odd id arriving
#: later), else the min odd id; no synthetic (+10^6/+2·10^6) id ever
#: survives (re-deliveries reject against state, within-batch
#: duplicates lose the min-id vote to their original). This is NOT
#: dedup_exact's global-min — the history-wins asymmetry is exactly
#: what makes it an INGEST oracle. Duplicate-text-aware: sf0.1's
#: documents carry 8 duplicate keys, so the CASE matters there.
def _two_batch_delivery(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The deterministic two-batch delivery stream both ingest
    recovery plans share: (batch 1 = evens, batch 2 = odds +
    re-deliveries of every even doc_id % 10 == 0 under a new id +
    within-batch duplicates of every odd doc_id % 7 == 3 under a new
    id). Synthetic ids must exceed EVERY genuine doc_id — the
    closed-form oracle's min-even-else-min survivor rule relies on it
    — so the offset derives from the actual id range instead of a
    fixed 1M/2M a larger scale factor could collide with (r15
    ADVICE). Scalar collect; both plans run full ingests anyway.
    base > max_id ⇒ original < base ≤ redelivered < 2·base ≤
    duplicated, and 2·base stays even so batch-2 groups stay
    odd-only — the oracle is offset-invariant under this bound."""
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    base = docs.agg(F.max("doc_id")).first()[0] + 1
    redelivered = even.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(base)).alias("doc_id"), "text"
    )
    dup_in_batch = odd.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + F.lit(2 * base)).alias("doc_id"), "text"
    )
    return even, odd.unionByName(redelivered).unionByName(dup_in_batch)


INGEST_INCREMENTAL_RECOVERY_ORACLE = r"""
    SELECT count(*) AS n_kept, CAST(sum(keep_id) AS BIGINT) AS id_sum
    FROM (
      SELECT CASE
               WHEN min(CASE WHEN doc_id % 2 = 0 THEN doc_id END)
                    IS NOT NULL
               THEN min(CASE WHEN doc_id % 2 = 0 THEN doc_id END)
               ELSE min(doc_id)
             END AS keep_id
      FROM (
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(lower(text),
                                                 '\s+', ' ', 'g'),
                                  '^ | $', '', 'g')) AS k
        FROM documents
      )
      GROUP BY k
    )
    """


def ingest_incremental_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-recovery for the crash-consistent incremental text
    ingest (r19 rotation queue, pre-pinned r15) — the registry-shaped
    form of operators/dedup_incremental.py::ingest_batch: derive a
    deterministic two-batch delivery stream from the documents table
    (evens first; then odds + re-deliveries under new ids +
    within-batch duplicates under new ids), run BOTH ingests through
    the real two-dir staging/commit protocol against a fresh state
    dir, and emit the survivor count + id-sum the closed-form oracle
    predicts. Any state leak (re-delivery accepted), lost survivor,
    or history-inversion (a later smaller id displacing a committed
    one) breaks the value hash.

    State lives in a per-call temp dir; the result row is computed
    BEFORE cleanup and returned as a one-row frame (scalar driver
    transfer — the same shape as every ``*_recovery`` row)."""
    import shutil
    import tempfile

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    even, b2 = _two_batch_delivery(docs)

    sdir = tempfile.mkdtemp(prefix="spark-graft-ingest-recovery-")
    try:
        a1 = ingest_batch(spark, even, sdir, batch_id="r19b1")
        a2 = ingest_batch(spark, b2, sdir, batch_id="r19b2")
        row = (
            a1.unionByName(a2)
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.sum("doc_id").alias("id_sum"),
            )
            .first()
        )
        return tiny_local_frame(spark, [row], "n_kept long, id_sum long")
    finally:
        shutil.rmtree(sdir, ignore_errors=True)


#: stream_ingest_recovery's oracle (QUEUED as the r21 rotation
#: in-candidate, written and locally pinned in r16 per queue
#: discipline — the streaming ingest face's first driver slot).
#: IDENTICAL closed form to the batch pin: the streaming face runs
#: the SAME delivery through a real checkpointed foreachBatch query
#: (file source, one file per micro-batch, mtime-ordered), so any
#: epoch-ordering break, redelivery leak through the
#: (run_id, epoch) idempotency key, or stream/batch semantic
#: divergence breaks the value hash.
STREAM_INGEST_RECOVERY_ORACLE = INGEST_INCREMENTAL_RECOVERY_ORACLE


def stream_ingest_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-recovery for the exactly-once STREAMING dedup ingest
    (r21 rotation queue, pre-pinned r16) — the registry-shaped form
    of streaming/ingest.py::stream_ingest: materialize the shared
    two-batch delivery as two single-file parquet drops with
    strictly ordered modification times
    (``streaming/pipeline.py::land_files``), drain them through a real
    checkpointed ``ingest_writer`` query (``maxFilesPerTrigger=1`` →
    one epoch per file, availableNow termination), and read the
    accepted corpus back. The survivor set must equal the batch
    protocol's — the closed-form min-even-else-min oracle — because
    foreachBatch's stable epoch ids compose with the
    idempotent-by-batch_id commit protocol into exactly-once state.
    The pinned mtimes make epoch 0 ALWAYS the evens batch (the
    history-wins side of the oracle)."""
    import posixpath
    import shutil
    import tempfile

    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.ingest import (
        accepted_corpus,
        ingest_writer,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.streaming.pipeline import (
        drain,
        file_stream,
        land_files,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1, b2 = _two_batch_delivery(docs)

    work = tempfile.mkdtemp(prefix="spark-graft-stream-recovery-")
    state = posixpath.join(work, "state")
    try:
        src = land_files([b1, b2], posixpath.join(work, "src"))
        drain(
            spark,
            ingest_writer(
                spark,
                file_stream(spark, src),
                state,
                posixpath.join(work, "ckpt"),
                run_id="r21",
                maintain_max_batch_dirs=None,
            ),
        )
        row = (
            accepted_corpus(spark, state)
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.sum("doc_id").alias("id_sum"),
            )
            .first()
        )
        return tiny_local_frame(spark, [row], "n_kept long, id_sum long")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------- semdedup bench head


def semdedup_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head for operators/semdedup.py: the full train → assign →
    within-cluster pair → τ-cut chain over the embeddings table, ended
    in a summary that CONSUMES the cosines (plans/temporal.py
    measurement doctrine — an unread cosine column would let Catalyst
    prune the pair math out of the counted plan). τ sits at the
    dedup_embedding_cosine threshold so the cut produces real pairs at
    bench scale; k targets ~n/20-sized clusters (the SemDeDup scaling
    rule: k grows with n to hold cluster size — and the quadratic
    pair term — constant)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.semdedup import (
        semdedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = semdedup_pairs(spark, emb, k=20, tau=0.3)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg("cosine").alias("avg_cosine"),
        F.max("cosine").alias("max_cosine"),
    )


# ------------------------------------- exact-substring dedup bench head


def dedup_substring_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head for operators/dedup_substring.py: full span-level
    dedup over the documents table — window fingerprints on every
    token, the global-canonical aggregate, interval merge, and O(n)
    reassembly — ended in a summary that CONSUMES the rebuilt text
    (sum of output lengths) so Catalyst cannot prune the reassembly
    out of the counted plan (plans/temporal.py measurement doctrine).
    span_tokens=10 sits below the synthetic documents' typical length
    so the window stage does real work at bench scale."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_substring import (
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = remove_duplicate_spans(docs, span_tokens=10)
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_tokens_removed").alias("tokens_removed"),
        F.sum(F.length("text")).alias("out_chars"),
    )


def ingest_fuzzy_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head for the incremental NEAR-dup text ingest (r16):
    two-batch delivery over the documents table — evens first, then
    odds plus EXACT re-deliveries of every even doc_id % 10 == 0
    under an out-of-range id — through the real staging/commit
    protocol in a per-call temp state dir. In-head assertions pin the
    structural invariants the closed form can't give (the corpus's
    own near-dup tail is data-dependent): no synthetic re-delivery id
    ever survives (signature state rejects all of them), and the
    corpus read equals the two batches' accepted union."""
    import shutil
    import tempfile

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_fuzzy_batch,
        read_accepted,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.agg(F.max("doc_id")).first()[0] + 1
    even = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        even.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + F.lit(base)).alias("doc_id"), "text"
        )
    )
    sdir = tempfile.mkdtemp(prefix="spark-graft-fuzzy-head-")
    try:
        n1 = ingest_fuzzy_batch(spark, even, sdir, batch_id="h1").count()
        a2 = ingest_fuzzy_batch(spark, b2, sdir, batch_id="h2")
        # one aggregate job for both assertions (r17; was two separate
        # scans of the staged batch — each extra job costs a
        # whole-stage-codegen compile round, this head's measured
        # bound): total accepted + how many synthetic re-delivery ids
        # survived, in a single pass.
        row = a2.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("doc_id") >= base, 1)).alias("n_synth"),
        ).first()
        n2, n_synth = row["n"], row["n_synth"]
        assert n_synth == 0, f"{n_synth} re-delivered ids survived"
        total = read_accepted(spark, sdir).count()
        assert total == n1 + n2, (total, n1, n2)
        return tiny_local_frame(
            spark,
            [(n1, n2, total)],
            "accepted_b1 long, accepted_b2 long, corpus long",
        )
    finally:
        shutil.rmtree(sdir, ignore_errors=True)


#: ingest_fuzzy_recovery's oracle (r16, local pin — a future rotation
#: candidate): the STRONGEST oracle class in the repo — a FULL DuckDB
#: replay of the two-batch incremental NEAR-dup ingest, end to end:
#: md5-minhash signatures (the dedup_minhash_lsh replay), per-batch
#: band candidates, EXACT shingle-Jaccard verification, the
#: connected-component closure as a RECURSIVE CTE (min over the
#: reachable set — clusters are tiny so reachability stays small),
#: and the cross-state signature-agreement verifier (>= 9 of 12
#: equal elements == the engine's count/12 >= 0.75, exactly
#: representable). Any divergence anywhere in the chain — a band
#: hash, a Jaccard tie, a closure hop, an agreement count, the
#: history-wins anti-join — breaks the value hash.
INGEST_FUZZY_RECOVERY_ORACLE = (
    r"""
    WITH RECURSIVE
    base AS (SELECT max(doc_id) + 1 AS b FROM documents),
    members AS (
      SELECT doc_id, text, 1 AS batch FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, 2 AS batch FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT d.doc_id + base.b AS doc_id, d.text, 2 AS batch
      FROM documents d, base WHERE d.doc_id % 2 = 0 AND d.doc_id % 10 = 0
    ),
    toks AS (
      SELECT doc_id, batch,
             string_split_regex(
               regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS tk
      FROM members
    ),
    sh AS (
      SELECT doc_id, batch,
             CASE WHEN len(tk) >= 3
               THEN list_transform(generate_series(0, len(tk) - 3),
                       i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
               ELSE [array_to_string(tk, ' ')] END AS ss
      FROM toks
    ),
    hh AS (
      SELECT doc_id, batch,
             list_transform(ss,
               x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)) AS hv
      FROM sh
    ),
    sig AS (
      SELECT doc_id, batch,
             list_transform(generate_series(0, 11),
               s -> CAST(list_min(list_transform(hv,
                      h -> (("""
    + _MINHASH_A_SQL
    + r""")[s + 1] * h
                            + ("""
    + _MINHASH_B_SQL
    + r""")[s + 1])
                           % """
    + str(MINHASH_P)
    + r""")) AS VARCHAR)) AS sig
      FROM hh
    ),
    bands AS (
      SELECT doc_id, batch, b,
             md5(array_to_string(list_slice(sig, b * 3 + 1, b * 3 + 3), '|'))
               AS band_hash
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    ssets AS (SELECT doc_id, batch, list_distinct(ss) AS ds FROM sh),
    cand AS (
      SELECT DISTINCT a.batch, a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a JOIN bands b2
        ON a.batch = b2.batch AND a.b = b2.b AND a.band_hash = b2.band_hash
      WHERE a.doc_id < b2.doc_id
    ),
    vpairs AS (
      SELECT c.batch, c.id_a, c.id_b
      FROM cand c
      JOIN ssets sa ON sa.doc_id = c.id_a AND sa.batch = c.batch
      JOIN ssets sb ON sb.doc_id = c.id_b AND sb.batch = c.batch
      WHERE CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)
              / len(list_distinct(sa.ds || sb.ds)) >= 0.8
    ),
    edges AS (
      SELECT batch, id_a AS a, id_b AS b FROM vpairs
      UNION ALL SELECT batch, id_b, id_a FROM vpairs
    ),
    reach(batch, a, b) AS (
      SELECT batch, a, b FROM edges
      UNION
      SELECT r.batch, r.a, e.b FROM reach r JOIN edges e
        ON r.batch = e.batch AND r.b = e.a
    ),
    rep AS (
      SELECT m.batch, m.doc_id,
             least(m.doc_id,
                   coalesce((SELECT min(r.b) FROM reach r
                             WHERE r.batch = m.batch AND r.a = m.doc_id),
                            m.doc_id)) AS rep
      FROM members m
    ),
    within AS (SELECT batch, doc_id FROM rep WHERE rep = doc_id),
    surv1 AS (SELECT doc_id FROM within WHERE batch = 1),
    cross_cand AS (
      SELECT DISTINCT b2.doc_id AS m, s1.doc_id AS s
      FROM bands b2
      JOIN within w ON w.batch = 2 AND w.doc_id = b2.doc_id AND b2.batch = 2
      JOIN bands sb ON sb.batch = 1 AND sb.b = b2.b
                   AND sb.band_hash = b2.band_hash
      JOIN surv1 s1 ON s1.doc_id = sb.doc_id
    ),
    hits AS (
      SELECT DISTINCT c.m
      FROM cross_cand c
      JOIN sig g2 ON g2.batch = 2 AND g2.doc_id = c.m
      JOIN sig g1 ON g1.batch = 1 AND g1.doc_id = c.s
      WHERE len(list_filter(generate_series(1, 12),
                            i -> g2.sig[i] = g1.sig[i])) >= 9
    ),
    surv2 AS (
      SELECT doc_id FROM within WHERE batch = 2
      AND doc_id NOT IN (SELECT m FROM hits)
    ),
    surv AS (SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv2)
    SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM surv
    """
)


def ingest_fuzzy_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-replay recovery for the incremental NEAR-dup text ingest
    (r16; local pin + future rotation candidate): the same two-batch
    delivery shape as :func:`ingest_incremental_recovery` — evens
    first, then odds + exact re-deliveries of every even
    doc_id % 10 == 0 under an out-of-range id — through the REAL
    staging/commit protocol of ``ingest_fuzzy_batch`` in a per-call
    temp state dir. Unlike the exact pin there is no closed form (the
    corpus's natural near-dup structure decides the survivors); the
    oracle replays the ENTIRE chain instead (see the oracle comment),
    so the result hash pins minhash, banding, exact-Jaccard
    verification, the closure, and the cross-state
    signature-agreement rejection bit for bit."""
    import shutil
    import tempfile

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_incremental import (
        ingest_fuzzy_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.agg(F.max("doc_id")).first()[0] + 1
    even = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        even.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + F.lit(base)).alias("doc_id"), "text"
        )
    )
    sdir = tempfile.mkdtemp(prefix="spark-graft-fuzzy-recovery-")
    try:
        a1 = ingest_fuzzy_batch(spark, even, sdir, batch_id="fz1")
        a2 = ingest_fuzzy_batch(spark, b2, sdir, batch_id="fz2")
        row = (
            a1.unionByName(a2)
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.sum("doc_id").alias("id_sum"),
            )
            .first()
        )
        return tiny_local_frame(spark, [row], "n_kept long, id_sum long")
    finally:
        shutil.rmtree(sdir, ignore_errors=True)
