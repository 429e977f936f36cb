"""Text-analysis operators over ``documents`` (SURVEY §2.12 north-star).

Language-ID, quality scoring, token counting, and fingerprinting —
the per-document stages of a training-data pipeline. All are pure
column expressions (no UDFs): tokenization via regex split, scoring
via higher-order array functions — whole-stage-codegen'd, embarrassingly
parallel, no shuffles at all. At 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
    language_id,
    quality_score,
    tokenize,
)
from sensorstream_scalable_sensor_data_pipeline_spark.plans.registry import query
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table


@query(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS n_tokens,
           length(text) AS n_chars_actual,
           CAST(length(text) AS DOUBLE) / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS chars_per_token,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_pieces,
           CAST(COALESCE(list_sum(list_transform(
                 regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'),
                 p -> greatest(1, CAST(ceil(length(p) / 4.0) AS BIGINT)))), 0)
             AS BIGINT) AS n_subwords_est
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both flavors the task calls for: whitespace
    tokens (sizing stats) and a BPE-ish regex estimate — GPT-2-style
    pre-tokenizer pieces (letter/digit runs, single punctuation) with
    a max(1, ceil(len/4)) subword estimate per piece. All codegen
    column math; the piece array stages once per row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        bpe_ish_pieces,
        subword_count_estimate,
    )

    staged = docs.select(
        "doc_id", "text", bpe_ish_pieces(F.col("text")).alias("_pieces")
    )
    return staged.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        (F.length("text").cast("double") / F.size(toks)).alias("chars_per_token"),
        F.size("_pieces").alias("n_pieces"),
        subword_count_estimate(F.col("_pieces")).alias("n_subwords_est"),
    )


@query(
    "text_quality_score",
    oracle=r"""
    SELECT doc_id, n_tokens, stopword_ratio, mean_token_len,
           CASE WHEN n_tokens >= 10 AND stopword_ratio >= 0.05 AND mean_token_len BETWEEN 2 AND 12
                THEN 1 ELSE 0 END AS quality_ok
    FROM (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(len(list_filter(toks, t -> list_contains(
                 ['the','a','of','and','to','in','is','it','you','that'], t))) AS DOUBLE)
               / len(toks) AS stopword_ratio,
             CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks) AS mean_token_len
      FROM (SELECT doc_id, string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks FROM documents)
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-ratio / token-shape gates
    (Gopher-style rules) as pure column math."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, "text").select(
        "doc_id", "n_tokens", "stopword_ratio", "mean_token_len", "quality_ok"
    )


@query(
    "text_language_id",
    oracle=r"""
    SELECT doc_id,
           CASE
             WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             ELSE (
               SELECT lang FROM (
                 SELECT unnest(['en','de','es','fr']) AS lang,
                        unnest([
                          len(list_filter(toks, t -> list_contains(['the','and','of','to','is'], t))),
                          len(list_filter(toks, t -> list_contains(['der','und','die','das','ist'], t))),
                          len(list_filter(toks, t -> list_contains(['el','la','de','que','es'], t))),
                          len(list_filter(toks, t -> list_contains(['le','la','et','les','est'], t)))
                        ]) AS hits
               ) ORDER BY hits DESC, lang DESC LIMIT 1
             )
           END AS lang_pred
    FROM (SELECT doc_id, text, string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks FROM documents)
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: CJK codepoint check, else argmax of per-language
    stopword hits (deterministic tie-break by language code). A
    shuffle-free heuristic langid running at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


#: text_fingerprint's oracle, kept importable for the rotated-slot
#: local suite (tests/test_queries_vs_oracle.py) after the round-10
#: second rotation: its slot now carries funnel/event-sequence
#: matching (plans/temporal.py::funnel_match_query), the CEP-lite
#: operator family added this round.
TEXT_FINGERPRINT_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id, text,
             string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_md5,
           list_aggregate(list_transform(toks, t -> md5(t)), 'min') AS min_token_md5,
           CASE WHEN len(toks) = 0 THEN 0 ELSE
             list_reduce(list_transform(toks,
                 t -> CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT)),
               (acc, h) -> (acc * 1000003 + h) % 2147483647)
           END AS rolling_hash
    FROM tk
    """


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, all three primitives the dedup family
    composes: a normalization-invariant content hash (md5 of
    whitespace-collapsed lowercased text), a 1-perm MinHash (min token
    md5 — a SET sketch), and a Rabin-Karp polynomial rolling hash over
    the token SEQUENCE (order-sensitive: reordered content changes it,
    which the set sketch cannot see). Tokens stage once and feed both
    token-level hashes.

    Rotated OUT of the 50-slot driver registry in round 10 (second
    rotation): the text family keeps four driver-green rows
    (token stats, quality, language-ID, vocab top-k) and every
    fingerprint primitive stays exercised by the dedup family's
    driver rows; this query stays locally oracle-pinned in the
    rotated-slot suite; the freed slot carries funnel matching."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        rolling_hash,
        tokenize_lower,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "text", tokenize_lower(F.col("text")).alias("_tk")
    )
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " "), r"^ | $", ""
    )
    return staged.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.array_min(F.transform(F.col("_tk"), F.md5)).alias("min_token_md5"),
        rolling_hash(F.col("_tk")).alias("rolling_hash"),
    )


@query(
    "text_vocab_topk",
    oracle=r"""
    SELECT token, n, rank FROM (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token ASC) AS rank
      FROM (
        SELECT token, count(*) AS n FROM (
          SELECT unnest(string_split_regex(
                   regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS token
          FROM documents
        ) GROUP BY token
      )
    ) WHERE rank <= 20
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: explode tokens → one partial-aggregated
    count shuffle on the token → global top-20 (ORDER BY + LIMIT is a
    TakeOrdered, no full sort). The canonical n-gram-stats shape from
    SURVEY §2.12; at 100 TB the token count shuffle carries one row
    per distinct token after map-side combine, and hot tokens ('the')
    are exactly the AQE-splittable skew case."""
    from pyspark.sql import Window

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import tokenize_lower

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokenize_lower(F.col("text")).alias("_tk")).select(
        F.explode("_tk").alias("token")
    )
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counted.orderBy(F.desc("n"), F.asc("token")).limit(20)
    # rank over the already-20-row result — the window sorts 20 rows,
    # not the vocabulary
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token")))
    )


# Corpus curation: the end-to-end training-data flow — quality gate →
# language-ID → exact dedup → per-language corpus stats. The oracle
# re-composes the (already individually oracle-matched) quality,
# langid, and fingerprint expressions in one CTE chain.
_CURATE_ORACLE = r"""
WITH tk AS (
  SELECT doc_id, text,
         string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS toks
  FROM documents
), q AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tokens,
         CAST(len(list_filter(toks, t -> list_contains(
             ['the','a','of','and','to','in','is','it','you','that'], t))) AS DOUBLE)
           / len(toks) AS stopword_ratio,
         CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE)
           / len(toks) AS mean_token_len
  FROM tk
), gated AS (
  SELECT doc_id, text, toks, n_tokens FROM q
  WHERE n_tokens >= 10 AND stopword_ratio >= 0.05
    AND mean_token_len BETWEEN 2 AND 12
), keyed AS (
  SELECT doc_id, n_tokens,
         CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
              ELSE (
                SELECT lang FROM (
                  SELECT unnest(['en','de','es','fr']) AS lang,
                         unnest([
                           len(list_filter(toks, t -> list_contains(['the','and','of','to','is'], t))),
                           len(list_filter(toks, t -> list_contains(['der','und','die','das','ist'], t))),
                           len(list_filter(toks, t -> list_contains(['el','la','de','que','es'], t))),
                           len(list_filter(toks, t -> list_contains(['le','la','et','les','est'], t)))
                         ]) AS hits
                ) ORDER BY hits DESC, lang DESC LIMIT 1
              )
         END AS lang_pred,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_md5
  FROM gated
), uniq AS (
  SELECT norm_md5,
         min(lang_pred) AS lang_pred,
         min(n_tokens) AS n_tokens
  FROM keyed GROUP BY norm_md5
)
SELECT lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM uniq GROUP BY lang_pred
"""


@query("docs_curate_corpus", oracle=_CURATE_ORACLE)
def docs_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    pipeline actually runs: Gopher-style quality gate (pure column
    math, scan-speed) → heuristic language-ID → exact dedup on the
    normalization-invariant content hash → per-language doc/token
    totals. Plan shape: zero shuffles until the dedup groupBy on the
    uniform 128-bit key, then a tiny per-language aggregate — the
    filters cut the corpus BEFORE the only data-sized shuffle, which
    is the order you want at 100 TB.

    The stages share ONE staged token array rather than composing
    quality_score/language_id/a content fingerprint directly: each of those
    re-tokenizes, and the resulting expression tree (3 regex splits ×
    nested lambda filters) overwhelms codegen — measured 6.8 s cold
    and *degrading* to 42 s on re-run in one JVM, vs 5.1 s cold /
    1.8 s warm staged. Semantics are identical (tokens are
    whitespace-split lowercase; md5(concat_ws(' ', toks)) equals the
    md5 of whitespace-collapsed lowered text, as in dedup_exact)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        CJK_RANGE,
        QUALITY_STOPWORDS,
        STOPWORDS,
        _stopword_hits,
        tokenize_lower,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", "text", tokenize_lower(F.col("text")).alias("_tk"))
    n = F.size(F.col("_tk"))
    stop_ratio = _stopword_hits(F.col("_tk"), QUALITY_STOPWORDS).cast("double") / n
    mean_len = F.length(F.concat_ws("", F.col("_tk"))).cast("double") / n
    gated = staged.withColumn("n_tokens", n).filter(
        (n >= 10) & (stop_ratio >= 0.05) & mean_len.between(2, 12)
    )
    scored = F.array(
        *[
            F.struct(
                _stopword_hits(F.col("_tk"), words).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in STOPWORDS.items()
        ]
    )
    lang = F.when(F.col("text").rlike(CJK_RANGE), F.lit("zh")).otherwise(
        F.array_max(scored)["lang"]
    )
    keyed = gated.select(
        "doc_id",
        "n_tokens",
        lang.alias("lang_pred"),
        F.md5(F.concat_ws(" ", F.col("_tk"))).alias("norm_md5"),
    )
    uniq = keyed.groupBy("norm_md5").agg(
        F.min("lang_pred").alias("lang_pred"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return uniq.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring, the cheap honest tier: mean unigram
    log-probability per document under the corpus's own
    Laplace-smoothed unigram model (the shape of CCNet-style
    perplexity filtering, with the n-gram LM reduced to n=1 so the
    whole thing is two aggregates and a join — no model artifact,
    no UDF). Low scores flag boilerplate/garbage whose tokens are
    improbable under the corpus distribution.

    Plan shape: (1) one explode + map-side-combined token count →
    vocab table (+ two scalar totals to the driver: N, V); (2) one
    keyed join tokens × vocab (broadcast when the vocab fits — here
    it does; at web scale the join is an ordinary keyed shuffle,
    AQE-skew-splittable on stopwords) → per-doc aggregate. Per-token
    ``ln`` values are floored onto a 1e-6 grid and summed as BIGINTs
    so the per-doc mean is partition-order independent; the DuckDB
    twin (tests) replays everything except libm's last ulp, so the
    local oracle compares with a 2e-6 tolerance instead of the usual
    hash. Not registered (registry at the driver's 50-row cap)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        tokenize_lower,
    )

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokenize_lower(F.col("text")).alias("_tk"))
    toks = staged.select("doc_id", F.explode("_tk").alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    totals = vocab.agg(
        F.sum("n_t").alias("N"), F.count(F.lit(1)).alias("V")
    ).collect()[0]
    n_total, v_size = int(totals["N"]), int(totals["V"])
    lp = F.log(
        (F.col("n_t") + 1).cast("double") / F.lit(float(n_total + v_size))
    )
    scored = toks.join(F.broadcast(vocab), "token").select(
        "doc_id", F.floor(lp * F.lit(1_000_000.0)).cast("long").alias("_g")
    )
    return scored.groupBy("doc_id").agg(
        (
            (F.sum("_g").cast("double") / F.lit(1_000_000.0))
            / F.count(F.lit(1))
        ).alias("mean_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def curate_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    holdout_per_mille: int = 100,
    scrub: bool = False,
    max_dup_line_frac: float | None = None,
    max_top_ngram_frac: float | None = None,
    remove_dup_spans: bool = False,
    span_tokens: int = 20,
) -> DataFrame:
    """The COMPLETE training-data curation flow as one composition —
    what a real corpus pipeline runs end to end (not registered: the
    registry sits at the driver's 50-row cap; every stage is
    individually oracle-checked and this composition is pinned by
    tests/test_sampling.py):

    [optional PII scrub] → quality gate → exact dedup (md5 canonical,
    min-id survivor) → MinHash+LSH near-dup pairs →
    connected-components resolution → canonical drop → [optional
    span-level exact-substring dedup, ``remove_dup_spans=True``] →
    deterministic train/holdout split.

    ``scrub=True`` applies :func:`~...operators.scrub.scrub_text`
    BEFORE tokenization, so the gate, the content fingerprint, and
    the shingles all see redacted text — two documents identical
    except for a rotating tracking URL become exact duplicates and
    dedup together (the recall repair scrub.py's docstring argues
    for; pinned by tests/test_sampling.py). Chained regexp_replace
    column math: the stage adds zero shuffles and zero persists.

    ``max_dup_line_frac`` / ``max_top_ngram_frac`` (default off)
    additionally gate on the Gopher-style repetition signals
    (operators/repetition.py): documents whose duplicate-line
    fraction or top-bigram share exceeds the threshold are dropped
    via one LEFT SEMI join against the per-doc signal frame —
    exploded-then-keyed aggregates, so enabling the gate adds keyed
    shuffles but nothing all-pairs. Documents too short to have
    n-gram stats pass the n-gram check (the token-count gate below
    owns that case).

    Scale shape: column-math gates (scan speed) → one hash agg →
    blocked LSH joins on candidates only → O(diameter) component
    rounds → anti-join → hash-bucket split (no shuffle). No stage is
    all-pairs; every shuffle is keyed.

    The token array is staged ONCE and carried through gate, content
    hash, and shingles — the composition naively re-tokenizes three
    times (gate + md5 + shingles), and tokenization is the measured
    per-document hot path (see module docstring / dedup_fuzzy cliffs).
    The deduped base is persisted: four downstream consumers (both
    LSH join sides via the shingle frame, the Jaccard verifier, the
    canonical-drop anti-join, the final projection) would each replay
    the gate + dedup shuffle otherwise.

    No ``on_error`` knob here DELIBERATELY (r15): text curation has
    no decode boundary — every stage is Catalyst column math over
    string columns, which cannot raise on malformed content the way
    a codec does — so there is nothing to quarantine; the multimodal
    capstone (plans/multimodal.py::curate_image_corpus) is the one
    with the knob.

    Persist lifecycle: the composition OWNS its three caches (deduped
    base, shingle frame, band table) and releases all of them after
    materializing the (tiny — one row per surviving doc id) result via
    ``materialize_and_release`` — repeated calls in a long-lived
    session leave the CacheManager clean (pinned by
    tests/test_sampling.py::test_curation_releases_all_persists).
    """
    from pyspark.sql import functions as F

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.caching import (
        materialize_and_release,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
        drop_near_duplicates,
        lsh_bands,
        minhash_lsh_candidates,
        shingle_expr,
        shingle_jaccard,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        hash_split,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
        QUALITY_STOPWORDS,
        _stopword_hits,
        tokenize_lower,
    )

    docs = load_table(spark, sf_dir, "documents")
    if scrub:
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.scrub import (
            scrub_text,
        )

        docs = docs.withColumn("text", scrub_text(F.col("text")))
    if max_dup_line_frac is not None or max_top_ngram_frac is not None:
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.repetition import (
            repetition_signals,
        )

        sig = repetition_signals(docs, id_col="doc_id", text_col="text")
        cond = F.lit(True)
        if max_dup_line_frac is not None:
            cond = cond & (F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_ngram_frac is not None:
            cond = cond & F.coalesce(
                F.col("top_ngram_frac") <= max_top_ngram_frac, F.lit(True)
            )
        docs = docs.join(sig.filter(cond).select("doc_id"), "doc_id", "left_semi")
    staged = docs.select(
        "doc_id", "text", tokenize_lower(F.col("text")).alias("_tk")
    )
    # Same gate thresholds as quality_score/docs_curate_corpus, over
    # the shared staged array.
    n = F.size(F.col("_tk"))
    stop_ratio = _stopword_hits(F.col("_tk"), QUALITY_STOPWORDS).cast("double") / n
    mean_len = F.length(F.concat_ws("", F.col("_tk"))).cast("double") / n
    gated = staged.withColumn("n_tokens", n).filter(
        (n >= 10) & (stop_ratio >= 0.05) & mean_len.between(2, 12)
    )

    # Exact dedup: min doc_id survives per normalized-content key —
    # ONE struct-min hash aggregate (key_dedup_deterministic shape)
    # instead of groupBy + join-back, halving the shuffles here.
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup import (
        key_dedup_deterministic,
    )

    keyed = gated.select(
        F.md5(F.concat_ws(" ", F.col("_tk"))).alias("norm_md5"),
        "doc_id",
        "text",
        "n_tokens",
        "_tk",
    )
    exact_unique = (
        key_dedup_deterministic(keyed, ["norm_md5"], "doc_id", keep="min")
        .select("doc_id", "text", "n_tokens", "_tk")
        .persist()
    )
    # Near-dup: LSH candidates → verified pairs → component drop. The
    # shingle frame reuses the staged tokens (no re-tokenization);
    # the band table is built HERE (not inside minhash_lsh_candidates)
    # so this composition owns — and can release — every cache.
    sh = exact_unique.select(
        "doc_id", shingle_expr(F.col("_tk")).alias("ss")
    ).persist()
    bands = lsh_bands(exact_unique, "doc_id", "text", shingle_df=sh).persist()
    # ONE eager count materializes all THREE caches (r17; was one job
    # per cache): bands → sh → exact_unique is a LINEAR lineage — the
    # single bands.count() job scans exact_unique once (filling its
    # cache), builds sh from it (filling that cache), then the band
    # table. The r13 race doctrine requires caches to be warm before a
    # MULTI-branch action consumes them (both LSH join sides, the
    # jaccard verify, the anti-join, the final projection — all AFTER
    # this job); it never required one job per cache, and a linear
    # chain has no parallel branches to race. The head was measured
    # codegen-latency-bound (its two extra eager-count stages burned
    # 19.4 + 12.1 task-s at near-zero CPU, r17 profile) — two fewer
    # jobs is two fewer whole-stage compile rounds.
    bands.count()
    cands = minhash_lsh_candidates(
        exact_unique, "doc_id", "text", shingle_df=sh, bands_df=bands
    )
    pairs = shingle_jaccard(
        cands, exact_unique, "doc_id", "text", shingle_df=sh
    ).filter(F.col("jaccard") >= 0.8)
    unique = drop_near_duplicates(exact_unique, pairs)

    if remove_dup_spans:
        # Span-level pass over the SURVIVORS (r8 verdict task #6):
        # document-granularity dedup above cannot touch boilerplate
        # passages repeated inside otherwise-distinct documents; the
        # ExactSubstr operator removes every non-canonical occurrence
        # and n_tokens shrinks accordingly. Runs after the near-dup
        # drop so dropped documents claim no canonical copies, and
        # before the split — which hashes doc_id only, so the
        # zero-holdout-leakage property is untouched by the rewrite.
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_substring import (
            remove_duplicate_spans as _remove_spans,
        )

        unique = _remove_spans(
            unique.select("doc_id", "text"), span_tokens=span_tokens
        ).select(
            "doc_id",
            (F.col("n_tokens") - F.col("n_tokens_removed")).alias("n_tokens"),
        )

    out = hash_split(unique, "doc_id", holdout_per_mille=holdout_per_mille).select(
        "doc_id", "n_tokens", "split"
    )
    return materialize_and_release(out, exact_unique, sh, bands)


def curate_with_span_dedup_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head (r8 verdict task #6): the full curation capstone
    WITH the span-level exact-substring stage enabled — a separate
    head from the carried ``curate_training_corpus`` so the span
    stage's incremental cost is a recorded round-over-round DELTA
    rather than a silent workload change to a comparability head.
    Ends in a per-split aggregate consuming n_tokens (bench-head
    doctrine: the summary must read the span-adjusted counts or the
    reassembly prunes out of the timed plan)."""
    out = curate_training_corpus(
        spark, sf_dir, remove_dup_spans=True, span_tokens=10
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def html_extract_corpus_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench head (r10): HTML → text extraction throughput at corpus
    scale. The documents table ships as plain text, so the head first
    WRAPS each document in deterministic markup scan-side (title +
    head chrome, sentence boundaries → ``<p>`` tags, entity-escaped
    ampersands, a nav/footer div) and then runs the full
    :func:`operators.html.extract_html_text` chain — so the timed
    region pays both the synthetic wrap and the extraction, a fair
    stand-in for the regex-chain cost on real markup of the same
    volume (the wrap is two concats + one regexp_replace; the
    extraction is ~35 regex/replace passes and dominates). Ends in an
    aggregate consuming BOTH computed columns (text and title) per
    the bench-head doctrine."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.html import (
        extract_html_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit(
                "<html><head><title>Doc &amp; title #"
            ),
            F.col("doc_id").cast("string"),
            F.lit(
                "</title><style>p{margin:0}</style>"
                "<script>var t='<p>not text</p>';</script></head><body><p>"
            ),
            F.regexp_replace(F.col("text"), "\\. ", ".</p>\n<p>"),
            F.lit(
                "</p><div>footer &copy; nav &#38; chrome</div></body></html>"
            ),
        ).alias("text"),
    )
    out = extract_html_text(wrapped)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.length("title")).alias("total_title_chars"),
        F.avg(F.length("text")).alias("avg_chars"),
    )


# ----------------------- html_extract_corpus driver oracle (r11 rotation)


def _duckdb_html_chain_sql(expr: str) -> str:
    """DuckDB (RE2) SQL expression replaying the EXACT
    ``operators.html.html_to_text`` chain over ``expr``, generated
    from the module's own constants so the oracle cannot drift from
    the implementation order (same discipline as the step-by-step
    replay in tests/test_html.py, folded into one nested expression
    the driver can run as plain SQL). Newline replacements go through
    ``chr(10)`` and the &amp;-sentinel through ``chr(0)`` — both
    verified DuckDB-representable."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.html import (
        _BLOCK_TAGS,
        _DROP_CONTENT,
        _ENTITIES,
    )

    def sq(s: str) -> str:
        return s.replace("'", "''")

    c = expr
    for el in _DROP_CONTENT:
        c = f"regexp_replace({c}, '(?is)<{el}\\b[^>]*>.*?</{el}>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?s)<!--.*?-->', ' ', 'g')"
    c = f"regexp_replace({c}, '(?i)</?(?:{_BLOCK_TAGS})\\b[^>]*>', chr(10), 'g')"
    c = f"regexp_replace({c}, '(?s)<[^>]*>', '', 'g')"
    sentinel = "chr(0) || 'amp' || chr(0)"
    for ent, repl in (
        ("&#34;", "'\"'"), ("&#x22;", "'\"'"),
        ("&#60;", "'<'"), ("&#x3c;", "'<'"),
        ("&#62;", "'>'"), ("&#x3e;", "'>'"),
        ("&#160;", "' '"), ("&#xa0;", "' '"),
        ("&#39;", "''''"), ("&#x27;", "''''"),
        ("&#38;", sentinel), ("&#x26;", sentinel),
    ):
        c = f"replace({c}, '{ent}', {repl})"
    for ent, repl in _ENTITIES:
        c = f"replace({c}, '{sq(ent)}', '{sq(repl)}')"
    c = f"replace({c}, {sentinel}, '&')"
    c = f"regexp_replace({c}, '[ \\t\\r\\f]+', ' ', 'g')"
    c = f"regexp_replace({c}, ' ?\\n ?', chr(10), 'g')"
    c = f"regexp_replace({c}, '\\n{{2,}}', chr(10), 'g')"
    return f"regexp_replace({c}, '^\\s+|\\s+$', '', 'g')"


def _duckdb_html_title_sql(expr: str) -> str:
    """DuckDB replay of ``operators.html.html_title`` (same
    constant-driven generation)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.html import (
        _ENTITIES,
    )

    def sq(s: str) -> str:
        return s.replace("'", "''")

    t = f"regexp_extract({expr}, '(?is)<title[^>]*>(.*?)</title>', 1)"
    for ent, repl in _ENTITIES:
        t = f"replace({t}, '{sq(ent)}', '{sq(repl)}')"
    return f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"


#: The exact markup wrap the bench head applies, as DuckDB SQL (the
#: apostrophes in the script chrome double-escaped).
_HTML_WRAP_SQL = (
    "'<html><head><title>Doc &amp; title #' || CAST(doc_id AS VARCHAR) || "
    "'</title><style>p{margin:0}</style>"
    "<script>var t=''<p>not text</p>'';</script></head><body><p>' || "
    "regexp_replace(text, '\\. ', '.</p>' || chr(10) || '<p>', 'g') || "
    "'</p><div>footer &copy; nav &#38; chrome</div></body></html>'"
)

HTML_EXTRACT_CORPUS_ORACLE = f"""
    WITH wrapped AS (
      SELECT doc_id, lang, {_HTML_WRAP_SQL} AS html
      FROM documents
    ), ex AS (
      SELECT lang,
             {_duckdb_html_chain_sql("html")} AS text,
             {_duckdb_html_title_sql("html")} AS title
      FROM wrapped
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(length(text))::BIGINT AS total_chars,
           SUM(length(title))::BIGINT AS total_title_chars,
           AVG(length(text)) AS avg_chars
    FROM ex
    WHERE length(text) >= 1
    GROUP BY lang
    """


@query("html_extract_corpus", oracle=HTML_EXTRACT_CORPUS_ORACLE)
def html_extract_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction at corpus scale (operators/html.py): a
    deterministic markup wrap of every document (title + head chrome,
    sentence-boundary ``<p>`` tags, escaped entities, footer chrome)
    followed by the full zero-UDF Catalyst regex extraction chain,
    aggregated per language. Rotated INTO the 50-slot driver registry
    in round 11 (third rotation — the freed slot is
    ``mm_binary_metadata``, whose metadata stats are subsumed by the
    still-driver-green ``mm_feature_extract``); the oracle replays the
    exact extraction chain in DuckDB RE2, generated from the html
    module's own constants. Zero shuffles before the final 5-group
    aggregate — at 100 TB this is pure scan CPU."""
    return html_extract_corpus_head(spark, sf_dir)
