"""Repetition signals and the token-budget sampler vs DuckDB
oracles (local-oracle: the registry sits at the driver's 50-row cap).
Every ratio is a single IEEE divide of exact BIGINT counts, so the
comparison is bit-exact, not tolerance-based."""

from __future__ import annotations

from pyspark.sql import functions as F

from sensorstream_scalable_sensor_data_pipeline_spark.operators.repetition import (
    repetition_signals,
)
from sensorstream_scalable_sensor_data_pipeline_spark.sources.tables import load_table
from tests.oracle_check import assert_frames_match

#: DuckDB twin of tokenize_lower (the corpus-wide normalization).
_TK = (
    "string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),"
    " '\\s+')"
)

_REP_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         {_TK} AS tk
  FROM documents
),
l AS (SELECT doc_id, unnest(lines) AS line FROM d),
pl AS (SELECT doc_id, line, count(*) AS cnt FROM l GROUP BY 1, 2),
ls AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_lines,
         1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
           AS dup_line_frac,
         CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END)
              AS DOUBLE)
           / CAST(nullif(sum(cnt * length(line)), 0) AS DOUBLE)
           AS dup_line_char_frac
  FROM pl GROUP BY 1
),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i + 1])) AS gram
  FROM d WHERE len(tk) >= 2
),
pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
gs AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_ngrams,
         CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
           AS top_ngram_frac
  FROM pg GROUP BY 1
)
SELECT ls.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
       n_ngrams, top_ngram_frac
FROM ls LEFT JOIN gs ON ls.doc_id = gs.doc_id
"""


def test_repetition_signals_match_duckdb(spark, duck, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = repetition_signals(docs)
    assert_frames_match(
        got.toPandas(), duck.sql(_REP_ORACLE).df(), "repetition_signals"
    )


def test_repetition_signals_known_values(spark):
    """Hand-checkable document: 4 lines of which 'dup' appears twice;
    a dominating bigram."""
    text = "dup\ndup\nunique line\nspam spam spam spam"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = repetition_signals(docs).collect()[0]
    assert r["n_lines"] == 4
    assert abs(r["dup_line_frac"] - 0.25) < 1e-12  # 1 - 3/4
    # duplicated chars: 2*3 of total 2*3 + 11 + 19 = 36
    assert abs(r["dup_line_char_frac"] - 6.0 / 36.0) < 1e-12
    # tokens: dup dup unique line spam spam spam spam -> 7 bigrams,
    # 'spam spam' ×3 is the top
    assert r["n_ngrams"] == 7
    assert abs(r["top_ngram_frac"] - 3.0 / 7.0) < 1e-12


def test_sample_to_token_budget(spark, duck, sf_dir):
    """Budget-driven mixture: per-stratum keep-rates derived from
    token totals, selection replayed bit-exactly in DuckDB via the
    md5-bucket formula, and realized token counts near the budget for
    a genuinely-downsampled stratum."""
    import math

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.sampling import (
        BUCKETS,
        sample_to_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")).alias(
            "stratum"
        ),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    totals = {
        r["stratum"]: r["t"]
        for r in docs.groupBy("stratum").agg(F.sum("n_tokens").alias("t")).collect()
    }
    budgets = {"s0": totals["s0"] // 3, "s1": totals["s1"] * 2}  # s2 dropped
    sampled, rates = sample_to_token_budget(
        docs, "doc_id", "stratum", "n_tokens", budgets
    )
    assert rates["s1"] == BUCKETS  # budget above total keeps everything
    assert rates["s0"] == math.ceil(budgets["s0"] / totals["s0"] * BUCKETS)
    got = sampled.select("doc_id", "stratum", "n_tokens")
    oracle = f"""
    WITH d AS (
      SELECT doc_id,
             's' || CAST(doc_id % 3 AS VARCHAR) AS stratum,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, stratum, n_tokens FROM d
    WHERE CAST(('0x' || substr(md5('mixture:' || CAST(doc_id AS VARCHAR)), 1, 7))
               AS BIGINT) % 1000
          < CASE stratum WHEN 's0' THEN {rates['s0']}
                         WHEN 's1' THEN {rates['s1']} ELSE 0 END
    """
    assert_frames_match(got.toPandas(), duck.sql(oracle).df(), "token_budget")
    realized = {
        r["stratum"]: r["t"]
        for r in sampled.groupBy("stratum").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert "s2" not in realized  # unbudgeted stratum dropped
    assert realized["s1"] == totals["s1"]  # fully kept
    # downsampled stratum lands near its budget (hash-uniformity +
    # per-document granularity tolerance)
    assert realized["s0"] <= totals["s0"]
    assert abs(realized["s0"] - budgets["s0"]) / budgets["s0"] < 0.35


def test_curation_repetition_gate(spark, tmp_path):
    """The optional repetition gate: a spam document (one line
    repeated, one dominating bigram) is dropped when thresholds are
    set, kept when the gate is off; the clean document survives both
    ways and the composition stays persist-clean."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.text import (
        curate_training_corpus,
    )

    clean = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches and the birds sing in the morning air today"
    )
    spam = "\n".join(["buy cheap pills now and the deal is great"] * 12)
    docs = spark.createDataFrame(
        [(1, clean), (2, spam)], "doc_id long, text string"
    )
    sf = str(tmp_path / "sf")
    docs.write.parquet(f"{sf}/documents.parquet")

    cm = spark._jsparkSession.sharedState().cacheManager()
    plain = {r["doc_id"] for r in curate_training_corpus(spark, sf).collect()}
    assert plain == {1, 2}
    gated = {
        r["doc_id"]
        for r in curate_training_corpus(
            spark, sf, max_dup_line_frac=0.3, max_top_ngram_frac=0.2
        ).collect()
    }
    assert gated == {1}
    assert cm.isEmpty(), "repetition-gated curation leaked persists"


def test_corpus_quality_plans_have_no_cartesian(spark, sf_dir):
    """The repetition signals may never plan an all-pairs join: no
    CartesianProduct / BroadcastNestedLoopJoin nodes at any size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = repetition_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
