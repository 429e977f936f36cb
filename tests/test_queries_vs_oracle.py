"""The t2 gate, locally: every registered query with an oracle must
hash-match DuckDB on the same tables. Parametrized over the whole
registry so adding a query automatically adds its check."""

from __future__ import annotations

import pytest

from sensorstream_scalable_sensor_data_pipeline_spark import plans
from tests.oracle_check import assert_frames_match

ORACLES = plans.all_oracles()
QUERIES = plans.all_queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    ddf = duck.sql(ORACLES[name]).df()
    assert_frames_match(sdf, ddf, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_without_oracle_runs(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_w3_session_window_matches_oracle(spark, duck, sf_dir):
    """w3 entered the 50-slot driver registry in round 12 (rotation
    #4); this local pin predates that and stays as the second witness.
    Same sessions as w2, native session_window operator."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.analytics import (
        W3_SESSION_WINDOW_ORACLE,
        w3_session_window,
    )

    sdf = w3_session_window(spark, sf_dir).toPandas()
    ddf = duck.sql(W3_SESSION_WINDOW_ORACLE).df()
    assert_frames_match(sdf, ddf, "w3_session_window")


def test_sales_rollup_matches_oracle(spark, duck, sf_dir):
    """Hierarchical ROLLUP (region → nation → grand total) vs DuckDB's
    GROUP BY ROLLUP with GROUPING id bits — local-oracle (registry at
    the 50-row cap). Exact dsum accumulation keeps subtotal doubles
    bit-identical across engines."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.analytics import (
        sales_rollup,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.registry import (
        dsum_sql,
    )

    sdf = sales_rollup(spark, sf_dir).toPandas()
    oracle = f"""
    SELECT r.r_name, n.n_name,
           {dsum_sql('o.o_totalprice')} AS revenue,
           count(*) AS n_orders,
           GROUPING(r.r_name, n.n_name) AS gid
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """
    ddf = duck.sql(oracle).df()
    assert_frames_match(sdf, ddf, "sales_rollup")
    # shape sanity: one grand-total row; one subtotal per region
    assert (sdf["gid"] == 3).sum() == 1
    assert (sdf["gid"] == 1).sum() == sdf.loc[sdf["gid"] == 0, "r_name"].nunique()


def test_sales_cube_matches_oracle(spark, duck, sf_dir):
    """Full CUBE over (region, priority) vs DuckDB GROUP BY CUBE —
    all four grouping sets, gid bits included."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.analytics import (
        sales_cube,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.registry import (
        dsum_sql,
    )

    sdf = sales_cube(spark, sf_dir).toPandas()
    oracle = f"""
    SELECT r.r_name, o.o_orderpriority,
           {dsum_sql('o.o_totalprice')} AS revenue,
           count(*) AS n_orders,
           GROUPING(r.r_name, o.o_orderpriority) AS gid
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY CUBE(r.r_name, o.o_orderpriority)
    """
    ddf = duck.sql(oracle).df()
    assert_frames_match(sdf, ddf, "sales_cube")
    # all four grouping sets present; exactly one grand total
    assert set(sdf["gid"].unique()) == {0, 1, 2, 3}
    assert (sdf["gid"] == 3).sum() == 1


def test_ivf_recall_vs_exact(spark, sf_dir):
    """The trained-quantizer ANN must actually find neighbors: recall@5
    against the exact brute-force ranking. nprobe=2 of k=10
    strided-seed trained centroids recovers nearly all of the true
    top-5 (measured 1.00 at sf0.001, 0.96 at sf0.01)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        sim_ann_ivf,
        sim_topk_cosine,
    )

    exact = {
        (r["query_id"], r["nbr_id"])
        for r in sim_topk_cosine(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["nbr_id"]) for r in sim_ann_ivf(spark, sf_dir).collect()
    }
    assert exact, "exact baseline returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall@5 too low: {recall:.2f}"


def test_signlsh_multitable_amplification(spark, sf_dir):
    """OR-amplification: unioning candidates from L independent
    Rademacher tables must not lose recall vs one table and must
    strictly add candidate coverage (miss probability decays
    exponentially in L)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        sim_ann_signlsh,
        sim_signlsh_multitable,
        sim_topk_cosine,
    )

    exact = {
        (r["query_id"], r["nbr_id"])
        for r in sim_topk_cosine(spark, sf_dir).collect()
    }
    # 4-bit buckets: at the tiny test sf an 8-bit code shatters the
    # corpus into singleton buckets (zero recall for ANY L) — bucket
    # width is the precision dial, table count the recall dial.
    one = {
        (r["query_id"], r["nbr_id"])
        for r in sim_signlsh_multitable(spark, sf_dir, n_tables=1, n_bits=4).collect()
    }
    four = {
        (r["query_id"], r["nbr_id"])
        for r in sim_signlsh_multitable(spark, sf_dir, n_tables=4, n_bits=4).collect()
    }
    r1 = len(exact & one) / len(exact)
    r4 = len(exact & four) / len(exact)
    assert r4 >= r1, (r1, r4)
    assert r4 > 0, "amplified LSH found nothing"
    # the registered single-table 8-bit query still runs (oracle-
    # checked elsewhere); amplification is the scale lever on top
    assert sim_ann_signlsh(spark, sf_dir).count() >= 0


# --- rotated-slot suite (round-8 registry rotation, r7 verdict #1) ---
# Queries rotated OUT of the 50-slot driver registry keep their oracle
# checks here so the rotation costs zero correctness evidence.


def test_rotated_d1_dedup_deterministic_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        d1_dedup_deterministic,
    )

    sdf = d1_dedup_deterministic(spark, sf_dir).toPandas()
    ddf = duck.sql(
        """
        SELECT user_id, ts, event_id FROM (
          SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
        """
    ).df()
    assert_frames_match(sdf, ddf, "d1_dedup_deterministic")


def test_rotated_j_multi_hop_enrich_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        j_multi_hop_enrich,
    )

    sdf = j_multi_hop_enrich(spark, sf_dir).toPandas()
    ddf = duck.sql(
        """
        SELECT c.c_custkey, n.n_name, r.r_name
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        """
    ).df()
    assert_frames_match(sdf, ddf, "j_multi_hop_enrich")


def test_rotated_q6_forecast_revenue_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.analytics import (
        Q6_FORECAST_REVENUE_ORACLE,
        q6_forecast_revenue,
    )

    sdf = q6_forecast_revenue(spark, sf_dir).toPandas()
    ddf = duck.sql(Q6_FORECAST_REVENUE_ORACLE).df()
    assert_frames_match(sdf, ddf, "q6_forecast_revenue")


def test_registry_is_exactly_50_with_temporal_family():
    """The driver records at most 50 registry rows; the round-8/9/10/11
    rotations must land exactly at the cap with the temporal family,
    span-level dedup, the stream-stream as-of and HTML extraction
    inside and every carried §2 slot present."""
    names = set(QUERIES)
    assert len(QUERIES) == 50
    assert {
        "asof_join",
        "range_join",
        "resample_locf",
        "dedup_substring",
        "stream_asof_join",
        "funnel_match",
        "html_extract_corpus",
        "w3_session_window",
        "sim_pq_adc_topk",
        "dedup_phash_recovery",
    } <= names
    assert not {
        "d1_dedup_deterministic",
        "j_multi_hop_enrich",
        "q6_forecast_revenue",
        "dedup_simhash",
        "dedup_ngram_blocked",
        "text_fingerprint",
        "mm_binary_metadata",
        "u1_u2_union_suite",
        "p9_p10_project_rename",
        "o1_global_sort",
    } & names


def test_rotated_text_fingerprint_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.text import (
        TEXT_FINGERPRINT_ORACLE,
        text_fingerprint,
    )

    sdf = text_fingerprint(spark, sf_dir).toPandas()
    ddf = duck.sql(TEXT_FINGERPRINT_ORACLE).df()
    assert_frames_match(sdf, ddf, "text_fingerprint")


def test_rotated_dedup_simhash_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.dedup import (
        DEDUP_SIMHASH_ORACLE,
        dedup_simhash,
    )

    sdf = dedup_simhash(spark, sf_dir).toPandas()
    ddf = duck.sql(DEDUP_SIMHASH_ORACLE).df()
    assert_frames_match(sdf, ddf, "dedup_simhash")


def test_rotated_dedup_ngram_blocked_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.dedup import (
        DEDUP_NGRAM_BLOCKED_ORACLE,
        dedup_ngram_blocked,
    )

    sdf = dedup_ngram_blocked(spark, sf_dir).toPandas()
    ddf = duck.sql(DEDUP_NGRAM_BLOCKED_ORACLE).df()
    assert_frames_match(sdf, ddf, "dedup_ngram_blocked")


def test_rotated_mm_binary_metadata_matches_oracle(spark, duck, sf_dir):
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        MM_BINARY_METADATA_ORACLE,
        mm_binary_metadata,
    )

    sdf = mm_binary_metadata(spark, sf_dir).toPandas()
    ddf = duck.sql(MM_BINARY_METADATA_ORACLE).df()
    assert_frames_match(sdf, ddf, "mm_binary_metadata")


def test_rotated_u1_u2_union_suite_matches_oracle(spark, duck, sf_dir):
    """Rotated out in round 12 (slot now carries w3_session_window);
    the union-fold + positional-union + full-dedup composition stays
    locally oracle-pinned here."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        U1_U2_UNION_SUITE_ORACLE,
        u1_u2_union_suite,
    )

    sdf = u1_u2_union_suite(spark, sf_dir).toPandas()
    ddf = duck.sql(U1_U2_UNION_SUITE_ORACLE).df()
    assert_frames_match(sdf, ddf, "u1_u2_union_suite")


def test_rotated_p9_p10_project_rename_matches_oracle(spark, duck, sf_dir):
    """Rotated out in round 13 (rotation #5 — slot now carries
    sim_pq_adc_topk); the drop+rename projection mechanics stay
    locally oracle-pinned here and driver-carried by
    s1_scan_project's projection plus the schema unit suite."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        P9_P10_PROJECT_RENAME_ORACLE,
        p9_p10_project_rename,
    )

    sdf = p9_p10_project_rename(spark, sf_dir).toPandas()
    ddf = duck.sql(P9_P10_PROJECT_RENAME_ORACLE).df()
    assert_frames_match(sdf, ddf, "p9_p10_project_rename")


def test_rotated_p7_in_list_matches_oracle(spark, duck, sf_dir):
    """Rotated out in round 15 (rotation #7 — slot now carries
    dedup_audio_recovery); Catalyst `In` predicate mechanics stay
    locally oracle-pinned here and driver-carried by p4_p5_filters
    plus the semi-join row j3_semi_join (the collect+IN idiom)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        P7_IN_LIST_ORACLE,
        p7_in_list,
    )

    sdf = p7_in_list(spark, sf_dir).toPandas()
    ddf = duck.sql(P7_IN_LIST_ORACLE).df()
    assert_frames_match(sdf, ddf, "p7_in_list")


def test_rotated_x12_incremental_extract_matches_oracle(spark, duck, sf_dir):
    """Rotated out in round 16 (rotation #8 — slot now carries
    dedup_video_recovery); the materialized-max cutoff re-extract
    stays locally oracle-pinned here, and its cutoff-clamp + range
    semantics remain driver-visible via p6_range_cutoff and
    a1_a3_a4_scalar_aggs while the incremental FAMILY's correctness
    rests on the ingest/recovery pins."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        X12_INCREMENTAL_EXTRACT_ORACLE,
        x12_incremental_extract,
    )

    sdf = x12_incremental_extract(spark, sf_dir).toPandas()
    ddf = duck.sql(X12_INCREMENTAL_EXTRACT_ORACLE).df()
    assert_frames_match(sdf, ddf, "x12_incremental_extract")


def test_rotated_o1_global_sort_matches_oracle(spark, duck, sf_dir):
    """Rotated out in round 14 (rotation #6 — slot now carries
    dedup_phash_recovery); the global range-partitioned sort stays
    locally oracle-pinned here, and ORDER-BY mechanics remain
    driver-visible in every sorted registry row."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.relational import (
        O1_GLOBAL_SORT_ORACLE,
        o1_global_sort,
    )

    sdf = o1_global_sort(spark, sf_dir).toPandas()
    ddf = duck.sql(O1_GLOBAL_SORT_ORACLE).df()
    assert_frames_match(sdf, ddf, "o1_global_sort")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"tagpath", "datetime", "sensor_value", "sensor_id"}


def test_queued_dedup_phash_recovery_matches_oracle(spark, duck, sf_dir):
    """Was the r14 rotation-queue feasibility pin (r11 verdict task
    #5); the query took its registry slot at rotation #6 and this
    stays as the local twin of the driver row — the planted corpus
    structure (every img_id ≡ 0 mod 5 is a variant of img_id−1, no
    accidental merges by fixture design) makes perfect recovery a
    pure function of the documents table."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        DEDUP_PHASH_RECOVERY_ORACLE,
        dedup_phash_recovery,
    )

    sdf = dedup_phash_recovery(spark, sf_dir).toPandas()
    ddf = duck.sql(DEDUP_PHASH_RECOVERY_ORACLE).df()
    assert_frames_match(sdf, ddf, "dedup_phash_recovery")


def test_queued_dedup_audio_recovery_matches_oracle(spark, duck, sf_dir):
    """Was the r15 rotation-queue feasibility pin; the query took its
    registry slot at rotation #7 and this stays as the local twin of
    the driver row — the planted WAV corpus structure (every clip_id ≡
    0 mod 5 is a gain/pad variant of clip_id−1, distinct seeds at
    BER ≈ 0.5 vs the 0.25 bound) makes perfect recovery a pure
    function of the documents table."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        DEDUP_AUDIO_RECOVERY_ORACLE,
        dedup_audio_recovery,
    )

    sdf = dedup_audio_recovery(spark, sf_dir).toPandas()
    ddf = duck.sql(DEDUP_AUDIO_RECOVERY_ORACLE).df()
    assert_frames_match(sdf, ddf, "dedup_audio_recovery")


def test_queued_dedup_video_recovery_matches_oracle(spark, duck, sf_dir):
    """Was the r16 rotation-queue feasibility pin (written r12); the
    query took its registry slot at rotation #8 and this stays as the
    local twin of the driver row — the planted AVI corpus structure
    (every vid_id ≡ 0 mod 5 is a re-encode/head-trim variant of
    vid_id−1; distinct seeds ≥ 14 bits apart per frame) makes perfect
    recovery a pure function of the documents table."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        DEDUP_VIDEO_RECOVERY_ORACLE,
        dedup_video_recovery,
    )

    sdf = dedup_video_recovery(spark, sf_dir).toPandas()
    ddf = duck.sql(DEDUP_VIDEO_RECOVERY_ORACLE).df()
    assert_frames_match(sdf, ddf, "dedup_video_recovery")


def test_sim_pq_adc_topk_matches_oracle(spark, duck, sf_dir):
    """Entered the 50-slot driver registry in round 13 (rotation #5);
    this local pin predates that and stays as the second witness: the
    flat-PQ ADC serving query hash-matches a DuckDB replay of the
    ENTIRE chain — codebook training (µ-grid Lloyd), encoding
    (grid-L2 argmin, ties to smaller ci), stored ‖x̂‖², per-query LUT,
    and the fixed-order ADC fold — bit for bit, including the cosine
    doubles."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.similarity import (
        SIM_PQ_ADC_TOPK_ORACLE,
        sim_pq_adc_topk,
    )

    sdf = sim_pq_adc_topk(spark, sf_dir).toPandas()
    ddf = duck.sql(SIM_PQ_ADC_TOPK_ORACLE).df()
    assert_frames_match(sdf, ddf, "sim_pq_adc_topk")


def test_queued_decontaminate_audio_summary_matches_oracle(spark, duck, sf_dir):
    """r17 rotation-queue feasibility pin (decided r13): the audio
    decontamination summary hash-matches its closed-form DuckDB
    oracle — the planted corpus/eval structure makes perfect
    decontamination a pure function of the documents table (each
    stride-50 eval re-master contaminates exactly one corpus clip;
    distinct recordings sit at BER ~0.5 vs the 0.25 bound)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        DECONTAMINATE_AUDIO_SUMMARY_ORACLE,
        decontaminate_audio_summary,
    )

    sdf = decontaminate_audio_summary(spark, sf_dir).toPandas()
    ddf = duck.sql(DECONTAMINATE_AUDIO_SUMMARY_ORACLE).df()
    assert_frames_match(sdf, ddf, "decontaminate_audio_summary")


def test_queued_decontaminate_video_summary_matches_oracle(spark, duck, sf_dir):
    """r18 rotation-queue feasibility pin (written r14 per queue
    discipline): the video decontamination summary hash-matches its
    closed-form DuckDB oracle — each stride-50 q85 re-encode
    contaminates exactly one corpus clip, so perfect decontamination
    is a pure function of the documents table (see
    test_decontam_fixture_contract for the shared invariant
    derivation)."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        DECONTAMINATE_VIDEO_SUMMARY_ORACLE,
        decontaminate_video_summary,
    )

    sdf = decontaminate_video_summary(spark, sf_dir).toPandas()
    ddf = duck.sql(DECONTAMINATE_VIDEO_SUMMARY_ORACLE).df()
    assert_frames_match(sdf, ddf, "decontaminate_video_summary")


def test_decontam_fixture_contract(spark, duck, sf_dir):
    """ONE derivation for the three `_decontam_expected` assertion
    sites (both bench heads + the queued r17 registry oracle — r13
    verdict task #6): every structural invariant the closed form
    relies on is asserted HERE from the fixture constants, so a
    fixture drift (changing _EVAL_STRIDE, the clips-per-doc ratio, or
    the variant slotting) fails THIS test with a named invariant
    instead of three confusing survivor-count mismatches.

    Invariants:
    * eval ids r ≡ 1 (mod _EVAL_STRIDE) are never variant slots
      (r % 5 ≠ 0) and their successors are never variants of them
      ((r+1) % 5 ≠ 0 ⇒ nothing copies r) — requires 5 | _EVAL_STRIDE;
    * the audio oracle's `doc_id * 2 + range(2)` literal matches
      _AUDIO_CLIPS_PER_DOC;
    * _decontam_expected's (kept, id_sum) equal the direct
      set-difference computation from the eval id list;
    * the queued DuckDB oracle reproduces the same pair at sf0.01
      for both the audio (2N) and video (N) corpus sizes.
    """
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.multimodal import (
        _AUDIO_CLIPS_PER_DOC,
        _EVAL_STRIDE,
        _decontam_expected,
        DECONTAMINATE_AUDIO_SUMMARY_ORACLE,
    )

    # slotting: variant slots are ids ≡ 0 (mod 5) copying id−1; eval
    # ids 1+k·S avoid them for ALL k iff 5 divides the stride
    assert _EVAL_STRIDE % 5 == 0 and _EVAL_STRIDE > 5, (
        f"_EVAL_STRIDE={_EVAL_STRIDE} breaks the never-a-variant-slot "
        "invariant: eval ids 1+k*stride must stay ≢ 0 (mod 5), and so "
        "must their successors"
    )
    assert _AUDIO_CLIPS_PER_DOC == 2, (
        "the queued DECONTAMINATE_AUDIO_SUMMARY_ORACLE hardcodes "
        "doc_id * 2 + range(2); regenerate it if the ratio changes"
    )
    assert "doc_id * 2" in DECONTAMINATE_AUDIO_SUMMARY_ORACLE
    assert "range(2)" in DECONTAMINATE_AUDIO_SUMMARY_ORACLE

    n_docs = duck.sql("SELECT count(*) AS n FROM documents").df()["n"][0]
    for n_corpus in (int(n_docs) * _AUDIO_CLIPS_PER_DOC, int(n_docs)):
        eval_ids = list(range(1, n_corpus, _EVAL_STRIDE))
        for r in eval_ids:
            assert r % 5 != 0 and (r + 1) % 5 != 0, r
        kept, id_sum = _decontam_expected(n_corpus)
        assert kept == n_corpus - len(eval_ids)
        assert id_sum == n_corpus * (n_corpus - 1) // 2 - sum(eval_ids)
    # the queued oracle reproduces the audio pair end-to-end
    row = duck.sql(DECONTAMINATE_AUDIO_SUMMARY_ORACLE).df().iloc[0]
    kept, id_sum = _decontam_expected(int(n_docs) * _AUDIO_CLIPS_PER_DOC)
    assert (int(row["n_kept"]), int(row["id_sum"])) == (kept, id_sum)


def test_queued_ingest_incremental_recovery_matches_oracle(spark, duck, sf_dir):
    """r19 rotation-queue feasibility pin (written r15): the two-batch
    incremental text ingest hash-matches its closed-form DuckDB oracle
    BEFORE taking a registry slot — the derived delivery stream
    (evens commit first; odds + re-deliveries + within-batch
    duplicates second) makes perfect history-wins recovery a pure
    function of the documents table."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.dedup import (
        INGEST_INCREMENTAL_RECOVERY_ORACLE,
        ingest_incremental_recovery,
    )

    sdf = ingest_incremental_recovery(spark, sf_dir).toPandas()
    ddf = duck.sql(INGEST_INCREMENTAL_RECOVERY_ORACLE).df()
    assert_frames_match(sdf, ddf, "ingest_incremental_recovery")


def test_queued_stream_ingest_recovery_matches_oracle(spark, duck, sf_dir):
    """r21 rotation-queue feasibility pin (written r16): the
    exactly-once STREAMING dedup ingest hash-matches the batch
    protocol's closed-form DuckDB oracle BEFORE taking a registry
    slot — the shared two-batch delivery drained as two mtime-ordered
    file epochs through a real checkpointed stream_ingest query must
    reproduce the min-even-else-min survivor set exactly."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.dedup import (
        STREAM_INGEST_RECOVERY_ORACLE,
        stream_ingest_recovery,
    )

    sdf = stream_ingest_recovery(spark, sf_dir).toPandas()
    ddf = duck.sql(STREAM_INGEST_RECOVERY_ORACLE).df()
    assert_frames_match(sdf, ddf, "stream_ingest_recovery")


def test_ingest_fuzzy_recovery_matches_oracle(spark, duck, sf_dir):
    """r16 local pin (a future rotation candidate): the two-batch
    incremental NEAR-dup text ingest hash-matches a FULL DuckDB
    replay — minhash signatures, band candidates, exact-Jaccard
    verification, recursive-CTE closure, and the cross-state
    signature-agreement (>= 9 of 12) rejection — the strongest
    oracle class in the repo."""
    from sensorstream_scalable_sensor_data_pipeline_spark.plans.dedup import (
        INGEST_FUZZY_RECOVERY_ORACLE,
        ingest_fuzzy_recovery,
    )

    sdf = ingest_fuzzy_recovery(spark, sf_dir).toPandas()
    ddf = duck.sql(INGEST_FUZZY_RECOVERY_ORACLE).df()
    assert_frames_match(sdf, ddf, "ingest_fuzzy_recovery")
