"""Every result check accepts the right answer and catches a wrong one."""

from __future__ import annotations

import copy

from perfbench import checks


def test_daily_checks_catch_wrong_counts_and_content():
    exp = {"rows_after_run": [10, 12, 12, 13], "final_rows": 13, "final_checksum": 999}
    assert checks.check_daily_run(1, 12, exp) == []
    assert checks.check_daily_run(1, 11, exp)
    assert checks.check_daily_final(13, 999, exp) == []
    assert checks.check_daily_final(13, 998, exp)  # same rows, one value differs
    assert checks.check_daily_final(12, 999, exp)


def _analytics_ok():
    exp = {"rows": 100, "keys": 4, "calibrated": 90, "range_pairs": 30, "grid_points": 50, "grid_filled": 48}
    res = {
        "asof_join": {"n": 100, "n_value": 90, "checksum": 5},
        "asof_join_bucketed": {"n": 100, "n_value": 90, "checksum": 5},
        "range_join": {"n": 30},
        "resample_locf": {"n": 50, "n_value": 48},
        "rate_of_change": {"n": 100, "n_value": 96},
        "ewma_irregular": {"n": 100, "n_value": 100},
        "rolling_zscore": {"n": 100},
    }
    return res, exp


def test_analytics_check_catches_each_wrong_result():
    res, exp = _analytics_ok()
    assert checks.check_analytics(res, exp) == []
    wrong = [
        ("asof_join_bucketed", "checksum", 6),  # bucketed disagrees with plain
        ("asof_join", "n_value", 89),
        ("range_join", "n", 31),
        ("resample_locf", "n", 49),
        ("resample_locf", "n_value", 47),
        ("rate_of_change", "n_value", 97),
        ("ewma_irregular", "n_value", 99),
        ("rolling_zscore", "n", 99),
    ]
    for call, key, value in wrong:
        bad = copy.deepcopy(res)
        bad[call][key] = value
        assert checks.check_analytics(bad, exp), (call, key)


def test_funnel_check():
    exp = {"funnel_chains": 7}
    assert checks.check_funnel(7, 7, exp) == []
    assert checks.check_funnel(6, 7, exp)  # stream lost a chain
    assert checks.check_funnel(6, 6, exp)  # both engines wrong


def test_ingest_check():
    exp = {"doc_files": 2}
    assert checks.check_ingest([20, 15], 35, 35, 0, 2, exp) == []
    assert checks.check_ingest([20, 15], 35, 35, 1, 2, exp)  # a re-delivery survived
    assert checks.check_ingest([20, 15], 36, 36, 0, 2, exp)  # corpus is not the union
    assert checks.check_ingest([20, 15], 35, 34, 0, 2, exp)  # double append
    assert checks.check_ingest([20], 20, 20, 0, 1, exp)  # a document file never arrived


def test_media_check():
    exp = {"audio_survivors": [0, 1, 2], "image_survivors": [0], "video_survivors": [1], "decontam_survivors": [2]}
    assert checks.check_media("dedup_audio", [2, 0, 1], exp) == []
    assert checks.check_media("dedup_audio", [0, 1], exp)  # a distinct item was merged
    assert checks.check_media("dedup_phash", [0, 5], exp)  # a planted duplicate survived
    assert checks.check_media("decontaminate_videos", [], exp)
