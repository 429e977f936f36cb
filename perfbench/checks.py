"""Result checks, one per workload: pure functions from what the
engine returned (plain Python values) and the generator's
``expected.json`` to a list of failure messages (empty = correct).

Each failed check counts as one failed operation.
"""

from __future__ import annotations

from typing import Any


def _eq(what: str, got: Any, want: Any) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


def check_daily_run(step: int, rows: int, expected: dict) -> list[str]:
    """Row count the run's own validation read back, after run ``step``
    (0 = backfill)."""
    return _eq(f"rows after run {step}", rows, expected["rows_after_run"][step])


def check_daily_final(count: int, checksum: int, expected: dict) -> list[str]:
    """The final series equals the DuckDB replay: row count plus the
    order-independent checksum."""
    return _eq("final rows", count, expected["final_rows"]) + _eq(
        "final checksum", checksum, expected["final_checksum"]
    )


def check_analytics(results: dict[str, dict[str, int]], expected: dict) -> list[str]:
    """``results`` maps each call to its summary row. Plain and
    bucketed as-of summaries must be identical (same rows, same
    calibrated values by checksum); counts must equal the closed form."""
    out: list[str] = []
    plain, bucketed = results["asof_join"], results["asof_join_bucketed"]
    out += _eq("asof bucketed vs plain", bucketed, plain)
    out += _eq("asof rows", plain["n"], expected["rows"])
    out += _eq("asof calibrated", plain["n_value"], expected["calibrated"])
    out += _eq("range_join pairs", results["range_join"]["n"], expected["range_pairs"])
    out += _eq("resample grid points", results["resample_locf"]["n"], expected["grid_points"])
    out += _eq("resample filled", results["resample_locf"]["n_value"], expected["grid_filled"])
    out += _eq(
        "rate_of_change rates",
        results["rate_of_change"]["n_value"],
        expected["rows"] - expected["keys"],
    )
    out += _eq("ewma rows", results["ewma_irregular"]["n"], expected["rows"])
    out += _eq("ewma values", results["ewma_irregular"]["n_value"], expected["rows"])
    out += _eq("zscore rows", results["rolling_zscore"]["n"], expected["rows"])
    return out


def check_funnel(stream_chains: int, batch_chains: int, expected: dict) -> list[str]:
    """The streaming funnel's chain count equals batch ``funnel_match``
    over the same events, and both equal the generator's count."""
    return _eq("stream vs batch funnel chains", stream_chains, batch_chains) + _eq(
        "funnel chains", batch_chains, expected["funnel_chains"]
    )


def check_ingest(
    batch_accepted: list[int],
    corpus_rows: int,
    corpus_ids: int,
    redelivered_survivors: int,
    batches: int,
    expected: dict,
) -> list[str]:
    """No planted re-delivery survives, the accepted corpus is exactly
    the union of the per-batch survivors (no loss, no double append),
    and every document file arrived as its own micro-batch."""
    return (
        _eq("re-delivered ids accepted", redelivered_survivors, 0)
        + _eq("corpus rows vs batch survivors", corpus_rows, sum(batch_accepted))
        + _eq("corpus distinct ids", corpus_ids, corpus_rows)
        + _eq("ingest micro-batches", batches, expected["doc_files"])
    )


def check_media(call: str, survivor_ids: list[int], expected: dict) -> list[str]:
    """Survivors equal the planted closed form: every item except the
    planted near-duplicates (corrupt items are quarantined and kept)."""
    key = {
        "dedup_audio": "audio_survivors",
        "dedup_phash": "image_survivors",
        "dedup_videos": "video_survivors",
        "decontaminate_videos": "decontam_survivors",
    }[call]
    return _eq(f"{call} survivors", sorted(survivor_ids), expected[key])
