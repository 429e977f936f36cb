"""The generator is a pure function of (workload, seed)."""

from __future__ import annotations

import os

import pytest

from perfbench import gen

#: expected.json keys that count planted items; they must not depend on the seed
PLANTED = {
    "sensor_daily": ("records", "rows_after_run"),
    "sensor_analytics": ("rows", "keys"),
    "stream_ingest": ("docs", "redeliver_base"),
    "media_dedup": (
        "records", "audio_survivors", "image_survivors",
        "video_survivors", "decontam_survivors", "quarantined",
    ),
}


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for r, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_same_plants(workload, tmp_path):
    a = _files(gen.generate(workload, 7, str(tmp_path / "a")))
    b = _files(gen.generate(workload, 7, str(tmp_path / "b")))
    assert a.keys() == b.keys()
    assert all(a[k] == b[k] for k in a), "same seed must give byte-identical inputs"

    c_dir = gen.generate(workload, 8, str(tmp_path / "c"))
    c = _files(c_dir)
    assert any(a.get(k) != c[k] for k in c if k.endswith(".parquet")), "another seed must differ"
    ea, ec = gen.load_expected(gen.cache_dir(str(tmp_path / "a"), workload, 7)), gen.load_expected(c_dir)
    for key in PLANTED[workload]:
        if key == "rows_after_run":
            # the final rows depend on which readings collide; the count of runs does not
            assert len(ea[key]) == len(ec[key]) == 1 + gen.DAILY_LANDED_DAYS
        else:
            assert ea[key] == ec[key], key


def test_cache_is_reused(tmp_path):
    d = gen.generate("stream_ingest", 3, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(d, "expected.json"))
    assert gen.generate("stream_ingest", 3, str(tmp_path)) == d
    assert os.path.getmtime(os.path.join(d, "expected.json")) == stamp


def test_unknown_workload_rejected(tmp_path):
    with pytest.raises(ValueError):
        gen.generate("nope", 1, str(tmp_path))
