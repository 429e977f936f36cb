"""Seeded single-process input generator for every workload.

``generate(workload, seed, root)`` writes the workload's inputs under
``root/.perfbench_cache/<workload>-s<seed>-g<GEN_VERSION>/`` and an
``expected.json`` holding the closed-form answers the result checks
compare against. The directory is built under a temporary name and
renamed into place, so a cached entry is always complete; a later run
with the same (workload, seed, generator version) reuses it.

Everything is drawn from ``numpy.random.default_rng(seed)`` (media
items from the engine's own seeded synthesizers and encoders), and
parquet files are written with fixed writer settings, so one seed
gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when any generator's output changes for a given seed.
GEN_VERSION = 2

WORKLOADS = ("sensor_daily", "sensor_analytics", "stream_ingest", "media_dedup")

# ---------------------------------------------------------------- sizes

DAILY_TAGS = 8
DAILY_HISTORY_DAYS = 40
DAILY_LANDED_DAYS = 3
DAILY_SLOT_S = 900  # one reading per tag per 15 min
DAILY_LATE = 150  # late corrections per landed day (inside the lookback)
DAILY_REDELIVER = 150  # exact re-deliveries per landed day
DAILY_START = dt.datetime(2024, 1, 1)
DAILY_LOOKBACK_DAYS = 30
#: write mode and append policy pinned per landed day
DAILY_MODES = (("append", "existing_wins"), ("append", "keep_max"), ("overwrite", "existing_wins"))

ANALYTICS_KEYS = 16
ANALYTICS_ROWS = 16_000
ANALYTICS_SPAN_S = 7 * 86400
ANALYTICS_STATE_FRAC = 0.005
ANALYTICS_INTERVALS = 20  # maintenance windows per key
ANALYTICS_STEP_S = 600  # resample grid
ANALYTICS_START = dt.datetime(2024, 3, 1)

STREAM_USERS = 400
STREAM_FILES = 3
STREAM_DOC_FILES = 2
STREAM_DOCS_PER_FILE = 150
STREAM_NEAR_DUPS = 20  # per doc file after the first
STREAM_REDELIVER = 20  # per doc file after the first
STREAM_REDELIVER_BASE = 1_000_000
STREAM_START = dt.datetime(2024, 5, 1)
#: longer than the worst delivery delay (two 16-hour file slices), so
#: no event is dropped as late and the stream equals the batch answer
STREAM_WATERMARK = "48 hours"
STREAM_FLUSH_USER = 10**9

MEDIA_AUDIO = 40
MEDIA_IMAGES = 40
MEDIA_VIDEOS = 16
MEDIA_VIDEO_FRAMES = 8
MEDIA_EVAL_STRIDE = 5  # eval set: MJPEG re-encode of every video id ≡ 1 (mod 5)
MEDIA_AUDIO_RATE = 8000
MEDIA_AUDIO_SECS = 1.0


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, ".perfbench_cache", f"{workload}-s{seed}-g{GEN_VERSION}")


def generate(workload: str, seed: int, root: str) -> str:
    """Build (or reuse) the inputs for ``(workload, seed)``; returns
    the directory."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    out = cache_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = _GENERATORS[workload](np.random.default_rng(seed), tmp)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh, sort_keys=True, indent=1)
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(out, "expected.json")):
            raise
    return out


def load_expected(path: str) -> dict:
    with open(os.path.join(path, "expected.json")) as fh:
        return json.load(fh)


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        table, path, row_group_size=row_group_size, compression="snappy",
        write_statistics=True,
    )


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


# ------------------------------------------------------------ sensor_daily


def _events_table(user_id, ts_us, value, first_id: int) -> pa.Table:
    n = len(user_id)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": pa.array(["reading"] * n),
            "value": pa.array(value.astype(np.float64)),
            "props": pa.array([""] * n),
        }
    )


def _readings(rng, day0: int, days: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One reading per tag per slot, jittered inside the slot; ~3 % of
    values are exactly 0 (integrity-zero, filtered by the pipeline)."""
    slots = days * 86400 // DAILY_SLOT_S
    tag = np.repeat(np.arange(1, DAILY_TAGS + 1), slots)
    slot = np.tile(np.arange(slots), DAILY_TAGS)
    jitter = rng.integers(0, DAILY_SLOT_S * 1_000_000, size=tag.size)
    base = _us(DAILY_START) + day0 * 86400 * 1_000_000
    ts = base + slot * DAILY_SLOT_S * 1_000_000 + jitter
    value = np.round(rng.normal(50.0, 15.0, size=tag.size), 3)
    value[value == 0] = 0.001
    value[rng.random(tag.size) < 0.03] = 0.0
    order = np.argsort(ts, kind="stable")
    return tag[order], ts[order], value[order]


def _gen_sensor_daily(rng, out: str) -> dict:
    tags = np.arange(1, DAILY_TAGS + 1)
    customer = pa.table(
        {
            "c_custkey": pa.array(tags.astype(np.int64)),
            "c_name": pa.array([f"tag{t}" for t in tags]),
            "c_nationkey": pa.array((tags % 5).astype(np.int32)),
            "c_acctbal": pa.array(np.zeros(tags.size)),
            "c_mktsegment": pa.array(
                [f"plant_{t % 4}/line_{t % 3}/temp_{t}" for t in tags]
            ),
        }
    )
    _write(customer, os.path.join(out, "customer.parquet"))
    tag, ts, value = _readings(rng, 0, DAILY_HISTORY_DAYS)
    # history sorted by time in small row groups: a cutoff prunes row groups
    _write(_events_table(tag, ts, value, 0), os.path.join(out, "history", "part-h.parquet"), 8192)
    all_tag, all_ts, all_val = [tag], [ts], [value]
    next_id = tag.size
    days = []
    for k in range(DAILY_LANDED_DAYS):
        d_tag, d_ts, d_val = _readings(rng, DAILY_HISTORY_DAYS + k, 1)
        # late corrections and re-deliveries from the 20 days before this one
        lo = _us(DAILY_START + dt.timedelta(days=DAILY_HISTORY_DAYS + k - 20))
        hist_tag, hist_ts, hist_val = (np.concatenate(a) for a in (all_tag, all_ts, all_val))
        pool = np.flatnonzero(hist_ts >= lo)
        late = rng.choice(pool, DAILY_LATE, replace=False)
        delta = np.round(rng.normal(0.0, 5.0, DAILY_LATE), 3)
        delta[delta == 0] = 0.5
        late_val = np.round(hist_val[late] + delta, 3)
        late_val[late_val == 0] = 0.25
        redo = rng.choice(pool, DAILY_REDELIVER, replace=False)
        f_tag = np.concatenate([d_tag, hist_tag[late], hist_tag[redo]])
        f_ts = np.concatenate([d_ts, hist_ts[late], hist_ts[redo]])
        f_val = np.concatenate([d_val, late_val, hist_val[redo]])
        _write(
            _events_table(f_tag, f_ts, f_val, next_id),
            os.path.join(out, "days", f"part-d{k}.parquet"),
            8192,
        )
        next_id += f_tag.size
        all_tag.append(f_tag)
        all_ts.append(f_ts)
        all_val.append(f_val)
        mode, conflict = DAILY_MODES[k]
        days.append(
            {
                "file": f"part-d{k}.parquet",
                "now": (DAILY_START + dt.timedelta(days=DAILY_HISTORY_DAYS + k + 1, hours=1)).isoformat(),
                "write_mode": mode,
                "append_conflict": conflict,
            }
        )
    backfill_now = (DAILY_START + dt.timedelta(days=DAILY_HISTORY_DAYS, hours=1)).isoformat()
    plan = {"backfill_now": backfill_now, "days": days}
    return {
        "plan": plan,
        "records": int(sum(a.size for a in all_tag)),
        "input_bytes": _dir_bytes(out),
        **duckdb_daily_reference(out, plan),
    }


#: order-independent checksum over the final series, written once per
#: engine (Spark SQL here and in workloads.py; DuckDB below)
DAILY_CHECKSUM_SPARK = (
    "sum(pmod(sensor_id * 1000003 + pmod(unix_micros(datetime), 1000000007) * 31"
    " + cast(round(sensor_value * 1000) as bigint), 1000000007))"
)
_DAILY_CHECKSUM_DUCK = (
    "sum((sensor_id * 1000003 + (epoch_us(datetime) % 1000000007) * 31"
    " + CAST(round(sensor_value * 1000) AS BIGINT)) % 1000000007)"
)


def duckdb_daily_reference(inputs: str, plan: dict) -> dict:
    """Replay the scheduled-run sequence's documented semantics in
    DuckDB: cutoff = min(max materialized datetime, now − lookback)
    (the start date on empty state); the increment is every landed
    reading at/after the cutoff with value ≠ 0, deduped per
    (sensor, datetime) keeping the max value; ``existing_wins``
    appends only new keys, ``keep_max`` and overwrite keep the max of
    the old and new value per key."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(
            "CREATE TABLE s (sensor_id BIGINT, datetime TIMESTAMP, sensor_value DOUBLE)"
        )
        landed = [os.path.join(inputs, "history", "part-h.parquet")]
        rows_after = []
        steps = [(plan["backfill_now"], "overwrite", "existing_wins", None)] + [
            (d["now"], d["write_mode"], d["append_conflict"], d["file"]) for d in plan["days"]
        ]
        for now, mode, conflict, fname in steps:
            if fname is not None:
                landed.append(os.path.join(inputs, "days", fname))
            mx = con.execute("SELECT max(datetime) FROM s").fetchone()[0]
            floor = dt.datetime.fromisoformat(now) - dt.timedelta(days=DAILY_LOOKBACK_DAYS)
            cutoff = DAILY_START if mx is None else min(mx, floor)
            files = ", ".join(f"'{p}'" for p in landed)
            con.execute(
                f"""CREATE OR REPLACE TEMP TABLE inc AS
                SELECT user_id AS sensor_id, ts AS datetime, max(value) AS sensor_value
                FROM read_parquet([{files}])
                WHERE ts >= ? AND value <> 0
                GROUP BY 1, 2""",
                [cutoff],
            )
            if mode == "append" and conflict == "existing_wins":
                con.execute(
                    "INSERT INTO s SELECT i.* FROM inc i ANTI JOIN s USING (sensor_id, datetime)"
                )
            else:
                con.execute(
                    """CREATE OR REPLACE TABLE s AS
                    SELECT sensor_id, datetime, max(sensor_value) AS sensor_value
                    FROM (SELECT * FROM s UNION ALL SELECT * FROM inc)
                    GROUP BY 1, 2"""
                )
            rows_after.append(con.execute("SELECT count(*) FROM s").fetchone()[0])
        count, checksum = con.execute(
            f"SELECT count(*), {_DAILY_CHECKSUM_DUCK} FROM s"
        ).fetchone()
    finally:
        con.close()
    return {"rows_after_run": rows_after, "final_rows": count, "final_checksum": int(checksum)}


# -------------------------------------------------------- sensor_analytics


def _gen_sensor_analytics(rng, out: str) -> dict:
    n, k = ANALYTICS_ROWS, ANALYTICS_KEYS
    # hot key 0 carries half the rows, the rest spread evenly
    key = np.where(rng.random(n) < 0.5, 0, rng.integers(1, k, size=n))
    t0 = _us(ANALYTICS_START)
    span_us = ANALYTICS_SPAN_S * 1_000_000
    # distinct (key, ts): draw without replacement per key
    ts = np.empty(n, dtype=np.int64)
    for kk in range(k):
        idx = np.flatnonzero(key == kk)
        ts[idx] = t0 + rng.choice(span_us, size=idx.size, replace=False)
    value = np.round(rng.normal(20.0, 4.0, n), 3)
    order = np.lexsort((ts, key))
    key, ts, value = key[order], ts[order], value[order]
    _write(
        pa.table(
            {
                "sensor_id": pa.array(key.astype(np.int64)),
                "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
                "value": pa.array(value),
            }
        ),
        os.path.join(out, "readings.parquet"),
    )
    # sparse calibration state
    s_rows = []
    for kk in range(k):
        m = max(3, int((key == kk).sum() * ANALYTICS_STATE_FRAC))
        s_ts = t0 + np.sort(rng.choice(span_us, size=m, replace=False))
        s_rows.append((np.full(m, kk), s_ts, np.round(rng.normal(1.0, 0.05, m), 4)))
    s_key, s_ts, s_val = (np.concatenate(c) for c in zip(*s_rows))
    _write(
        pa.table(
            {
                "sensor_id": pa.array(s_key.astype(np.int64)),
                "ts": pa.array(s_ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
                "calib": pa.array(s_val),
            }
        ),
        os.path.join(out, "state.parquet"),
    )
    # non-overlapping maintenance windows: one per equal slice of the span
    slice_us = span_us // ANALYTICS_INTERVALS
    iv_key, iv_start, iv_end = [], [], []
    for kk in range(k):
        lo = t0 + np.arange(ANALYTICS_INTERVALS) * slice_us
        start = lo + rng.integers(0, slice_us // 2, ANALYTICS_INTERVALS)
        end = start + rng.integers(3600, 3 * 3600, ANALYTICS_INTERVALS) * 1_000_000
        iv_key.append(np.full(ANALYTICS_INTERVALS, kk))
        iv_start.append(start)
        iv_end.append(end)
    iv_key, iv_start, iv_end = (np.concatenate(c) for c in (iv_key, iv_start, iv_end))
    _write(
        pa.table(
            {
                "sensor_id": pa.array(iv_key.astype(np.int64)),
                "win_start": pa.array(iv_start.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
                "win_end": pa.array(iv_end.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            }
        ),
        os.path.join(out, "intervals.parquet"),
    )
    # closed forms
    calibrated = 0
    in_window = 0
    grid = 0
    grid_filled = 0
    step = ANALYTICS_STEP_S
    for kk in range(k):
        kts = ts[key == kk]
        first_state = s_ts[s_key == kk].min()
        calibrated += int((kts >= first_state).sum())
        st, en = iv_start[iv_key == kk], iv_end[iv_key == kk]
        pos = np.searchsorted(st, kts, side="right") - 1
        ok = pos >= 0
        in_window += int((kts[ok] <= en[pos[ok]]).sum())
        mn_s, mx_s = int(kts.min()) // 1_000_000, int(kts.max()) // 1_000_000
        a0 = mn_s // step * step
        pts = (mx_s - a0) // step + 1
        grid += pts
        # the aligned floor carries a null when it precedes the first reading
        grid_filled += pts - int(a0 * 1_000_000 < int(kts.min()))
    return {
        "records": n,
        "rows": n,
        "keys": k,
        "calibrated": calibrated,
        "range_pairs": in_window,
        "grid_points": grid,
        "grid_filled": grid_filled,
    }


# ----------------------------------------------------------- stream_ingest


def _gen_stream_ingest(rng, out: str) -> dict:
    # --- funnel events: per-user sessions view -> click -> purchase,
    # some abandoned; delivered in time-sliced files whose slices
    # overlap (cross-file disorder) plus late stragglers from two
    # slices back, then a far-future flush that closes every chain.
    rows_user, rows_ts, rows_type = [], [], []
    t0 = _us(STREAM_START)
    horizon = 2 * 86400 * 1_000_000
    for u in range(STREAM_USERS):
        for _ in range(int(rng.integers(1, 4))):
            t = t0 + int(rng.integers(0, horizon))
            depth = int(rng.choice([1, 2, 3], p=[0.3, 0.3, 0.4]))
            for step in ("view", "click", "purchase")[:depth]:
                rows_user.append(u)
                rows_ts.append(t)
                rows_type.append(step)
                t += int(rng.integers(1, 1800)) * 1_000_000
    user = np.array(rows_user, dtype=np.int64)
    ts = np.array(rows_ts, dtype=np.int64)
    etype = np.array(rows_type)
    # file of each row: its time slice, moved one slice later for ~10 %
    # (disorder) and two slices later for ~2 % (late, within the watermark)
    span = ts.max() - ts.min() + 1
    slice_of = ((ts - ts.min()) * STREAM_FILES // span).astype(np.int64)
    r = rng.random(ts.size)
    shift = np.where(r < 0.02, 2, np.where(r < 0.12, 1, 0))
    file_of = np.minimum(slice_of + shift, STREAM_FILES - 1)
    ev_dir = os.path.join(out, "events")
    schema = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("event_type", pa.string())]
    )
    for f in range(STREAM_FILES + 1):
        if f < STREAM_FILES:
            sel = np.flatnonzero(file_of == f)
            sel = sel[rng.permutation(sel.size)]
            cols = [user[sel], ts[sel].astype("datetime64[us]"), etype[sel].tolist()]
        else:
            cols = [
                np.array([STREAM_FLUSH_USER], dtype=np.int64),
                np.array([ts.max() + 400 * 86400 * 1_000_000]).astype("datetime64[us]"),
                ["view"],
            ]
        _write(pa.table(cols, schema=schema), os.path.join(ev_dir, f"{f:03d}.parquet"))
    # expected batch funnel answer: last-touch chains, computed directly
    chains = _funnel_chains(user, ts, etype)

    # --- documents: random-word texts, later files carrying planted
    # near-duplicates (one word swapped) and exact re-deliveries of
    # earlier originals under ids >= STREAM_REDELIVER_BASE
    vocab = np.array([f"w{i:04d}" for i in range(3000)])
    doc_dir = os.path.join(out, "docs")
    originals: list[tuple[int, str]] = []
    next_id = 0
    total_docs = 0
    for f in range(STREAM_DOC_FILES):
        ids, texts = [], []
        for _ in range(STREAM_DOCS_PER_FILE):
            words = vocab[rng.integers(0, vocab.size, int(rng.integers(40, 80)))]
            ids.append(next_id)
            texts.append(" ".join(words))
            next_id += 1
        if originals:
            for j in rng.choice(len(originals), STREAM_NEAR_DUPS, replace=False):
                words = originals[j][1].split(" ")
                words[int(rng.integers(0, len(words)))] = "zz" + str(int(rng.integers(0, 10**6)))
                ids.append(next_id)
                texts.append(" ".join(words))
                next_id += 1
            for j in rng.choice(len(originals), STREAM_REDELIVER, replace=False):
                ids.append(STREAM_REDELIVER_BASE + originals[j][0])
                texts.append(originals[j][1])
        originals.extend(zip(ids[:STREAM_DOCS_PER_FILE], texts[:STREAM_DOCS_PER_FILE]))
        total_docs += len(ids)
        _write(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            os.path.join(doc_dir, f"{f:03d}.parquet"),
        )
    _pin_mtimes(ev_dir)
    _pin_mtimes(doc_dir)
    return {
        "records": int(ts.size + 1 + total_docs),
        "events": int(ts.size),
        "funnel_chains": chains,
        "docs": total_docs,
        "doc_files": STREAM_DOC_FILES,
        "redeliver_base": STREAM_REDELIVER_BASE,
    }


def _funnel_chains(user: np.ndarray, ts: np.ndarray, etype: np.ndarray) -> int:
    """Count purchases whose last-touch backward chain exists: a click
    at or before the purchase, and a view at or before that click
    (inclusive as-of at each step, per user)."""
    n = 0
    for u in np.unique(user):
        m = user == u
        t, e = ts[m], etype[m]
        views = np.sort(t[e == "view"])
        clicks = np.sort(t[e == "click"])
        for p in t[e == "purchase"]:
            ci = np.searchsorted(clicks, p, side="right") - 1
            if ci < 0:
                continue
            if np.searchsorted(views, clicks[ci], side="right") > 0:
                n += 1
    return n


def _pin_mtimes(d: str) -> None:
    """File sources order by modification time: pin it to name order."""
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(os.path.join(d, f), (1_700_000_000 + i, 1_700_000_000 + i))


# -------------------------------------------------------------- media_dedup


def _corrupt(payload: bytes) -> bytes:
    """Keep the magic, drop the body: sniffable, undecodable."""
    return payload[:24]


def _gen_media_dedup(rng, out: str) -> dict:
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        HOP,
        synth_clip,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        encode_avi,
        encode_bmp,
        encode_png,
        encode_wav,
        resize_nearest,
    )
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.jpeg import encode_jpeg
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import synth_image

    base = int(rng.integers(0, 2**31 - 1)) * 1000
    # Item i ≡ 0 (mod 5), i > 0, is a planted near-duplicate of item
    # i − 1; items ≡ 2 (mod 5) among ``corrupt`` are truncated. A
    # corrupt item never has a planted duplicate (i + 1 ≡ 3).
    def planted(n):
        return [i for i in range(1, n) if i % 5 == 0]

    def corrupt_ids(n):
        return [i for i in range(n) if i % 5 == 2][:2]

    # audio: gain or pad variants
    audio = []
    for i in range(MEDIA_AUDIO):
        if i in planted(MEDIA_AUDIO):
            clip = synth_clip(base + i - 1, rate=MEDIA_AUDIO_RATE, secs=MEDIA_AUDIO_SECS)
            clip = (
                (clip * 0.5).astype(np.int16)
                if i % 2 == 0
                else np.concatenate([np.zeros(HOP * 10, np.int16), clip])
            )
        else:
            clip = synth_clip(base + i, rate=MEDIA_AUDIO_RATE, secs=MEDIA_AUDIO_SECS)
        p = encode_wav(clip, MEDIA_AUDIO_RATE)
        audio.append(_corrupt(p) if i in corrupt_ids(MEDIA_AUDIO) else p)
    # images: JPEG-q85 re-encode or 0.75x rescale of the predecessor
    images = []
    for i in range(MEDIA_IMAGES):
        if i in planted(MEDIA_IMAGES):
            img = synth_image(base + i - 1, h=64, w=64)
            p = (
                encode_jpeg(img, quality=85, subsampling="420")
                if i % 2 == 0
                else encode_png(resize_nearest(img, 48, 48))
            )
        else:
            img = synth_image(base + i, h=64, w=64)
            p = encode_png(img) if i % 2 else encode_bmp(img)
        images.append(_corrupt(p) if i in corrupt_ids(MEDIA_IMAGES) else p)

    # videos: head-trim (byte-preserving) variants; eval set is an
    # MJPEG-q85 re-encode of every id ≡ 1 (mod MEDIA_EVAL_STRIDE)
    def frames(i):
        return np.stack(
            [synth_image((base + i) * 100 + f, h=48, w=64) for f in range(MEDIA_VIDEO_FRAMES)]
        )

    videos = []
    for i in range(MEDIA_VIDEOS):
        if i in planted(MEDIA_VIDEOS):
            p = encode_avi(frames(i - 1)[2:], codec="dib")
        else:
            p = encode_avi(frames(i), codec="dib")
        videos.append(_corrupt(p) if i in corrupt_ids(MEDIA_VIDEOS)[:1] else p)
    eval_ids = list(range(1, MEDIA_VIDEOS, MEDIA_EVAL_STRIDE))
    eval_videos = [encode_avi(frames(i), codec="mjpg", quality=85) for i in eval_ids]

    for name, items, ids in (
        ("audio", audio, range(MEDIA_AUDIO)),
        ("images", images, range(MEDIA_IMAGES)),
        ("videos", videos, range(MEDIA_VIDEOS)),
        ("video_eval", eval_videos, [10_000 + i for i in eval_ids]),
    ):
        _write(
            pa.table({"doc_id": pa.array(list(ids), pa.int64()), "payload": pa.array(items, pa.binary())}),
            os.path.join(out, f"{name}.parquet"),
        )

    def survivors(n, extra_drop=()):
        drop = set(planted(n)) | set(extra_drop)
        return [i for i in range(n) if i not in drop]

    return {
        "records": MEDIA_AUDIO + MEDIA_IMAGES + MEDIA_VIDEOS + len(eval_ids),
        "audio_survivors": survivors(MEDIA_AUDIO),
        "image_survivors": survivors(MEDIA_IMAGES),
        "video_survivors": survivors(MEDIA_VIDEOS),
        "decontam_survivors": [i for i in range(MEDIA_VIDEOS) if i not in eval_ids],
        "quarantined": {
            "audio": corrupt_ids(MEDIA_AUDIO),
            "images": corrupt_ids(MEDIA_IMAGES),
            "videos": corrupt_ids(MEDIA_VIDEOS)[:1],
        },
    }


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs
    )


_GENERATORS = {
    "sensor_daily": _gen_sensor_daily,
    "sensor_analytics": _gen_sensor_analytics,
    "stream_ingest": _gen_stream_ingest,
    "media_dedup": _gen_media_dedup,
}
