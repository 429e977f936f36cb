"""Incremental dedup against persisted signature state (§2.12 × the
reference's incremental-ingest design).

A training corpus is not built in one shot: batches land daily and
each batch must be deduplicated against EVERYTHING already accepted
— the incremental generalization of the one-shot dedups, exactly the
way the reference's cutoff/dedup pair (main_pipeline.py:328,331-341)
generalizes to content identity.

One protocol, five modalities. Every ``ingest_*`` function is a thin
front end of :func:`_ingest`; a modality supplies only its signer,
its within-batch + cross-state match and its signature table:

* :func:`ingest_batch` — exact text, ``fingerprints`` (md5 of the
  normalized text, partitioned by ``fp_prefix``);
* :func:`ingest_fuzzy_batch` — near-dup text, ``minhash_sigs``;
* :func:`ingest_image_batch` — pHash, ``phashes`` (``fp_prefix``);
* :func:`ingest_audio_batch` — Haitsma–Kalker, ``audio_fps`` (plus
  per-rate ``word_counts`` for the hub guard);
* :func:`ingest_video_batch` — sampled frame pHashes,
  ``frame_phashes``.

The protocol, in order (:func:`_ingest` owns every step):

1. validate the batch schema (reserved columns), ``on_error`` and the
   maintenance threshold — before anything touches disk — then take
   the caller's ``batch_id`` or a fresh uuid;
2. resume: if ``<table>/batch=<id>`` committed (its own ``_SUCCESS``,
   or a compaction's provenance), return the staged survivors without
   recomputing; under quarantine, first backfill a missing
   quarantine-identity commit;
3. sign the batch once, persist the signatures and run ONE eager
   count (the within-batch self-join's two map sides must not race an
   expensive decode twice); a cheap signer (the text md5) skips the
   cache;
4. stage survivors: ``accepted/batch=<id>/`` with overwrite — all
   original columns, the artifact downstream consumes — and read them
   back with the batch's explicit schema (an empty survivor set writes
   a part-file-less dir that inference cannot read);
5. commit the signatures of the STAGED ids to ``<table>/batch=<id>``,
   partitioned per :data:`_STATE_TABLES` — state can only ever record
   documents that are already durable. This ``_SUCCESS`` is the
   batch's single commit point;
6. commit the quarantine identity (media ingests, ``on_error=
   "quarantine"``);
7. run :func:`maintain_state` on the touched tables, then unpersist.

Crash windows — the ordering makes every one safe:

* die before/while staging: state unchanged, staging overwritten on
  re-run — clean recompute;
* die while committing signatures: the batch dir has no ``_SUCCESS``,
  so every state read (:func:`_committed_batch_dirs`) excludes it;
  re-run overwrites both dirs — clean;
* die between the signature and quarantine commits: the batch counts
  as committed; its resume recomputes the identity rows from the
  staged payloads (:func:`_backfill_quarantine`);
* die after: the accepted rows are durable in ``accepted/batch=<id>``
  (or in the accepted compaction that folded it); re-running with the
  same ``batch_id`` short-circuits and returns them.

Common arguments and result of every ``ingest_*``: it returns the
surviving rows (all original columns, read back from the staged
files); min-id survivor within a batch, history always wins across
batches. A stable ``batch_id`` makes a crashed run resumable; omitted,
a fresh id is generated and the call has pure content semantics.
``maintain_max_batch_dirs`` (default :data:`MAINTAIN_MAX_BATCH_DIRS`,
at least 2) compacts the touched tables inline once one holds that
many committed batch dirs — a no-op 15 of 16 ingests, one amortized
rewrite otherwise; ``None`` disables (callers running their own
maintenance cadence). ``on_error`` (media ingests): ``"raise"``
(default) keeps the exact contract, ``"quarantine"`` accepts corrupt
payloads as described below.

Idempotency: re-ingesting already-accepted CONTENT under a fresh
``batch_id`` accepts nothing — history always wins; re-running the
same ``batch_id`` after a crash resumes to the one-shot result. This
is Structured Streaming's epoch-keyed idempotent sink, which
``streaming/ingest.py`` keys into with ``batch_id=f"{run_id}-{epoch}"``.

Quarantine (media ingests, ``on_error="quarantine"``): a corrupt
payload is ACCEPTED with no usable decode signature (a NULL one for
image/audio, no frame rows for video) plus an exact ``md5(raw
bytes)`` row in the ``quarantine_md5s`` identity table. Survivors =
clean survivors ∪ quarantine representatives: within a batch equal
corrupt payloads collapse to the min id, and re-delivered corrupt
bytes reject against the identity table.

Scale notes: every match is a keyed join on a signature or band key
(never all-pairs); at 100 TB the state side is the small one by
construction. Concurrent ingests must serialize through the run lock
(schedule.py), same as the reference's ``max_active_runs=1``.

Maintenance: :func:`maintain_state` runs inline after every ingest —
:func:`compact_state` bounds each signature table's batch dirs and
:func:`compact_accepted` folds the staged corpus itself (tiered,
resume-safe via ``_src_batch`` + ``_sources.json`` provenance).

Reserved column names: the accepted-corpus layout claims ``batch``
(the staging partition column) and ``_src_batch`` (the compaction
provenance column); every ingest rejects a batch schema carrying
either with a clear ``ValueError``.
"""

from __future__ import annotations

import hashlib
import posixpath
import uuid
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
    MAX_WORD_DF as _AUDIO_MAX_WORD_DF,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup import (
    key_dedup_deterministic,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.dedup_fuzzy import (
    NUM_PERMS,
    bands_from_sigs,
    blocked_hamming_matches,
    drop_matched,
    drop_near_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    shingle_jaccard,
    with_shingles,
)
from sensorstream_scalable_sensor_data_pipeline_spark.operators.text import (
    tokenize_lower,
)


def fingerprint_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp, fp_prefix): md5 of whitespace-normalized lowercase
    text — the ``dedup_exact`` content identity — plus the 1-hex-digit
    state partition key."""
    staged = docs.select(
        F.col(id_col), tokenize_lower(F.col(text_col)).alias("_tk")
    )
    fp = F.md5(F.concat_ws(" ", F.col("_tk")))
    return staged.select(
        F.col(id_col), fp.alias("fp"), F.substring(fp, 1, 1).alias("fp_prefix")
    )


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem handle + Path for ``path`` — works for
    local, HDFS, and s3a URIs alike (the same resolution Spark's own
    writers use), so the commit protocol is not local-fs-only."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _committed_batch_dirs(spark: SparkSession, root: str) -> list[str]:
    """Batch subdirs of ``root`` whose Spark write committed (has the
    ``_SUCCESS`` marker). Partial part-files from a crashed append
    live in an unmarked dir and are excluded — the reader-side half of
    the per-batch atomic commit."""
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        if not st.isDirectory():
            continue
        p = st.getPath()
        if p.getName().startswith("batch=") and fs.exists(
            p.suffix("/_SUCCESS")
        ):
            out.append(p.toString())
    return sorted(out)


#: Name of the provenance file a compacted batch dir carries. Its
#: invariant: ORIGINAL batch ids (and streaming run intervals) are
#: transitive — re-compacting a compact dir carries its originals
#: over — while ``compact-*`` names are DIRECT only: a compact records
#: the compact dirs it folded itself, never the ones those folded.
#: Direct names suffice because a crash-left compact is always gone
#: by the next compaction (compact_state folds every committed dir;
#: compact_accepted's sweep deletes every dir a live compact folds),
#: and they keep the file from growing by one name per compaction
#: forever. Written after the parquet commit and before source
#: deletion, so at every crash point a folded batch id is
#: discoverable either by its own ``_SUCCESS`` (sources not yet
#: deleted) or here.
#:
#: Two on-disk forms (r16, closing the r15 continuous-regime watch):
#: the legacy JSON list of ids, and — whenever any folded id belongs
#: to a REGISTERED streaming run — ``{"v": 2, "ids": [...], "runs":
#: {"<run_id>": <max_epoch>}}``. Epoch ids from
#: ``streaming/ingest.py`` (``f"{run_id}-{epoch}"``) compress to one
#: per-run high-water integer, which is EXACT under foreachBatch's
#: sequential-epoch contract (epoch k+1 never starts before epoch
#: k's commit returned; an empty epoch commits nothing, and its
#: resume correctly reads zero staged rows). This bounds provenance
#: at O(#runs + #batch-mode-ids) instead of O(total epochs ever) —
#: a year at one epoch/minute is one integer, not ~525k ids.
_PROVENANCE_FILE = "_sources.json"

#: Marker directory under ``state_dir`` naming the streaming run ids
#: whose ``<run_id>-<epoch>`` batch ids follow the sequential-epoch
#: contract (one empty marker dir per run; mkdirs is idempotent and
#: race-free). Only REGISTERED runs' ids are high-water-compressed —
#: a user batch id that merely LOOKS like ``name-123`` stays in the
#: exact id list, because nothing guarantees its epochs commit in
#: order. Registered run ids are therefore a reserved namespace:
#: never hand-issue ``<run_id>-<n>`` batch ids against a state dir
#: whose ``<run_id>`` is registered.
_STREAM_RUNS_DIR = "_stream_runs"


def _register_stream_run(
    spark: SparkSession, state_dir: str, run_id: str
) -> None:
    """Record that ``run_id``'s epoch batches follow the
    sequential-commit contract (called by streaming/ingest.py before
    the query starts; idempotent)."""
    if "/" in run_id or run_id.startswith("_") or not run_id:
        raise ValueError(f"invalid stream run_id {run_id!r}")
    if run_id == "compact":
        # a "compact" run would let compact dir names (compact-<hex12>,
        # which CAN be all digits) parse as epochs of the run and be
        # absorbed into an interval — silently breaking the
        # re-compaction crash-window skip rule
        raise ValueError("'compact' is a reserved stream run_id")
    fs, jdir = _fs(
        spark, posixpath.join(state_dir, _STREAM_RUNS_DIR, run_id)
    )
    fs.mkdirs(jdir)


def _stream_run_ids(spark: SparkSession, state_dir: str) -> set[str]:
    """Registered sequential-epoch streaming run ids (empty set for
    pure batch-mode state dirs — provenance then stays in the legacy
    list form)."""
    fs, jdir = _fs(spark, posixpath.join(state_dir, _STREAM_RUNS_DIR))
    if not fs.exists(jdir):
        return set()
    return {
        st.getPath().getName()
        for st in fs.listStatus(jdir)
        if st.isDirectory()
    }


class _Provenance:
    """The folded-batch-id set a compact dir's provenance records,
    with streaming epochs compressed to per-run ``[lo, hi]`` epoch
    intervals.

    ``ids`` holds exact (batch-mode / pre-registration) ids;
    ``runs`` maps a registered streaming run id to the inclusive
    epoch interval this provenance folds. An INTERVAL, not a bare
    high-water, because resume routing (:func:`_read_staged_resume`)
    asks *which* live compact folded a given epoch and tier-1
    compacts fold disjoint epoch ranges of the same run — a
    hi-only form would make every later compact claim every earlier
    epoch. Intervals are exact under foreachBatch's sequential-epoch
    contract: each sweep folds a contiguous run of committed epochs
    (an absent number inside the range was an empty epoch that
    committed nothing, whose resume correctly reads zero staged
    rows). Membership, union, and (de)serialization are the only
    operations any consumer needs."""

    __slots__ = ("ids", "runs")

    def __init__(
        self,
        ids: set[str] | None = None,
        runs: dict[str, tuple[int, int]] | None = None,
    ) -> None:
        self.ids: set[str] = set(ids or ())
        self.runs: dict[str, tuple[int, int]] = dict(runs or {})

    @staticmethod
    def _split_epoch(bid: str, stream_runs) -> tuple[str, int] | None:
        for run in stream_runs:
            if bid.startswith(run + "-"):
                tail = bid[len(run) + 1 :]
                if tail.isdigit():
                    return run, int(tail)
        return None

    def add(self, bid: str, stream_runs: set[str]) -> None:
        hit = self._split_epoch(bid, stream_runs)
        if hit is None:
            self.ids.add(bid)
        else:
            run, epoch = hit
            lo, hi = self.runs.get(run, (epoch, epoch))
            self.runs[run] = (min(lo, epoch), max(hi, epoch))

    def union(self, other: "_Provenance") -> "_Provenance":
        out = _Provenance(self.ids, self.runs)
        out.ids |= other.ids
        for run, (lo, hi) in other.runs.items():
            plo, phi = out.runs.get(run, (lo, hi))
            out.runs[run] = (min(plo, lo), max(phi, hi))
        return out

    def absorb(self, name: str, prov: "_Provenance") -> "_Provenance":
        """Fold compact source ``name`` whose provenance is ``prov``:
        its original ids and run intervals carry over, and of the
        compact names only its own (see :data:`_PROVENANCE_FILE`)."""
        originals = {i for i in prov.ids if not i.startswith("compact-")}
        out = self.union(_Provenance(originals, prov.runs))
        out.ids.add(name)
        return out

    def __contains__(self, bid: str) -> bool:
        if bid in self.ids:
            return True
        hit = self._split_epoch(bid, self.runs)
        if hit is None:
            return False
        lo, hi = self.runs[hit[0]]
        return lo <= hit[1] <= hi

    def __bool__(self) -> bool:
        return bool(self.ids) or bool(self.runs)

    def to_json(self) -> str:
        import json

        if not self.runs:  # legacy list form — format-stable for
            return json.dumps(sorted(self.ids))  # batch-mode dirs
        return json.dumps(
            {
                "v": 2,
                "ids": sorted(self.ids),
                "runs": {r: list(iv) for r, iv in self.runs.items()},
            }
        )

    @staticmethod
    def from_json(data: str) -> "_Provenance":
        import json

        obj = json.loads(data)
        if isinstance(obj, list):
            return _Provenance(set(obj))
        return _Provenance(
            set(obj["ids"]),
            {
                run: (int(iv[0]), int(iv[1]))
                for run, iv in obj["runs"].items()
            },
        )


def _write_provenance(
    spark: SparkSession, out_dir: str, prov: "_Provenance"
) -> None:
    """Write the provenance file ATOMICALLY (temp + overwrite-rename):
    a crash mid-write must not leave a committed compact dir with
    truncated JSON — that would make every later state operation raise
    out of :func:`_read_provenance` with no self-heal path
    (review-found r14). The rename is ``FileContext.rename(...,
    Options.Rename.OVERWRITE)`` — a single atomic step even when the
    destination exists — because the earlier delete-then-rename pair
    left a window on idempotent re-runs where a crash between the two
    stranded a committed compact dir with NO provenance, silently
    reopening the hub double-count transient until the next compaction
    (r14 ADVICE). With it, the final path either holds the previous
    complete JSON, the new complete JSON, or does not exist (crash
    before any rename → sources still exist, every id still
    discoverable by its own ``_SUCCESS``)."""
    final = posixpath.join(out_dir, _PROVENANCE_FILE)
    tmp = final + ".tmp"
    fs, jtmp = _fs(spark, tmp)
    stream = fs.create(jtmp, True)
    try:
        stream.write(bytearray(prov.to_json().encode("utf-8")))
    finally:
        stream.close()
    jfinal = _fs(spark, final)[1]
    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jfinal.toUri(), spark._jsc.hadoopConfiguration()
    )
    overwrite = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    # void + atomic: raises on failure instead of returning False
    fc.rename(jtmp, jfinal, overwrite)


def _read_provenance(spark: SparkSession, batch_dir: str) -> "_Provenance":
    """Folded batch ids recorded in ``batch_dir``'s provenance file
    (empty for ordinary ingest dirs and pre-provenance compact dirs),
    as a :class:`_Provenance` (exact ids + per-run high-waters)."""
    path = posixpath.join(batch_dir, _PROVENANCE_FILE)
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return _Provenance()
    stream = fs.open(jpath)
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return _Provenance.from_json(data.decode("utf-8"))


def _folded_batch_ids(spark: SparkSession, root: str) -> "_Provenance":
    """Every original batch id that a COMMITTED compacted dir under
    ``root`` has folded — the resume-check complement to a batch's
    own ``_SUCCESS`` marker: after compaction deletes the source dir,
    this is the only durable record that the batch committed. Without
    it, re-running a compacted-away ``batch_id`` would recompute,
    anti-join everything against state, and OVERWRITE the staged
    survivors with empty rows (r14 review-found; the hazard predates
    in-ingest maintenance but automatic compaction widens it).
    Streaming epochs arrive compressed as per-run high-waters — the
    driver-side cost of this set is O(#runs + #batch-mode-ids), not
    O(total epochs ever) (r15 watch #2)."""
    out = _Provenance()
    for d in _committed_batch_dirs(spark, root):
        name = d.rsplit("batch=", 1)[1]
        if name.startswith("compact-"):
            out = out.union(_read_provenance(spark, d))
    return out


def _fold_sources(
    spark: SparkSession, state_dir: str, dirs: list[str]
) -> "_Provenance":
    """The provenance a compaction of ``dirs`` writes — the one fold
    both :func:`compact_state` and :func:`compact_accepted` use. A
    plain source contributes its batch id (a registered run's epoch
    widens that run's interval); a compact source is absorbed."""
    stream_runs = _stream_run_ids(spark, state_dir)
    out = _Provenance()
    for d in dirs:
        name = d.rsplit("batch=", 1)[1]
        if name.startswith("compact-"):
            out = out.absorb(name, _read_provenance(spark, d))
        else:
            out.add(name, stream_runs)
    return out


def _batch_committed(
    spark: SparkSession, state_dir: str, table: str, bid: str
) -> bool:
    """Has batch ``bid``'s state for ``table`` committed durably —
    either its own ``batch=<bid>/_SUCCESS`` still exists, or a
    committed compacted dir's provenance records it (the dir itself
    was folded and deleted by :func:`compact_state`). The resume
    check every ingest uses; the provenance half is what makes
    resume-by-``batch_id`` safe under automatic state maintenance."""
    root = posixpath.join(state_dir, table)
    fs, marker = _fs(
        spark, posixpath.join(root, f"batch={bid}", "_SUCCESS")
    )
    if fs.exists(marker):
        return True
    return bid in _folded_batch_ids(spark, root)


#: Default state-maintenance threshold: an ingest that leaves this
#: many committed batch dirs in its state table triggers an inline
#: :func:`compact_state` — bounded fragmentation BY DEFAULT (r13
#: verdict task #5: "bounded state should be the default, not a
#: docstring instruction"), at one amortized rewrite per
#: ``MAINTAIN_MAX_BATCH_DIRS − 1`` ingests. The maintenance runs
#: inside the ingest call, so it inherits whatever writer
#: serialization the ingest already has (the schedule.py run lock in
#: the operational path — same contract, no new locking).
MAINTAIN_MAX_BATCH_DIRS = 16


#: Column names the accepted-corpus layout reserves (r15 ADVICE):
#: ``batch`` is the staging partition column every basePath read over
#: ``accepted/`` infers, and ``_src_batch`` is the provenance column
#: :func:`compact_accepted` adds when folding staged dirs. A user
#: batch carrying either would collide with (or be silently dropped
#: by) the corpus reads, so every ingest rejects them up front.
_RESERVED_BATCH_COLS = ("batch", "_src_batch")


def _validate_batch_columns(batch: DataFrame) -> None:
    """Reject reserved column names at ingest time — a clear
    ValueError at the API boundary instead of a duplicate-column
    AnalysisException (or a silent ``.drop``) deep inside a later
    corpus read (r15 ADVICE)."""
    clash = [c for c in batch.columns if c in _RESERVED_BATCH_COLS]
    if clash:
        raise ValueError(
            f"batch schema uses reserved column name(s) {clash}: "
            "'batch' is the accepted-corpus staging partition column "
            "and '_src_batch' is the compaction provenance column; "
            "rename them before ingesting"
        )


# ------------------------------------------------- state tables

#: Signature/identity state tables: table name → partition columns
#: its batch dirs carry (preserved through compaction so
#: prefix-co-located readers keep working).
_STATE_TABLES = {
    "fingerprints": ["fp_prefix"],
    "phashes": ["fp_prefix"],
    "audio_fps": [],
    "frame_phashes": [],
    # MinHash signatures of accepted docs (r16): the near-dup TEXT
    # ingest's state — ~100 B/doc regardless of document length,
    # unpartitioned (candidate generation re-derives band keys from
    # the sig arrays with codegen expressions)
    "minhash_sigs": [],
    # exact content_md5 of ACCEPTED quarantined payloads (r15): the
    # corrupt rows' identity table — tiny (corrupt rows are the
    # exception), unpartitioned; r16 adds the src_batch attribution
    # data column
    "quarantine_md5s": [],
}

#: Explicit read schemas for state tables whose column set changed
#: across releases (schema inference must not pick a pre-change
#: footer and silently drop the newer column; an absent column reads
#: as NULL), or whose commits can be part-file-less (inference cannot
#: read those). ``batch`` is the partition column — included so the
#: explicit-schema basePath read still surfaces it.
_STATE_TABLE_SCHEMAS = {
    "quarantine_md5s": StructType(
        [
            StructField("content_md5", StringType()),
            StructField("doc_id", LongType()),
            StructField("src_batch", StringType()),  # r16
            StructField("batch", StringType()),
        ]
    ),
}


def _read_table(
    spark: SparkSession, state_dir: str, table: str, *cols: str
) -> DataFrame | None:
    """``table``'s committed batches (a basePath read, so ``batch``
    surfaces as a column; projected to ``cols`` when given), or None
    before its first commit."""
    root = posixpath.join(state_dir, table)
    dirs = _committed_batch_dirs(spark, root)
    if not dirs:
        return None
    reader = spark.read.option("basePath", root)
    if table in _STATE_TABLE_SCHEMAS:
        reader = reader.schema(_STATE_TABLE_SCHEMAS[table])
    frame = reader.parquet(*dirs)
    return frame.select(*cols) if cols else frame


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The accepted-fingerprint table of :func:`ingest_batch`, or None
    before its first commit."""
    return _read_table(spark, state_dir, "fingerprints")


def read_image_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The accepted-pHash table of :func:`ingest_image_batch`, or None
    before its first commit."""
    return _read_table(spark, state_dir, "phashes")


def read_audio_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The accepted audio-fingerprint table of
    :func:`ingest_audio_batch` — one (doc_id, fp array<int>) row per
    accepted clip — or None before its first commit."""
    return _read_table(spark, state_dir, "audio_fps")


def read_video_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The accepted frame-hash table of :func:`ingest_video_batch`, or
    None before its first commit. One (doc_id, frame_idx, phash) row
    per SAMPLED frame of each accepted clip — NULL-hash rows
    (degenerate constant frames) are stored too: they never join, but
    they keep the match_frac denominator at the full sampled count."""
    return _read_table(spark, state_dir, "frame_phashes")


def read_fuzzy_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The accepted MinHash-signature table of
    :func:`ingest_fuzzy_batch` — one (doc_id, sig array<string>) row
    per accepted document — or None before its first commit."""
    return _read_table(spark, state_dir, "minhash_sigs", "doc_id", "sig")


def read_quarantine_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The accepted-quarantine identity table, or None before any
    quarantined acceptance: one (content_md5, doc_id) row per ACCEPTED
    corrupt payload. This is what lets quarantine mode reject
    re-delivered corrupt bytes — a NULL decode signature has no
    content identity, so without it a firehose of the same corrupt
    blob would grow the accepted set without bound. Empty commits
    (every corrupt row a re-delivery) are part-file-less dirs whose
    ``_SUCCESS`` still marks the identity committed; the explicit
    schema reads them."""
    return _read_table(
        spark, state_dir, "quarantine_md5s", "content_md5", "doc_id"
    )


# ------------------------------------------------ the ingest protocol


def _ingest(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_id: str | None,
    maintain_max_batch_dirs: int | None,
    *,
    table: str,
    id_col: str,
    key: str,
    sign: Callable[[DataFrame, Callable[[DataFrame], DataFrame]], DataFrame],
    match: Callable[[DataFrame, DataFrame | None, int | None], DataFrame],
    commit_cols: tuple,
    on_error: str = "raise",
    binary_col: str | None = None,
    decoded: Column | None = None,
    after_commit: Callable[[str], None] | None = None,
) -> DataFrame:
    """The ingest protocol of the module docstring, steps 1-7, for
    every modality. The modality's part:

    * ``sign(frame, cache)`` — ``frame``'s signature rows, keyed by
      ``key``. Expensive frames go through ``cache`` (persisted now,
      unpersisted when the call ends). A signer that caches nothing
      is re-run on the staged rows for the commit; a caching one
      commits its cached rows joined to the staged ids, so decode
      never runs twice.
    * ``match(sigs, state, n)`` — the surviving rows of ``sigs`` after
      the within-batch and cross-state match; ``state`` is ``table``'s
      committed rows (None before the first commit), ``n`` the eager
      count (None when nothing was cached).
    * ``commit_cols`` — what ``table`` stores per accepted row.
    * ``decoded`` — under quarantine, the predicate of a decoded
      signature row; None when a corrupt payload emits no row at all.
    * ``after_commit(bid)`` — a write that follows the signature
      commit (audio's hub-guard word counts)."""
    _validate_batch_columns(batch)
    if on_error not in ("raise", "quarantine"):
        raise ValueError(
            f"on_error must be 'raise' or 'quarantine' (got {on_error!r})"
        )
    if maintain_max_batch_dirs is not None and maintain_max_batch_dirs < 2:
        raise ValueError("maintain_max_batch_dirs must be >= 2 or None")
    quarantine = on_error == "quarantine"
    bid = batch_id if batch_id is not None else uuid.uuid4().hex

    def undecoded(frame: DataFrame, sigs: DataFrame) -> DataFrame:
        # ids of `frame` with no decoded row in `sigs`
        ids = frame.select(F.col(id_col).alias("doc_id"))
        if decoded is None:
            return ids.distinct().join(
                sigs.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        return (
            sigs.filter(~decoded).select("doc_id").join(ids, "doc_id").distinct()
        )

    if batch_id is not None and _batch_committed(spark, state_dir, table, bid):
        acc = _read_staged_resume(spark, state_dir, bid, batch.schema)
        if quarantine and not _batch_committed(
            spark, state_dir, "quarantine_md5s", bid
        ):
            # crash between the signature and quarantine commits: the
            # staged rows without a decoded state row ARE the accepted
            # corrupt set the original run decided
            state = _read_table(spark, state_dir, table)
            if state is not None:
                _backfill_quarantine(
                    spark, state_dir, bid, acc, id_col, binary_col,
                    undecoded(acc, state),
                )
        return acc

    cached: list[DataFrame] = []

    def cache(frame: DataFrame) -> DataFrame:
        cached.append(frame.persist())
        return frame

    try:
        sigs = sign(batch, cache)
        # ONE eager count fills every cache before the match's
        # multi-branch consumers can race it into a duplicate decode
        n = sigs.count() if cached else None
        state = _read_table(spark, state_dir, table)
        clean = sigs
        if quarantine and decoded is not None:
            clean = sigs.filter(decoded)
        fresh = match(clean, state, n).select(key)
        q_md5s = None
        if quarantine:
            # a cheap probe: the common all-clean batch skips the
            # identity plan entirely
            corrupt = (
                sigs.filter(~decoded).select("doc_id")
                if decoded is not None
                else undecoded(batch, sigs)
            )
            if not corrupt.isEmpty():
                q_md5s, _ = _quarantine_identity(
                    spark, state_dir, batch, id_col, binary_col, corrupt
                )
                fresh = fresh.unionByName(
                    q_md5s.select(F.col("doc_id").alias(key))
                )

        # stage BEFORE any state mutation; overwrite makes re-running a
        # crashed attempt clean. A semi join: survivor ids may repeat
        # (one row per sampled video frame)
        staged_dir = posixpath.join(state_dir, "accepted", f"batch={bid}")
        batch.join(
            fresh.withColumnRenamed(key, id_col), id_col, "left_semi"
        ).write.mode("overwrite").parquet(staged_dir)
        accepted = spark.read.schema(batch.schema).parquet(staged_dir)

        # the commit point: signatures of the STAGED ids only
        rows = (
            sigs.join(accepted.select(F.col(id_col).alias(key)), key)
            if cached
            else sign(accepted, cache)
        )
        sig_dir = posixpath.join(state_dir, table, f"batch={bid}")
        writer = rows.select(*commit_cols).write.mode("overwrite")
        if _STATE_TABLES[table]:
            writer = writer.partitionBy(*_STATE_TABLES[table])
        writer.parquet(sig_dir)
        if after_commit is not None:
            after_commit(bid)
        if q_md5s is not None:
            _commit_quarantine(spark, state_dir, bid, q_md5s, accepted, id_col)
        if maintain_max_batch_dirs is not None:
            maintain_state(
                spark, state_dir, maintain_max_batch_dirs,
                (table, "quarantine_md5s"), exclude_bid=bid,
            )
        return accepted
    finally:
        for frame in cached:
            frame.unpersist()


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str | None = None,
    maintain_max_batch_dirs: int | None = MAINTAIN_MAX_BATCH_DIRS,
) -> DataFrame:
    """Exact-duplicate TEXT ingest. A document is a duplicate when its
    :func:`fingerprint_docs` md5 equals a batch-mate's (the min id
    survives) or any accepted document's (history always wins). State:
    ``fingerprints/batch=<id>/fp_prefix=<hex>/``, one (fp, id) row per
    accepted document; the anti-join is one keyed shuffle on a uniform
    128-bit key. Arguments and return value: see the module
    docstring."""

    def match(fps: DataFrame, state: DataFrame | None, _n) -> DataFrame:
        kept = key_dedup_deterministic(fps, ["fp"], id_col, keep="min")
        if state is None:
            return kept
        return kept.join(state.select("fp"), "fp", "left_anti")

    return _ingest(
        spark, batch, state_dir, batch_id, maintain_max_batch_dirs,
        table="fingerprints", id_col=id_col, key=id_col,
        sign=lambda frame, _cache: fingerprint_docs(frame, id_col, text_col),
        match=match,
        commit_cols=("fp", "fp_prefix", id_col),
    )


# ----------------------------------------------- state compaction


def compact_state(spark: SparkSession, state_dir: str, table: str) -> int:
    """Rewrite every committed batch dir of one state table into a
    SINGLE batch dir and remove the superseded dirs (r12 verdict task
    #5). ``read_*_state`` unions every committed batch, so a
    daily-cadence deployment accumulates O(batches) parquet fragments
    — at 1000 batches the image path's 16 B/row state becomes a
    small-files scan problem, the reference's own X4 listing lesson
    (main_pipeline.py:226-230) applied to state. Run this at
    maintenance cadence (e.g. every N ingests), UNDER THE SAME RUN
    LOCK as ingests (schedule.py) — the module contract already
    serializes state writers.

    Crash consistency, same _SUCCESS-gated reasoning as ingest:

    * die mid-write: the compacted dir lacks ``_SUCCESS`` → invisible;
      sources intact. Re-run overwrites the partial.
    * die after the compacted dir commits, before/while deleting
      sources: readers see DUPLICATE state rows — harmless for
      matching (state is a set: anti-joins ignore duplicates, the
      fuzzy paths collapse them in their pair aggregations) and never
      a loss; the next compaction's ``distinct()`` collapses them
      permanently (self-healing, so compaction is idempotent at any
      crash point). One audio-path caveat in this window (r13
      ADVICE): with both copies visible, sampled word counts would
      double and the hub guard's effective cut would halve —
      transiently over-dropping probe words (recall-only: a dropped
      probe word can only miss a candidate, never invent one). Since
      r14 the provenance file closes this exactly —
      :func:`read_audio_hubs` skips source dirs a committed
      compact dir's ``_sources.json`` already folds — leaving the
      transient only for pre-provenance compact dirs; the
      "duplicates are harmless" claim above is about MATCH
      correctness, not hub-cut calibration.

    The compacted dir's name hashes its source listing, so a crashed
    attempt that partially deleted sources produces a NEW compaction
    id on re-run (the stale compacted dir is just another source).
    For ``audio_fps``, count tables under ``word_counts/`` whose
    batch no longer exists are removed too; the compacted batch's
    counts regenerate on the next :func:`read_audio_hubs` call from
    its durable fingerprints (the backfill path).

    Returns the number of source batch dirs rewritten (0 = nothing to
    do: fewer than two committed dirs)."""
    if table not in _STATE_TABLES:
        raise ValueError(
            f"table must be one of {sorted(_STATE_TABLES)} (got {table!r})"
        )
    root = posixpath.join(state_dir, table)
    dirs = _committed_batch_dirs(spark, root)
    if len(dirs) < 2:
        return 0
    cid = "compact-" + hashlib.sha256(
        "|".join(dirs).encode()
    ).hexdigest()[:12]
    out_dir = posixpath.join(root, f"batch={cid}")
    # drop the batch= partition column the basePath read surfaces —
    # it is dir metadata, not state, and keeping it would defeat the
    # self-healing distinct (a row duplicated across a crashed
    # compaction's old and new dirs differs ONLY in batch). Tables in
    # _STATE_TABLE_SCHEMAS read with their explicit schema: mixed-era
    # dirs would otherwise depend on WHICH footer inference samples.
    df = _read_table(spark, state_dir, table).drop("batch").distinct()
    parts = _STATE_TABLES[table]
    writer = df.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(out_dir)

    # Provenance BEFORE deletion: a crashed ingest whose fp dir
    # was compacted away can still resume by id instead of
    # recomputing-to-empty and destroying its staged survivors. The
    # compact sources' own names let read_audio_hubs skip them in a
    # re-compaction crash window. Crash between the parquet commit
    # and this write: sources still exist, so every id is still
    # discoverable via its own _SUCCESS — no window.
    _write_provenance(
        spark, out_dir,
        _fold_sources(spark, state_dir, [d for d in dirs if d != out_dir]),
    )

    if table == "audio_fps":
        # Roll the sources' sampled word-count tables up into the
        # compact dir's table BEFORE deleting anything (review-found
        # r14): without it, the next read_audio_hubs backfill
        # re-explodes the ENTIRE accepted state (O(history) — the
        # exact cost the r12 incremental-count design exists to
        # avoid) every time maintenance compacts. Summing the tiny
        # per-batch tables is O(distinct sampled words) and exact.
        per_dir_prov = {
            d: _read_provenance(spark, d)
            for d in dirs
            if d != out_dir
        }
        contributing = [
            d.rsplit("batch=", 1)[1]
            for d in per_dir_prov
            # exclude sources another source already folds (the
            # re-compaction crash window) — their rows are duplicates
            # of the folding compact dir's and would double the sum
            if not any(
                d.rsplit("batch=", 1)[1] in p
                for o, p in per_dir_prov.items()
                if o != d
            )
        ]
        _roll_up_word_counts(spark, state_dir, contributing, cid)

    fs, _ = _fs(spark, state_dir)
    for d in dirs:
        if d != out_dir:  # a prior crashed compaction can be a source
            fs.delete(_fs(spark, d)[1], True)
    if table == "audio_fps":
        _prune_stale_word_counts(spark, state_dir)
    return len(dirs)


def maintain_state(
    spark: SparkSession,
    state_dir: str,
    max_batch_dirs: int = 16,
    tables: tuple[str, ...] | None = None,
    exclude_bid: str | None = None,
) -> dict[str, int]:
    """Threshold-driven maintenance sweep over every state table
    under ``state_dir``: compact any table whose committed batch-dir
    count reached ``max_batch_dirs`` (the operational face of
    :func:`compact_state`). Since r14 every ``ingest_*`` calls this
    INLINE on its own table after each commit (r13 verdict task #5 —
    bounded state is the default, not a docstring instruction), so
    fragmentation stays ≤ ``max_batch_dirs`` dirs forever at one
    amortized state rewrite every ``max_batch_dirs − 1`` ingests;
    call it directly only for cross-table sweeps or when ingests ran
    with ``maintain_max_batch_dirs=None``.

    The sweep also bounds the ACCEPTED corpus (r15): when the plain
    per-ingest staged dirs reach the threshold they fold into one
    sized compact dir, and when the compact tier itself reaches the
    threshold it merges — :func:`compact_accepted`'s tiered/LSM
    discipline, so continuous micro-batching (streaming/ingest.py)
    never accumulates an unbounded small-files corpus. ``exclude_bid``
    keeps the just-committed batch's staged dir out of this sweep
    (its caller still holds a lazy frame over it).

    Same locking contract as ingest: run under the schedule.py run
    lock. Returns {table: n_source_dirs_compacted} for the tables
    that compacted (empty dict = nothing fragmented enough)."""
    if max_batch_dirs < 2:
        raise ValueError("max_batch_dirs must be >= 2")
    out: dict[str, int] = {}
    for table in tables if tables is not None else tuple(_STATE_TABLES):
        dirs = _committed_batch_dirs(
            spark, posixpath.join(state_dir, table)
        )
        if len(dirs) >= max_batch_dirs:
            out[table] = compact_state(spark, state_dir, table)
    plain, compacts = _accepted_listing(spark, state_dir)
    if exclude_bid is not None:
        plain = [
            d for d in plain if d.rsplit("batch=", 1)[1] != exclude_bid
        ]
    if len(plain) >= max_batch_dirs:
        out["accepted"] = compact_accepted(
            spark, state_dir, exclude_bid=exclude_bid
        )
    if len(compacts) >= max_batch_dirs:
        out["accepted_compacts"] = compact_accepted(
            spark, state_dir, fold_compacts=True, exclude_bid=exclude_bid
        )
    return out


# --------------------------------------- accepted-corpus compaction

#: Column that carries a folded row's ORIGINAL ingest batch id inside
#: an accepted-compaction dir (a regular data column, not a partition
#: — partitioning by it would recreate the small dirs compaction
#: exists to remove). Underscore-prefixed to stay out of user schemas.
_SRC_BATCH_COL = "_src_batch"

#: Target output file size for accepted-corpus compaction (the S5
#: sized-files lesson applied to the corpus itself).
_ACCEPTED_TARGET_FILE_BYTES = 512 << 20


def _committed_ingest_bids(
    spark: SparkSession, state_dir: str
) -> "_Provenance":
    """Every ORIGINAL ingest batch id whose state committed — its own
    signature dir still standing, or a committed compaction's
    provenance recording it — across all state tables, as a
    membership-testable :class:`_Provenance` (streaming epochs stay
    compressed as per-run high-waters)."""
    out = _Provenance()
    for table in _STATE_TABLES:
        troot = posixpath.join(state_dir, table)
        for d in _committed_batch_dirs(spark, troot):
            bid = d.rsplit("batch=", 1)[1]
            if not bid.startswith("compact-"):
                out.ids.add(bid)
        out = out.union(_folded_batch_ids(spark, troot))
    return out


def _accepted_dirs(
    spark: SparkSession, state_dir: str
) -> tuple[list[str], list[str], list[str]]:
    """(plain_dirs, compact_dirs, dead_dirs) under ``accepted/``:

    * ``plain_dirs`` — per-ingest staged dirs whose batch COMMITTED (an
      uncommitted dir is in-flight staging, untouchable) and that no
      committed compaction has already folded;
    * ``compact_dirs`` — committed accepted-compaction dirs that are
      LIVE: carrying provenance and not folded by a later compaction;
    * ``dead_dirs`` — what crashed compactions left behind. An ORPHAN
      compact (committed, no ``_sources.json``: the compaction died
      before its provenance rename) is dead because deletion strictly
      follows the provenance write, so its sources still carry every
      row; counting it would duplicate the corpus, and with a
      different cid on the next sweep the duplication would never
      self-heal. A committed dir, plain or compact, that a committed
      compact's provenance folds is dead too (that compaction died
      before deleting it); since provenance names compacts only
      directly, such a compact must go before its folder is itself
      folded, or nothing would name it any more.

    Dead dirs are never read; the next :func:`compact_accepted`
    deletes them."""
    root = posixpath.join(state_dir, "accepted")
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return [], [], []
    compacts: list[str] = []
    dead: list[str] = []
    plain: dict[str, str] = {}
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith("batch="):
            continue
        bid, path = name[6:], st.getPath().toString()
        if not bid.startswith("compact-"):
            plain[bid] = path
        elif fs.exists(st.getPath().suffix("/_SUCCESS")):
            if fs.exists(st.getPath().suffix("/" + _PROVENANCE_FILE)):
                compacts.append(path)
            else:
                dead.append(path)
    folded = _Provenance()
    for d in compacts:
        folded = folded.union(_read_provenance(spark, d))
    committed = _committed_ingest_bids(spark, state_dir)
    live: list[str] = []
    for d in compacts:
        (dead if d.rsplit("batch=", 1)[1] in folded else live).append(d)
    plain_dirs: list[str] = []
    for b, p in sorted(plain.items()):
        if b in folded:
            dead.append(p)
        elif b in committed:
            plain_dirs.append(p)
    return plain_dirs, live, dead


def _accepted_listing(
    spark: SparkSession, state_dir: str
) -> tuple[list[str], list[str]]:
    """(plain_dirs, compact_dirs): the live part of
    :func:`_accepted_dirs`."""
    plain, compacts, _ = _accepted_dirs(spark, state_dir)
    return plain, compacts


def _part_file_bytes(spark: SparkSession, d: str) -> tuple[int, int]:
    """(n_part_files, total_bytes) directly under ``d``."""
    fs, jd = _fs(spark, d)
    n = total = 0
    for st in fs.listStatus(jd):
        if st.getPath().getName().startswith("part-"):
            n += 1
            total += st.getLen()
    return n, total


def _accepted_frame(
    spark: SparkSession,
    state_dir: str,
    plain: list[str],
    compacts: list[str],
    attributed: bool,
) -> DataFrame | None:
    """One frame over the readable (part-file-holding) dirs of both
    accepted tiers, or None when every dir is survivor-less. The tiers
    read separately: a single multi-dir read would need mergeSchema (a
    footer read per file — the small-files cost again) to see the
    compact tier's ``_src_batch`` column. ``attributed`` keeps
    ``_src_batch``; plain dirs take it from their ``batch`` value."""
    root = posixpath.join(state_dir, "accepted")
    frames = []
    for dirs, compact in ((plain, False), (compacts, True)):
        readable = [d for d in dirs if _part_file_bytes(spark, d)[0] > 0]
        if not readable:
            continue
        frame = spark.read.option("basePath", root).parquet(*readable)
        if attributed and not compact:
            frame = frame.withColumn(
                _SRC_BATCH_COL, F.col("batch").cast("string")
            )
        frame = frame.drop("batch")
        if compact and not attributed:
            frame = frame.drop(_SRC_BATCH_COL)
        frames.append(frame)
    return reduce(lambda a, b: a.unionByName(b), frames) if frames else None


def compact_accepted(
    spark: SparkSession,
    state_dir: str,
    fold_compacts: bool = False,
    exclude_bid: str | None = None,
) -> int:
    """Fold committed per-ingest staged dirs into ONE sized compact
    dir — the accepted CORPUS's answer to :func:`compact_state`:
    under continuous micro-batching (streaming/ingest.py) every epoch
    leaves its own ``accepted/batch=*`` dir, and at 10k epochs the
    corpus read is a small-files wall even though every signature
    table stays compacted.

    TIERED deliberately, because the accepted table is THE DATA: by
    default only the plain per-ingest dirs fold (write cost bounded
    by recent ingest volume — never O(corpus)); ``fold_compacts=True``
    merges the compact tier too, the rare geometric step
    (:func:`maintain_state` drives both at the same threshold, so
    total rewrite work is O(corpus · log batches) amortized — the
    LSM discipline). Output files are sized from the sources' actual
    bytes (~512 MB targets) via ``coalesce`` — NO shuffle: payload
    bytes never cross the wire, the compaction is a read-merge-write.
    Folded rows keep their origin in the ``_src_batch`` column so a
    resumed ``batch_id`` can still find its staged survivors
    (:func:`_read_staged_resume`); ``_sources.json`` provenance is
    written before any deletion, exactly the compact_state protocol
    (crash windows self-heal: a committed-but-undeleted source is
    skipped by the folded-set rule on every read, and the first step
    here deletes it along with orphan compacts — see
    :func:`_accepted_dirs`).

    ``exclude_bid`` keeps one batch out of this sweep — the inline
    maintenance path excludes the batch it just committed, because
    the caller still holds a lazy frame over that staged dir.

    Same contract as compact_state: one state dir hosts ONE ingest
    modality (accepted schemas must union), and run under the
    schedule.py run lock. Returns the number of source dirs folded
    (0 = nothing to do)."""
    plain, compacts, dead = _accepted_dirs(spark, state_dir)
    fs, _ = _fs(spark, state_dir)
    for d in dead:  # safe under the run lock: dead dirs are never read
        fs.delete(_fs(spark, d)[1], True)
    if exclude_bid is not None:
        plain = [
            d for d in plain if d.rsplit("batch=", 1)[1] != exclude_bid
        ]
    folding = compacts if fold_compacts else []
    sources = plain + folding
    if len(sources) < 2:
        return 0
    out = _accepted_frame(spark, state_dir, plain, folding, attributed=True)
    if out is None:
        return 0  # only survivor-less dirs: nothing to write
    total_bytes = sum(_part_file_bytes(spark, d)[1] for d in sources)
    target = max(1, total_bytes // _ACCEPTED_TARGET_FILE_BYTES + 1)
    cid = "compact-" + hashlib.sha256(
        "|".join(sorted(sources)).encode()
    ).hexdigest()[:12]
    out_dir = posixpath.join(state_dir, "accepted", f"batch={cid}")
    (
        out.coalesce(int(target))
        .sortWithinPartitions(_SRC_BATCH_COL)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _write_provenance(spark, out_dir, _fold_sources(spark, state_dir, sources))
    for d in sources:
        if d != out_dir:
            fs.delete(_fs(spark, d)[1], True)
    return len(sources)


def _read_staged_resume(
    spark: SparkSession, state_dir: str, bid: str, schema: StructType
) -> DataFrame:
    """Staged survivors of a COMMITTED batch, for the resume path:
    the batch's own staged dir when it still stands, else the rows a
    committed accepted-compaction folded (filtered on
    ``_src_batch`` — parquet row groups are clustered on it by the
    compaction's within-partition sort, so the filter prunes on
    min/max stats instead of scanning the corpus)."""
    staged_dir = posixpath.join(state_dir, "accepted", f"batch={bid}")
    fs, jdir = _fs(spark, staged_dir)
    if fs.exists(jdir):
        return spark.read.schema(schema).parquet(staged_dir)
    folded_schema = StructType(
        list(schema.fields) + [StructField(_SRC_BATCH_COL, StringType())]
    )
    _, compacts = _accepted_listing(spark, state_dir)
    for d in compacts:
        if bid in _read_provenance(spark, d):
            return (
                spark.read.schema(folded_schema)
                .parquet(d)
                .filter(F.col(_SRC_BATCH_COL) == bid)
                .select(*[f.name for f in schema.fields])
            )
    raise IOError(
        f"batch {bid} committed its state but its staged survivors are "
        f"missing from {staged_dir} and from every accepted-compaction "
        "provenance — the accepted table was modified outside the "
        "compaction protocol"
    )


def read_accepted(spark: SparkSession, state_dir: str) -> DataFrame:
    """Every durably accepted row across all committed ingest batches
    — plain staged dirs and accepted-compaction dirs alike (the
    streaming face's corpus read; streaming/ingest.py::accepted_corpus
    delegates here). Raises ValueError before the first commit."""
    plain, compacts = _accepted_listing(spark, state_dir)
    frame = _accepted_frame(spark, state_dir, plain, compacts, attributed=False)
    if frame is None:
        if not plain and not compacts:
            raise ValueError(f"no committed ingest batches under {state_dir}")
        # committed batches exist but every one staged zero survivors
        raise ValueError(
            f"committed batches under {state_dir} staged no survivors"
        )
    return frame


def read_accepted_attributed(spark: SparkSession, state_dir: str) -> DataFrame:
    """:func:`read_accepted` plus the ``_src_batch`` attribution
    column — the ingest batch (or streaming epoch id) that accepted
    each row, surviving compaction (folded rows carry their origin in
    the compact dirs' ``_src_batch`` data column; plain dirs carry it
    as the ``batch`` partition value). The name is one of the two
    RESERVED columns, so it can never collide with a user schema."""
    frame = _accepted_frame(
        spark, state_dir, *_accepted_listing(spark, state_dir), attributed=True
    )
    if frame is None:
        raise ValueError(
            f"no committed ingest batches with survivors under {state_dir}"
        )
    return frame


def corpus_growth(spark: SparkSession, state_dir: str) -> DataFrame:
    """Accepted-row count per ORIGINAL ingest batch / streaming epoch
    — the corpus-growth ops view (one ``(batch, n_rows)`` row,
    attribution surviving compaction): a sudden drop in per-epoch
    acceptance under steady input volume means the dedup rate moved
    (upstream duplication drift), the growth-side complement of
    :func:`quarantine_report`'s corrupt-rate view. One map-side
    combinable groupBy over the corpus scan — no payload columns are
    read (Catalyst prunes to the attribution column only)."""
    return (
        read_accepted_attributed(spark, state_dir)
        .groupBy(F.col(_SRC_BATCH_COL).alias("batch"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("batch")
    )


def read_quarantine_payloads(
    spark: SparkSession, state_dir: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """The accepted corrupt payloads themselves, for offline triage —
    the join :func:`quarantine_report` promises: every corpus row
    whose id the quarantine identity table records, with its
    ``content_md5``. The identity side is tiny at any corpus scale
    (corrupt rows are the exception), so it broadcasts and the corpus
    scan stays shuffle-free. Returns None before any quarantined
    acceptance."""
    state = read_quarantine_state(spark, state_dir)
    if state is None:
        return None
    return read_accepted(spark, state_dir).join(
        F.broadcast(
            state.select(
                F.col("doc_id").alias(id_col), "content_md5"
            ).distinct()
        ),
        id_col,
    )


def _roll_up_word_counts(
    spark: SparkSession,
    state_dir: str,
    contributing_bids: list[str],
    cid: str,
) -> None:
    """Derive the compacted batch's per-rate sampled word-count
    tables by SUMMING its sources' tables — O(distinct sampled words)
    instead of the O(state) full re-explode the read_audio_hubs
    backfill would otherwise pay after every compaction (review-found
    r14). Exact because deterministic per-(clip, frame) sampling
    makes counts over DISJOINT row sets sum to the union's counts;
    the caller excludes crash-window duplicate sources via
    provenance. A rate where any contributing source lacks a
    committed table is skipped entirely — the backfill regenerates
    that rate exactly from the durable fingerprints (the correctness
    path is never the sum, only the cheapness)."""
    wc_root = posixpath.join(state_dir, "word_counts")
    fs, jroot = _fs(spark, wc_root)
    if not fs.exists(jroot):
        return
    for rate_st in fs.listStatus(jroot):
        name = rate_st.getPath().getName()
        if not rate_st.isDirectory() or not name.startswith("rate="):
            continue
        rate_dir = rate_st.getPath().toString()
        srcs = []
        for bid in contributing_bids:
            d = posixpath.join(rate_dir, f"batch={bid}")
            if fs.exists(_fs(spark, posixpath.join(d, "_SUCCESS"))[1]):
                srcs.append(d)
            else:
                srcs = None
                break
        if not srcs:
            continue
        (
            spark.read.parquet(*srcs)
            .groupBy("v")
            .agg(F.sum("n_sampled").alias("n_sampled"))
            .write.mode("overwrite")
            .parquet(posixpath.join(rate_dir, f"batch={cid}"))
        )


def _prune_stale_word_counts(spark: SparkSession, state_dir: str) -> None:
    """Remove ``word_counts/rate=*/batch=*`` dirs whose fingerprint
    batch no longer exists (superseded by compaction) — they are
    never read (read_audio_hubs maps FROM the fp listing), this is
    pure small-files hygiene."""
    live = {
        d.rsplit("batch=", 1)[1]
        for d in _committed_batch_dirs(
            spark, posixpath.join(state_dir, "audio_fps")
        )
    }
    wc_root = posixpath.join(state_dir, "word_counts")
    fs, jroot = _fs(spark, wc_root)
    if not fs.exists(jroot):
        return
    for rate_st in fs.listStatus(jroot):
        if not rate_st.isDirectory():
            continue
        for batch_st in fs.listStatus(rate_st.getPath()):
            name = batch_st.getPath().getName()
            if name.startswith("batch=") and name[6:] not in live:
                fs.delete(batch_st.getPath(), True)


# -------------------------------------- quarantine content identity


def quarantine_report(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Operational view of everything quarantine mode has accepted:
    one ``(batch, content_md5, doc_id)`` row per accepted corrupt
    payload, ``batch`` being the ingest batch (or streaming epoch)
    that admitted it — the frame an operator groups per-batch to
    watch corrupt-rate trends, or joins back to the staged payloads
    to pull the bytes for offline triage. Attribution SURVIVES
    compaction (r16): commits carry the originating batch in a
    ``src_batch`` data column, which folding preserves, and the
    report coalesces it over the partition value (pre-r16 rows read
    the column as NULL and fall back to the dir name — for those,
    folded attribution degrades to the compact id as before, with
    the original ids in the compact dir's ``_sources.json``).
    Returns None before any quarantined acceptance. The explicit
    table schema keeps ``batch`` even when every commit is
    part-file-less (nothing for partition discovery to find)."""
    frame = _read_table(spark, state_dir, "quarantine_md5s")
    if frame is None:
        return None
    return frame.select(
        F.coalesce(
            F.col("src_batch"), F.col("batch").cast("string")
        ).alias("batch"),
        "content_md5",
        "doc_id",
    )


def _quarantine_identity(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    id_col: str,
    binary_col: str,
    corrupt_ids: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Exact content identity for this batch's quarantined rows: a
    corrupt payload is fingerprinted by ``md5(raw bytes)`` —
    decode-free, one built-in hash — because its decode signature is
    NULL by definition. Returns ``(accepted_md5s, rejected_ids)``:

    * ``accepted_md5s`` — (content_md5, doc_id), the min-id
      representative per DISTINCT corrupt payload that is not already
      recorded in quarantine state (within-batch exact dedup + the
      same history-always-wins anti-join the clean rows get);
    * ``rejected_ids`` — every other corrupt id: a within-batch
      duplicate of a representative, or a re-delivery of
      already-quarantined bytes.

    Both joins are keyed equi-joins on the 16-byte md5 — corrupt rows
    are the rare case, so the state side stays tiny at any corpus
    scale. The md5 is projected AFTER the corrupt-id join so clean
    rows never pay the hash (declaring it in the pre-join projection
    would pin the computation before the join — Catalyst prunes
    columns, it does not defer expressions across joins)."""
    bad = (
        batch.select(
            F.col(id_col).alias("doc_id"),
            F.col(binary_col).alias("_q_payload"),
        )
        .join(corrupt_ids, "doc_id")
        .select(
            "doc_id", F.md5(F.col("_q_payload")).alias("content_md5")
        )
    )
    reps = bad.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    state = read_quarantine_state(spark, state_dir)
    if state is not None:
        reps = reps.join(
            state.select("content_md5"), "content_md5", "left_anti"
        )
    rejected = corrupt_ids.join(
        reps.select("doc_id"), "doc_id", "left_anti"
    )
    return reps.select("content_md5", "doc_id"), rejected


def _commit_quarantine(
    spark: SparkSession,
    state_dir: str,
    bid: str,
    accepted_md5s: DataFrame,
    accepted: DataFrame,
    id_col: str,
) -> None:
    """Commit the batch's accepted-quarantine identity rows, keyed by
    the STAGED doc ids (state records only durable docs — the same
    doctrine as the signature commits). Runs AFTER the signature
    commit so the signature ``_SUCCESS`` stays the single commit
    point: a crash in between leaves the batch committed with its
    quarantine rows missing, which the resume path backfills
    (:func:`_backfill_quarantine`).

    ``src_batch`` (r16) pins the ORIGINATING batch as a data column
    so per-epoch attribution survives compaction — folded rows no
    longer report the compact dir's id (quarantine_report coalesces
    ``src_batch`` over the partition value; pre-r16 rows read as
    NULL and fall back to the partition)."""
    accepted_md5s.join(
        accepted.select(F.col(id_col).alias("doc_id")), "doc_id"
    ).select(
        "content_md5", "doc_id", F.lit(bid).alias("src_batch")
    ).write.mode("overwrite").parquet(
        posixpath.join(state_dir, "quarantine_md5s", f"batch={bid}")
    )


def _backfill_quarantine(
    spark: SparkSession,
    state_dir: str,
    bid: str,
    accepted: DataFrame,
    id_col: str,
    binary_col: str,
    corrupt_staged_ids: DataFrame,
) -> None:
    """Resume-path self-heal: the batch's signatures committed but
    its quarantine identity rows did not (crash between the two
    writes, or a pre-r15 batch resumed under r15). Recompute the
    md5s from the staged payloads — the staged corrupt rows ARE the
    accepted set the original run decided — and commit them. No
    state anti-join here: a later batch may have accepted the same
    md5 in the window, and duplicate md5 rows are harmless to the
    anti-join (set semantics, collapsed at the next compaction)."""
    (
        accepted.select(
            F.col(id_col).alias("doc_id"),
            F.col(binary_col).alias("_q_payload"),
        )
        .join(corrupt_staged_ids, "doc_id")
        .select(
            F.md5(F.col("_q_payload")).alias("content_md5"),
            "doc_id",
            F.lit(bid).alias("src_batch"),
        )
        .write.mode("overwrite")
        .parquet(posixpath.join(state_dir, "quarantine_md5s", f"batch={bid}"))
    )


# ------------------------------------------ incremental IMAGE ingest


def ingest_image_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    max_hamming: int = 8,
    batch_id: str | None = None,
    method: str = "auto",
    maintain_max_batch_dirs: int | None = MAINTAIN_MAX_BATCH_DIRS,
    on_error: str = "raise",
) -> DataFrame:
    """Near-duplicate IMAGE ingest (pHash). Within the batch,
    perceptual near-dup clusters (operators/phash.py candidates + the
    shared closure) collapse to the min id; against history, an image
    within ``max_hamming`` of ANY accepted hash is rejected (blocked
    pigeonhole or banded join against the state — never all-pairs).
    State: ``phashes``, one 16-byte (phash, doc_id) row per accepted
    image, partitioned by the hash's top hex digit. Rejection is judged
    against ACCEPTED hashes only: a chain a~b~c arriving in one batch
    collapses through the closure; split across batches, b is rejected
    against a and c is judged against a alone.

    ``method`` routes both candidate joins through the image-dedup
    doctrine (operators/phash.py). ``"auto"`` (default) sizes each
    join from the eager batch count (and a parquet-metadata state
    count) and picks pigeonhole (recall 1.0) while its estimated
    bucket terms fit the row budget — batch-squared within, bilinear
    batch×state across (a year of state vs a day's batch crosses the
    bilinear budget long before a batch crosses the quadratic one) —
    and banded LSH beyond; ``"pigeonhole"`` / ``"banded"`` force one,
    banded sized from the same counts. Other arguments: see the module
    docstring."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.phash import (
        _check_image_knobs,
        auto_banded_params,
        banded_hamming_matches,
        phash_candidates,
        phash_candidates_banded,
        resolve_phash_method,
        with_phash,
    )

    _check_image_knobs(method, max_hamming)

    def route(n_a: int, n_b: int | None = None):
        # (method, bands, bits) for one candidate join
        if method == "auto":
            return resolve_phash_method(max_hamming, n_a, n_b=n_b)
        if method == "banded":
            return ("banded", *auto_banded_params(n_a, max_hamming, n_b=n_b))
        return "pigeonhole", None, None

    def match(hashes: DataFrame, state: DataFrame | None, n: int) -> DataFrame:
        how, bands, bits = route(n)
        if how == "pigeonhole":
            pairs = phash_candidates(hashes, "doc_id", max_hamming=max_hamming)
        else:
            pairs = phash_candidates_banded(
                hashes, "doc_id", bands=bands, bits_per_band=bits
            )
        kept = drop_near_duplicates(
            hashes, pairs.filter(F.col("hamming") <= max_hamming), "doc_id"
        )
        if state is None:
            return kept
        how, bands, bits = route(
            n, state.count() if method != "pigeonhole" else None
        )
        if how == "pigeonhole":
            hits = blocked_hamming_matches(kept, state, max_hamming)
        else:
            hits = banded_hamming_matches(
                kept, state, max_hamming, bands=bands, bits_per_band=bits
            )
        return drop_matched(kept, hits)

    return _ingest(
        spark, batch, state_dir, batch_id, maintain_max_batch_dirs,
        table="phashes", id_col=id_col, key="doc_id",
        sign=lambda frame, cache: cache(
            with_phash(frame, id_col, binary_col, on_error=on_error)
        ),
        match=match,
        commit_cols=(
            "phash",
            F.lower(F.hex(F.shiftrightunsigned(F.col("phash"), 60))).alias(
                "fp_prefix"
            ),
            "doc_id",
        ),
        on_error=on_error,
        binary_col=binary_col,
        decoded=F.col("phash").isNotNull(),
    )


# ------------------------------------------ incremental AUDIO ingest


def _audio_word_count_dir(state_dir: str, rate_inv: int, bid: str) -> str:
    """The sampled word-count table for one committed fingerprint
    batch, keyed by the sampling rate in the PATH so a ``max_word_df``
    change between ingests can never silently mix counts taken at
    different rates — a stale-rate table is simply never listed."""
    return posixpath.join(
        state_dir, "word_counts", f"rate={rate_inv}", f"batch={bid}"
    )


def read_audio_hubs(
    spark: SparkSession, state_dir: str, max_word_df: int | None
) -> DataFrame | None:
    """The maintained state-side hub-word table ``(v)`` for the
    incremental audio ingest — the r12-ADVICE fix for per-ingest cost
    that grew with total accepted history: instead of re-exploding
    every accepted fingerprint sequence per batch, each committed
    batch carries a tiny pre-aggregated sampled word-count table
    (:func:`~...audio_fp.sampled_word_counts`; deterministic
    per-(clip, frame) sampling makes per-batch counts SUM exactly to
    the full-state counts), and hub detection reads those.

    Self-healing: any committed fingerprint batch lacking its count
    table at the CURRENT rate — a crash between the fp commit and the
    count write, a resume short-circuit, or a ``max_word_df`` change
    — gets its counts recomputed from the durable fingerprints and
    rewritten here (a pure function of one batch, idempotent
    overwrite). Returns None when state is empty or the guard is
    off."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        hub_sampling_params,
        hubs_from_counts,
        sampled_word_counts,
    )

    if max_word_df is None:
        return None
    root = posixpath.join(state_dir, "audio_fps")
    fp_dirs = _committed_batch_dirs(spark, root)
    if not fp_dirs:
        return None
    # Compaction crash window (compacted dir committed, sources not
    # yet deleted): counting BOTH copies would double every folded
    # word and halve the hub cut (transient recall-only over-drop —
    # r13 ADVICE). Provenance (r14) closes it exactly: skip source
    # dirs a committed compact dir already folds. Pre-provenance
    # compact dirs (r13-era state) keep the documented transient
    # behavior until their next compaction.
    folded = _folded_batch_ids(spark, root)
    if folded:
        fp_dirs = [
            d for d in fp_dirs
            if d.rsplit("batch=", 1)[1] not in folded
        ]
    rate_inv, _ = hub_sampling_params(max_word_df)
    fs, _ = _fs(spark, state_dir)
    count_dirs = []
    for d in fp_dirs:
        bid = d.rsplit("batch=", 1)[1]
        wdir = _audio_word_count_dir(state_dir, rate_inv, bid)
        wsuccess = _fs(spark, posixpath.join(wdir, "_SUCCESS"))[1]
        if not fs.exists(wsuccess):
            sampled_word_counts(
                spark.read.parquet(d), "doc_id", max_word_df
            ).write.mode("overwrite").parquet(wdir)
        count_dirs.append(wdir)
    return hubs_from_counts(spark.read.parquet(*count_dirs), max_word_df)


def ingest_audio_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    ber_max: float = 0.25,
    min_probe_frames: int = 2,
    batch_id: str | None = None,
    max_word_df: int | None = _AUDIO_MAX_WORD_DF,
    maintain_max_batch_dirs: int | None = MAINTAIN_MAX_BATCH_DIRS,
    on_error: str = "raise",
) -> DataFrame:
    """Near-duplicate AUDIO ingest (Haitsma–Kalker fingerprints).
    Within the batch, probe-vote + aligned-BER near-dup clusters
    (operators/audio_fp.py) collapse to the min id; against history, a
    clip matching ANY accepted clip's fingerprint sequence is rejected
    — the cross-table chain with ``broadcast_b=False``, because a
    daily batch's probe-word explode is itself megabytes (~110 words ×
    20 B per clip), so both sides ride a keyed equi-join on the 32-bit
    word. State: ``audio_fps``, one (doc_id, fp) row per accepted clip
    — ~4 bytes per fingerprint frame (≈0.5 KB for a 2 s clip): near-dup
    matching needs the aligned frames, not a scalar hash.

    ``max_word_df`` defaults ON at ``dedup_audio``'s cap, applied to
    both joins (ingest is the incremental form of dedup: a dropped hub
    word costs at most a duplicate slipping through); ``None``
    disables. The STATE side's hubs are incremental: each commit also
    writes a tiny sampled word-count table
    (``word_counts/rate=<rate_inv>/batch=<id>``) and
    :func:`read_audio_hubs` sums those, so the guard costs O(batch +
    distinct sampled words), flat in accepted history, with a
    bit-identical hub set. Other arguments: see the module
    docstring."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        audio_candidates,
        audio_candidates_cross,
        hub_sampling_params,
        sampled_word_counts,
        with_audio_fingerprint,
    )

    knobs = dict(
        min_probe_frames=min_probe_frames, ber_max=ber_max, max_word_df=max_word_df
    )

    def match(fps: DataFrame, state: DataFrame | None, _n) -> DataFrame:
        kept = drop_near_duplicates(
            fps, audio_candidates(fps, "doc_id", **knobs), "doc_id"
        )
        if state is None:
            return kept
        return drop_matched(kept, audio_candidates_cross(
            kept, state, "doc_id", broadcast_b=False,
            hubs_b=read_audio_hubs(spark, state_dir, max_word_df), **knobs,
        ))

    def word_counts(bid: str) -> None:
        # crash windows self-heal: read_audio_hubs backfills any
        # committed fp batch missing its counts
        rate_inv, _ = hub_sampling_params(max_word_df)
        sampled_word_counts(
            spark.read.parquet(posixpath.join(state_dir, "audio_fps", f"batch={bid}")),
            "doc_id",
            max_word_df,
        ).write.mode("overwrite").parquet(
            _audio_word_count_dir(state_dir, rate_inv, bid)
        )

    return _ingest(
        spark, batch, state_dir, batch_id, maintain_max_batch_dirs,
        table="audio_fps", id_col=id_col, key="doc_id",
        sign=lambda frame, cache: cache(
            with_audio_fingerprint(frame, id_col, binary_col, on_error=on_error)
        ),
        match=match,
        commit_cols=("doc_id", "fp"),
        on_error=on_error,
        binary_col=binary_col,
        decoded=F.col("fp").isNotNull(),
        after_commit=word_counts if max_word_df is not None else None,
    )


# ------------------------------------------ incremental VIDEO ingest


def ingest_video_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    every_n: int = 4,
    min_match_frac: float = 0.5,
    max_hamming: int = 0,
    batch_id: str | None = None,
    maintain_max_batch_dirs: int | None = MAINTAIN_MAX_BATCH_DIRS,
    on_error: str = "raise",
) -> DataFrame:
    """Near-duplicate VIDEO ingest (pHashes of every ``every_n``-th
    frame). Within the batch, offset-consistent near-dup clusters
    (operators/video_dedup.py) collapse to the min id; against
    history, a clip whose frames match ANY accepted clip at one
    consistent offset covering ≥ ``min_match_frac`` of the shorter
    clip is rejected — the cross-table chain with ``broadcast_b=False``
    (the state's frame table is corpus-sized; both sides ride a keyed
    equi-join on the 8-byte frame hash). State: ``frame_phashes``, the
    sampled (doc_id, frame_idx, phash) rows of each accepted clip —
    ~8 bytes per sampled frame; pixels never enter state. A corrupt
    clip emits NO frame rows, so under quarantine a batch id absent
    from the frame table is exactly the corrupt set. Other arguments:
    see the module docstring."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.video_dedup import (
        video_candidates,
        video_candidates_cross,
        with_frame_phashes,
    )

    knobs = dict(min_match_frac=min_match_frac, max_hamming=max_hamming)

    def match(fh: DataFrame, state: DataFrame | None, _n) -> DataFrame:
        kept = drop_near_duplicates(
            fh, video_candidates(fh, "doc_id", **knobs), "doc_id"
        )
        if state is None:
            return kept
        return drop_matched(kept, video_candidates_cross(
            kept, state.select("doc_id", "frame_idx", "phash"), "doc_id",
            broadcast_b=False, **knobs,
        ))

    return _ingest(
        spark, batch, state_dir, batch_id, maintain_max_batch_dirs,
        table="frame_phashes", id_col=id_col, key="doc_id",
        sign=lambda frame, cache: cache(
            with_frame_phashes(
                frame, id_col, binary_col, every_n, on_error=on_error
            )
        ),
        match=match,
        commit_cols=("doc_id", "frame_idx", "phash"),
        on_error=on_error,
        binary_col=binary_col,
    )


# ------------------------------------- incremental FUZZY TEXT ingest


def fuzzy_state_hits(
    bands: DataFrame,
    sigs: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    tau_sig: float = 0.75,
) -> DataFrame:
    """Batch ids rejected against the fuzzy signature state: band
    keys of the batch (``bands`` — ``bands_from_sigs`` output)
    equi-join band keys re-derived from the state's persisted
    ``(doc_id, sig)`` rows, and a candidate is a hit when the
    SIGNATURE agreement — the fraction of equal MinHash elements,
    computed with fixed-offset element comparisons (nested
    higher-order functions are a documented Spark 4.1 expression-
    engine cliff) — reaches ``tau_sig``. Two keyed equi-joins plus a
    candidate-sized verify projection: no cartesian anywhere, and the
    plan shape is pinned (tests/test_ingest_fuzzy.py)."""
    state_bands = bands_from_sigs(
        state.withColumnRenamed("doc_id", id_col), id_col
    )
    pairs = (
        bands.join(
            state_bands.select(
                "band", "band_hash", F.col(id_col).alias("_state_id")
            ),
            ["band", "band_hash"],
        )
        .select(id_col, "_state_id")
        .distinct()
    )
    agree = sum(
        (F.col("sig")[s] == F.col("_state_sig")[s]).cast("int")
        for s in range(NUM_PERMS)
    ) / F.lit(NUM_PERMS)
    est = (
        pairs.join(sigs, id_col)
        .join(
            state.select(
                F.col("doc_id").alias("_state_id"),
                F.col("sig").alias("_state_sig"),
            ),
            "_state_id",
        )
        .select(id_col, agree.alias("_agree"))
    )
    return (
        est.filter(F.col("_agree") >= tau_sig).select(id_col).distinct()
    )


def ingest_fuzzy_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau: float = 0.8,
    tau_sig: float = 0.75,
    batch_id: str | None = None,
    maintain_max_batch_dirs: int | None = MAINTAIN_MAX_BATCH_DIRS,
) -> DataFrame:
    """Near-duplicate TEXT ingest (MinHash-LSH). Within the batch, the
    full batch operator — banded candidates (operators/dedup_fuzzy.py),
    EXACT shingle-Jaccard ≥ ``tau`` verification, closure, min-id
    survivor — exactly ``plans.dedup.dedup_minhash_lsh``'s semantics.
    Against history, batch band keys equi-join band keys re-derived
    from the state's signatures, and a candidate is rejected when the
    signature agreement (:func:`fuzzy_state_hits`) reaches
    ``tau_sig``. State: ``minhash_sigs``, one (doc_id, sig) row per
    accepted document, ~100 bytes regardless of document length.

    The cross-state verifier is the signature estimate DELIBERATELY:
    exact Jaccard needs both texts, and fetching the state side's text
    would scan the accepted corpus per ingest. ``tau_sig`` defaults
    below ``tau`` (9 of 12 elements) because the 12-permutation
    estimator is coarse; near-``tau`` pairs concentrate well above it
    and unrelated pairs far below. Other arguments: see the module
    docstring."""
    sh = None

    def sign(frame: DataFrame, cache) -> DataFrame:
        # shingles feed the band table AND the exact within-batch
        # verify; sigs feed the cross-state join and the commit. The
        # protocol's ONE eager count on sigs fills both caches (sigs → sh
        # is a linear lineage); bands stay a pure projection of the
        # cached sigs, recomputed per consumer instead of a third cache
        nonlocal sh
        sh = cache(with_shingles(frame, id_col, text_col))
        return cache(minhash_signatures(frame, id_col, text_col, shingle_df=sh))

    def match(sigs: DataFrame, state: DataFrame | None, _n) -> DataFrame:
        bands = bands_from_sigs(sigs, id_col)
        cands = minhash_lsh_candidates(
            batch, id_col, text_col, shingle_df=sh, bands_df=bands
        )
        verified = shingle_jaccard(
            cands, batch, id_col, text_col, shingle_df=sh
        ).filter(F.col("jaccard") >= tau)
        kept = drop_near_duplicates(sigs, verified.select("id_a", "id_b"), id_col)
        if state is None:
            return kept
        hits = fuzzy_state_hits(
            bands, sigs, state.select("doc_id", "sig"), id_col, tau_sig
        )
        return kept.join(hits, id_col, "left_anti")

    return _ingest(
        spark, batch, state_dir, batch_id, maintain_max_batch_dirs,
        table="minhash_sigs", id_col=id_col, key=id_col,
        sign=sign,
        match=match,
        commit_cols=(F.col(id_col).alias("doc_id"), "sig"),
    )
