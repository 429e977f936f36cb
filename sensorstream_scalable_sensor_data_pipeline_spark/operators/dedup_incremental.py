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

The state dir and its manifest. Every table — the signature tables
of :data:`_STATE_TABLES` and ``accepted/``, the staged corpus — is a
set of ``<table>/batch=<name>/`` dirs, and ONE append-only log says
which of them are live: ``<state_dir>/_manifest/<version>.json``
(zero-padded). A version lists each table's live dirs, the
:class:`_Provenance` of every live compact dir and the registered
stream runs. It is written to a temp file and renamed to its final
name without overwrite, so it appears whole or not at all; a reader
takes the highest version and reads exactly the dirs it names. The
single rule: nothing is visible until a manifest version names it.
A dir the latest version does not name is garbage — never read, and
deleted by the next compaction sweep of its table. ``word_counts/``
is a derived cache keyed by the live ``audio_fps`` names, not a
table. This is Structured Streaming's recovery shape (an epoch-keyed
commit log, never a listing of output dirs). A state dir holding
table dirs but no ``_manifest/`` was written by the pre-manifest
layout: every ingest, compaction and reader refuses it with
``ValueError`` before writing anything.

The protocol, in order (:func:`_ingest` owns every step):

1. validate the batch schema (reserved columns), ``on_error`` and the
   maintenance threshold, and read the manifest — before anything
   touches disk — then take the caller's ``batch_id`` or a fresh uuid;
2. resume: if the manifest records the batch as committed (a live dir
   of its table, or a live compact's provenance), return the staged
   survivors without recomputing;
3. sign the batch once, persist the signatures and run ONE eager
   count (the within-batch self-join's two map sides must not race an
   expensive decode twice); a cheap signer (the text md5) skips the
   cache;
4. stage survivors: ``accepted/batch=<id>/`` with overwrite — all
   original columns, the artifact downstream consumes — and read them
   back with the batch's explicit schema (an empty survivor set writes
   a part-file-less dir that inference cannot read);
5. write the signatures of the STAGED ids to ``<table>/batch=<id>``,
   partitioned per :data:`_STATE_TABLES`, and (media ingests,
   ``on_error="quarantine"``) the quarantine identity rows to
   ``quarantine_md5s/batch=<id>``;
6. commit: ONE manifest version adds the staged dir, the signature dir
   and the quarantine dir together — the batch's single commit point,
   so state can only ever record documents that are already durable;
7. run :func:`maintain_state` on the touched tables, then unpersist.

Crash windows — each re-runs clean, because nothing before step 6 is
visible:

* die anywhere before the manifest rename: the previous version is
  still the latest, so every reader sees the previous corpus and
  state; the dirs written so far are garbage, and re-running the same
  ``batch_id`` overwrites them;
* die after it: the batch committed as a whole; re-running the same
  ``batch_id`` short-circuits and returns the staged survivors (from
  the accepted compaction that folded them, if one did).

A compaction obeys the same rule: write the compact dir, commit a
version that swaps it in for its sources, then delete the sources. A
crash before the rename leaves the sources live; after it, they are
garbage. Readers never see a source and its compact at once.

Common arguments and result of every ``ingest_*``: it returns the
surviving rows (all original columns, read back from the staged
files); min-id survivor within a batch, history always wins across
batches. A stable ``batch_id`` makes a crashed run resumable; omitted,
a fresh id is generated and the call has pure content semantics.
``maintain_max_batch_dirs`` (default :data:`MAINTAIN_MAX_BATCH_DIRS`,
at least 2) compacts the touched tables inline once one holds that
many live batch dirs — a no-op 15 of 16 ingests, one amortized
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
(schedule.py), same as the reference's ``max_active_runs=1``. The
compaction sweep relies on that lock: it deletes every dir the
manifest does not name, so a compaction running beside an ingest
that has not committed yet deletes that ingest's in-flight dirs.

Maintenance: :func:`maintain_state` runs inline after every ingest —
:func:`compact_state` bounds each signature table's batch dirs and
:func:`compact_accepted` folds the staged corpus itself (tiered,
resume-safe via the ``_src_batch`` column + manifest provenance).

Reserved column names: the accepted-corpus layout claims ``batch``
(the staging partition column) and ``_src_batch`` (the compaction
provenance column); every ingest rejects a batch schema carrying
either with a clear ``ValueError``.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
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


def _dir(state_dir: str, table: str, name: str) -> str:
    """The batch dir ``name`` of ``table``."""
    return posixpath.join(state_dir, table, f"batch={name}")


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
    # exception), unpartitioned, with the src_batch attribution
    # data column
    "quarantine_md5s": [],
}

#: Explicit read schemas for state tables whose commits can be
#: part-file-less (inference cannot read those). ``batch`` is the
#: partition column — included so the explicit-schema basePath read
#: still surfaces it.
_STATE_TABLE_SCHEMAS = {
    "quarantine_md5s": StructType(
        [
            StructField("content_md5", StringType()),
            StructField("doc_id", LongType()),
            StructField("src_batch", StringType()),
            StructField("batch", StringType()),
        ]
    ),
}


# ---------------------------------------------------- the manifest

#: The manifest log dir under ``state_dir``: one ``<version>.json``
#: file per committed version, version zero-padded to 20 digits.
_MANIFEST_DIR = "_manifest"

#: Versions kept behind the latest; older ones are never read and are
#: deleted as new versions commit (bounded like Structured Streaming's
#: ``minBatchesToRetain`` log cleanup).
_MANIFEST_RETAIN = 10


class _Provenance:
    """The original batch ids a live compact dir folded, with
    streaming epochs compressed to per-run ``[lo, hi]`` epoch
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
    rows). This bounds the manifest at O(#runs + #batch-mode-ids)
    instead of O(total epochs ever) — a year at one epoch/minute is
    one interval, not ~525k ids. Membership, union, and
    (de)serialization are the only operations any consumer needs."""

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

    def __contains__(self, bid: str) -> bool:
        if bid in self.ids:
            return True
        hit = self._split_epoch(bid, self.runs)
        if hit is None:
            return False
        lo, hi = self.runs[hit[0]]
        return lo <= hit[1] <= hi

    def to_obj(self) -> dict:
        return {
            "ids": sorted(self.ids),
            "runs": {r: list(iv) for r, iv in self.runs.items()},
        }

    @staticmethod
    def from_obj(obj: dict) -> "_Provenance":
        return _Provenance(
            set(obj["ids"]),
            {run: (int(iv[0]), int(iv[1])) for run, iv in obj["runs"].items()},
        )


def _fold(
    sources: dict[str, "_Provenance | None"], stream_runs: set[str]
) -> "_Provenance":
    """The provenance of a compaction of ``sources`` (dir name → its
    provenance, None for a plain batch dir): a plain source
    contributes its batch id (a registered run's epoch widens that
    run's interval), a compact source its own provenance."""
    out = _Provenance()
    for name, prov in sources.items():
        if prov is None:
            out.add(name, stream_runs)
        else:
            out = out.union(prov)
    return out


@dataclass
class _Manifest:
    """One version of a state dir's manifest: per table, the live dir
    names, each mapped to its :class:`_Provenance` (a compact dir) or
    None (a plain batch dir, whose name is its batch id); plus the
    registered stream run ids, whose ``<run_id>-<epoch>`` batch ids
    follow the sequential-epoch contract and compress to intervals.
    Only REGISTERED runs compress — a user batch id that merely LOOKS
    like ``name-123`` stays exact, because nothing guarantees its
    epochs commit in order. Registered run ids are therefore a
    reserved namespace: never hand-issue ``<run_id>-<n>`` batch ids
    against a state dir whose ``<run_id>`` is registered."""

    version: int = 0
    tables: dict[str, dict[str, _Provenance | None]] = field(default_factory=dict)
    stream_runs: set[str] = field(default_factory=set)

    def live(self, table: str) -> dict[str, _Provenance | None]:
        return self.tables.get(table, {})

    def names(self, table: str, compact: bool | None = None) -> list[str]:
        """Sorted live dir names of ``table``; ``compact`` selects one
        tier (True: compact dirs, False: plain batch dirs)."""
        return sorted(
            n for n, p in self.live(table).items()
            if compact is None or (p is not None) == compact
        )

    def committed(self, table: str, bid: str) -> bool:
        """Has batch ``bid`` committed to ``table`` — a live plain dir,
        or folded into a live compact dir."""
        return any(
            bid == n if p is None else bid in p for n, p in self.live(table).items()
        )

    def to_json(self) -> str:
        tables = {
            t: {n: None if p is None else p.to_obj() for n, p in live.items()}
            for t, live in self.tables.items()
        }
        stream_runs = sorted(self.stream_runs)
        return json.dumps(
            {"version": self.version, "stream_runs": stream_runs, "tables": tables},
            sort_keys=True,
        )

    @staticmethod
    def from_json(data: str) -> "_Manifest":
        obj = json.loads(data)
        tables = {
            t: {n: None if p is None else _Provenance.from_obj(p) for n, p in live.items()}
            for t, live in obj["tables"].items()
        }
        return _Manifest(obj["version"], tables, set(obj["stream_runs"]))


def _version_file(state_dir: str, version: int) -> str:
    return posixpath.join(state_dir, _MANIFEST_DIR, f"{version:020d}.json")


def _read_manifest(spark: SparkSession, state_dir: str) -> _Manifest:
    """The latest manifest version of ``state_dir`` (an empty version 0
    for a state dir nothing committed to yet). Raises ValueError on a
    pre-manifest state dir: one holding table dirs but no log."""
    fs, jdir = _fs(spark, posixpath.join(state_dir, _MANIFEST_DIR))
    if not fs.exists(jdir):
        legacy = [
            t for t in (*_STATE_TABLES, "accepted")
            if fs.exists(_fs(spark, posixpath.join(state_dir, t))[1])
        ]
        if legacy:
            raise ValueError(
                f"{state_dir} holds state tables {legacy} but no {_MANIFEST_DIR}/ "
                "log: it was written by the pre-manifest layout, which is "
                "neither read nor adopted"
            )
        return _Manifest()
    names = [st.getPath().getName() for st in fs.listStatus(jdir)]
    versions = [int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()]
    if not versions:
        return _Manifest()
    stream = fs.open(_fs(spark, _version_file(state_dir, max(versions)))[1])
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return _Manifest.from_json(data.decode("utf-8"))


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` in one step that fails if ``dst``
    exists (``FileContext.rename`` with ``Options.Rename.NONE``; void,
    it raises instead of returning False)."""
    jvm = spark._jvm
    jdst = _fs(spark, dst)[1]
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jdst.toUri(), spark._jsc.hadoopConfiguration()
    )
    opts = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    fc.rename(_fs(spark, src)[1], jdst, opts)


def _publish(
    spark: SparkSession,
    state_dir: str,
    m: _Manifest,
    add: dict[str, dict[str, _Provenance | None]] | None = None,
    drop: dict[str, list[str]] | None = None,
    run: str | None = None,
) -> _Manifest:
    """Commit the version after ``m``: ``drop`` removes live names per
    table, ``add`` adds entries, ``run`` registers a stream run. The
    version is written to a temp file of its own (a unique name, so a
    racing writer cannot replace its content), then renamed to its
    final name without overwrite — the commit point: of two writers
    racing one version, the second rename raises. Returns the new
    version."""
    tables = {t: dict(live) for t, live in m.tables.items()}
    for t, names in (drop or {}).items():
        for n in names:
            del tables[t][n]
    for t, entries in (add or {}).items():
        tables.setdefault(t, {}).update(entries)
    new = _Manifest(m.version + 1, tables, m.stream_runs | ({run} if run else set()))
    final = _version_file(state_dir, new.version)
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    fs, jtmp = _fs(spark, tmp)
    stream = fs.create(jtmp, False)
    try:
        stream.write(bytearray(new.to_json().encode("utf-8")))
    finally:
        stream.close()
    try:
        _rename(spark, tmp, final)
    except Exception:
        fs.delete(jtmp, False)
        raise
    old = _version_file(state_dir, new.version - _MANIFEST_RETAIN)
    fs.delete(_fs(spark, old)[1], False)
    return new


def _swap_in(
    spark: SparkSession,
    state_dir: str,
    m: _Manifest,
    table: str,
    sources: list[str],
    cid: str,
) -> _Manifest:
    """Commit compact dir ``cid`` of ``table`` in place of ``sources``;
    its provenance folds theirs."""
    live = m.live(table)
    prov = _fold({n: live[n] for n in sources}, m.stream_runs)
    return _publish(
        spark, state_dir, m, add={table: {cid: prov}}, drop={table: sources}
    )


def _compact_id(sources: list[str]) -> str:
    """A compact dir's name: a hash of its source names, so a re-run of
    a crashed compaction overwrites the crashed attempt's dir."""
    return "compact-" + hashlib.sha256("|".join(sorted(sources)).encode()).hexdigest()[:12]


def _sweep(spark: SparkSession, root: str, live: set[str]) -> None:
    """Delete every ``batch=*`` dir under ``root`` whose name is not in
    ``live``: superseded compaction sources and crash garbage alike.
    Relies on the run lock: an uncommitted ingest's dirs are unnamed
    too, and a concurrent sweep would delete them."""
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if name.startswith("batch=") and name[6:] not in live:
            fs.delete(st.getPath(), True)


def _register_stream_run(
    spark: SparkSession, state_dir: str, run_id: str
) -> None:
    """Record in the manifest that ``run_id``'s epoch batches follow
    the sequential-commit contract (called by streaming/ingest.py
    before the query starts; idempotent)."""
    if "/" in run_id or run_id.startswith("_") or not run_id:
        raise ValueError(f"invalid stream run_id {run_id!r}")
    if run_id == "compact":
        # its epoch ids compact-<n> could name a live compact dir
        # (compact-<hex12>, which CAN be all digits)
        raise ValueError("'compact' is a reserved stream run_id")
    m = _read_manifest(spark, state_dir)
    if run_id not in m.stream_runs:
        _publish(spark, state_dir, m, run=run_id)


#: Default state-maintenance threshold: an ingest that leaves this
#: many live batch dirs in its state table triggers an inline
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


def _read_table(
    spark: SparkSession,
    state_dir: str,
    table: str,
    *cols: str,
    m: _Manifest | None = None,
) -> DataFrame | None:
    """``table``'s live batch dirs per the manifest ``m`` (read when not
    given) — a basePath read, so ``batch`` surfaces as a column;
    projected to ``cols`` when given — or None before its first
    commit."""
    if m is None:
        m = _read_manifest(spark, state_dir)
    dirs = [_dir(state_dir, table, n) for n in m.names(table)]
    if not dirs:
        return None
    reader = spark.read.option("basePath", posixpath.join(state_dir, table))
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
    (every corrupt row a re-delivery) are part-file-less dirs the
    manifest still names; the explicit schema reads them."""
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
    before_commit: Callable[[str], None] | None = None,
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
    * ``before_commit(bid)`` — a derived write that follows the
      signature write (audio's hub-guard word counts)."""
    _validate_batch_columns(batch)
    if on_error not in ("raise", "quarantine"):
        raise ValueError(
            f"on_error must be 'raise' or 'quarantine' (got {on_error!r})"
        )
    if maintain_max_batch_dirs is not None and maintain_max_batch_dirs < 2:
        raise ValueError("maintain_max_batch_dirs must be >= 2 or None")
    m = _read_manifest(spark, state_dir)
    quarantine = on_error == "quarantine"
    bid = batch_id if batch_id is not None else uuid.uuid4().hex
    if batch_id is not None and m.committed(table, bid):
        return _read_staged_resume(spark, state_dir, m, bid, batch.schema)

    cached: list[DataFrame] = []

    def cache(frame: DataFrame) -> DataFrame:
        cached.append(frame.persist())
        return frame

    try:
        sigs = sign(batch, cache)
        # ONE eager count fills every cache before the match's
        # multi-branch consumers can race it into a duplicate decode
        n = sigs.count() if cached else None
        state = _read_table(spark, state_dir, table, m=m)
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
                else batch.select(F.col(id_col).alias("doc_id"))
                .distinct()
                .join(sigs.select("doc_id").distinct(), "doc_id", "left_anti")
            )
            if not corrupt.isEmpty():
                q_md5s = _quarantine_identity(
                    spark, state_dir, m, batch, id_col, binary_col, corrupt
                )
                fresh = fresh.unionByName(
                    q_md5s.select(F.col("doc_id").alias(key))
                )

        # the first write marks the state dir as manifest-layout, so a
        # crash before the first commit cannot read as pre-manifest
        fs, jlog = _fs(spark, posixpath.join(state_dir, _MANIFEST_DIR))
        fs.mkdirs(jlog)
        # stage; overwrite makes re-running a crashed attempt clean. A
        # semi join: survivor ids may repeat (one row per sampled
        # video frame)
        staged_dir = _dir(state_dir, "accepted", bid)
        batch.join(
            fresh.withColumnRenamed(key, id_col), id_col, "left_semi"
        ).write.mode("overwrite").parquet(staged_dir)
        accepted = spark.read.schema(batch.schema).parquet(staged_dir)

        # signatures of the STAGED ids only
        rows = (
            sigs.join(accepted.select(F.col(id_col).alias(key)), key)
            if cached
            else sign(accepted, cache)
        )
        writer = rows.select(*commit_cols).write.mode("overwrite")
        if _STATE_TABLES[table]:
            writer = writer.partitionBy(*_STATE_TABLES[table])
        writer.parquet(_dir(state_dir, table, bid))
        if before_commit is not None:
            before_commit(bid)
        tables = ["accepted", table]
        if q_md5s is not None:
            # keyed by the STAGED doc ids; src_batch pins the
            # originating batch so attribution survives compaction
            q_md5s.join(
                accepted.select(F.col(id_col).alias("doc_id")), "doc_id"
            ).select(
                "content_md5", "doc_id", F.lit(bid).alias("src_batch")
            ).write.mode("overwrite").parquet(
                _dir(state_dir, "quarantine_md5s", bid)
            )
            tables.append("quarantine_md5s")
        # the commit point
        _publish(spark, state_dir, m, add={t: {bid: None} for t in tables})
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
    """Rewrite every live batch dir of one state table into a SINGLE
    batch dir and remove the superseded dirs (r12 verdict task #5).
    ``read_*_state`` unions every live batch, so a daily-cadence
    deployment accumulates O(batches) parquet fragments — at 1000
    batches the image path's 16 B/row state becomes a small-files
    scan problem, the reference's own X4 listing lesson
    (main_pipeline.py:226-230) applied to state. Run this at
    maintenance cadence (e.g. every N ingests), UNDER THE SAME RUN
    LOCK as ingests (schedule.py) — the module contract already
    serializes state writers.

    Write the compact dir, then commit one manifest version that swaps
    it in for its sources, with their folded batch ids as its
    provenance (so a crashed ingest whose dir was folded still resumes
    by id). Every call, folding or not, ends by deleting each dir of
    the table the latest version does not name: the superseded
    sources and any crash garbage. A crash before the rename leaves
    the sources live and the partial compact unnamed (the re-run's
    compact hashes the same source names and overwrites it); a crash
    after it leaves the sources unnamed until the re-run's sweep.
    Either way no reader counts a row twice, so the audio hub guard's
    word counts never double.

    For ``audio_fps``, the sources' sampled word-count tables are
    summed into the compact dir's table before the commit, and count
    tables of names no longer live are deleted with the sources (a
    rate the roll-up could not sum regenerates on the next
    :func:`read_audio_hubs` call from the durable fingerprints).

    Returns the number of source batch dirs rewritten (0 = nothing to
    do: fewer than two live dirs)."""
    if table not in _STATE_TABLES:
        raise ValueError(
            f"table must be one of {sorted(_STATE_TABLES)} (got {table!r})"
        )
    m = _read_manifest(spark, state_dir)
    names = m.names(table)
    if len(names) >= 2:
        cid = _compact_id(names)
        # drop the batch= partition column the basePath read surfaces
        # — it is dir metadata, not state
        writer = _read_table(spark, state_dir, table, m=m).drop("batch").write
        if _STATE_TABLES[table]:
            writer = writer.partitionBy(*_STATE_TABLES[table])
        writer.mode("overwrite").parquet(_dir(state_dir, table, cid))
        if table == "audio_fps":
            _roll_up_word_counts(spark, state_dir, names, cid)
        m = _swap_in(spark, state_dir, m, table, names, cid)
    live = set(m.names(table))
    _sweep(spark, posixpath.join(state_dir, table), live)
    if table == "audio_fps":
        for rate_dir in _rate_dirs(spark, state_dir):
            _sweep(spark, rate_dir, live)
    return len(names) if len(names) >= 2 else 0


def maintain_state(
    spark: SparkSession,
    state_dir: str,
    max_batch_dirs: int = 16,
    tables: tuple[str, ...] | None = None,
    exclude_bid: str | None = None,
) -> dict[str, int]:
    """Threshold-driven maintenance sweep over every state table
    under ``state_dir``: compact any table whose live batch-dir count
    reached ``max_batch_dirs`` (the operational face of
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
    m = _read_manifest(spark, state_dir)
    out: dict[str, int] = {}
    for table in tables if tables is not None else tuple(_STATE_TABLES):
        if len(m.names(table)) >= max_batch_dirs:
            out[table] = compact_state(spark, state_dir, table)
    plain = [n for n in m.names("accepted", compact=False) if n != exclude_bid]
    if len(plain) >= max_batch_dirs:
        out["accepted"] = compact_accepted(
            spark, state_dir, exclude_bid=exclude_bid
        )
    if len(m.names("accepted", compact=True)) >= max_batch_dirs:
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
    """One frame over the readable (part-file-holding) dirs among the
    named accepted dirs of both tiers, or None when every dir is
    survivor-less. The tiers read separately: a single multi-dir read
    would need mergeSchema (a footer read per file — the small-files
    cost again) to see the compact tier's ``_src_batch`` column.
    ``attributed`` keeps ``_src_batch``; plain dirs take it from their
    ``batch`` value."""
    root = posixpath.join(state_dir, "accepted")
    frames = []
    for names, compact in ((plain, False), (compacts, True)):
        dirs = [_dir(state_dir, "accepted", n) for n in names]
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
    """Fold live per-ingest staged dirs into ONE sized compact dir —
    the accepted CORPUS's answer to :func:`compact_state`: under
    continuous micro-batching (streaming/ingest.py) every epoch leaves
    its own ``accepted/batch=*`` dir, and at 10k epochs the corpus
    read is a small-files wall even though every signature table
    stays compacted.

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
    (:func:`_read_staged_resume`), routed by the compact's manifest
    provenance. Same commit order and sweep as compact_state: write,
    commit the swap, then delete every dir under ``accepted/`` the
    latest version does not name.

    ``exclude_bid`` keeps one batch out of this sweep — the inline
    maintenance path excludes the batch it just committed, because
    the caller still holds a lazy frame over that staged dir.

    Same contract as compact_state: one state dir hosts ONE ingest
    modality (accepted schemas must union), and run under the
    schedule.py run lock. Returns the number of source dirs folded
    (0 = nothing to do)."""
    m = _read_manifest(spark, state_dir)
    plain = [n for n in m.names("accepted", False) if n != exclude_bid]
    folding = m.names("accepted", True) if fold_compacts else []
    sources = plain + folding
    # None when there is nothing to fold, or only survivor-less dirs
    out = None
    if len(sources) >= 2:
        out = _accepted_frame(spark, state_dir, plain, folding, attributed=True)
    if out is not None:
        total_bytes = sum(
            _part_file_bytes(spark, _dir(state_dir, "accepted", n))[1]
            for n in sources
        )
        target = max(1, total_bytes // _ACCEPTED_TARGET_FILE_BYTES + 1)
        cid = _compact_id(sources)
        (
            out.coalesce(int(target))
            .sortWithinPartitions(_SRC_BATCH_COL)
            .write.mode("overwrite")
            .parquet(_dir(state_dir, "accepted", cid))
        )
        m = _swap_in(spark, state_dir, m, "accepted", sources, cid)
    _sweep(spark, posixpath.join(state_dir, "accepted"), set(m.names("accepted")))
    return len(sources) if out is not None else 0


def _read_staged_resume(
    spark: SparkSession,
    state_dir: str,
    m: _Manifest,
    bid: str,
    schema: StructType,
) -> DataFrame:
    """Staged survivors of a COMMITTED batch, for the resume path:
    the batch's own staged dir while it is live, else the rows of the
    live accepted compaction whose provenance holds it (filtered on
    ``_src_batch`` — parquet row groups are clustered on it by the
    compaction's within-partition sort, so the filter prunes on
    min/max stats instead of scanning the corpus)."""
    if bid in m.names("accepted", compact=False):
        return spark.read.schema(schema).parquet(
            _dir(state_dir, "accepted", bid)
        )
    folded_schema = StructType(
        list(schema.fields) + [StructField(_SRC_BATCH_COL, StringType())]
    )
    for name, prov in m.live("accepted").items():
        if prov is not None and bid in prov:
            return (
                spark.read.schema(folded_schema)
                .parquet(_dir(state_dir, "accepted", name))
                .filter(F.col(_SRC_BATCH_COL) == bid)
                .select(*[f.name for f in schema.fields])
            )
    raise IOError(
        f"batch {bid} committed its state but manifest version "
        f"{m.version} of {state_dir} names no accepted dir holding it"
    )


def read_accepted(spark: SparkSession, state_dir: str) -> DataFrame:
    """Every durably accepted row across all committed ingest batches
    — plain staged dirs and accepted-compaction dirs alike (the
    streaming face's corpus read; streaming/ingest.py::accepted_corpus
    delegates here). Raises ValueError before the first commit."""
    m = _read_manifest(spark, state_dir)
    plain, compacts = m.names("accepted", False), m.names("accepted", True)
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
    m = _read_manifest(spark, state_dir)
    plain, compacts = m.names("accepted", False), m.names("accepted", True)
    frame = _accepted_frame(spark, state_dir, plain, compacts, attributed=True)
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


def _rate_dirs(spark: SparkSession, state_dir: str) -> list[str]:
    """The per-rate ``word_counts/rate=*`` dirs."""
    fs, jroot = _fs(spark, posixpath.join(state_dir, "word_counts"))
    if not fs.exists(jroot):
        return []
    return [st.getPath().toString() for st in fs.listStatus(jroot)]


def _roll_up_word_counts(
    spark: SparkSession,
    state_dir: str,
    source_bids: list[str],
    cid: str,
) -> None:
    """Derive the compacted batch's per-rate sampled word-count
    tables by SUMMING its sources' tables — O(distinct sampled words)
    instead of the O(state) full re-explode the read_audio_hubs
    backfill would otherwise pay after every compaction (review-found
    r14). Exact because deterministic per-(clip, frame) sampling
    makes counts over DISJOINT row sets sum to the union's counts,
    and live sources are disjoint. A rate where any source lacks a
    committed table is skipped entirely — the backfill regenerates
    that rate exactly from the durable fingerprints (the correctness
    path is never the sum, only the cheapness)."""
    fs, _ = _fs(spark, state_dir)
    for rate_dir in _rate_dirs(spark, state_dir):
        srcs = [posixpath.join(rate_dir, f"batch={b}") for b in source_bids]
        if all(fs.exists(_fs(spark, f"{d}/_SUCCESS")[1]) for d in srcs):
            (
                spark.read.parquet(*srcs)
                .groupBy("v")
                .agg(F.sum("n_sampled").alias("n_sampled"))
                .write.mode("overwrite")
                .parquet(posixpath.join(rate_dir, f"batch={cid}"))
            )


# -------------------------------------- quarantine content identity


def quarantine_report(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Operational view of everything quarantine mode has accepted:
    one ``(batch, content_md5, doc_id)`` row per accepted corrupt
    payload, ``batch`` being the ingest batch (or streaming epoch)
    that admitted it — the frame an operator groups per-batch to
    watch corrupt-rate trends, or joins back to the staged payloads
    to pull the bytes for offline triage. Attribution SURVIVES
    compaction: every identity row carries its originating batch in
    the ``src_batch`` data column, which folding preserves. Returns
    None before any quarantined acceptance; the explicit table schema
    reads even a table whose every commit is part-file-less."""
    frame = _read_table(spark, state_dir, "quarantine_md5s")
    if frame is None:
        return None
    return frame.select(
        F.col("src_batch").alias("batch"), "content_md5", "doc_id"
    )


def _quarantine_identity(
    spark: SparkSession,
    state_dir: str,
    m: _Manifest,
    batch: DataFrame,
    id_col: str,
    binary_col: str,
    corrupt_ids: DataFrame,
) -> DataFrame:
    """Exact content identity for this batch's quarantined rows: a
    corrupt payload is fingerprinted by ``md5(raw bytes)`` —
    decode-free, one built-in hash — because its decode signature is
    NULL by definition. Returns ``(content_md5, doc_id)``: the min-id
    representative per DISTINCT corrupt payload that is not already
    recorded in quarantine state (within-batch exact dedup + the same
    history-always-wins anti-join the clean rows get). Every other
    corrupt id — a within-batch duplicate of a representative, or a
    re-delivery of already-quarantined bytes — is rejected.

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
    state = _read_table(spark, state_dir, "quarantine_md5s", "content_md5", m=m)
    if state is not None:
        reps = reps.join(state, "content_md5", "left_anti")
    return reps.select("content_md5", "doc_id")


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

    Self-healing: any live fingerprint batch lacking its count table
    at the CURRENT rate — a ``max_word_df`` change, an ingest run with
    the guard off, or a compaction whose roll-up skipped the rate —
    gets its counts recomputed from the durable fingerprints and
    rewritten here (a pure function of one batch, idempotent
    overwrite). Only the dirs the manifest names are counted, so a
    source and its compact are never summed together. Returns None
    when state is empty or the guard is off."""
    from sensorstream_scalable_sensor_data_pipeline_spark.operators.audio_fp import (
        hub_sampling_params,
        hubs_from_counts,
        sampled_word_counts,
    )

    if max_word_df is None:
        return None
    names = _read_manifest(spark, state_dir).names("audio_fps")
    if not names:
        return None
    rate_inv, _ = hub_sampling_params(max_word_df)
    fs, _ = _fs(spark, state_dir)
    count_dirs = []
    for bid in names:
        wdir = _audio_word_count_dir(state_dir, rate_inv, bid)
        wsuccess = _fs(spark, posixpath.join(wdir, "_SUCCESS"))[1]
        if not fs.exists(wsuccess):
            sampled_word_counts(
                spark.read.parquet(_dir(state_dir, "audio_fps", bid)),
                "doc_id",
                max_word_df,
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
        # written before the commit, so a committed batch has its
        # counts at this rate; read_audio_hubs backfills the rest
        rate_inv, _ = hub_sampling_params(max_word_df)
        sampled_word_counts(
            spark.read.parquet(_dir(state_dir, "audio_fps", bid)),
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
        before_commit=word_counts if max_word_df is not None else None,
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
