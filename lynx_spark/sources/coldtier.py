"""Tiered storage: hot in-memory buffer + cold date-partitioned parquet.

The reference keeps everything in memory forever and rebuilds the full
Arrow table per query (src/lynx.rs:86-139); its daily partitions
(buffer.rs:8-11) are never used for pruning. This module is the
deliberate 100 TB superset (SURVEY §7 step 6):

- ``flush(namespace)`` drains the namespace's buffer into parquet laid
  out as ``<cold>/<namespace>/<table>/day=YYYY-MM-DD/``, so lynx's
  partition key becomes a REAL partition column Catalyst prunes
  (PartitionFilters) — what the reference's partitions never did;
- ``auto_flush_rows=N`` / ``auto_flush_age_s=T`` arm per-namespace
  watermarks: when a namespace's hot-row count crosses N, or its
  oldest unflushed row has waited T seconds (the trickle-rate case —
  a slow namespace must not pin WAL segments against compaction
  forever), a background thread runs the same ``flush()`` (same
  commit log, same WAL truncation, same exactly-once guarantees —
  flush serializes on the write lock), so driver memory and WAL
  retention stay bounded under any ingest shape with no
  /api/v1/flush caller;
- ``auto_optimize_files=K`` (r13, VERDICT r12 task 2) is the
  symmetric DATA-file watermark: every flush checks whether any
  (table, day) partition of the namespace now holds ≥ K visible
  files, and if so schedules a background ``optimize()`` through the
  same one-in-flight-per-namespace scheduler — without it the age
  watermark's trickle flushes accumulate unbounded small parquet
  files between manual /api/v1/optimize calls, degrading every
  cold-tier scan (the commit LOG already self-compacts; this bounds
  the data files the same way). The pack groups by day partition
  regardless of writer, so a namespace receiving BOTH flushes and
  stream batches has its streaming files bounded too; a PURELY
  streaming namespace (zero flushes) has no trigger — rewrites need
  single-writer exclusion (two concurrent packs replacing the same
  files would double data), which only the engine's write lock
  provides, so such namespaces pack via /api/v1/optimize on the
  engine that owns the directory. Tombstone deletion stays manual
  (``vacuum`` is a retention decision — an in-flight query may still
  hold replaced files);
- after a flush the WAL is compacted: the flushed namespace's records
  are dropped segment-by-segment (each rewrite is an atomic rename),
  so replay after restart only restores unflushed rows;
- ``query()`` serves the union of the hot snapshot and the cold tier
  (``unionByName(allowMissingColumns=True)`` absorbs tag-schema drift
  between flushes; the cold read uses ``mergeSchema`` for the same
  reason). The cold scan is pruned to the WHERE clause's day range
  (extract_time_bounds), so timestamp predicates reach the hive
  partitions without exposing any extra column.

Exactly-once commit protocol (the commit log closes every crash
window the round-1 two-phase rename left open):

- Visibility of a cold parquet file = membership in a commit file
  under ``<cold>/_commits/``. Data files are written/renamed FIRST and
  are invisible until the single commit JSON is atomically renamed
  into place — the rename is the one commit point. A crash anywhere
  before it leaves only invisible orphans (garbage-collected at the
  next flush); a crash anywhere after it is recovered from the commit.
- Each flush commit records a per-namespace WAL watermark: the id of
  the fresh active segment after the pre-flush rotate. Because flush
  holds the write lock, every record of the namespace sits in segments
  below the watermark, and replay skips exactly those — a crash
  between commit and WAL compaction can no longer double-count
  (the restored buffer never re-holds flushed rows).
- Compaction rewrites each closed segment in place (survivors ->
  ``<id>.wal.compact`` -> atomic rename over ``<id>.wal``; empty ->
  unlink), so a crash mid-compaction leaves every segment either
  original (flushed records skipped via the watermark) or compacted —
  survivor records are never duplicated.

The streaming sink (streaming/ingest.py) writes the same commit log
with batch-id-keyed entries, giving it exactly-once semantics through
the identical mechanism. This module owns the whole format: commit
and data file names, payloads and the sink ids reserved for the
engine are spelled only in its "commit format" section, the log is
listed by ONE function (read_commits) and its state derived by ONE
fold (fold_commits) — the snapshot writer, the engine's accessors and
the sink's replay-skip check all go through them.

Schema parity: by default the registered view has the reference's
schema [timestamp, value, *tags] — the hive ``day`` column stays
internal (pruning still happens via timestamp bounds). Construct with
``expose_day=True`` to surface it for explicit ``WHERE day = ...``
queries (a flagged superset; reserved names ``_commits``/``_staging``
cannot be namespaces then).
"""

from __future__ import annotations

import itertools
import json
import logging
import os
import re
import shutil
import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lynx_spark.buffer import Measurements, partition_key
from lynx_spark.engine import (  # noqa: F401 — select_days: traced by name here too
    LynxEngine,
    measurements_to_arrow,
    select_days,
)
from lynx_spark.sqlutil import extract_time_bounds
from lynx_spark.wal import (
    DEFAULT_MAX_SEGMENT_SIZE,
    WAL_HEADER,
    Wal,
    encode_write_request,
    read_segment,
)

log = logging.getLogger(__name__)

# ----------------------------------------------------- commit format
#
# Every commit-log name and payload is spelled in this module; the
# engine below and the streaming sink (streaming/ingest.py) call it.
#
#   flush-<namespace>-NNNNNN.json   {"files", "watermarks": {ns: seg}}
#   optimize-<namespace>-NNNNNN.json {"files", "replaced"}
#   <sink>-NNNNNNNNN.json           {"files", "watermarks": {}}
#   legacy-000000.json              {"files", "watermarks": {}}
#   snapshot-NNNNNN-p<pid>-<n>.json  the fold of everything it replaced
#
# Data files: part-flushNNNNNN-00000, part-optNNNNNN-NNNNN and
# part-<sink>-NNNNNNNNN-NNNNN (.parquet).

COMMITS_DIR = "_commits"
RESERVED_DIRS = frozenset({COMMITS_DIR, "_staging"})

#: per-process sequence for writer-unique snapshot filenames
_FOLD_SEQ = itertools.count()


def atomic_write_json(path: Path, payload: dict) -> None:
    """Write JSON durably: tmp file, fsync, atomic rename. The rename
    is the commit point for everything that references ``path``."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.parent / (path.name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


#: file names only commit-log-era writers produce — never legacy data.
#: part-flushNNNNNN-NNNNN is the engine's flush naming (introduced WITH
#: the commit log); part-mNNNNNN-NNNNN was the earliest commit-log
#: revision's flush naming (still engine-owned and never-visible, the
#: same files _gc_flush_orphans sweeps); part-<sink>-<9-digit
#: batch>-NNNNN is the streaming sink's. Excluding all three from
#: adoption means an in-flight or crash-torn (uncommitted, invisible)
#: flush/batch racing an adoption retry can never be made visible
#: early (r3 review: the part-m form was missing, so a pre-rename
#: crash orphan could have been adopted).
_COMMIT_ERA_FILE = re.compile(
    r"part-flush\d{6}-\d{5}\.parquet$"
    r"|part-m\d{6}-\d{5}\.parquet$"
    r"|part-opt\d{6}-\d{5}\.parquet$"
    r"|part-.+-\d{9}-\d{5}\.parquet$"
)

#: the flush GC's name rules (_gc_flush_orphans): engine temp files
#: are always orphans, engine data files unless committed. The
#: "flush" prefix is reserved, so any suffix is the engine's; the
#: opt/m forms match their exact width only, so a streaming sink's
#: part-<sink>- files never do.
_GC_TMP = re.compile(r"\.tmp-flush.*|\.tmp-opt\d{6}(-\d{5})?|\.tmp-m\d{6}", re.S)
_GC_DATA = re.compile(
    r"part-flush.*\.parquet|part-(opt|m)\d{6}-\d{5}\.parquet", re.S
)


def adopt_legacy_layout(cold_dir: Path) -> None:
    """Adopt a cold directory written before the commit log existed:
    if there is parquet but no commit files at all, register every
    present pre-commit-log data file in one bootstrap commit so
    previously queryable rows stay visible after the upgrade (no
    watermarks — the old flush compacted the WAL synchronously, so
    those rows are not in it). Called by BOTH the engine and the
    streaming sink before they create the marker — whichever touches
    the directory first must not orphan the legacy data for the other.

    ADVICE r2: a bare ``_commits/`` directory is NOT proof of adoption
    — atomic_write_json mkdirs it before the bootstrap commit's
    rename, so a crash in that window leaves the marker without the
    commit. Adoption is therefore retried whenever no ``*.json``
    commit exists yet; commit-log-era file names (which are invisible
    precisely because no commit lists them) are excluded so the retry
    cannot adopt another writer's uncommitted in-flight files."""
    cold_dir = Path(cold_dir)
    cdir = cold_dir / COMMITS_DIR
    if cdir.exists() and any(cdir.glob("*.json")):
        return
    legacy = [
        str(p.relative_to(cold_dir))
        for p in sorted(cold_dir.rglob("*.parquet"))
        if p.relative_to(cold_dir).parts[0] not in RESERVED_DIRS
        and not _COMMIT_ERA_FILE.search(p.name)
    ]
    if legacy:
        _write_commit(
            cold_dir, "legacy-000000.json", {"files": legacy, "watermarks": {}}
        )


#: sink-id prefixes the engine's own names use: a colliding sink id
#: would share flush/optimize file names (the orphan GC deletes
#: uncommitted part-flush*/part-opt* files) or commit names
_RESERVED_SINK_PREFIXES = ("flush", "snapshot", "legacy", "opt", "optimize")

#: fold kind -> the state key holding each key's highest sequence
_SEQ_KEYS = {"flush": "flush_ids", "optimize": "opt_ids", "stream": "stream_batches"}
#: state keys folded by per-key max
_MAX_KEYS = ("watermarks", *_SEQ_KEYS.values())

#: compact the commit log once this many commit files accumulate
COMMIT_COMPACT_THRESHOLD = 64

#: re-lists before read_commits gives up on a log being folded under it
_LIST_RETRIES = 50


def commit_name(kind: str, key: str, seq: int) -> str:
    """File name of a flush/optimize commit (``key`` = namespace) or a
    stream batch commit (``key`` = sink id)."""
    if kind == "stream":
        return f"{key}-{seq:09d}.json"
    return f"{kind}-{key}-{seq:06d}.json"


def _parse_commit_name(name: str) -> tuple[str, str, int] | None:
    """Inverse of commit_name, plus ("snapshot", "", id); None for the
    legacy bootstrap commit and unparseable names."""
    stem = name.removesuffix(".json")
    if stem.startswith("snapshot-"):
        sid = stem.split("-")[1]
        return ("snapshot", "", int(sid)) if sid.isdigit() else None
    head, _, tail = stem.rpartition("-")
    if stem.startswith("legacy") or not head or not tail.isdigit():
        return None
    for kind in ("flush", "optimize"):
        if head.startswith(kind + "-"):
            return kind, head[len(kind) + 1 :], int(tail)
    return "stream", head, int(tail)


def _write_commit(cold_dir: Path, name: str, payload: dict) -> None:
    atomic_write_json(Path(cold_dir) / COMMITS_DIR / name, payload)


def read_commits(
    cold_dir: Path, cache: dict[str, dict] | None = None
) -> dict[str, dict]:
    """Every entry now in the commit log, by file name. Commit files
    are immutable, so ``cache`` (updated in place to the listing) saves
    re-reading them. A concurrent compact_commits may fold a commit
    away between the listing and its read: the FileNotFoundError
    restarts the listing, which then sees the fold's snapshot (renamed
    in before its sources are unlinked, so a re-list always sees a
    superset). A vanished commit is never silently skipped — an
    under-approximated log would let the orphan GC delete committed
    files, or make the sink re-run a committed batch and unlink
    visible files — so exhausting the retries RAISES."""
    cdir = Path(cold_dir) / COMMITS_DIR
    cache = {} if cache is None else cache
    for _ in range(_LIST_RETRIES):
        try:
            names = sorted(p.name for p in cdir.glob("*.json"))
            for name in names:
                if name not in cache:
                    cache[name] = json.loads((cdir / name).read_text())
        except FileNotFoundError:
            continue  # folded away mid-listing; re-list
        for stale in cache.keys() - set(names):
            del cache[stale]  # folded: its snapshot is listed
        return cache
    raise RuntimeError(
        f"commit log listing unstable after {_LIST_RETRIES} retries; "
        "refusing to return a possibly-partial committed set"
    )


def _merge_max(into: dict[str, int], src: dict[str, int]) -> None:
    for k, v in src.items():
        if k not in into or v > into[k]:
            into[k] = v


def fold_commits(entries: dict[str, dict]) -> dict:
    """The commit-log state, folded from entries by file name:

    - ``files``: VISIBLE files, every committed file minus every file
      a rewrite (optimize) commit replaced. The subtraction is
      order-free because file names are writer-unique and never
      reused: a name in any ``replaced`` list is permanently dead;
    - ``replaced``: tombstones, invisible but on disk until vacuum;
    - ``watermarks``: per namespace, records in WAL segments below it
      are already in parquet;
    - ``flush_ids`` / ``opt_ids``: per namespace, the highest flush /
      optimize id committed (so ids, and file names, never repeat);
    - ``stream_batches``: per sink, the highest committed batch id.

    The last four are the max over each entry's payload (snapshots
    carry them) and its parsed file name."""
    state: dict = {"files": set(), "replaced": set()}
    state.update((key, {}) for key in _MAX_KEYS)
    for name, commit in entries.items():
        state["files"].update(commit.get("files", []))
        state["replaced"].update(commit.get("replaced", []))
        for key in _MAX_KEYS:
            _merge_max(state[key], commit.get(key, {}))
        parsed = _parse_commit_name(name)
        if parsed is not None and parsed[0] in _SEQ_KEYS:
            kind, key, seq = parsed
            _merge_max(state[_SEQ_KEYS[kind]], {key: seq})
    state["files"] -= state["replaced"]
    return state


def day_groups(
    visible: set[str], namespace: str, table: str | None = None
) -> dict[str, list[str]]:
    """Visible files of a namespace (optionally one table), grouped by
    day partition ``<namespace>/<table>/day=…``, each group sorted."""
    groups: dict[str, list[str]] = {}
    for rel in visible:
        parts = rel.split("/")
        if len(parts) == 4 and parts[0] == namespace and table in (None, parts[1]):
            groups.setdefault("/".join(parts[:3]), []).append(rel)
    for rels in groups.values():
        rels.sort()
    return groups


def committed_stream_batch(
    cold_dir: Path, sink_id: str, batch_id: int
) -> bool:
    """Has this (sink, batch) already committed? True when the log
    holds a commit of this sink with a batch id at least this one,
    named or folded into a snapshot (micro-batches commit in order, so
    max implies all-below). The streaming sink's replay-skip check.
    A listing that stays unstable raises (see read_commits): a wrong
    False makes the sink unlink visible committed files, while an
    exception just makes foreachBatch retry the micro-batch with every
    committed file intact."""
    batches = fold_commits(read_commits(cold_dir))["stream_batches"]
    return batches.get(sink_id, -1) >= batch_id


def open_stream_sink(cold_dir: Path, sink_id: str) -> None:
    """Validate a streaming sink's id and mark ``cold_dir`` as a
    commit-log directory before the sink's first batch. An empty id
    could never fold into the snapshot's stream batches, breaking the
    replay skip after compaction. Legacy parquet is adopted FIRST (a
    sink can be the first commit-log writer to touch an upgraded dir),
    then the marker is created: a crash before this sink's first
    commit must not let a later engine adopt its uncommitted files."""
    if not sink_id.strip():
        raise ValueError("sink_id must be non-empty")
    if sink_id.startswith(_RESERVED_SINK_PREFIXES):
        raise ValueError(
            f"sink_id {sink_id!r} collides with the engine's reserved "
            "commit prefixes (flush/optimize/snapshot/legacy)"
        )
    adopt_legacy_layout(cold_dir)
    (Path(cold_dir) / COMMITS_DIR).mkdir(parents=True, exist_ok=True)


def stream_staging_dir(cold_dir: Path, sink_id: str, batch_id: int) -> Path:
    """Where a micro-batch writes its parquet before commit_stream_batch
    publishes it."""
    return Path(cold_dir) / "_staging" / f"{sink_id}-{batch_id:09d}"


def commit_stream_batch(
    cold_dir: Path,
    sink_id: str,
    batch_id: int,
    tables: list[tuple[str, str]],
    cache: dict[str, dict] | None = None,
) -> None:
    """Publish one staged micro-batch: move each (namespace, table)'s
    staged parquet to batch-id-deterministic names in the live layout
    (invisible until the commit), atomically rename the batch's ONE
    commit JSON, drop the staging dir, and fold the log (a flush-less
    deployment must not grow it unboundedly either). A retry of a
    half-moved batch first removes that batch's earlier moves, so no
    duplicate can become visible."""
    cold_dir = Path(cold_dir)
    stage = stream_staging_dir(cold_dir, sink_id, batch_id)
    rels: list[str] = []
    for ns, table in tables:
        dst_table = cold_dir / ns / table
        if dst_table.exists():
            for stale in dst_table.rglob(f"part-{stage.name}-*.parquet"):
                stale.unlink()
        staged = sorted((stage / ns / table).rglob("*.parquet"))
        for k, f in enumerate(staged):
            dst = (
                dst_table
                / f.parent.name  # day=YYYY-MM-DD
                / f"part-{stage.name}-{k:05d}.parquet"
            )
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.replace(f, dst)
            rels.append(str(dst.relative_to(cold_dir)))
    _write_commit(
        cold_dir,
        commit_name("stream", sink_id, batch_id),
        {"files": rels, "watermarks": {}},
    )
    shutil.rmtree(stage, ignore_errors=True)
    compact_commits(cold_dir, COMMIT_COMPACT_THRESHOLD, cache)


def compact_commits(
    cold_dir: Path,
    threshold: int,
    cache: dict[str, dict] | None = None,
) -> None:
    """Fold accumulated commits into one snapshot so the per-query
    commit listing stays O(1) across thousands of flushes AND
    long-lived streaming sinks (the engine's flush and optimize and the
    sink's commit call this). The snapshot's payload is fold_commits'
    state, so it records each namespace's highest flush/optimize id
    and each sink's highest batch id.

    Safe against concurrent readers AND concurrent folds: the snapshot
    is renamed in before anything is unlinked, every reader unions
    whatever set of files it lists (snapshot ⊇ merged), a commit
    another fold consumed mid-listing makes read_commits re-list (and
    then this fold merges that fold's snapshot), and unlinks tolerate
    already-gone files."""
    entries = read_commits(cold_dir, cache)
    if not entries or len(entries) < threshold:
        return
    state = fold_commits(entries)
    snap_id = max(
        (
            parsed[2]
            for parsed in map(_parse_commit_name, entries)
            if parsed is not None and parsed[0] == "snapshot"
        ),
        default=0,
    )
    # writer-unique filename: two uncoordinated folds (engine flush +
    # streaming sink are separate threads/processes) must never
    # REPLACE each other's snapshot — a replaced snapshot whose source
    # commits were already unlinked would lose visibility. Unique
    # names make concurrent snapshots additive; the next fold merges
    # them into one.
    snap = f"snapshot-{snap_id + 1:06d}-p{os.getpid()}-{next(_FOLD_SEQ)}.json"
    # the rewrite subtraction is folded eagerly (a replaced name is
    # never re-added, so subtracting early is safe) but the replaced
    # names are KEPT: vacuum needs them to find deletable physical
    # files, and un-folded optimize commits must keep subtracting
    # against older snapshots' file lists
    _write_commit(
        cold_dir,
        snap,
        {
            **state,
            "files": sorted(state["files"]),
            "replaced": sorted(state["replaced"]),
        },
    )
    for name in entries:
        if name != snap:
            (Path(cold_dir) / COMMITS_DIR / name).unlink(missing_ok=True)


class TieredEngine(LynxEngine):
    """LynxEngine + cold parquet tier with an exactly-once commit log."""

    def __init__(
        self,
        spark: SparkSession,
        wal_dir: str | Path,
        cold_dir: str | Path,
        max_segment_size: int = DEFAULT_MAX_SEGMENT_SIZE,
        expose_day: bool = False,
        multi_table: bool = False,
        auto_flush_rows: int | None = None,
        auto_flush_age_s: float | None = None,
        auto_optimize_files: int | None = None,
    ) -> None:
        # set before super().__init__: replay consults the commit log
        self.cold_dir = Path(cold_dir)
        self.cold_dir.mkdir(parents=True, exist_ok=True)
        self.expose_day = expose_day
        self._commit_cache: dict[str, dict] = {}
        adopt_legacy_layout(self.cold_dir)
        # the directory's existence marks "managed by a commit-log
        # writer": created eagerly so a crash before the FIRST commit
        # leaves the marker, and its orphan files are never mistaken
        # for adoptable legacy data on restart
        (self.cold_dir / COMMITS_DIR).mkdir(exist_ok=True)
        # auto-flush watermark (VERDICT r11 task 5): without it the
        # hot buffer grows unboundedly in driver memory until an
        # operator calls /api/v1/flush — the last driver-side
        # bottleneck in the 100 TB ingest posture. When a namespace's
        # hot-row count crosses the watermark, a background flush
        # fires through the SAME flush()/commit/WAL-truncation path
        # the HTTP route uses (exactly-once guarantees unchanged —
        # flush serializes against writes and queries on _wal_lock).
        # ADVICE r12: normalize falsy/non-positive watermarks to None
        # here rather than in every caller — an explicit
        # ``--auto-flush-rows 0`` used to pass 0 through, making
        # ``row_count >= 0`` always true (a flush thread per write);
        # an explicit ``--auto-flush-age-s 0`` armed a 0.5 s ticker.
        # "0/unset disables" now holds on every construction path.
        if auto_flush_rows is not None and auto_flush_rows <= 0:
            auto_flush_rows = None
        if auto_flush_age_s is not None and auto_flush_age_s <= 0:
            auto_flush_age_s = None
        self.auto_flush_rows = auto_flush_rows
        # AGE watermark: a namespace whose oldest unflushed row has
        # been sitting longer than this many seconds flushes even if
        # it never reaches the row watermark — a trickle-rate
        # namespace must not hold the WAL hostage (its records pin
        # every segment they touch against compaction) nor sit
        # non-durable-in-parquet forever. Checked by a daemon ticker
        # (period = age/4, floor 0.5 s) through the same
        # _schedule path, so the one-in-flight-per-
        # namespace marker and the exactly-once flush contract are
        # shared with the row trigger.
        self.auto_flush_age_s = auto_flush_age_s
        # auto-OPTIMIZE watermark (r13, VERDICT r12 task 2): once any
        # (table, day) partition of a namespace holds this many
        # VISIBLE files, a background optimize() bin-packs it. < 2 is
        # normalized to None: optimize(min_files=1) would rewrite a
        # single-file day into a new single file on every pass —
        # infinite churn with no benefit.
        if auto_optimize_files is not None and auto_optimize_files < 2:
            auto_optimize_files = None
        self.auto_optimize_files = auto_optimize_files
        self._autoflush_lock = threading.Lock()
        #: (job, namespace) of every background job in flight
        self._auto_pending: set[tuple[str, str]] = set()
        self._autoflush_stop = threading.Event()
        super().__init__(spark, wal_dir, max_segment_size, multi_table)
        # WAL replay may have restored an over-watermark backlog, and a
        # restart may land on a cold tier already over the file
        # watermark (e.g. the process died between flush and pack)
        for ns in self.buffer.namespaces():
            self._schedule_if_due("flush", ns)
        if auto_optimize_files is not None:
            with self._wal_lock:
                committed = self._committed_files()
            for ns in {rel.split("/", 1)[0] for rel in committed}:
                self._schedule_if_due("optimize", ns)
        if auto_flush_age_s is not None:
            threading.Thread(
                target=self._age_ticker,
                name="lynx-autoflush-age",
                daemon=True,
            ).start()

    # ------------------------------------------- background flush/optimize

    def write(self, req) -> None:
        super().write(req)
        self._schedule_if_due("flush", req.namespace)

    def _schedule_if_due(self, job: str, namespace: str) -> None:
        """Schedule a background ``job`` when its watermark is crossed:
        the namespace's hot-row count for "flush", a (table, day)
        partition's visible-file count for "optimize"."""
        if job == "flush":
            n = self.auto_flush_rows
            due = n is not None and self.buffer.row_count(namespace) >= n
        elif self.auto_optimize_files is None:
            due = False  # no _wal_lock wait for a disabled watermark
        else:
            # the commit cache is only read and mutated under _wal_lock
            with self._wal_lock:
                due = self._over_optimize_watermark(namespace)
        if due:
            self._schedule(job, namespace)

    def _schedule(self, job: str, namespace: str) -> None:
        """At most one in-flight background job per (job, namespace): the
        pending marker is set before the thread starts and cleared
        after the job returns, and every trigger that still (or again)
        sees its watermark crossed re-arms it. A flush and a pack of
        the same namespace may overlap in wall time — they serialize
        on _wal_lock, not on the markers."""
        with self._autoflush_lock:
            if (job, namespace) in self._auto_pending:
                return
            self._auto_pending.add((job, namespace))
        threading.Thread(
            target=self._run_job,
            args=(job, namespace),
            name=f"lynx-auto{job}-{namespace}",
            daemon=True,
        ).start()

    def _run_job(self, job: str, namespace: str) -> None:
        try:
            if job == "flush":
                self.flush(namespace)
            else:
                # min_files = the watermark itself: only over-watermark
                # day partitions are rewritten, so a day that just
                # crossed is packed to 1 file and then left alone until
                # it crosses again — no churn on small days
                self.optimize(namespace, min_files=self.auto_optimize_files)
        except Exception:  # noqa: BLE001 — must clear the marker
            # no reschedule: a FAILED job leaves its watermark crossed
            # by definition, and rescheduling would spin a hot retry
            # loop; the next write, flush or age tick re-arms it
            log.exception("auto-%s(%s) failed", job, namespace)
            return
        finally:
            with self._autoflush_lock:
                self._auto_pending.discard((job, namespace))
        # the job released _wal_lock before the marker was cleared, so
        # a trigger landing in that window saw the marker and skipped
        # re-arming: re-check after clearing, closing the
        # strand-without-a-job window even when no age ticker runs
        self._schedule_if_due(job, namespace)

    def autoflush_idle(self) -> bool:
        """True when no background flush is in flight (test/ops hook)."""
        with self._autoflush_lock:
            return not any(job == "flush" for job, _ in self._auto_pending)

    def autooptimize_idle(self) -> bool:
        """True when no background pack is in flight (test/ops hook)."""
        with self._autoflush_lock:
            return not any(job == "optimize" for job, _ in self._auto_pending)

    def _over_optimize_watermark(self, namespace: str) -> bool:
        """Does any (table, day) partition of the namespace hold ≥
        auto_optimize_files visible files? O(#committed files) over the
        cached commit log — no filesystem walk. Caller holds _wal_lock."""
        k = self.auto_optimize_files
        return k is not None and any(
            len(rels) >= k
            for rels in day_groups(self._committed_files(), namespace).values()
        )

    def notify_external_commit(self, namespace: str) -> None:
        """File-count watermark check for commits this engine did NOT
        write — the streaming sink commits into the same cold dir from
        its own micro-batch thread, so a namespace fed exclusively by
        a sink never passes through flush() and (before r14) escaped
        the auto-optimize watermark until a manual /api/v1/optimize.
        The sink calls this after each commit (streaming/ingest.py)."""
        self._schedule_if_due("optimize", namespace)

    def _age_ticker(self) -> None:
        age = float(self.auto_flush_age_s)
        period = max(0.5, age / 4.0)
        while not self._autoflush_stop.wait(period):
            for ns in self.buffer.namespaces():
                a = self.buffer.oldest_insert_age(ns)
                if a is not None and a >= age:
                    self._schedule("flush", ns)

    def close_autoflush(self) -> None:
        """Stop the age ticker (tests; daemon threads die with the
        process anyway)."""
        self._autoflush_stop.set()

    # ------------------------------------------------------- commit log

    def _load_commits(self) -> dict[str, dict]:
        """All committed entries, by file name (read_commits over this
        engine's cache)."""
        return read_commits(self.cold_dir, self._commit_cache)

    def _commit_state(self) -> dict:
        """The folded commit log (fold_commits)."""
        return fold_commits(self._load_commits())

    def _committed_files(self) -> set[str]:
        """VISIBLE files (see fold_commits)."""
        return self._commit_state()["files"]

    def _replaced_files(self) -> set[str]:
        """Tombstoned files: replaced by an optimize rewrite, invisible
        to queries, but retained on disk until ``vacuum`` — an
        in-flight query planned before the rewrite may still hold them
        in its pinned file list."""
        return self._commit_state()["replaced"]

    def _watermarks(self) -> dict[str, int]:
        """Per-namespace flush watermark: records of ns in WAL segments
        with id < watermark are already committed to parquet."""
        return self._commit_state()["watermarks"]

    def _next_flush_id(self, namespace: str) -> int:
        return self._commit_state()["flush_ids"].get(namespace, 0) + 1

    def _next_optimize_id(self, namespace: str) -> int:
        return self._commit_state()["opt_ids"].get(namespace, 0) + 1

    #: compact the commit log once this many commit files accumulate
    COMMIT_COMPACT_THRESHOLD = COMMIT_COMPACT_THRESHOLD

    def _maybe_compact_commits(self) -> None:
        """Engine-side trigger for the shared commit-log compaction
        (see module-level compact_commits). Called under _wal_lock."""
        compact_commits(
            self.cold_dir, self.COMMIT_COMPACT_THRESHOLD, self._commit_cache
        )

    # ------------------------------------------------------------ replay

    def _replay_wal(self, wal_dir: Path) -> tuple[int, list[int]]:
        """Watermark-aware WAL replay: sweep compaction temp files a
        crash may have left, then skip records the commit log proves
        are in parquet (crash-after-commit recovery)."""
        for tmp in Path(wal_dir).glob("*.compact"):
            tmp.unlink()  # crashed mid-compaction; original intact
        watermarks = self._watermarks()
        return Wal.replay(
            wal_dir,
            self.buffer,
            skip=lambda seg, req: seg < watermarks.get(req.namespace, -1),
        )

    # ------------------------------------------------------------ flush

    def flush(self, namespace: str) -> int:
        """Drain one namespace's hot buffer into the cold tier; returns
        rows flushed. Exactly-once under any single crash (see module
        docstring): the atomic commit-file rename is the only commit
        point; before it a retry re-stages everything, after it replay
        skips the flushed records via the WAL watermark.

        Ordering under the write lock (writers blocked throughout):
          1. GC invisible orphans from crashed earlier flushes
          2. rotate the WAL -> watermark = fresh active segment id
             (every record of the namespace is now below it)
          3. write every partition file (invisible: not committed)
          4. COMMIT: atomically rename the commit JSON into _commits/
          5. clear the namespace from the buffer
          6. compact the WAL (atomic per segment)
        """
        with self._wal_lock:
            tables = self.buffer.tables(namespace)  # snapshot, not pop
            if tables is None:
                return 0
            state = self._commit_state()
            # visible ∪ tombstoned: tombstones die via vacuum, not the GC
            self._gc_flush_orphans(namespace, state["files"] | state["replaced"])
            self.wal.rotate()
            watermark = self.wal.active_segment.id
            fid = self._next_flush_id(namespace)
            rows = 0
            rels: list[str] = []
            for table, partitions in tables.items():
                for day in sorted(partitions):
                    n, final = self._write_partition(
                        namespace, table, day, partitions[day], fid
                    )
                    rows += n
                    rels.append(str(final.relative_to(self.cold_dir)))
            _write_commit(
                self.cold_dir,
                commit_name("flush", namespace, fid),
                {"files": rels, "watermarks": {namespace: watermark}},
            )
            self.buffer.clear_namespace(namespace)
            self._compact_wal(drop_namespace=namespace)
            self._maybe_compact_commits()
            if self._over_optimize_watermark(namespace):
                self._schedule("optimize", namespace)
            return rows

    def _write_partition(
        self, namespace: str, table: str, day: str, m: Measurements, fid: int
    ) -> tuple[int, Path]:
        """Write one day's rows (pyarrow writer: driver-side, no Spark
        job — the hot slice is small by design; executors read it
        back). The file is named by flush id, so it is unique across
        committed flushes; an uncommitted leftover with the same name
        was GC'd at flush start and would be overwritten anyway."""
        batch = measurements_to_arrow([m])
        out_dir = self.cold_dir / namespace / table / f"day={day}"
        out_dir.mkdir(parents=True, exist_ok=True)
        tmp = out_dir / f".tmp-flush{fid:06d}"
        pq.write_table(batch, tmp)
        # "flush" prefix is reserved (the streaming sink rejects sink
        # ids that could collide), so the orphan GC's glob below can
        # never match another writer's files
        final = out_dir / f"part-flush{fid:06d}-00000.parquet"
        tmp.rename(final)  # still invisible: not in any commit yet
        return batch.num_rows, final

    def _gc_flush_orphans(self, namespace: str, protected: set[str]) -> None:
        """Delete invisible engine-written leftovers (crash before
        commit): flush-named (part-flush*/.tmp-flush*) and
        optimize-named (part-opt*/.tmp-opt*) files not in the
        ``protected`` set (visible ∪ tombstoned — tombstones are
        vacuum's to delete, not the GC's). Streaming files
        (part-<sink>-*, sink ids validated to never start with 'flush'
        or 'opt') are the streaming sink's to manage."""
        ns_dir = self.cold_dir / namespace
        # one walk; the pre-rename part-mNNNNNN / .tmp-mNNNNNN flush
        # names are equally engine-owned and never visible
        for dirpath, _, names in os.walk(ns_dir):
            for name in names:
                if _GC_TMP.fullmatch(name):
                    os.unlink(os.path.join(dirpath, name))
                elif _GC_DATA.fullmatch(name):
                    p = Path(dirpath, name)
                    if str(p.relative_to(self.cold_dir)) not in protected:
                        p.unlink()

    # --------------------------------------------------------- optimize

    def optimize(self, namespace: str, table: str | None = None, min_files: int = 2) -> int:
        """Bin-pack small committed files: rewrite every day partition
        holding ≥ ``min_files`` visible files into one file, and commit
        the swap as a single rewrite entry ``{"files": [new],
        "replaced": [old]}`` — the small-file compaction every
        flush-per-minute or streaming deployment needs (a day that
        accumulated 1 000 micro-batch files costs 1 000 opens + footer
        reads per scan and starves row-group pruning).

        Protocol properties (same commit log as flush):
        - The rewrite commit's atomic rename is the ONE commit point:
          before it the new part-opt files are invisible orphans (GC'd
          at the next flush); after it visibility flips atomically for
          the whole group.
        - Replaced files become invisible but stay on DISK until
          ``vacuum`` — an already-planned query holds a pinned file
          list, and the "committed parquet is never deleted" invariant
          extends to tombstones (the Delta/Iceberg retention model).
        - Visibility is ``∪files − ∪replaced`` across commits: order-
          free because names are writer-unique and never reused, so
          the log needs no sequence numbers and folds freely.

        Returns the number of files replaced. Runs under the write
        lock (mutual exclusion with flush/query listing). The rewrite
        itself streams through the driver here — day slices arrive
        flush-sized in this single-node shell; on a cluster the same
        commit protocol wraps an executor-side rewrite job, the log
        does not care who wrote the bytes. Rows are re-sorted by
        timestamp so the packed file's row-group min/max stats support
        range pruning within the day."""
        with self._wal_lock:
            groups = day_groups(self._committed_files(), namespace, table)
            fid = self._next_optimize_id(namespace)
            new_rels: list[str] = []
            old_rels: list[str] = []
            seq = 0
            for day_dir, rels in sorted(groups.items()):
                if len(rels) < min_files:
                    continue
                merged = pa.concat_tables(
                    [pq.read_table(self.cold_dir / rel) for rel in rels],
                    promote_options="permissive",  # tag-schema drift
                ).sort_by("timestamp")
                out_dir = self.cold_dir / day_dir
                tmp = out_dir / f".tmp-opt{fid:06d}-{seq:05d}"
                pq.write_table(merged, tmp)
                final = out_dir / f"part-opt{fid:06d}-{seq:05d}.parquet"
                tmp.rename(final)  # invisible until the commit below
                new_rels.append(str(final.relative_to(self.cold_dir)))
                old_rels.extend(rels)
                seq += 1
            if not old_rels:
                return 0
            _write_commit(
                self.cold_dir,
                commit_name("optimize", namespace, fid),
                {"files": new_rels, "replaced": old_rels},
            )
            self._maybe_compact_commits()
            return len(old_rels)

    def vacuum(self, namespace: str | None = None) -> int:
        """Physically delete tombstoned (replaced-by-optimize) files.
        Separate from optimize so the caller controls the retention
        window: run it once no query planned before the rewrite can
        still be executing (the single-process twin of Delta's VACUUM
        retention). Tombstone NAMES stay in the log forever — they are
        what keeps ``∪files − ∪replaced`` correct — but they fold into
        snapshots, so the log's size stays bounded. Idempotent: files
        already gone are skipped. Returns files deleted."""
        with self._wal_lock:
            deleted = 0
            for rel in sorted(self._replaced_files()):
                if namespace is not None and not rel.startswith(namespace + "/"):
                    continue
                p = self.cold_dir / rel
                if p.exists():
                    p.unlink()
                    deleted += 1
            return deleted

    def _compact_wal(self, drop_namespace: str) -> None:
        """Rewrite each closed segment without the flushed namespace's
        records — in place, via atomic rename, so every segment is at
        all times either its original or its compacted self. Survivor
        records keep their segment id (their own namespaces' watermarks
        stay meaningful). Called under _wal_lock, after the commit: if
        this never runs, replay skips the flushed records anyway."""
        for seg_id in list(self.wal.closed_segments):
            seg_path = self.wal.directory / f"{seg_id}.wal"
            if not seg_path.exists():
                self.wal.closed_segments.remove(seg_id)
                continue
            survivors = [
                r for r in read_segment(seg_path)
                if r.namespace != drop_namespace
            ]
            if not survivors:
                seg_path.unlink()
                self.wal.closed_segments.remove(seg_id)
                continue
            tmp = seg_path.parent / (seg_path.name + ".compact")
            with open(tmp, "wb") as f:
                f.write(WAL_HEADER)
                for r in survivors:
                    f.write(encode_write_request(r))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, seg_path)

    # ------------------------------------------------------------ query

    def _cold_table(
        self,
        namespace: str,
        table: str,
        committed: set[str] | None = None,
    ) -> DataFrame | None:
        """Committed cold files for (namespace, table) as one DataFrame
        — explicit file list (visibility = the commit log), basePath so
        the hive ``day`` partition column is still derived and
        prunable. Pass the already-computed committed set when calling
        in a loop (query does) to avoid re-reading the commit log per
        table."""
        if committed is None:
            committed = self._committed_files()
        prefix = f"{namespace}/{table}/"
        files = [
            str(self.cold_dir / rel)
            for rel in sorted(committed)
            if rel.startswith(prefix)
        ]
        if not files:
            return None
        return (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", str(self.cold_dir / namespace / table))
            .parquet(*files)
        )

    def query(self, namespace: str, sql: str) -> DataFrame | None:
        """Union of hot snapshot and cold tier. Unknown namespace/table
        in BOTH tiers -> None (404), preserving main.rs:83 semantics.

        The hot snapshot and the commit-log read happen under the SAME
        lock a flush holds: without it, a flush racing between the two
        reads would surface its rows in both tiers (double count). The
        cold DataFrame is pinned to the files committed at lock time;
        committed parquet is never deleted, so execution later is safe.

        The cold scan is day-pruned from the WHERE clause's timestamp
        bounds (the same bounds that prune the hot buffer), then the
        internal ``day`` column is dropped unless expose_day — SELECT *
        returns exactly the reference's [timestamp, value, *tags]."""
        table_name = self._target_table(sql)
        with self._wal_lock:
            tables = self.buffer.tables(namespace) or {}
            committed = self._committed_files()
            cold_tables = {
                rel.split("/", 2)[1]
                for rel in committed
                if rel.split("/", 2)[0] == namespace
            }
            names = self._resolve_tables(
                sql, table_name, set(tables) | cold_tables
            )
            if not names:
                return None  # unknown in both tiers -> 404 (main.rs:83)
            views = {
                name: self._tiered_table_df(
                    namespace, name, tables, sql, committed
                )
                for name in sorted(names)
            }
        return self._run_sql(sql, views)

    def _tiered_table_df(
        self,
        namespace: str,
        table_name: str,
        tables: dict,
        sql: str,
        committed: set[str] | None = None,
    ) -> DataFrame:
        """hot ∪ cold for one table (caller holds _wal_lock and knows
        at least one tier has it)."""
        hot = None
        if table_name in tables:
            hot = self._hot_frame(tables[table_name], sql)
            if self.expose_day:
                # day as DATE to line up with the inferred type of
                # the cold tier's hive partition column
                hot = hot.withColumn("day", F.to_date("timestamp"))
        cold = self._cold_table(namespace, table_name, committed)
        if cold is not None:
            lo, hi = extract_time_bounds(sql)
            if lo is not None:
                cold = cold.filter(
                    F.col("day") >= F.lit(partition_key(lo)).cast("date")
                )
            if hi is not None:
                cold = cold.filter(
                    F.col("day") <= F.lit(partition_key(hi)).cast("date")
                )
            if not self.expose_day:
                cold = cold.drop("day")
        if hot is None:
            return cold
        if cold is None:
            return hot
        return cold.unionByName(hot, allowMissingColumns=True)
