"""Tiered-engine tests: flush to date-partitioned parquet, tiered
queries, WAL truncation, partition pruning (SURVEY §7 step 6)."""

from __future__ import annotations

import io

import pytest

from lynx_spark.model import WriteRequest
from lynx_spark.sources.coldtier import TieredEngine

DAY_US = 86_400_000_000


@pytest.fixture()
def tiered(spark, tmp_path):
    return TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", max_segment_size=1024
    )


def _write(eng, value, ts, tags=None, table="cpu", ns="ns"):
    eng.write(WriteRequest(ns, table, value, tags or {}, ts))


def test_flush_and_query_cold(tiered, tmp_path):
    _write(tiered, "1", 1)
    _write(tiered, "2", DAY_US)
    assert tiered.flush("ns") == 2
    # buffer drained; data served from the cold tier
    assert tiered.buffer.tables("ns") is None
    df = tiered.query("ns", "SELECT * FROM cpu")
    assert sorted(r["value"] for r in df.collect()) == ["1", "2"]
    # hive layout: one day= dir per partition
    days = sorted(p.name for p in (tmp_path / "cold/ns/cpu").iterdir())
    assert days == ["day=1970-01-01", "day=1970-01-02"]


def test_union_hot_and_cold(tiered):
    _write(tiered, "cold_row", 1)
    tiered.flush("ns")
    _write(tiered, "hot_row", 2)
    df = tiered.query("ns", "SELECT * FROM cpu")
    assert sorted(r["value"] for r in df.collect()) == ["cold_row", "hot_row"]


def test_wal_truncated_after_full_flush(tiered):
    for i in range(50):  # force several 1 KiB segments
        _write(tiered, str(i), i)
    wal_dir = tiered.wal.directory
    assert len(list(wal_dir.glob("*.wal"))) > 1
    tiered.flush("ns")
    # only the fresh active segment remains
    remaining = list(wal_dir.glob("*.wal"))
    assert remaining == [tiered.wal.active_segment.path]


def test_restart_after_flush_no_double_count(spark, tmp_path):
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    _write(eng, "a", 1)
    _write(eng, "b", 2)
    eng.flush("ns")
    _write(eng, "c", 3)
    eng.wal.close()
    # restart: replay must restore ONLY the unflushed row
    eng2 = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    df = eng2.query("ns", "SELECT * FROM cpu")
    assert sorted(r["value"] for r in df.collect()) == ["a", "b", "c"]
    m = eng2.buffer.tables("ns")["cpu"]["1970-01-01"]
    assert m.values == ["c"]


def test_tag_schema_drift_across_flushes(tiered):
    _write(tiered, "1", 1, {"host": "a"})
    tiered.flush("ns")
    _write(tiered, "2", DAY_US, {"region": "eu"})
    tiered.flush("ns")
    _write(tiered, "3", 2 * DAY_US, {"host": "b", "core": 7})
    df = tiered.query("ns", "SELECT * FROM cpu ORDER BY timestamp")
    rows = df.collect()
    assert {"timestamp", "value", "host", "region", "core"} <= set(df.columns)
    assert rows[0]["host"] == "a" and rows[0]["region"] is None
    assert rows[1]["region"] == "eu"
    assert rows[2]["core"] == "7"


def test_select_star_schema_parity_with_untiered(tiered):
    """SELECT * through the tiered engine returns the reference's
    [timestamp, value, *tags] — no internal day column leaks (r1
    ADVICE: output parity must not silently change once a cold
    directory is configured)."""
    _write(tiered, "cold", 1, {"host": "a"})
    tiered.flush("ns")
    _write(tiered, "hot", 2, {"host": "b"})
    df = tiered.query("ns", "SELECT * FROM cpu")
    assert df.columns == ["timestamp", "value", "host"]


def test_expose_day_superset_flag(spark, tmp_path):
    """expose_day=True surfaces the hive partition column for explicit
    day-keyed queries (flagged superset)."""
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", 1024, expose_day=True
    )
    for d in range(3):
        _write(eng, str(d), d * DAY_US)
    eng.flush("ns")
    df = eng.query("ns", "SELECT * FROM cpu WHERE day = DATE'1970-01-02'")
    assert [r["value"] for r in df.collect()] == ["1"]
    assert "day" in df.columns


def test_partition_pruning_from_timestamp_bounds(tiered):
    """A plain WHERE timestamp range must reach the cold scan as
    PartitionFilters on the internal day column — pruning without the
    schema deviation."""
    for d in range(5):
        _write(tiered, str(d), d * DAY_US)
    tiered.flush("ns")
    df = tiered.query(
        "ns",
        "SELECT * FROM cpu WHERE timestamp >= '1970-01-03' "
        "AND timestamp < '1970-01-04'",
    )
    assert [r["value"] for r in df.collect()] == ["2"]
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "1970-01-03" in plan


def test_partial_namespace_flush_no_double_count_after_restart(spark, tmp_path):
    """Flushing ONE namespace while another holds data must compact the
    WAL so a restart replays only unflushed rows (the flushed
    namespace's rows live solely in parquet)."""
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    _write(eng, "a1", 1, ns="ns_a")
    _write(eng, "b1", 2, ns="ns_b")
    _write(eng, "a2", 3, ns="ns_a")
    assert eng.flush("ns_a") == 2
    eng.wal.close()

    eng2 = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    # ns_a: only in cold, exactly once
    vals_a = sorted(
        r["value"] for r in eng2.query("ns_a", "SELECT * FROM cpu").collect()
    )
    assert vals_a == ["a1", "a2"]
    # ns_b: replayed from the compacted WAL into the hot buffer
    vals_b = [r["value"] for r in eng2.query("ns_b", "SELECT * FROM cpu").collect()]
    assert vals_b == ["b1"]
    assert eng2.buffer.tables("ns_a") is None


def test_flush_failure_leaves_buffer_and_wal_intact(tiered, monkeypatch):
    """A parquet write failure mid-flush must not lose visibility of
    the rows (buffer cleared only after all partitions are written)."""
    _write(tiered, "1", 1)
    _write(tiered, "2", DAY_US)

    def boom(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(
        "lynx_spark.sources.coldtier.pq.write_table", boom
    )
    with pytest.raises(OSError):
        tiered.flush("ns")
    monkeypatch.undo()
    # rows still served from the hot buffer; WAL untouched
    df = tiered.query("ns", "SELECT * FROM cpu")
    assert sorted(r["value"] for r in df.collect()) == ["1", "2"]
    assert tiered.flush("ns") == 2  # retry succeeds


def test_unknown_is_404_in_both_tiers(tiered):
    _write(tiered, "1", 1)
    tiered.flush("ns")
    assert tiered.query("nope", "SELECT * FROM cpu") is None
    assert tiered.query("ns", "SELECT * FROM gpu") is None


# ------------------------------------------- exactly-once crash windows


def _restart(spark, tmp_path):
    return TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)


def test_crash_before_commit_is_invisible_and_retryable(spark, tmp_path):
    """Data files written but commit JSON never renamed: a restart sees
    NO cold rows (visibility = commit log), the buffer/WAL restore
    everything, and a retry flushes exactly once."""
    eng = _restart(spark, tmp_path)
    _write(eng, "a", 1)
    _write(eng, "b", DAY_US)

    def no_commit(path, payload):
        raise OSError("crash before commit rename")

    import lynx_spark.sources.coldtier as ct

    orig = ct.atomic_write_json
    ct.atomic_write_json = no_commit
    try:
        with pytest.raises(OSError):
            eng.flush("ns")
    finally:
        ct.atomic_write_json = orig
    eng.wal.close()

    # orphan parquet exists on disk but is invisible
    orphans = list((tmp_path / "cold/ns").rglob("*.parquet"))
    assert orphans, "data files were written before the crash"
    eng2 = _restart(spark, tmp_path)
    vals = sorted(r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["a", "b"]  # exactly once: all from the hot buffer
    assert eng2._cold_table("ns", "cpu") is None
    # retry: orphans GC'd, flush commits, still exactly once
    assert eng2.flush("ns") == 2
    eng2.wal.close()
    eng3 = _restart(spark, tmp_path)
    vals = sorted(r["value"] for r in eng3.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["a", "b"]


def test_crash_after_commit_before_compaction_no_double_count(spark, tmp_path):
    """Commit renamed but WAL never compacted (ADVICE r1 window a):
    replay must skip the flushed records via the watermark."""
    eng = _restart(spark, tmp_path)
    _write(eng, "a", 1)
    _write(eng, "b", DAY_US)
    _write(eng, "keep", 5, ns="other")

    def no_compact(drop_namespace):
        raise OSError("crash before compaction")

    eng._compact_wal = no_compact
    with pytest.raises(OSError):
        eng.flush("ns")
    eng.wal.close()

    # WAL still holds ns records; commit log says they are in parquet
    eng2 = _restart(spark, tmp_path)
    vals = sorted(r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["a", "b"]  # cold only, not cold+replayed
    assert eng2.buffer.tables("ns") is None
    # the other namespace replays normally
    vals = [r["value"] for r in eng2.query("other", "SELECT * FROM cpu").collect()]
    assert vals == ["keep"]


def test_crash_mid_compaction_no_survivor_duplicates(spark, tmp_path):
    """Compaction dies after rewriting some segments (ADVICE r1 window
    b): every segment is original-or-compacted, so survivor rows replay
    exactly once and flushed rows not at all."""
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 128)
    for i in range(6):  # tiny segments: several closed files
        _write(eng, f"a{i}", i, ns="ns_a")
        _write(eng, f"b{i}", i, ns="ns_b")
    assert len(list((tmp_path / "wal").glob("*.wal"))) > 2

    import os as _os

    real_replace = _os.replace
    calls = {"n": 0}

    def replace_then_die(src, dst):
        # let the commit rename and the first segment rewrite through,
        # then crash (commit file rename happens via atomic_write_json)
        if str(src).endswith(".compact"):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("crash mid-compaction")
        return real_replace(src, dst)

    import lynx_spark.sources.coldtier as ct

    ct.os.replace = replace_then_die
    try:
        with pytest.raises(OSError):
            eng.flush("ns_a")
    finally:
        ct.os.replace = real_replace
    eng.wal.close()

    eng2 = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 128)
    vals_a = sorted(r["value"] for r in eng2.query("ns_a", "SELECT * FROM cpu").collect())
    assert vals_a == [f"a{i}" for i in range(6)]  # flushed, exactly once
    vals_b = sorted(r["value"] for r in eng2.query("ns_b", "SELECT * FROM cpu").collect())
    assert vals_b == [f"b{i}" for i in range(6)]  # survivors, exactly once


def test_repeated_flushes_accumulate_exactly_once(spark, tmp_path):
    """Multiple committed flushes + a restart: the union of commits
    serves every row exactly once."""
    eng = _restart(spark, tmp_path)
    for i in range(3):
        _write(eng, f"v{i}", i * DAY_US)
        assert eng.flush("ns") == 1
    _write(eng, "hot", 10)
    eng.wal.close()
    eng2 = _restart(spark, tmp_path)
    vals = sorted(r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["hot", "v0", "v1", "v2"]


def test_commit_log_compaction_bounded_and_exact(spark, tmp_path):
    """Many flushes must not accumulate unbounded commit files; the
    snapshot fold preserves visibility, watermarks and flush-id
    allocation across a restart."""
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    eng.COMMIT_COMPACT_THRESHOLD = 5
    for i in range(12):
        _write(eng, f"v{i}", i * DAY_US)
        assert eng.flush("ns") == 1
    cdir = tmp_path / "cold" / "_commits"
    names = sorted(p.name for p in cdir.glob("*.json"))
    assert len(names) < 7, names  # folded, not 12 files
    assert any(n.startswith("snapshot-") for n in names)
    eng.wal.close()

    eng2 = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    vals = sorted(
        r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == sorted(f"v{i}" for i in range(12))  # exactly once
    # flush ids keep advancing past the snapshot (no filename reuse)
    _write(eng2, "v12", 12 * DAY_US)
    assert eng2.flush("ns") == 1
    vals = sorted(
        r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == sorted(f"v{i}" for i in range(13))


def test_gc_never_touches_stream_named_files(tiered, tmp_path):
    """r2 review: a streaming sink whose id starts with 'm' must not
    have its uncommitted files deleted by the flush orphan GC (flush
    files use the reserved part-flush prefix now)."""
    stream_file = (
        tmp_path / "cold/ns/cpu/day=1970-01-01/part-metrics-000000001-00000.parquet"
    )
    stream_file.parent.mkdir(parents=True, exist_ok=True)
    stream_file.write_bytes(b"placeholder")
    _write(tiered, "1", 1)
    tiered.flush("ns")
    assert stream_file.exists()  # sink's to manage, not the GC's


def test_stream_sink_rejects_reserved_sink_ids(spark, tmp_path):
    from lynx_spark.streaming import parse_write_stream, stream_to_cold_tier
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    (tmp_path / "in").mkdir()
    raw = spark.readStream.schema(WRITE_SCHEMA).json(str(tmp_path / "in"))
    for bad in ("flush", "flushy", "snapshot2", "legacy"):
        with pytest.raises(ValueError, match="reserved"):
            stream_to_cold_tier(
                parse_write_stream(raw), tmp_path / "cold", tmp_path / "ck", bad
            )


def test_legacy_cold_dir_bootstraps_visibility(spark, tmp_path):
    """r2 review: a pre-commit-log cold layout (round-1 format: bare
    parquet, no _commits/) must stay queryable after the upgrade."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    legacy = tmp_path / "cold/ns/cpu/day=1970-01-01"
    legacy.mkdir(parents=True)
    table = pa.table(
        {
            "timestamp": pa.array([1], type=pa.timestamp("us")),
            "value": pa.array(["old"], type=pa.string()),
        }
    )
    pq.write_table(table, legacy / "part-00000.parquet")
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    vals = [r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()]
    assert vals == ["old"]
    # and new flushes coexist with the adopted files
    _write(eng, "new", 2, ns="ns")
    eng.flush("ns")
    vals = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == ["new", "old"]


def test_legacy_adoption_survives_sink_first_contact(spark, tmp_path):
    """r2 review pass 2: if a streaming sink is the FIRST commit-log
    writer to touch an upgraded legacy dir, the legacy rows must still
    be adopted (the sink runs the same adoption before creating the
    marker)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    legacy = tmp_path / "cold/ns/cpu/day=1970-01-01"
    legacy.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([1], type=pa.timestamp("us")),
                "value": pa.array(["old"], type=pa.string()),
            }
        ),
        legacy / "part-00000.parquet",
    )
    from lynx_spark.streaming import parse_write_stream, stream_to_cold_tier
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    d = tmp_path / "in"
    d.mkdir()
    (d / "b.json").write_text(
        _json.dumps(
            {
                "namespace": "ns",
                "measurement": "cpu",
                "value": "streamed",
                "metadata": {},
                "timestamp": 2,
            }
        )
    )
    raw = spark.readStream.schema(WRITE_SCHEMA).json(str(d))
    q = stream_to_cold_tier(
        parse_write_stream(raw), tmp_path / "cold", tmp_path / "ck"
    )
    q.awaitTermination(120)
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    vals = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == ["old", "streamed"]


def test_stream_sink_rejects_empty_sink_id(spark, tmp_path):
    from lynx_spark.streaming import parse_write_stream, stream_to_cold_tier
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    (tmp_path / "in2").mkdir()
    raw = spark.readStream.schema(WRITE_SCHEMA).json(str(tmp_path / "in2"))
    for bad in ("", "   "):
        with pytest.raises(ValueError, match="non-empty"):
            stream_to_cold_tier(
                parse_write_stream(raw), tmp_path / "cold", tmp_path / "ck", bad
            )


def test_gc_sweeps_pre_rename_orphan_patterns(tiered, tmp_path):
    """r2 review pass 2: uncommitted leftovers in the OLD flush naming
    (part-mNNNNNN) are swept, while sink-style part-m... names are
    untouched. The flush GC's other name rules ride along: flush and
    exact-width optimize leftovers go (in every table dir), committed
    files (visible or tombstoned) and non-engine names stay."""
    day = tmp_path / "cold/ns/cpu/day=1970-01-01"
    # two flushes + an optimize: one visible part-opt file, two
    # tombstoned part-flush files — all protected from the GC
    for v in ("a", "b"):
        _write(tiered, v, 1)
        tiered.flush("ns")
    assert tiered.optimize("ns") == 2
    committed = sorted(p.name for p in day.iterdir())
    assert len(committed) == 3
    old_orphan = day / "part-m000007-00000.parquet"
    old_orphan.write_bytes(b"x")
    old_tmp = day / ".tmp-m000007"
    old_tmp.write_bytes(b"x")
    sinkish = day / "part-metrics-000000001-00000.parquet"
    sinkish.write_bytes(b"x")
    other_day = tmp_path / "cold/ns/mem/day=1970-01-02"
    other_day.mkdir(parents=True)
    swept = [
        day / "part-flush000099-00000.parquet",
        other_day / "part-flush000098-00000.parquet",
        day / ".tmp-flush000099",
        day / "part-opt000099-00000.parquet",
        day / ".tmp-opt000099",
        other_day / ".tmp-opt000099-00001",
    ]
    kept = [
        day / "part-opt99-0.parquet",  # not the exact optimize width
        day / ".tmp-opt0000991",
        day / ".tmp-m0000071",
        day / "part-m1-000000001-00000.parquet",  # sink "m1"
        other_day / "part-flush000098-00000.crc",  # not parquet
    ]
    for p in swept + kept:
        p.write_bytes(b"x")
    _write(tiered, "1", 1)
    tiered.flush("ns")
    assert not old_orphan.exists()
    assert not old_tmp.exists()
    assert sinkish.exists()
    assert [p.name for p in swept if p.exists()] == []
    assert [p.name for p in kept if not p.exists()] == []
    assert all((day / name).exists() for name in committed)


def test_flushed_and_streamed_files_coexist_in_one_table(spark, tmp_path):
    """r2: engine-flushed and sink-streamed parquet for the SAME table
    must be readable together (identical timestamp type, NTZ)."""
    import json as _json

    from lynx_spark.streaming import parse_write_stream, stream_to_cold_tier
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    _write(eng, "flushed", 1)
    eng.flush("ns")
    d = tmp_path / "in"
    d.mkdir()
    (d / "b.json").write_text(
        _json.dumps(
            {
                "namespace": "ns",
                "measurement": "cpu",
                "value": "streamed",
                "metadata": {},
                "timestamp": DAY_US,
            }
        )
    )
    raw = spark.readStream.schema(WRITE_SCHEMA).json(str(d))
    q = stream_to_cold_tier(
        parse_write_stream(raw), tmp_path / "cold", tmp_path / "ck"
    )
    q.awaitTermination(120)
    rows = eng.query(
        "ns", "SELECT value, timestamp FROM cpu ORDER BY timestamp"
    ).collect()
    assert [r["value"] for r in rows] == ["flushed", "streamed"]
    assert str(rows[1]["timestamp"]).startswith("1970-01-02")


def test_adoption_retries_after_marker_crash(spark, tmp_path):
    """ADVICE r3: a crash between atomic_write_json's mkdir of
    _commits/ and the bootstrap commit's rename leaves the marker
    directory WITHOUT the commit. '_commits exists but holds no
    *.json' must be treated as unadopted, so legacy parquet is still
    adopted on the next touch — while commit-log-era file names
    (uncommitted in-flight flush/stream output) stay excluded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    legacy = tmp_path / "cold/ns/cpu/day=1970-01-01"
    legacy.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([1], type=pa.timestamp("us")),
                "value": pa.array(["old"], type=pa.string()),
            }
        ),
        legacy / "part-00000.parquet",
    )
    # an uncommitted in-flight file from a crashed commit-log writer:
    # must NOT be adopted (it is invisible by design)
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([5], type=pa.timestamp("us")),
                "value": pa.array(["inflight"], type=pa.string()),
            }
        ),
        legacy / "part-flush000001-00000.parquet",
    )
    # simulate the crash window: marker exists, no commit inside
    (tmp_path / "cold/_commits").mkdir()
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    vals = [r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()]
    assert vals == ["old"]


def test_load_commits_retries_when_fold_unlinks_mid_listing(
    spark, tmp_path, monkeypatch
):
    """ADVICE r3: a concurrent compact_commits may unlink a commit
    file between the engine's glob and read_text. _load_commits must
    re-list (the fold renames its snapshot in BEFORE unlinking, so a
    re-list sees a superset) instead of crashing or skipping."""
    import json as _json
    from pathlib import Path

    from lynx_spark.sources.coldtier import atomic_write_json

    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    _write(eng, "1", 1)
    eng.flush("ns")
    cdir = tmp_path / "cold/_commits"
    [commit] = list(cdir.glob("flush-*.json"))
    payload = _json.loads(commit.read_text())
    # pre-stage the fold's snapshot (superset of the commit)
    atomic_write_json(
        cdir / "snapshot-000001-p0-0.json",
        {
            "files": payload["files"],
            "watermarks": payload["watermarks"],
            "flush_ids": {"ns": 1},
            "stream_batches": {},
        },
    )
    eng._commit_cache.clear()

    real = Path.read_text
    state = {"fired": False}

    def flaky(self, *a, **k):
        if self.name == commit.name and not state["fired"]:
            state["fired"] = True
            self.unlink()  # the concurrent fold consumes it...
            raise FileNotFoundError(self)  # ...before our read lands
        return real(self, *a, **k)

    monkeypatch.setattr(Path, "read_text", flaky)
    committed = eng._committed_files()
    assert state["fired"]
    assert set(payload["files"]) <= committed
    monkeypatch.setattr(Path, "read_text", real)
    vals = [r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()]
    assert vals == ["1"]


def test_committed_stream_batch_raises_when_listing_unstable(
    tmp_path, monkeypatch
):
    """ADVICE r3: exhausting the retry budget must RAISE (foreachBatch
    retries the micro-batch; committed files stay intact) — never
    answer False, which would let write_batch unlink visible files."""
    from pathlib import Path

    import pytest as _pytest

    from lynx_spark.sources.coldtier import (
        atomic_write_json,
        committed_stream_batch,
    )

    cdir = tmp_path / "cold/_commits"
    atomic_write_json(
        cdir / "snapshot-000001-p0-0.json",
        {"files": [], "watermarks": {}, "stream_batches": {}},
    )
    real = Path.read_text

    def always_vanished(self, *a, **k):
        if self.name.startswith("snapshot-"):
            raise FileNotFoundError(self)
        return real(self, *a, **k)

    monkeypatch.setattr(Path, "read_text", always_vanished)
    with _pytest.raises(RuntimeError, match="unstable"):
        committed_stream_batch(tmp_path / "cold", "stream", 3)


def test_adoption_excludes_all_commit_era_orphans(spark, tmp_path):
    """r3 review: the earliest commit-log revision's flush naming
    (part-mNNNNNN-NNNNN) is engine-owned and never-visible, exactly
    like part-flush*: an adoption retry must not commit such a crash
    orphan. Round-1 names (part-NNNNN.parquet) predate the commit log
    and ARE adopted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    legacy = tmp_path / "cold/ns/cpu/day=1970-01-01"
    legacy.mkdir(parents=True)

    def w(name, val):
        pq.write_table(
            pa.table(
                {
                    "timestamp": pa.array([1], type=pa.timestamp("us")),
                    "value": pa.array([val], type=pa.string()),
                }
            ),
            legacy / name,
        )

    w("part-00000.parquet", "round1-legacy")  # visible pre-commit-log
    w("part-m000001-00000.parquet", "torn-flush")  # commit-log era
    w("part-flush000002-00000.parquet", "torn-flush2")  # commit-log era
    w("part-sinkA-000000003-00000.parquet", "torn-batch")  # sink era
    (tmp_path / "cold/_commits").mkdir()  # marker-only crash window
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1024)
    vals = [r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()]
    assert vals == ["round1-legacy"]


# ----------------------------------------------------- optimize/vacuum


def _day_files(tmp_path, day="day=1970-01-01"):
    return sorted(p.name for p in (tmp_path / "cold/ns/cpu" / day).glob("*.parquet"))


def test_optimize_packs_day_and_preserves_results(spark, tmp_path):
    """N flush files in one day partition -> one part-opt file; query
    results identical; replaced files stay on disk (pinned-reader
    safety) until vacuum; visibility survives a restart."""
    eng = _restart(spark, tmp_path)
    for i in range(3):
        _write(eng, str(i), i + 1)
        eng.flush("ns")
    assert len(_day_files(tmp_path)) == 3
    before = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert eng.optimize("ns") == 3  # three files replaced
    after = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert after == before == ["0", "1", "2"]
    # one visible file; tombstones still physically present
    visible = eng._committed_files()
    assert len(visible) == 1 and "part-opt" in next(iter(visible))
    assert len(_day_files(tmp_path)) == 4  # 3 tombstones + 1 packed
    # a second optimize is a no-op (single visible file per day)
    assert eng.optimize("ns") == 0
    assert eng.vacuum("ns") == 3
    assert len(_day_files(tmp_path)) == 1
    eng.wal.close()
    eng2 = _restart(spark, tmp_path)
    vals = sorted(r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["0", "1", "2"]


def test_optimize_merges_tag_schema_drift(spark, tmp_path):
    """Files with different tag columns pack into one file with the
    union schema (nulls where a tag is absent), same as the query-time
    mergeSchema union."""
    eng = _restart(spark, tmp_path)
    _write(eng, "a", 1, {"host": "h1"})
    eng.flush("ns")
    _write(eng, "b", 2, {"zone": "z1"})
    eng.flush("ns")
    assert eng.optimize("ns") == 2
    rows = {
        r["value"]: r
        for r in eng.query("ns", "SELECT * FROM cpu").collect()
    }
    assert rows["a"]["host"] == "h1" and rows["a"]["zone"] is None
    assert rows["b"]["zone"] == "z1" and rows["b"]["host"] is None


def test_optimize_crash_before_commit_is_invisible(spark, tmp_path):
    """part-opt files written but the rewrite commit never renamed:
    nothing changes for queries, the orphans are GC'd by the next
    flush, and a retried optimize succeeds."""
    import lynx_spark.sources.coldtier as ct

    eng = _restart(spark, tmp_path)
    for i in range(2):
        _write(eng, str(i), i + 1)
        eng.flush("ns")

    orig = ct.atomic_write_json

    def crash(path, payload):
        raise OSError("crash before rewrite commit")

    ct.atomic_write_json = crash
    try:
        with pytest.raises(OSError):
            eng.optimize("ns")
    finally:
        ct.atomic_write_json = orig
    # orphan part-opt file exists but is invisible
    assert any("part-opt" in n for n in _day_files(tmp_path))
    assert all("part-opt" not in rel for rel in eng._committed_files())
    vals = sorted(r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["0", "1"]
    # next flush GCs the orphan
    _write(eng, "2", 3)
    eng.flush("ns")
    assert not any("part-opt" in n for n in _day_files(tmp_path))
    # retry succeeds and replaces all three files
    assert eng.optimize("ns") == 3
    vals = sorted(r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["0", "1", "2"]


def test_optimize_rewrite_survives_commit_log_fold(spark, tmp_path):
    """The visible = files − replaced subtraction must survive
    compact_commits folding the optimize commit into a snapshot."""
    from lynx_spark.sources.coldtier import compact_commits

    eng = _restart(spark, tmp_path)
    for i in range(3):
        _write(eng, str(i), i + 1)
        eng.flush("ns")
    eng.optimize("ns")
    compact_commits(tmp_path / "cold", threshold=1)
    eng.wal.close()
    eng2 = _restart(spark, tmp_path)
    visible = eng2._committed_files()
    assert len(visible) == 1 and "part-opt" in next(iter(visible))
    vals = sorted(r["value"] for r in eng2.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["0", "1", "2"]
    # tombstones survive the fold too (vacuum still finds them)
    assert eng2.vacuum("ns") == 3
    assert len(_day_files(tmp_path)) == 1


def test_optimize_scopes_to_table_and_min_files(spark, tmp_path):
    eng = _restart(spark, tmp_path)
    for i in range(2):
        _write(eng, str(i), i + 1, table="cpu")
        _write(eng, str(i), i + 1, table="mem")
        eng.flush("ns")
    # only cpu packs; mem's two files stay
    assert eng.optimize("ns", table="cpu") == 2
    assert sum("part-opt" in rel for rel in eng._committed_files()) == 1
    assert eng.optimize("ns", min_files=3) == 0  # mem has only 2 files
    assert eng.optimize("ns", table="mem") == 2


def test_commit_log_state_pinned_across_fold_and_restart(spark, tmp_path):
    """The commit-log state (visible files, tombstones, watermarks,
    stream-batch answers) is the same before and after a full fold and
    after a restart, with namespace ``a`` a dash-prefix of ``a-b``; no
    flush or optimize data file name is ever written twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lynx_spark.sources.coldtier import (
        atomic_write_json,
        committed_stream_batch,
        compact_commits,
    )

    cold = tmp_path / "cold"
    eng = _restart(spark, tmp_path)
    for i in range(3):
        _write(eng, f"a{i}", i + 1, ns="a")
        eng.flush("a")
    for i in range(4):
        _write(eng, f"ab{i}", i + 1, ns="a-b")
        eng.flush("a-b")
    assert eng.optimize("a") == 3
    _write(eng, "hot", 9, ns="a")  # stays in the hot tier
    # one stream-batch commit in the on-disk format the sink writes
    day = cold / "a-b/cpu/day=1970-01-01"
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([7], type=pa.timestamp("us")),
                "value": pa.array(["s0"], type=pa.string()),
            }
        ),
        day / "part-sink-000000000-00000.parquet",
    )
    atomic_write_json(
        cold / "_commits/sink-000000000.json",
        {
            "files": ["a-b/cpu/day=1970-01-01/part-sink-000000000-00000.parquet"],
            "watermarks": {},
        },
    )

    def state(e):
        return {
            "visible": e._committed_files(),
            "tombstones": e._replaced_files(),
            "watermarks": e._watermarks(),
            "batches": [
                committed_stream_batch(cold, sid, bid)
                for sid, bid in (("sink", 0), ("sink", 1), ("other", 0))
            ],
            "rows": {
                ns: sorted(
                    r["value"]
                    for r in e.query(ns, "SELECT * FROM cpu").collect()
                )
                for ns in ("a", "a-b")
            },
        }

    before = state(eng)
    assert before["batches"] == [True, False, False]
    assert before["rows"] == {
        "a": ["a0", "a1", "a2", "hot"],
        "a-b": ["ab0", "ab1", "ab2", "ab3", "s0"],
    }
    assert len(before["tombstones"]) == 3
    assert set(before["watermarks"]) == {"a", "a-b"}
    compact_commits(cold, threshold=1)
    assert [p.name[:9] for p in (cold / "_commits").glob("*.json")] == [
        "snapshot-"
    ]
    assert state(eng) == before
    eng.wal.close()
    eng = _restart(spark, tmp_path)
    assert state(eng) == before

    def data_files():
        return {str(p.relative_to(cold)) for p in cold.rglob("part-*.parquet")}

    for ns in ("a", "a-b", "a"):
        seen = data_files()
        _write(eng, f"{ns}-new", 2, ns=ns)
        eng.flush(ns)
        assert len(data_files() - seen) == 1, ns  # a fresh name
        seen = data_files()
        assert eng.optimize(ns) > 0
        assert len(data_files() - seen) == 1, ns
    eng.wal.close()


# ------------------------------------------------------------ auto-flush


def _await_autoflush(eng, timeout=30.0):
    import time

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if eng.autoflush_idle():
            return
        time.sleep(0.02)
    raise AssertionError("background auto-flush did not finish")


def test_autoflush_watermark_fires_without_http(spark, tmp_path):
    """VERDICT r11 task 5: sustained writes crossing the row watermark
    must flush in the background — no /api/v1/flush call — truncating
    the WAL, and a concurrent query must see every row exactly once
    regardless of which side of the flush each row lands on."""
    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=40,
    )
    for i in range(100):
        _write(eng, str(i), i)
    _await_autoflush(eng)
    # at least one background flush committed parquet...
    commits = list((tmp_path / "cold/_commits").glob("flush-ns-*.json"))
    snaps = list((tmp_path / "cold/_commits").glob("snapshot-*.json"))
    assert commits or snaps
    # ...bounding the hot buffer below the watermark + in-flight writes
    assert eng.buffer.row_count("ns") < 100
    # WAL truncated: flushed records are gone from the closed segments
    # (only rows written after the last flush replay on restart)
    df = eng.query("ns", "SELECT * FROM cpu")
    vals = sorted(int(r["value"]) for r in df.collect())
    assert vals == list(range(100))


def test_autoflush_failure_logs_traceback_and_rearms(
    spark, tmp_path, caplog
):
    """A background flush that raises logs its traceback through
    ``logging``, clears its pending marker without retrying, and the
    next write over the watermark arms the flush again."""
    import logging
    import types

    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=2,
    )
    calls = []

    def flush_failing_once(self, namespace):
        calls.append(namespace)
        if len(calls) == 1:
            raise OSError("disk full")
        return TieredEngine.flush(self, namespace)

    eng.flush = types.MethodType(flush_failing_once, eng)
    with caplog.at_level(logging.ERROR):
        _write(eng, "0", 0)
        _write(eng, "1", 1)  # crosses the watermark: the flush fails
        _await_autoflush(eng)
    assert calls == ["ns"]  # a failure is not retried in a hot loop
    assert "auto-flush(ns) failed" in caplog.text
    assert "Traceback" in caplog.text and "disk full" in caplog.text
    assert eng.buffer.row_count("ns") == 2
    _write(eng, "2", 2)  # still over the watermark: re-armed
    _await_autoflush(eng)
    assert calls == ["ns", "ns"]
    assert eng.buffer.tables("ns") is None
    vals = sorted(r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect())
    assert vals == ["0", "1", "2"]
    eng.wal.close()


def test_autoflush_concurrent_writes_exactly_once(spark, tmp_path):
    """Writers racing the background flush: every row appears exactly
    once in the tiered query result, and the final drain leaves the
    WAL holding only unflushed rows."""
    import threading

    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=25,
    )
    errs = []

    def writer(base):
        try:
            for i in range(60):
                _write(eng, str(base + i), base + i)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(w * 1000,)) for w in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    _await_autoflush(eng)
    assert not errs
    expect = sorted(w * 1000 + i for w in range(3) for i in range(60))
    df = eng.query("ns", "SELECT * FROM cpu")
    got = sorted(int(r["value"]) for r in df.collect())
    assert got == expect  # exactly once: no loss, no double count


def test_autoflush_replay_backlog_drains_on_restart(spark, tmp_path):
    """A WAL backlog restored by replay that already exceeds the
    watermark must trigger the background flush at construction."""
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", max_segment_size=1024
    )
    for i in range(50):
        _write(eng, str(i), i)
    eng.wal.close()
    eng2 = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=10,
    )
    _await_autoflush(eng2)
    assert eng2.buffer.row_count("ns") == 0
    df = eng2.query("ns", "SELECT * FROM cpu")
    assert sorted(int(r["value"]) for r in df.collect()) == list(range(50))


def test_autoflush_disabled_by_default(tiered):
    for i in range(200):
        _write(tiered, str(i), i)
    assert tiered.buffer.row_count("ns") == 200  # nothing flushed
    assert tiered.autoflush_idle()


def test_autoflush_age_watermark_flushes_trickle(spark, tmp_path):
    """A trickle-rate namespace far below the row watermark must still
    flush once its oldest row exceeds the age watermark — otherwise
    its records pin WAL segments against compaction forever."""
    import time

    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=10_000,  # never reached
        auto_flush_age_s=1.0,
    )
    try:
        for i in range(5):
            _write(eng, str(i), i)
        deadline = time.monotonic() + 30.0
        while time.monotonic() < deadline:
            if (
                eng.buffer.row_count("ns") == 0
                and eng.autoflush_idle()
            ):
                break
            time.sleep(0.1)
        assert eng.buffer.row_count("ns") == 0  # age trigger flushed
        commits = list(
            (tmp_path / "cold/_commits").glob("flush-ns-*.json")
        ) + list((tmp_path / "cold/_commits").glob("snapshot-*.json"))
        assert commits
        df = eng.query("ns", "SELECT * FROM cpu")
        assert sorted(int(r["value"]) for r in df.collect()) == list(range(5))
        # quiet namespace: the ticker must not spin up useless flushes
        # (first-insert marker cleared with the epoch)
        assert eng.buffer.oldest_insert_age("ns") is None
    finally:
        eng.close_autoflush()


def _await_autooptimize(eng, timeout=30.0):
    import time

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if eng.autooptimize_idle() and eng.autoflush_idle():
            return
        time.sleep(0.02)
    raise AssertionError("background auto-optimize did not finish")


def _visible_files(eng, prefix):
    with eng._wal_lock:
        return sorted(
            rel for rel in eng._committed_files() if rel.startswith(prefix)
        )


def test_autooptimize_packs_after_row_watermark_flushes(spark, tmp_path):
    """VERDICT r12 task 2: repeated auto-flushes pushing one day
    partition over the file watermark must trigger a background pack
    through the commit-log rewrite — no /api/v1/optimize call — and
    the result set must be identical before/after."""
    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=10,
        auto_optimize_files=3,
    )
    # 3 watermark crossings, all day 1970-01-01 — awaiting the flush
    # between batches FORCES three separate flush files (r13 review:
    # an uninterrupted 30-write loop can outrun the flush thread on a
    # loaded box, landing everything in ONE file and never crossing
    # the file watermark this test asserts on)
    for batch in range(3):
        for i in range(batch * 10, batch * 10 + 10):
            _write(eng, str(i), i)
        _await_autoflush(eng)
    _await_autooptimize(eng)
    files = _visible_files(eng, "ns/cpu/")
    # packed: the over-watermark day collapsed to one part-opt file
    assert any("part-opt" in f for f in files)
    assert len(files) < 3  # bounded below the watermark again
    opt_commits = list(
        (tmp_path / "cold/_commits").glob("optimize-ns-*.json")
    ) + [
        p
        for p in (tmp_path / "cold/_commits").glob("snapshot-*.json")
    ]
    assert opt_commits
    df = eng.query("ns", "SELECT * FROM cpu")
    assert sorted(int(r["value"]) for r in df.collect()) == list(range(30))


def test_autooptimize_bounds_files_under_sustained_trickle(spark, tmp_path):
    """The age-watermark trickle case the watermark exists for: a slow
    namespace whose timer flushes accumulate small files must stay
    bounded by background packing, while concurrent queries see every
    row exactly once through flushes AND rewrite commits."""
    import time

    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_flush_rows=10_000,  # never reached: age is the trigger
        auto_flush_age_s=0.5,
        auto_optimize_files=4,
    )
    try:
        written = 0
        for burst in range(8):
            for _ in range(3):
                _write(eng, str(written), written)
                written += 1
            # every row visible exactly once at any moment: writes are
            # synchronous, flush/pack visibility flips are atomic
            df = eng.query("ns", "SELECT * FROM cpu")
            vals = sorted(int(r["value"]) for r in df.collect())
            assert vals == list(range(written))
            time.sleep(0.65)  # let the age ticker flush this burst
        deadline = time.monotonic() + 30.0
        while time.monotonic() < deadline:
            if (
                eng.buffer.row_count("ns") == 0
                and eng.autoflush_idle()
                and eng.autooptimize_idle()
            ):
                break
            time.sleep(0.1)
        files = _visible_files(eng, "ns/cpu/")
        # ≥5 trickle flushes landed in one day; without the watermark
        # this would be one file per flush — packing bounds it
        assert any("part-opt" in f for f in files)
        assert len(files) < 4  # below the watermark after settle
        df = eng.query("ns", "SELECT * FROM cpu")
        vals = sorted(int(r["value"]) for r in df.collect())
        assert vals == list(range(written))  # exactly once, end state
    finally:
        eng.close_autoflush()


def test_autooptimize_disabled_by_default(tiered, tmp_path):
    for i in range(5):
        _write(tiered, str(i), i)
        tiered.flush("ns")
    files = _visible_files(tiered, "ns/cpu/")
    assert len(files) == 5  # five flushes, five files, nothing packed
    assert not any("part-opt" in f for f in files)
    assert tiered.autooptimize_idle()


def test_autooptimize_watermark_below_two_disables(spark, tmp_path):
    """min_files=1 would rewrite a single-file day into a new single
    file forever — values < 2 must normalize to disabled."""
    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        auto_optimize_files=1,
    )
    assert eng.auto_optimize_files is None
    eng0 = TieredEngine(
        spark,
        tmp_path / "wal0",
        tmp_path / "cold0",
        auto_flush_rows=0,
        auto_flush_age_s=0.0,
        auto_optimize_files=0,
    )
    # ADVICE r12: explicit zeros disable instead of arming per-write
    # flush threads / a 0.5 s ticker
    assert eng0.auto_flush_rows is None
    assert eng0.auto_flush_age_s is None
    assert eng0.auto_optimize_files is None


def test_autooptimize_startup_backlog(spark, tmp_path):
    """A restart onto a cold tier already over the file watermark
    (process died between flush and pack) must schedule the pack at
    construction."""
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", max_segment_size=1024
    )
    for i in range(4):
        _write(eng, str(i), i)
        eng.flush("ns")  # four single-row files, same day
    eng.wal.close()
    eng2 = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_optimize_files=3,
    )
    _await_autooptimize(eng2)
    files = _visible_files(eng2, "ns/cpu/")
    assert len(files) == 1 and "part-opt" in files[0]
    df = eng2.query("ns", "SELECT * FROM cpu")
    assert sorted(int(r["value"]) for r in df.collect()) == list(range(4))


def test_autooptimize_fires_from_streaming_sink_commits(spark, tmp_path):
    """VERDICT r13 task 3: a namespace fed ONLY by the streaming sink
    (zero engine flushes) must still trip the file-count watermark.
    Before r14 the check lived only in flush(), so a pure-streaming
    namespace accumulated one file per micro-batch forever unless a
    manual /api/v1/optimize ran; the sink now calls
    engine.notify_external_commit after each commit. Queries run
    between commits must see every row exactly once throughout
    accumulation AND after the background pack."""
    import json as _json

    from lynx_spark.streaming import parse_write_stream, stream_to_cold_tier
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    eng = TieredEngine(
        spark,
        tmp_path / "wal",
        tmp_path / "cold",
        max_segment_size=1024,
        auto_optimize_files=3,
    )
    d = tmp_path / "in"
    d.mkdir()
    written = 0
    for run in range(4):
        # one new input file per availableNow run over the same
        # checkpoint = one micro-batch = one sink commit = one new
        # visible file in day=1970-01-01
        (d / f"b{run}.json").write_text(
            _json.dumps(
                {
                    "namespace": "ns",
                    "measurement": "cpu",
                    "value": str(run),
                    "metadata": {},
                    "timestamp": run + 1,
                }
            )
        )
        raw = spark.readStream.schema(WRITE_SCHEMA).json(str(d))
        q = stream_to_cold_tier(
            parse_write_stream(raw),
            tmp_path / "cold",
            tmp_path / "ck",
            "metrics",
            engine=eng,
        )
        q.awaitTermination(120)
        written += 1
        vals = sorted(
            int(r["value"])
            for r in eng.query("ns", "SELECT * FROM cpu").collect()
        )
        assert vals == list(range(written))  # exactly once mid-stream
    _await_autooptimize(eng)
    files = _visible_files(eng, "ns/cpu/")
    # the pack fired with ZERO flush() calls: sink commits crossed the
    # watermark and the day collapsed below it
    assert any("part-opt" in f for f in files)
    assert len(files) < 3
    vals = sorted(
        int(r["value"])
        for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == list(range(4))  # exactly once post-pack
    eng.wal.close()


def test_partition_pruning_reads_fewer_files_numfiles_metric(spark, tmp_path):
    """r14 (VERDICT r13 task 1 pin): pruning witnessed by the executed
    scan's numFiles metric — files READ. DataFrame.inputFiles() cannot
    witness pruning (it lists the relation's fileset BEFORE partition
    filters), which is why the c1 bench row and this test read the
    metric instead. AQE is disabled for the pin because materialized
    query stages hide leaf metrics from collectLeaves; partition
    pruning is static planning, identical either way."""
    eng = TieredEngine(spark, tmp_path / "wal", tmp_path / "cold", 1 << 20)
    for d in range(30):
        for i in range(3):
            _write(eng, f"{d}-{i}", d * DAY_US + i)
    eng.flush("ns")

    def scan_num_files(df) -> int:
        df.collect()
        ep = df._jdf.queryExecution().executedPlan()
        total = 0
        s = ep.collectLeaves()
        for k in range(s.length()):
            m = s.apply(k).metrics()
            if m.contains("numFiles"):
                total += m.apply("numFiles").value()
        return total

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        day = eng.query(
            "ns",
            "SELECT count(*) AS n FROM cpu "
            "WHERE timestamp >= '1970-01-16' AND timestamp < '1970-01-17'",
        )
        full = eng.query("ns", "SELECT count(*) AS n FROM cpu")
        n_day, n_full = scan_num_files(day), scan_num_files(full)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert n_full == 30  # one flush file per day, all read unbounded
    assert n_day == 1  # the bounds pruned 29/30 partitions
    assert day.collect()[0]["n"] == 3
    eng.wal.close()
