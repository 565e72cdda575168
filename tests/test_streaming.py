"""Structured Streaming ingest tests (the deliberate superset —
SURVEY §2B: the reference has no streaming surface)."""

from __future__ import annotations

import json

import pytest

DAY_US = 86_400_000_000


def _write_jsonl(path, records):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(r) for r in records))


def _req(value, ts, ns="ns", meas="cpu", tags=None):
    return {
        "namespace": ns,
        "measurement": meas,
        "value": value,
        "metadata": tags or {},
        "timestamp": ts,
    }


@pytest.fixture()
def json_dir(tmp_path):
    d = tmp_path / "in"
    _write_jsonl(
        d / "batch1.json",
        [
            _req("1", 1),
            _req("2", 2),
            _req("3", DAY_US),  # second day
            _req("4", DAY_US + 1, meas="mem"),
        ],
    )
    return d


def test_daily_rollup_stream(spark, json_dir, tmp_path):
    from lynx_spark.streaming import (
        daily_rollup_stream,
        parse_write_stream,
        read_write_stream,
    )

    rollup = daily_rollup_stream(parse_write_stream(read_write_stream(spark, json_dir)))
    # complete mode: append-mode windows only emit after the watermark
    # passes their end, which a finite test feed never reaches
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r["day"]), r["measurement"]): r["n"]
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    assert rows[("1970-01-01", "cpu")] == 2
    assert rows[("1970-01-02", "cpu")] == 1
    assert rows[("1970-01-02", "mem")] == 1


def test_stream_to_cold_tier_feeds_tiered_engine(spark, json_dir, tmp_path):
    from lynx_spark.sources.coldtier import TieredEngine
    from lynx_spark.streaming import (
        parse_write_stream,
        read_write_stream,
        stream_to_cold_tier,
    )

    cold = tmp_path / "cold"
    q = stream_to_cold_tier(
        parse_write_stream(read_write_stream(spark, json_dir)),
        cold,
        tmp_path / "ckpt2",
    )
    q.awaitTermination(120)
    # hive layout day= dirs exist
    assert (cold / "ns/cpu/day=1970-01-01").exists()
    assert (cold / "ns/cpu/day=1970-01-02").exists()
    # a TieredEngine over the same cold dir serves the streamed rows
    eng = TieredEngine(spark, tmp_path / "wal", cold)
    df = eng.query("ns", "SELECT * FROM cpu")
    assert sorted(r["value"] for r in df.collect()) == ["1", "2", "3"]
    df2 = eng.query(
        "ns",
        "SELECT count(*) AS n FROM mem WHERE timestamp >= '1970-01-02'",
    )
    assert df2.collect()[0]["n"] == 1


def test_stateful_counters_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: keyed state must accumulate across
    micro-batches (maxFilesPerTrigger=1 forces one batch per file)."""
    from lynx_spark.streaming import parse_write_stream
    from lynx_spark.streaming.ingest import WRITE_SCHEMA
    from lynx_spark.streaming.stateful import running_ingest_counters

    d = tmp_path / "in"
    _write_jsonl(d / "batch1.json", [_req("1", 1), _req("2", 2)])
    _write_jsonl(d / "batch2.json", [_req("3", 3), _req("4", DAY_US, meas="mem")])

    raw = (
        spark.readStream.schema(WRITE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    counters = running_ingest_counters(parse_write_stream(raw))
    q = (
        counters.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stateful_test").collect()
    # update mode appends one row per key per batch; the LAST cpu row
    # must show the cumulative count across both micro-batches
    cpu_counts = [r["n_writes"] for r in rows if r["measurement"] == "cpu"]
    assert max(cpu_counts) == 3  # 2 from batch1 + 1 from batch2
    assert len(cpu_counts) >= 2  # state was emitted in separate batches
    mem = [r for r in rows if r["measurement"] == "mem"]
    assert mem[0]["n_writes"] == 1
    assert str(mem[0]["max_ts"]).startswith("1970-01-02")


def test_streamed_tags_visible_to_batch_sql(spark, tmp_path):
    """Tags streamed via metadata maps must land as per-key columns —
    the same layout TieredEngine.flush writes — so batch SQL sees them."""
    from lynx_spark.sources.coldtier import TieredEngine
    from lynx_spark.streaming import (
        parse_write_stream,
        read_write_stream,
        stream_to_cold_tier,
    )

    d = tmp_path / "in"
    _write_jsonl(
        d / "b.json",
        [
            _req("1", 1, tags={"host": "eu-1", "core": "2"}),
            _req("2", 2, tags={"host": "us-1"}),
        ],
    )
    cold = tmp_path / "cold"
    q = stream_to_cold_tier(
        parse_write_stream(read_write_stream(spark, d)), cold, tmp_path / "ck"
    )
    q.awaitTermination(120)
    eng = TieredEngine(spark, tmp_path / "wal", cold)
    rows = {
        r["value"]: r
        for r in eng.query(
            "ns", "SELECT value, host, core FROM cpu"
        ).collect()
    }
    assert rows["1"]["host"] == "eu-1" and rows["1"]["core"] == "2"
    assert rows["2"]["host"] == "us-1" and rows["2"]["core"] is None


def test_stream_replay_no_duplicates(spark, json_dir, tmp_path):
    """Exactly-once sink: force a full replay by deleting the stream
    checkpoint (same data, same batch ids) — the batch-id commit log
    must skip the already-committed batch, leaving zero duplicates."""
    import shutil

    from lynx_spark.sources.coldtier import TieredEngine
    from lynx_spark.streaming import (
        parse_write_stream,
        read_write_stream,
        stream_to_cold_tier,
    )

    cold = tmp_path / "cold"
    ckpt = tmp_path / "ckpt_replay"
    for attempt in range(2):
        q = stream_to_cold_tier(
            parse_write_stream(read_write_stream(spark, json_dir)), cold, ckpt
        )
        q.awaitTermination(120)
        shutil.rmtree(ckpt)  # amnesiac source: batch 0 re-runs next loop

    eng = TieredEngine(spark, tmp_path / "wal", cold)
    vals = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == ["1", "2", "3"]  # not doubled


def test_stream_crash_mid_move_then_replay_no_duplicates(spark, json_dir, tmp_path):
    """A crash after SOME files moved but before the commit: the moved
    files are invisible; the replayed batch overwrites them and commits
    once."""
    import shutil

    from lynx_spark.sources.coldtier import TieredEngine
    from lynx_spark.streaming import (
        parse_write_stream,
        read_write_stream,
        stream_to_cold_tier,
    )

    cold = tmp_path / "cold"
    ckpt = tmp_path / "ckpt_crash"

    # crash the first attempt at the commit point (the sink binds
    # atomic_write_json at stream construction, so patch first)
    from lynx_spark.sources import coldtier as ct

    orig = ct.atomic_write_json
    ct.atomic_write_json = lambda p, d: (_ for _ in ()).throw(
        OSError("crash before stream commit")
    )
    try:
        q = stream_to_cold_tier(
            parse_write_stream(read_write_stream(spark, json_dir)), cold, ckpt
        )
        with pytest.raises(Exception, match="crash before stream commit"):
            q.awaitTermination(120)
    finally:
        ct.atomic_write_json = orig

    # moved-but-uncommitted files may exist; they must be invisible
    eng0 = TieredEngine(spark, tmp_path / "wal0", cold)
    assert eng0.query("ns", "SELECT * FROM cpu") is None

    shutil.rmtree(ckpt, ignore_errors=True)  # replay from scratch
    q = stream_to_cold_tier(
        parse_write_stream(read_write_stream(spark, json_dir)), cold, ckpt
    )
    q.awaitTermination(120)
    eng = TieredEngine(spark, tmp_path / "wal", cold)
    vals = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == ["1", "2", "3"]


def test_dedup_stream_drops_redelivered_records(spark, tmp_path):
    """Streaming exact dedup: a record re-delivered in a later
    micro-batch (at-least-once upstream) is dropped; distinct records
    pass through."""
    from lynx_spark.streaming import dedup_stream, parse_write_stream
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    d = tmp_path / "in"
    _write_jsonl(
        d / "b1.json",
        [_req("a", 1, tags={"host": "h1"}), _req("b", 2)],
    )
    _write_jsonl(
        d / "b2.json",
        [_req("a", 1, tags={"host": "h1"}), _req("c", 3)],  # 'a' re-delivered
    )
    raw = (
        spark.readStream.schema(WRITE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        dedup_stream(parse_write_stream(raw))
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    vals = sorted(
        r["value"] for r in spark.sql("SELECT * FROM dedup_test").collect()
    )
    assert vals == ["a", "b", "c"]  # one copy of 'a', not two


def test_stream_commits_fold_into_snapshot_and_still_skip_replay(
    spark, json_dir, tmp_path
):
    """r2 review: long-lived sinks must not grow the commit log
    unboundedly — stream commits fold into the snapshot (per-sink max
    batch id) — AND a replayed batch must STILL be skipped afterwards
    (the skip check consults snapshots, not just file existence)."""
    import shutil

    from lynx_spark.sources.coldtier import TieredEngine

    from lynx_spark.streaming import (
        parse_write_stream,
        read_write_stream,
        stream_to_cold_tier,
    )

    cold = tmp_path / "cold"
    ckpt = tmp_path / "ck_fold"
    q = stream_to_cold_tier(
        parse_write_stream(read_write_stream(spark, json_dir)), cold, ckpt
    )
    q.awaitTermination(120)

    # engine flushes trigger commit-log compaction over EVERYTHING
    from lynx_spark.model import WriteRequest

    eng = TieredEngine(spark, tmp_path / "wal", cold, 1024)
    eng.COMMIT_COMPACT_THRESHOLD = 1
    eng.write(WriteRequest("other", "cpu", "x", {}, 1))
    eng.flush("other")  # triggers commit-log compaction
    names = [p.name for p in (cold / "_commits").glob("*.json")]
    assert any(n.startswith("snapshot-") for n in names)
    assert not any(n.startswith("stream-") for n in names), names

    # full replay of the stream: batch 0 must be skipped via snapshot
    shutil.rmtree(ckpt)
    q = stream_to_cold_tier(
        parse_write_stream(read_write_stream(spark, json_dir)), cold, ckpt
    )
    q.awaitTermination(120)
    vals = sorted(
        r["value"] for r in eng.query("ns", "SELECT * FROM cpu").collect()
    )
    assert vals == ["1", "2", "3"]  # not doubled


def test_sliding_rate_stream_overlapping_windows(spark, tmp_path):
    from lynx_spark.streaming import (
        parse_write_stream,
        read_write_stream,
        sliding_rate_stream,
    )

    d = tmp_path / "in_rate"
    HOUR_US = 3_600_000_000
    # two writes 20 min apart -> the 1h/15min sliding windows overlap
    _write_jsonl(
        d / "b.json",
        [_req("1", HOUR_US), _req("2", HOUR_US + 20 * 60_000_000)],
    )
    rates = sliding_rate_stream(
        parse_write_stream(read_write_stream(spark, d))
    )
    q = (
        rates.writeStream.format("memory")
        .queryName("rate_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT window_start, n FROM rate_test ORDER BY window_start"
    ).collect()
    # event at 01:00 lands in 4 sliding windows (starts 00:15..01:00);
    # event at 01:20 in 4 (starts 00:30..01:15); overlap = starts
    # 00:30, 00:45, 01:00 -> counts [1, 2, 2, 2, 1]
    assert [r["n"] for r in rows] == [1, 2, 2, 2, 1]
    total = sum(r["n"] for r in rows)
    assert total == 2 * 4  # each event in exactly window/slide = 4 windows


def test_correlate_streams_interval_join(spark, tmp_path):
    from lynx_spark.streaming import correlate_streams, parse_write_stream

    MIN_US = 60_000_000
    # Spark initializes the streaming watermark to epoch 0, so rows
    # with event times at/near the epoch are treated as late and
    # dropped from join state — use realistic timestamps
    BASE = 1_700_000_000_000_000  # 2023-11-14 UTC
    left_dir = tmp_path / "in_left"
    right_dir = tmp_path / "in_right"
    _write_jsonl(
        left_dir / "b.json",
        [_req("deploy-a", BASE, meas="deploy", tags={"host": "h1"})],
    )
    _write_jsonl(
        right_dir / "b.json",
        [
            # same host, within 10 min -> matched
            _req("err1", BASE + 5 * MIN_US, meas="errors", tags={"host": "h1"}),
            # same host, beyond the horizon -> dropped
            _req("err2", BASE + 11 * MIN_US, meas="errors", tags={"host": "h1"}),
            # other host, in range -> dropped
            _req("err3", BASE + 5 * MIN_US, meas="errors", tags={"host": "h2"}),
            # same host, BEFORE the deploy -> dropped
            _req("err0", BASE - MIN_US, meas="errors", tags={"host": "h1"}),
        ],
    )
    from lynx_spark.streaming.ingest import WRITE_SCHEMA

    left = parse_write_stream(
        spark.readStream.schema(WRITE_SCHEMA).json(str(left_dir))
    )
    right = parse_write_stream(
        spark.readStream.schema(WRITE_SCHEMA).json(str(right_dir))
    )
    joined = correlate_streams(left, right, tag="host", horizon="10 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("corr_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_corr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM corr_test").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["l_value"], r["r_value"], r["host"]) == ("deploy-a", "err1", "h1")


# ---------------------------------------------------------------------------
# round 5: streaming incremental dedup against the persisted store
# ---------------------------------------------------------------------------


def _write_docs(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t, "source": "s"})
            for i, t in rows
        )
    )


def test_streaming_exact_dedup_across_microbatches(spark, tmp_path):
    """Batch 2's duplicates of batch 1 are dropped via the COMMITTED
    fingerprint store, in-batch dups collapse, and the corpus sink
    holds exactly the distinct texts."""
    from lynx_spark.streaming import dedup_document_stream

    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, "alpha text"), (2, "beta text")])
    _write_docs(
        d / "b2.json",
        [(11, "alpha text"), (12, "gamma text"), (13, "gamma text")],
    )
    from lynx_spark.streaming.incremental import DOC_SCHEMA

    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = dedup_document_stream(docs, store, tmp_path / "ck")
    q.awaitTermination(120)

    corpus = spark.read.parquet(str(store / "corpus"))
    got = sorted((r["doc_id"], r["text"]) for r in corpus.collect())
    assert got == [(1, "alpha text"), (2, "beta text"), (12, "gamma text")]
    fps = spark.read.parquet(str(store / "fingerprints"))
    assert fps.select("fingerprint").distinct().count() == 3


def test_streaming_exact_dedup_replay_is_exactly_once(spark, tmp_path):
    """Restarting the stream over the same source (fresh checkpoint =
    full replay) must not duplicate corpus rows or fingerprints: the
    batch-id-keyed overwrite + marker skip makes replays no-ops."""
    from lynx_spark.streaming import (
        dedup_document_stream,
        read_document_stream,
    )

    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, "alpha text"), (2, "beta text")])
    store = tmp_path / "store"
    ck = tmp_path / "ck"
    for _ in range(2):  # second run replays batch 0 from scratch
        q = dedup_document_stream(read_document_stream(spark, d), store, ck)
        q.awaitTermination(120)
        import shutil

        shutil.rmtree(ck)  # same-path fresh checkpoint = full replay

    corpus = spark.read.parquet(str(store / "corpus"))
    assert corpus.count() == 2
    assert len(list((store / "_commits").glob("b*.json"))) == 1


def test_streaming_near_dup_matches_store(spark, tmp_path):
    """Near tier: batch 2's near-duplicate of a batch-1 document
    surfaces as a (new_id, seen_id, jaccard) match row via the
    persisted signature store; novel documents match nothing."""
    from lynx_spark.streaming import near_dup_document_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river shore"
    other = "completely different text about spark query engines and columnar formats"
    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, base), (2, other)])
    _write_docs(d / "b2.json", [(21, near), (22, "novel words entirely fresh here today")])
    from lynx_spark.streaming.incremental import DOC_SCHEMA

    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = near_dup_document_stream(docs, store, tmp_path / "ck", threshold=0.5)
    q.awaitTermination(180)

    matches = spark.read.parquet(str(store / "matches"))
    rows = [(r["new_id"], r["seen_id"]) for r in matches.collect()]
    assert rows == [(21, 1)]
    # signatures of BOTH batches persisted for future batches
    sigs = spark.read.parquet(str(store / "signatures"))
    assert sorted(r["doc"] for r in sigs.collect()) == [1, 2, 21, 22]


def test_streaming_near_dup_replay_is_exactly_once(spark, tmp_path):
    """Full replay (fresh checkpoint) of the near tier must not
    duplicate match rows or signature rows: marker-committed batch
    dirs make the replay a no-op."""
    from lynx_spark.streaming import near_dup_document_stream, read_document_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, base), (2, "other words entirely")])
    store = tmp_path / "store"
    ck = tmp_path / "ck"
    for _ in range(2):
        q = near_dup_document_stream(read_document_stream(spark, d), store, ck)
        q.awaitTermination(120)
        import shutil

        shutil.rmtree(ck)  # same-path fresh checkpoint = full replay
    sigs = spark.read.parquet(str(store / "signatures"))
    assert sorted(r["doc"] for r in sigs.collect()) == [1, 2]
    assert len(list((store / "_commits").glob("b*.json"))) == 1


def test_streaming_curation_pipeline(spark, tmp_path):
    """Quality gate -> PII scrub -> incremental dedup across two
    micro-batches: low-quality docs drop, PII is redacted in the
    curated corpus, and a post-scrub duplicate from a later batch
    dedups against the store."""
    from lynx_spark.streaming import curate_document_stream

    good = " ".join(["the", "and"] + [f"word{i}" for i in range(22)])
    with_pii = good + " contact someone@example.com now"
    junk = "the and of"  # fails the word-count rule
    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, good), (2, junk), (3, with_pii)])
    # doc 11: same text as doc 3 after redaction -> dedups vs store
    _write_docs(d / "b2.json", [(11, good + " contact other@example.org now")])
    from lynx_spark.streaming.incremental import DOC_SCHEMA

    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = curate_document_stream(docs, store, tmp_path / "ck")
    q.awaitTermination(120)

    corpus = {r["doc_id"]: r["text"] for r in spark.read.parquet(str(store / "corpus")).collect()}
    assert set(corpus) == {1, 3}  # junk dropped; 11 deduped vs 3
    assert "[EMAIL]" in corpus[3] and "someone" not in corpus[3]


def test_streaming_clustering_matches_batch_resolution(spark, tmp_path):
    """Streaming cluster maintenance across two micro-batches equals
    the batch q58 resolution over the full corpus: in-batch pairs,
    cross-batch pairs and prior-assignment folding all compose."""
    from lynx_spark.operators import dedup as dd
    from lynx_spark.operators import graph as gr
    from lynx_spark.streaming import cluster_document_stream
    from lynx_spark.streaming.incremental import DOC_SCHEMA

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river shore"
    other = "completely different text about spark query engines and columnar formats"
    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, base), (2, other)])
    _write_docs(d / "b2.json", [(21, near), (22, base)])  # both near/dup of 1
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = cluster_document_stream(docs, store, tmp_path / "ck")
    q.awaitTermination(180)

    batches = sorted(
        p.name for p in (store / "assignments").iterdir() if p.is_dir()
    )
    latest = spark.read.parquet(str(store / "assignments" / batches[-1]))
    got = {r["doc_id"]: r["cluster_id"] for r in latest.collect()}

    all_docs = spark.createDataFrame(
        [(1, base), (2, other), (21, near), (22, base)], ["doc_id", "text"]
    )
    pairs = dd.minhash_lsh_pairs(all_docs, "doc_id", "text", threshold=0.5)
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in gr.dedup_clusters(all_docs, pairs, "doc_id").collect()
    }
    assert got == want
    assert got[21] == got[22] == got[1] == 1  # near-dups fold into 1
    assert got[2] == 2


def test_streaming_clustering_snapshot_retention(spark, tmp_path):
    """Only the newest retain_snapshots assignment snapshots survive;
    the latest still answers queries."""
    from lynx_spark.streaming import cluster_document_stream
    from lynx_spark.streaming.incremental import DOC_SCHEMA

    d = tmp_path / "in"
    for i in range(3):
        _write_docs(d / f"b{i}.json", [(100 * i + 1, f"unique words batch {i} here now")])
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = cluster_document_stream(docs, store, tmp_path / "ck", retain_snapshots=1)
    q.awaitTermination(180)

    snaps = sorted(p.name for p in (store / "assignments").iterdir() if p.is_dir())
    assert len(snaps) == 1  # only the newest kept
    latest = spark.read.parquet(str(store / "assignments" / snaps[-1]))
    assert latest.count() == 3  # full assignment still present


def test_store_refuses_foreign_checkpoint(spark, tmp_path):
    """A store with commits is bound to its checkpoint lineage: a
    different checkpointLocation must fail loudly instead of
    mis-skipping renumbered batches (exactly-once would silently
    drop new documents otherwise)."""
    import pytest as _pytest

    from lynx_spark.streaming import dedup_document_stream, read_document_stream

    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, "alpha text")])
    store = tmp_path / "store"
    q = dedup_document_stream(read_document_stream(spark, d), store, tmp_path / "ck1")
    q.awaitTermination(120)
    with _pytest.raises(ValueError, match="bound to checkpoint"):
        dedup_document_stream(read_document_stream(spark, d), store, tmp_path / "ck2")


def test_streaming_embedding_assign_against_persisted_index(spark, tmp_path):
    """Two micro-batches of vectors assigned via a PERSISTED IVF
    index: cell ids match the batch assignment, a batch-2 copy of a
    batch-1 vector is flagged as a cross-batch near-dup (same cell,
    cosine 1.0), and the store accumulates all committed vectors."""
    from pyspark.sql import functions as F
    from lynx_spark.operators import similarity as sim
    from lynx_spark.streaming.incremental import embedding_stream_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    index_path = str(tmp_path / "ivf")
    sim.save_ivf_index(spark, index_path, sim.train_ivf_centroids(vecs))

    rows = [
        (int(r["nid"]), [float(x) for x in r["v"]])
        for r in vecs.orderBy("nid").limit(4).collect()
    ]
    d = tmp_path / "in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps({"vec_id": i, "embedding": v}) for i, v in rows[:2]
        )
    )
    # batch 2: one fresh vector + an exact copy of batch 1's first
    (d / "b2.json").write_text(
        "\n".join(
            json.dumps({"vec_id": i, "embedding": v})
            for i, v in [rows[2], (100, rows[0][1])]
        )
    )
    from lynx_spark.streaming.incremental import EMB_SCHEMA

    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = embedding_stream_assign(stream, index_path, store, tmp_path / "ck")
    q.awaitTermination(120)

    stored = spark.read.parquet(str(store / "vectors"))
    assert stored.count() == 4
    # assignments match the batch-side pure function of the same index
    centroids = sim.load_ivf_index(spark, index_path)
    expect = {
        r["nid"]: r["cid"]
        for r in vecs.limit(4)
        .withColumn("cid", sim._ivf_assign(F.col("v"), centroids))
        .collect()
    }
    got = {r["vec_id"]: r["cid"] for r in stored.collect() if r["vec_id"] != 100}
    assert got == {k: v for k, v in expect.items() if k in got}
    matches = spark.read.parquet(str(store / "vec_matches"))
    m = [(r["new_id"], r["seen_id"], r["cos_sim"]) for r in matches.collect()]
    assert (100, rows[0][0], 1.0) in m  # the cross-batch exact copy


def test_streaming_embedding_replay_is_exactly_once(spark, tmp_path):
    """Full replay (fresh checkpoint) of the embedding tier must not
    duplicate stored vectors or match rows — marker-committed batch
    dirs make the replay a no-op (same contract as the text tiers)."""
    from pyspark.sql import functions as F
    from lynx_spark.operators import similarity as sim
    from lynx_spark.streaming import embedding_stream_assign
    from lynx_spark.streaming.incremental import EMB_SCHEMA

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    index_path = str(tmp_path / "ivf")
    sim.save_ivf_index(spark, index_path, sim.train_ivf_centroids(vecs))
    rows = [
        (int(r["nid"]), [float(x) for x in r["v"]])
        for r in vecs.orderBy("nid").limit(2).collect()
    ]
    d = tmp_path / "in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(json.dumps({"vec_id": i, "embedding": v}) for i, v in rows)
    )
    store = tmp_path / "store"
    ck = tmp_path / "ck"
    for _ in range(2):
        stream = spark.readStream.schema(EMB_SCHEMA).json(str(d))
        q = embedding_stream_assign(stream, index_path, store, ck)
        q.awaitTermination(120)
        import shutil

        shutil.rmtree(ck)  # same-path fresh checkpoint = full replay
    stored = spark.read.parquet(str(store / "vectors"))
    assert sorted(r["vec_id"] for r in stored.collect()) == [r[0] for r in rows]
    assert len(list((store / "_commits").glob("b*.json"))) == 1


def test_store_snapshot_time_travel(spark, tmp_path):
    """read_store_snapshot(as_of=N) reproduces the corpus exactly as
    it stood after batch N committed — the reproducible-training-set
    contract the marker commits make possible."""
    from lynx_spark.streaming import (
        dedup_document_stream,
        read_document_stream,
        read_store_snapshot,
    )

    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, "alpha text"), (2, "beta text")])
    _write_docs(d / "b2.json", [(11, "alpha text"), (12, "gamma text")])
    store = tmp_path / "store"
    docs = (
        spark.readStream.schema(
            __import__(
                "lynx_spark.streaming.incremental", fromlist=["DOC_SCHEMA"]
            ).DOC_SCHEMA
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = dedup_document_stream(docs, store, tmp_path / "ck")
    q.awaitTermination(120)

    latest = read_store_snapshot(spark, store, "corpus")
    assert latest.count() == 3  # alpha, beta, gamma survive overall
    first = read_store_snapshot(spark, store, "corpus", as_of=0)
    assert sorted(r["doc_id"] for r in first.collect()) == [1, 2]
    assert read_store_snapshot(spark, store, "corpus", as_of=-1) is None

    # snapshot diff: v0 -> latest added exactly doc 12 (11 deduped
    # away), removed nothing (append-only store)
    from lynx_spark.streaming.incremental import diff_store_snapshots

    diff = sorted(
        (r["doc_id"], r["change"])
        for r in diff_store_snapshots(
            spark, store, "corpus", as_of_a=0
        ).collect()
    )
    assert diff == [(12, "added")]
    # diffing an empty snapshot against latest reports the full corpus
    full = diff_store_snapshots(spark, store, "corpus", as_of_a=-1)
    assert sorted(r["doc_id"] for r in full.collect()) == [1, 2, 12]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        diff_store_snapshots(spark, tmp_path / "nostore", "corpus", 0)


def test_bloom_tier_on_plain_store_degrades_to_anti_join(spark, tmp_path):
    """Pointing the Bloom tier at a store whose committed history was
    written by the PLAIN tier (no delta filters) must not produce
    false negatives: a filterless committed batch means the merged
    bloom cannot vouch for 'definitely fresh', so the tier degrades
    to the plain anti-join and the cross-tier duplicate is still
    dropped."""
    import shutil

    from lynx_spark.streaming.incremental import (
        DOC_SCHEMA,
        bloom_dedup_document_stream,
        dedup_document_stream,
    )

    d = tmp_path / "in"
    store, ck = tmp_path / "s", tmp_path / "ck"
    _write_docs(d / "b1.json", [(1, "alpha text"), (2, "beta text")])

    def run(fn):
        docs = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        q = fn(docs, store, ck)
        q.awaitTermination(120)

    run(dedup_document_stream)  # batch 0 commits WITHOUT a filter
    _write_docs(d / "b2.json", [(11, "alpha text"), (12, "gamma text")])
    shutil.rmtree(ck)  # same-path replay: batch 0 skips via its marker
    run(bloom_dedup_document_stream)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(store / "corpus")).collect()
    )
    assert got == [
        (1, "alpha text"), (2, "beta text"), (12, "gamma text")
    ]


def test_bloom_streaming_tier_matches_plain_tier(spark, tmp_path):
    """The Bloom-delta streaming tier produces the IDENTICAL corpus to
    the plain exact tier over the same batches, writes one filter per
    committed batch, and replay stays exactly-once."""
    from lynx_spark.streaming.incremental import (
        DOC_SCHEMA,
        bloom_dedup_document_stream,
        dedup_document_stream,
    )

    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, "alpha text"), (2, "beta text")])
    _write_docs(
        d / "b2.json",
        [(11, "alpha text"), (12, "gamma text"), (13, "gamma text")],
    )

    def run(fn, store, ck):
        docs = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        q = fn(docs, store, ck)
        q.awaitTermination(120)
        return sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(str(store / "corpus")).collect()
        )

    plain = run(dedup_document_stream, tmp_path / "s1", tmp_path / "ck1")
    bloom = run(bloom_dedup_document_stream, tmp_path / "s2", tmp_path / "ck2")
    assert plain == bloom == [
        (1, "alpha text"), (2, "beta text"), (12, "gamma text")
    ]
    blooms = sorted((tmp_path / "s2" / "blooms").glob("batch=*/filter.bin"))
    assert len(blooms) == 2  # one delta filter per committed batch
    # replay with a fresh checkpoint is a no-op (markers gate it)
    import shutil

    shutil.rmtree(tmp_path / "ck2")
    again = run(
        bloom_dedup_document_stream, tmp_path / "s2", tmp_path / "ck2"
    )
    assert again == bloom


def _write_docs_src(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t, "source": s})
            for i, t, s in rows
        )
    )


def test_streaming_drift_monitor_per_batch_reports(spark, tmp_path):
    """Each micro-batch gets a PSI report vs the fixed reference: a
    batch matching the reference mix scores ~0 total PSI, a shifted
    batch scores clearly higher, and replay is exactly-once."""
    from lynx_spark.streaming.incremental import (
        DOC_SCHEMA,
        drift_monitor_stream,
    )

    ref = spark.createDataFrame(
        [(i, "t", "web" if i % 2 else "books") for i in range(40)],
        ["doc_id", "text", "source"],
    )
    d = tmp_path / "in"
    _write_docs_src(
        d / "b1.json",
        [(i, "t", "web" if i % 2 else "books") for i in range(20)],
    )
    _write_docs_src(
        d / "b2.json", [(100 + i, "t", "web") for i in range(20)]
    )
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = drift_monitor_stream(docs, ref, "source", store, tmp_path / "ck")
    q.awaitTermination(120)

    batches = sorted(
        p.name for p in (store / "drift").glob("batch=*")
    )
    assert len(batches) == 2
    psi = {}
    for b in batches:
        rows = spark.read.parquet(str(store / "drift" / b)).collect()
        psi[b] = sum(r["psi_term"] for r in rows)
    matched, shifted = sorted(psi.values())
    assert matched < 0.01  # same mix as reference
    assert shifted > 0.2  # all-web batch: strong shift
    assert len(list((store / "_commits").glob("b*.json"))) == 2


def test_streaming_numeric_drift_monitor(spark, tmp_path):
    """The KS twin of the PSI stream: a batch drawn from the
    reference's range scores near-zero max ks_term, a shifted batch
    scores high, commits are exactly-once."""
    import json as _json

    from lynx_spark.streaming.incremental import (
        numeric_drift_monitor_stream,
    )

    ref = spark.createDataFrame(
        [(float(i % 50),) for i in range(100)], ["v"]
    )
    d = tmp_path / "in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(_json.dumps({"v": float(i % 50)}) for i in range(60))
    )
    (d / "b2.json").write_text(
        "\n".join(_json.dumps({"v": 200.0 + i % 50}) for i in range(60))
    )
    docs = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = numeric_drift_monitor_stream(
        docs, ref, "v", store, tmp_path / "ck", nbins=10
    )
    q.awaitTermination(120)
    ks = {}
    for b in sorted(p.name for p in (store / "ksdrift").glob("batch=*")):
        rows = spark.read.parquet(str(store / "ksdrift" / b)).collect()
        ks[b] = max(r["ks_term"] for r in rows)
    lo, hi = sorted(ks.values())
    assert lo < 0.15 and hi > 0.9
    assert len(list((store / "_commits").glob("b*.json"))) == 2


def test_streaming_hll_distinct_count_merges_exactly(spark, tmp_path):
    """The persisted-register stream: after two batches the merged
    estimate EQUALS the batch estimate over the union (max-merge
    mergeability), state stays register-sized, replay is
    exactly-once."""
    import json as _json

    from lynx_spark.operators.quality import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from lynx_spark.streaming.incremental import distinct_count_stream

    d = tmp_path / "in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(_json.dumps({"u": f"a{i}"}) for i in range(300))
    )
    (d / "b2.json").write_text(
        "\n".join(_json.dumps({"u": f"b{i}"}) for i in range(200))
        + "\n"
        + "\n".join(_json.dumps({"u": f"a{i}"}) for i in range(100))
    )
    docs = (
        spark.readStream.schema("u string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = distinct_count_stream(docs, "u", store, tmp_path / "ck")
    q.awaitTermination(120)

    batches = sorted(p.name for p in (store / "counts").glob("batch=*"))
    assert len(batches) == 2
    last = spark.read.parquet(str(store / "counts" / batches[-1])).collect()[0]
    union = spark.createDataFrame(
        [(f"a{i}",) for i in range(300)] + [(f"b{i}",) for i in range(200)],
        ["s"],
    )
    want = hll_estimate_from_registers(
        hll_registers(union, "s")
    ).collect()[0]
    assert last["hll_estimate"] == want["hll_estimate"]  # mergeability
    # 500 distinct, HLL standard error ~6.5%
    assert abs(last["hll_estimate"] - 500) / 500 < 0.2
    regs = spark.read.parquet(str(store / "registers" / batches[-1]))
    assert regs.count() <= 256
    assert len(list((store / "_commits").glob("b*.json"))) == 2


def test_streaming_heavy_hitters_superset_and_bounds(spark, tmp_path):
    """The persisted Misra-Gries stream: after two batches the
    summary (<=k rows forever) contains EVERY true heavy hitter of
    the concatenated stream, each estimate underestimates its true
    count by at most n_total/(k+1), replay is exactly-once."""
    import json as _json

    from lynx_spark.streaming.incremental import heavy_hitters_stream

    k = 10
    # batch 1: 'hot' x 120, tail t0..t59 x1; batch 2: 'hot' x 30,
    # 'warm' x 80, tail u0..u49 x1
    b1 = ["hot"] * 120 + [f"t{i}" for i in range(60)]
    b2 = ["hot"] * 30 + ["warm"] * 80 + [f"u{i}" for i in range(50)]
    d = tmp_path / "in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(_json.dumps({"w": w}) for w in b1)
    )
    (d / "b2.json").write_text(
        "\n".join(_json.dumps({"w": w}) for w in b2)
    )
    docs = (
        spark.readStream.schema("w string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = heavy_hitters_stream(docs, "w", store, tmp_path / "ck", k=k)
    q.awaitTermination(120)

    batches = sorted(p.name for p in (store / "summary").glob("batch=*"))
    assert len(batches) == 2
    summ = {
        r["v"]: r["est_count"]
        for r in spark.read.parquet(
            str(store / "summary" / batches[-1])
        ).collect()
    }
    tot = spark.read.parquet(
        str(store / "totals" / batches[-1])
    ).collect()[0]["n_total"]
    all_words = b1 + b2
    assert tot == len(all_words)
    assert len(summ) <= k  # bounded state

    import collections

    true = collections.Counter(all_words)
    bound = tot / (k + 1)
    # superset guarantee: every value with count > n/(k+1) survives
    for w, c in true.items():
        if c > bound:
            assert w in summ, (w, c, bound)
    # estimates never exceed the truth and undercount by <= bound
    for w, est in summ.items():
        assert est <= true[w]
        assert true[w] - est <= bound
    assert len(list((store / "_commits").glob("b*.json"))) == 2


def test_streaming_percentiles_equal_batch_nearest_rank(spark, tmp_path):
    """The merged grid histogram yields EXACTLY the batch
    nearest-rank percentiles of the concatenated stream, for an
    adversarial two-batch split; histogram state is value-grain."""
    import json as _json
    import math

    from lynx_spark.streaming.incremental import percentile_stream

    b1 = [1.00, 2.00, 2.00, 3.00, 100.00]
    b2 = [0.50, 2.00, 4.00, 4.00, 5.00, 5.00, 6.00]
    d = tmp_path / "in"
    d.mkdir()
    (d / "b1.json").write_text(
        "\n".join(_json.dumps({"value": v}) for v in b1)
    )
    (d / "b2.json").write_text(
        "\n".join(_json.dumps({"value": v}) for v in b2)
    )
    ev = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = percentile_stream(
        ev, "value", store, tmp_path / "ck",
        grid=0.01, percentiles=(25, 50, 75, 90),
    )
    q.awaitTermination(120)

    batches = sorted(p.name for p in (store / "pct").glob("batch=*"))
    assert len(batches) == 2
    got = {
        r["pct"]: r
        for r in spark.read.parquet(str(store / "pct" / batches[-1])).collect()
    }
    allv = sorted(b1 + b2)
    n = len(allv)
    for p in (25, 50, 75, 90):
        rank = math.ceil(p / 100.0 * n)
        expect = allv[rank - 1]
        assert got[p]["n_total"] == n
        assert got[p]["value"] == pytest.approx(expect, abs=1e-9), p
    # histogram state = distinct grid values, not stream length
    hist = spark.read.parquet(str(store / "hist" / batches[-1]))
    assert hist.count() == len(set(allv))
    # replay: re-running against the same checkpoint adds nothing
    assert len(list((store / "_commits").glob("b*.json"))) == 2


def test_streaming_percentiles_carried_cache_restart_and_truncation(
    spark, tmp_path, monkeypatch
):
    """The r15 carried-histogram cache must be invisible to results:
    a RESTARTED stream (fresh closure — cold cache, parquet fallback)
    continuing an existing store, with _HIST_TRUNCATE=1 forcing the
    parquet-backed promotion on every batch, still yields exactly the
    batch nearest-rank percentiles of the full concatenated stream."""
    import json as _json
    import math

    from lynx_spark.streaming import incremental as inc

    monkeypatch.setattr(inc, "_HIST_TRUNCATE", 1)
    b1 = [1.00, 2.00, 2.00, 3.00, 100.00]
    b2 = [0.50, 2.00, 4.00, 4.00, 5.00, 5.00, 6.00]
    b3 = [7.00, 0.25, 2.00]
    d = tmp_path / "in"
    d.mkdir()
    store = tmp_path / "store"
    for i, rows in enumerate((b1, b2), start=1):
        (d / f"b{i}.json").write_text(
            "\n".join(_json.dumps({"value": v}) for v in rows)
        )
    ev = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = inc.percentile_stream(
        ev, "value", store, tmp_path / "ck",
        grid=0.01, percentiles=(25, 50, 75, 90),
    )
    q.awaitTermination(120)
    assert len(list((store / "_commits").glob("b*.json"))) == 2

    # restart: a FRESH percentile_stream call (empty carried cache)
    # picks up the store from the parquet tier and merges batch 3
    (d / "b3.json").write_text(
        "\n".join(_json.dumps({"value": v}) for v in b3)
    )
    ev2 = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q2 = inc.percentile_stream(
        ev2, "value", store, tmp_path / "ck",
        grid=0.01, percentiles=(25, 50, 75, 90),
    )
    q2.awaitTermination(120)

    batches = sorted(p.name for p in (store / "pct").glob("batch=*"))
    assert len(batches) == 3
    got = {
        r["pct"]: r
        for r in spark.read.parquet(
            str(store / "pct" / batches[-1])
        ).collect()
    }
    allv = sorted(b1 + b2 + b3)
    n = len(allv)
    for p in (25, 50, 75, 90):
        rank = math.ceil(p / 100.0 * n)
        assert got[p]["n_total"] == n
        assert got[p]["value"] == pytest.approx(allv[rank - 1], abs=1e-9), p
    hist = spark.read.parquet(str(store / "hist" / batches[-1]))
    assert hist.count() == len(set(allv))


def test_streaming_ohlc_equals_batch_bars(spark, tmp_path):
    """ohlc_stream's merged state must equal the batch q230 bars on
    the concatenated stream for an adversarial split: the two events
    tied on the opening timestamp land in DIFFERENT micro-batches,
    so the merge must re-minimize on the (ts, event_id) witness, not
    trust either batch's local 'first'."""
    import json as _json

    from lynx_spark.plans.analytics import REGISTRY
    from lynx_spark.streaming.incremental import ohlc_stream

    b1 = [
        (2, "2024-01-05 09:00:00", "click", 7.00),  # ties b2's eid=1
        (3, "2024-01-05 12:00:00", "click", 1.00),
    ]
    b2 = [
        (1, "2024-01-05 09:00:00", "click", 5.00),  # true open (eid 1)
        (4, "2024-01-05 23:00:00", "click", 3.00),  # true close
        (5, "2024-01-06 01:00:00", "view", 9.00),
    ]
    d = tmp_path / "in"
    d.mkdir()
    for name, rows in (("b1.json", b1), ("b2.json", b2)):
        (d / name).write_text(
            "\n".join(
                _json.dumps(
                    {"event_id": e, "ts": ts, "event_type": t, "value": v}
                )
                for e, ts, t, v in rows
            )
        )
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    store = tmp_path / "store"
    q = ohlc_stream(ev, store, tmp_path / "ck")
    q.awaitTermination(120)

    batches = sorted(p.name for p in (store / "bars").glob("batch=*"))
    assert len(batches) == 2
    got = sorted(
        map(
            tuple,
            spark.read.parquet(str(store / "bars" / batches[-1]))
            .select("day", "event_type", "open", "high", "low",
                    "close", "n_events")
            .collect(),
        )
    )
    # batch twin over the concatenated data
    allrows = [
        (e, ts, 1, t, v)
        for (e, ts, t, v) in b1 + b2
    ]
    bdir = tmp_path / "batch"
    bdir.mkdir()
    import pyspark.sql.functions as FF

    spark.createDataFrame(
        [(e, ts, u, t, v, "{}") for e, ts, u, t, v in allrows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", FF.col("ts").cast("timestamp")).write.parquet(
        str(bdir / "events.parquet")
    )
    want = sorted(
        map(tuple, REGISTRY["q230_ohlc_bars"].fn(spark, str(bdir)).collect())
    )
    assert got == want
    # the tie resolved to event_id 1's value even though eid 2 came
    # in the earlier batch
    click = [r for r in got if r[1] == "click"][0]
    assert click[2] == 5.00 and click[5] == 3.00
    # replay adds nothing
    assert len(list((store / "_commits").glob("b*.json"))) == 2


@pytest.mark.parametrize("m_bits", [12, 0])
def test_bloom_tier_rejects_bad_m_bits_before_writing(spark, tmp_path, m_bits):
    """A filter size that is not a positive multiple of 8 is refused
    with an error (not an assert, which ``python -O`` strips) before
    the store is bound to the checkpoint: nothing is written."""
    from lynx_spark.streaming import (
        bloom_dedup_document_stream,
        read_document_stream,
    )

    d = tmp_path / "in"
    _write_docs(d / "b1.json", [(1, "alpha text")])
    store = tmp_path / "store"
    with pytest.raises(ValueError, match="m_bits"):
        bloom_dedup_document_stream(
            read_document_stream(spark, d), store, tmp_path / "ck",
            m_bits=m_bits,
        )
    assert not store.exists() or not any(store.iterdir())


def _store_contents(spark, store):
    """Every batch dir of every store family: its rows when it holds
    parquet, else its files' bytes (the Bloom tier's filter.bin)."""
    out = {}
    for fam in sorted(p for p in store.iterdir() if p.is_dir()):
        if fam.name == "_commits":
            continue
        for b in sorted(fam.glob("batch=*")):
            if any(b.glob("*.parquet")):
                rows = spark.read.parquet(str(b)).collect()
                out[fam.name, b.name] = sorted(map(repr, rows))
            else:
                out[fam.name, b.name] = sorted(
                    (f.name, f.read_bytes()) for f in b.iterdir()
                )
    return out


_REPLAY_OPERATORS = [
    "curate", "cluster", "bloom", "drift", "numeric_drift",
    "distinct_count", "heavy_hitters", "percentile", "ohlc",
]


@pytest.mark.parametrize("op", _REPLAY_OPERATORS)
def test_streaming_operator_replay_is_exactly_once(spark, tmp_path, op):
    """Full replay (checkpoint removed and recreated at the same path)
    of each document-stream operator not covered by its own replay
    test: both runs commit the same two markers, and every store
    family's rows are identical after the replay."""
    import shutil

    from lynx_spark.streaming import incremental as inc

    good = " ".join(["the", "and"] + [f"word{i}" for i in range(22)])
    docs_dir = tmp_path / "docs"
    _write_docs_src(
        docs_dir / "b1.json",
        [(1, good, "web"), (2, good + " extra", "books"), (3, "the and of", "web")],
    )
    _write_docs_src(
        docs_dir / "b2.json",
        [(11, good, "web"), (12, "novel words entirely fresh here today", "books")],
    )
    ev_dir = tmp_path / "events"
    for name, rows in (
        ("b1.json", [(1, "2024-01-05 09:00:00", "click", 7.0),
                     (2, "2024-01-05 12:00:00", "view", 1.5)]),
        ("b2.json", [(3, "2024-01-05 09:00:00", "click", 5.0),
                     (4, "2024-01-06 01:00:00", "view", 9.25)]),
    ):
        _write_jsonl(
            ev_dir / name,
            [
                {"event_id": e, "ts": ts, "event_type": t, "value": v}
                for e, ts, t, v in rows
            ],
        )
    ref_docs = spark.createDataFrame(
        [(i, "t", "web" if i % 2 else "books") for i in range(8)],
        ["doc_id", "text", "source"],
    )
    ref_vals = spark.createDataFrame([(float(i),) for i in range(8)], ["value"])
    start = {
        "curate": lambda s, st, ck: inc.curate_document_stream(s, st, ck),
        "cluster": lambda s, st, ck: inc.cluster_document_stream(s, st, ck),
        "bloom": lambda s, st, ck: inc.bloom_dedup_document_stream(
            s, st, ck, m_bits=1 << 13
        ),
        "drift": lambda s, st, ck: inc.drift_monitor_stream(
            s, ref_docs, "source", st, ck
        ),
        "numeric_drift": lambda s, st, ck: inc.numeric_drift_monitor_stream(
            s, ref_vals, "value", st, ck, nbins=4
        ),
        "distinct_count": lambda s, st, ck: inc.distinct_count_stream(
            s, "event_type", st, ck
        ),
        "heavy_hitters": lambda s, st, ck: inc.heavy_hitters_stream(
            s, "event_type", st, ck, k=1
        ),
        "percentile": lambda s, st, ck: inc.percentile_stream(
            s, "value", st, ck
        ),
        "ohlc": lambda s, st, ck: inc.ohlc_stream(s, st, ck),
    }[op]
    if op in ("curate", "cluster", "bloom", "drift"):
        schema, src = inc.DOC_SCHEMA, docs_dir
    else:
        schema = "event_id long, ts timestamp, event_type string, value double"
        src = ev_dir

    store, ck = tmp_path / "store", tmp_path / "ck"
    seen = []
    for _ in range(2):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        start(stream, store, ck).awaitTermination(180)
        shutil.rmtree(ck)  # same-path fresh checkpoint = full replay
        markers = sorted(p.name for p in (store / "_commits").glob("b*.json"))
        seen.append((markers, _store_contents(spark, store)))
    (markers, contents), replayed = seen
    assert len(markers) == 2
    assert contents
    assert replayed == (markers, contents)
