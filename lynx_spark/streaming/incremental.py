"""Streaming incremental dedup: the continuous form of the q56/q57
store tier (operators/dedup.py write/read_fingerprint_store,
build_signature_store) — documents arrive as a Structured Streaming
source, each micro-batch dedups against the PERSISTED store from all
earlier batches, survivors append to the corpus sink and their
fingerprints/signatures become the store's next delta.

The reference engine has no streaming surface (SURVEY §2C); this is
the deliberate superset that makes the dedup family operational for
continuous ingestion, the shape a 100 TB training-data pipeline
actually runs: the store grows O(distinct documents), each batch costs
O(batch) plus one anti-join (exact tier) or one bipartite band join
(near tier) against the store — never a rescan of the corpus.

Every operator here is a per-batch ``body`` run by ONE exactly-once
micro-batch protocol (``_exactly_once``), without the cold tier's
commit machinery (each store owns its whole directory, so it can be
simpler):

1. bind the store to its checkpoint lineage once, at start
   (``<store>/_lineage.json``; see ``_bind_lineage``);
2. skip a ``batch_id`` that already has a marker — a replayed, fully
   committed batch is a no-op;
3. run the body: it writes ``<store>/<family>/batch=NNNNNNNNN``
   directories with ``mode=overwrite`` (a replayed, uncommitted batch
   rebuilds exactly its own files) and returns the marker payload;
4. atomically rename the marker ``<store>/_commits/bNNNNNNNNN.json``;
5. run the operator's post-commit step, if any (carried-state
   promotion, snapshot retention) — strictly after the marker lands;
6. start the ``foreachBatch`` query with the caller's
   ``checkpointLocation`` and an ``availableNow`` trigger, and return
   it.

Readers — including the NEXT batch loading the store — only read
marker-committed batch directories, so a half-written replay attempt
is invisible everywhere, not just inside the stream. DELTA stores
(each batch dir holds that batch's additions) are read as the union of
committed dirs (``read_store_snapshot``); FULL-snapshot stores (each
batch dir holds the whole state) as the newest committed dir
(``_latest_snapshot``).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lynx_spark.operators import dedup as dd

#: the document-corpus ingest contract: stable id, raw text, domain
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), False),
        StructField("source", StringType(), True),
    ]
)

_COMMITS = "_commits"

#: carried-state lineage cap for percentile_stream (r15): the merged
#: histogram promoted across micro-batches gains one union+agg plan
#: layer per batch; every _HIST_TRUNCATE-th batch promotes the
#: parquet-backed frame instead, resetting the plan to a file leaf
#: (the graph loop's _TRUNCATE_EVERY discipline). Module-level so
#: tests can force the truncation regime.
_HIST_TRUNCATE = 8


def read_document_stream(spark: SparkSession, json_dir: str | Path) -> DataFrame:
    """File-source stream of JSONL documents (one per line)."""
    return spark.readStream.schema(DOC_SCHEMA).json(str(json_dir))


def _committed_batches(root: Path) -> list[int]:
    commits = root / _COMMITS
    if not commits.exists():
        return []
    return sorted(
        int(p.stem[1:]) for p in commits.glob("b*.json")
    )


def _commit(root: Path, batch_id: int, payload: dict) -> None:
    commits = root / _COMMITS
    commits.mkdir(parents=True, exist_ok=True)
    tmp = commits / f".b{batch_id:09d}.json.tmp"
    tmp.write_text(json.dumps(payload))
    os.replace(tmp, commits / f"b{batch_id:09d}.json")


def _batch_dir(root: Path, name: str, batch_id: int) -> Path:
    return root / name / f"batch={batch_id:09d}"


def _bind_lineage(root: Path, checkpoint_dir: str | Path) -> None:
    """A store directory is bound to ONE checkpoint lineage: batch ids
    are only stable within a checkpoint, so markers written under a
    previous lineage would mis-skip renumbered batches with DIFFERENT
    contents — new documents silently dropped (r5 review). The first
    stream records its checkpoint path; pointing a different
    checkpoint at a store that already has commits fails loudly.
    Deleting and recreating the SAME checkpoint path is the supported
    full-replay mode (the markers then make the replay exactly-once);
    an unused store rebinds freely."""
    lineage = root / "_lineage.json"
    me = str(Path(checkpoint_dir).resolve())
    if lineage.exists():
        prev = json.loads(lineage.read_text()).get("checkpoint")
        if prev == me:
            return
        if _committed_batches(root):
            raise ValueError(
                f"store {root} is bound to checkpoint {prev}; refusing "
                f"different checkpoint {me} — resume with the original "
                "checkpointLocation (delete and recreate it at the same "
                "path for a full replay), or use a fresh store directory"
            )
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / ".lineage.tmp"
    tmp.write_text(json.dumps({"checkpoint": me}))
    os.replace(tmp, lineage)


def _exactly_once(stream, store_dir, checkpoint_dir, body, after_commit=None):
    """The module's one exactly-once micro-batch protocol (steps in
    the module docstring): ``body(root, batch, batch_id)`` writes the
    batch's ``batch=N`` dirs and returns the marker payload;
    ``after_commit(root, batch_id)`` runs only once the marker is
    durable. Returns the started StreamingQuery."""
    root = Path(store_dir)
    _bind_lineage(root, checkpoint_dir)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if batch_id in set(_committed_batches(root)):
            return  # replayed, fully committed batch: exactly-once
        _commit(root, batch_id, body(root, batch, batch_id))
        if after_commit is not None:
            after_commit(root, batch_id)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def _exact_dedup_body(
    root: Path, rows_in: DataFrame, batch_id: int, tier: str
) -> dict:
    """The exact-dedup body shared by the dedup and curation streams:
    anti-join the committed fingerprint store, append the surviving
    rows and their fingerprint delta under batch-keyed overwrite
    dirs, and return the marker payload."""
    spark = rows_in.sparkSession
    seen = read_store_snapshot(spark, root, "fingerprints")
    if seen is None:
        seen = spark.createDataFrame([], "fingerprint string")
    surv = dd.incremental_exact_survivors(
        rows_in, seen.select("fingerprint"), "doc_id", "text"
    )
    rows = rows_in.join(
        surv.select(F.col("survivor_id").alias("doc_id")), "doc_id"
    ).persist()
    rows.count()  # eager: corpus write + fingerprint write share it
    rows.write.mode("overwrite").parquet(
        str(_batch_dir(root, "corpus", batch_id))
    )
    rows.select(F.md5("text").alias("fingerprint")).write.mode(
        "overwrite"
    ).parquet(str(_batch_dir(root, "fingerprints", batch_id)))
    rows.unpersist()
    return {"tier": tier}


def read_store_snapshot(
    spark: SparkSession,
    store_dir: str | Path,
    name: str,
    as_of: int | None = None,
) -> DataFrame | None:
    """Time-travel read of a streaming store: the union of
    marker-committed batch directories with batch id ≤ ``as_of``
    (None = latest). The marker commits already define a total order
    of immutable batch directories, so any historical corpus /
    fingerprint / signature / vector state is reproducible EXACTLY —
    the "train on the corpus as of batch N" contract a reproducible
    training pipeline needs. Returns None when nothing had committed
    by ``as_of``.

    DELTA stores only (corpus/fingerprints/signatures/matches/vectors
    — each batch dir holds that batch's additions, so the union IS
    the state). FULL-snapshot-per-batch stores (cluster assignments,
    heavy-hitter summary/totals, percentile hist, OHLC state) would
    double-count if unioned: ``_latest_snapshot`` reads them.

    Each ``batch=N`` directory is read as its own base path, so NO
    partition column is inferred — the frame carries exactly the
    store's data columns. Reading an explicit path list (not the
    parent dir) is what keeps half-written replay attempts invisible
    to the NEXT batch."""
    root = Path(store_dir)
    batches = [
        b for b in _committed_batches(root) if as_of is None or b <= as_of
    ]
    paths = [
        str(d)
        for b in batches
        if (d := _batch_dir(root, name, b)).exists()
    ]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _latest_snapshot(
    spark: SparkSession, root: Path, name: str
) -> DataFrame | None:
    """The newest marker-committed ``<name>/batch=N`` dir of a
    FULL-snapshot-per-batch store, or None when there is none. A
    committed batch without that family's dir (retention dropped it,
    or it was deleted by hand) falls back to the next older one."""
    for b in reversed(_committed_batches(root)):
        d = _batch_dir(root, name, b)
        if d.exists():
            return spark.read.parquet(str(d))
    return None


def diff_store_snapshots(
    spark: SparkSession,
    store_dir: str | Path,
    name: str,
    as_of_a: int,
    as_of_b: int | None = None,
    key_col: str = "doc_id",
) -> DataFrame:
    """What changed between two committed snapshots of a store — the
    reproducibility audit behind "training run X used corpus v3, run
    Y used v5; what moved?". Returns (key, change) rows where change
    is 'added' or 'removed', comparing the ``as_of_a`` snapshot to
    ``as_of_b`` (None = latest) by ``key_col``. Batch directories are
    immutable and append-only under the marker total order, so for a
    pure append store the 'removed' side is empty and the diff is
    exactly the batches in (a, b] — but the diff is computed by
    anti-joins, not assumed, so it also holds for stores whose tiers
    rewrite survivors. Two broadcast-friendly anti-joins; no
    collect."""
    a = read_store_snapshot(spark, store_dir, name, as_of=as_of_a)
    b = read_store_snapshot(spark, store_dir, name, as_of=as_of_b)
    empty = None
    for side in (a, b):
        if side is not None:
            empty = side.select(key_col).limit(0)
            break
    if empty is None:
        raise ValueError(
            f"store {store_dir}/{name} has no committed batches to diff"
        )
    ka = a.select(key_col) if a is not None else empty
    kb = b.select(key_col) if b is not None else empty
    added = kb.join(ka, key_col, "left_anti").select(
        key_col, F.lit("added").alias("change")
    )
    removed = ka.join(kb, key_col, "left_anti").select(
        key_col, F.lit("removed").alias("change")
    )
    return added.unionByName(removed)


def dedup_document_stream(
    docs: DataFrame,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
):
    """Exact-tier streaming dedup: per micro-batch, dedup within the
    batch (min doc_id per md5 fingerprint), anti-join the committed
    fingerprint store, append survivors under ``<store>/corpus`` and
    their fingerprints under ``<store>/fingerprints`` — the streaming
    twin of incremental_exact_survivors (q56), sharing its operator.

    Returns the StreamingQuery (availableNow trigger: the caller
    drains what exists and awaits termination; swap the trigger for
    continuous deployments)."""

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        # survivor rows carry the batch's full payload (the join back
        # to the batch happens inside the shared body)
        return _exact_dedup_body(root, batch, batch_id, "exact")

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def near_dup_document_stream(
    docs: DataFrame,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    threshold: float = 0.5,
):
    """Near-dup tier streaming dedup: per micro-batch, build minhash
    signatures for the batch, band-join them against the committed
    signature store (bipartite: new×seen only, never new×new of prior
    batches), verify with true Jaccard, write the matches under
    ``<store>/matches`` and append the batch's signatures under
    ``<store>/signatures`` — the streaming twin of
    incremental_minhash_matches_from_store (q57), sharing its
    operator and store schema.

    Matches are advisory output (downstream decides drop/keep); every
    batch's signatures join the store regardless, so later batches
    also match against near-dup survivors, mirroring the batch tier."""

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        seen = read_store_snapshot(spark, root, "signatures")
        sig = dd.build_signature_store(batch, "doc_id", "text").persist()
        sig.count()  # eager: match join + store write share it
        if seen is not None:
            matches = dd.incremental_minhash_matches_from_store(
                batch,
                seen,
                "doc_id",
                "text",
                threshold=threshold,
                new_sig=sig,
            )
        else:
            matches = spark.createDataFrame(
                [], "new_id long, seen_id long, jaccard double"
            )
        matches.write.mode("overwrite").parquet(
            str(_batch_dir(root, "matches", batch_id))
        )
        sig.write.mode("overwrite").parquet(
            str(_batch_dir(root, "signatures", batch_id))
        )
        sig.unpersist()
        return {"tier": "near"}

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def curate_document_stream(
    docs: DataFrame,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
):
    """End-to-end streaming curation — the continuous twin of the
    batch pipeline (plans/pipeline.curate_documents, q48): each
    micro-batch flows quality gate → PII scrub → incremental exact
    dedup, and only documents passing ALL stages land in the curated
    corpus:

    1. Gopher composite filter (quality.gopher_rules) drops
       low-quality documents — per-row expressions, no state;
    2. PII redaction (functions/text.with_pii_redacted) rewrites the
       surviving text — per-row regex, no state;
    3. exact dedup against the committed fingerprint store
       (fingerprints of the REDACTED text, so two documents equal
       after scrubbing dedup as equal — the order the batch pipeline
       uses too).

    Stage order matters for cost: the stateless gates run first so
    the stateful dedup join only sees documents worth keeping.
    Outputs under ``<store>``: ``corpus/`` (curated rows: doc_id,
    source, redacted text), ``fingerprints/`` (store deltas), with
    the same batch-keyed overwrite + marker commit discipline as
    dedup_document_stream — exactly-once under full replay."""
    from lynx_spark.functions.text import with_pii_redacted
    from lynx_spark.operators.quality import gopher_rules

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        kept = batch.join(
            gopher_rules(batch, "doc_id", "text")
            .filter(F.col("keep"))
            .select("doc_id"),
            "doc_id",
        )
        scrubbed = with_pii_redacted(kept, "text").select(
            "doc_id",
            "source",
            F.col("redacted").alias("text"),
        )
        return _exact_dedup_body(root, scrubbed, batch_id, "curate")

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def cluster_document_stream(
    docs: DataFrame,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    threshold: float = 0.5,
    retain_snapshots: int = 2,
):
    """Streaming near-dup CLUSTERING: the near tier plus incremental
    cluster maintenance — each micro-batch band-joins the committed
    signature store (new×seen), finds its in-batch pairs (new×new),
    folds both into the prior cluster assignment via
    graph.update_clusters (prior assignment → doc→cluster edges, one
    O(log n) CC pass — historical pairs are never re-derived), and
    commits the updated assignment snapshot alongside the signature
    delta. ``<store>/assignments/batch=N`` holds the FULL assignment
    after batch N (compact: two longs per document); the latest
    committed snapshot is the queryable dedup state at any moment —
    the streaming answer to q58.

    Exactly-once by the same batch-keyed overwrite + marker
    discipline; a replayed batch rebuilds its snapshot from the
    PRIOR batch's committed state, so replays converge to identical
    snapshots. Snapshots are full corpus-sized tables, so only the
    newest ``retain_snapshots`` committed ones are kept (a replayed
    batch only ever reads the immediately prior snapshot; older ones
    are unreachable) — the assignment store stays O(retain × corpus),
    not O(batches × corpus)."""
    from lynx_spark.operators import graph as gr

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        seen_sig = read_store_snapshot(spark, root, "signatures")
        sig = dd.build_signature_store(batch, "doc_id", "text").persist()
        sig.count()
        # in-batch pairs from the ALREADY-built signatures (r5 review:
        # minhash_lsh_pairs here rebuilt the identical signature table
        # — the batch's most expensive stage — a second time)
        in_batch = dd.minhash_pairs_from_sig(sig, threshold).select(
            F.col("a_id").alias("new_id"), F.col("b_id").alias("seen_id")
        )
        if seen_sig is not None:
            cross = dd.incremental_minhash_matches_from_store(
                batch, seen_sig, "doc_id", "text",
                threshold=threshold, new_sig=sig,
            ).select("new_id", "seen_id")
            pairs = in_batch.unionByName(cross)
        else:
            pairs = in_batch
        # the running batch has no marker yet, and markers are always a
        # prefix of the batch ids: the newest committed snapshot is the
        # prior batch's
        prior = _latest_snapshot(spark, root, "assignments")
        if prior is not None:
            prior = prior.select("doc_id", "cluster_id")
        else:
            prior = spark.createDataFrame(
                [], "doc_id long, cluster_id long"
            )
        assignments = gr.update_clusters(
            prior, batch.select("doc_id"), pairs
        )
        assignments.write.mode("overwrite").parquet(
            str(_batch_dir(root, "assignments", batch_id))
        )
        sig.write.mode("overwrite").parquet(
            str(_batch_dir(root, "signatures", batch_id))
        )
        sig.unpersist()
        return {"tier": "cluster"}

    def retain(root: Path, batch_id: int) -> None:
        # bounded retention: committed snapshots older than the newest
        # retain_snapshots are unreachable (replays read only the
        # immediately prior committed snapshot) — drop their files
        for b in _committed_batches(root)[:-retain_snapshots]:
            shutil.rmtree(
                _batch_dir(root, "assignments", b), ignore_errors=True
            )

    return _exactly_once(
        docs, store_dir, checkpoint_dir, body, after_commit=retain
    )


#: the embedding ingest contract: stable id + fixed-dim vector
EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(DoubleType()), False),
    ]
)


def read_embedding_stream(spark: SparkSession, json_dir: str | Path) -> DataFrame:
    return spark.readStream.schema(EMB_SCHEMA).json(str(json_dir))


def embedding_stream_assign(
    vecs: DataFrame,
    index_path: str | Path,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    threshold: float = 0.95,
):
    """Streaming embedding ingestion against a PERSISTED IVF index
    (similarity.save_ivf_index): per micro-batch, assign each vector
    to its quantizer cell, flag near-duplicates against the committed
    vector store (cosine ≥ ``threshold``, candidates restricted to
    the SAME cell — the SemDeDup cluster-then-compare shape, bipartite
    new×seen like the text near-dup tier), append matches under
    ``<store>/vec_matches`` and the batch's assigned vectors under
    ``<store>/vectors``. The continuous form of the embedding dedup /
    ANN family: the index is trained once offline, every batch costs
    one assignment projection plus one cell-keyed bipartite join
    against the store — never a rescan, never new×new of prior
    batches.

    Exactly-once via the shared marker-commit machinery (a replayed
    batch rebuilds exactly its own files; readers see only committed
    batch directories)."""
    from lynx_spark.operators import similarity as sim

    # the index is immutable — load the k×dim model ONCE, not per batch
    centroids = sim.load_ivf_index(vecs.sparkSession, str(index_path))

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        assigned = (
            batch.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
            .withColumn("cid", sim._ivf_assign(F.col("v"), centroids))
            .withColumn("nrm", sim.norm(F.col("v")))
            .persist()
        )
        assigned.count()  # eager: match join + store write share it
        seen = read_store_snapshot(spark, root, "vectors")
        if seen is not None:
            matches = (
                assigned.alias("n")
                .join(
                    seen.alias("s"),
                    F.col("n.cid") == F.col("s.cid"),
                )
                .withColumn(
                    "cos_sim",
                    F.round(
                        sim.dot(F.col("n.v"), F.col("s.v"))
                        / (F.col("n.nrm") * F.col("s.nrm")),
                        5,
                    ),
                )
                .filter(F.col("cos_sim") >= threshold)
                .select(
                    F.col("n.vec_id").alias("new_id"),
                    F.col("s.vec_id").alias("seen_id"),
                    "cos_sim",
                )
            )
        else:
            matches = spark.createDataFrame(
                [], "new_id long, seen_id long, cos_sim double"
            )
        matches.write.mode("overwrite").parquet(
            str(_batch_dir(root, "vec_matches", batch_id))
        )
        assigned.write.mode("overwrite").parquet(
            str(_batch_dir(root, "vectors", batch_id))
        )
        assigned.unpersist()
        return {"tier": "embedding"}

    return _exactly_once(vecs, store_dir, checkpoint_dir, body)


def _committed_bloom(root: Path, m_bits: int) -> tuple[bytes | None, bool]:
    """OR-merge of the committed per-batch Bloom delta filters —
    membership state for the whole ingested corpus from FILTER BYTES
    alone (m/8 bytes per batch), never a rescan of the fingerprint
    parquet. Returns (merged, complete): merged is None when no batch
    has committed a filter yet; complete is False when some COMMITTED
    batch has no filter (a store previously populated by the plain
    tier) — such a store's membership cannot be prefiltered, because
    a fingerprint ingested by a filterless batch would pass the bloom
    as 'definitely fresh' (a false negative the Bloom contract
    forbids). Callers must route every row through the anti-join in
    that case."""
    from lynx_spark.operators.dedup import _or_bytes

    merged: bytes | None = None
    complete = True
    for b in _committed_batches(root):
        f = _batch_dir(root, "blooms", b) / "filter.bin"
        if not f.exists():
            complete = False
            continue
        bits = f.read_bytes()
        if len(bits) != m_bits // 8:
            raise ValueError(
                f"bloom filter size mismatch in batch {b}: "
                f"{len(bits)} bytes vs m_bits={m_bits}"
            )
        merged = bits if merged is None else _or_bytes(merged, bits)
    return merged, complete


def bloom_dedup_document_stream(
    docs: DataFrame,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    m_bits: int = 1 << 23,
):
    """Exact-tier streaming dedup with PERSISTED Bloom delta filters —
    the Common-Crawl-scale variant of ``dedup_document_stream``: each
    committed batch also writes the Bloom filter of ITS fingerprint
    delta (m/8 bytes); the next batch OR-merges the committed filter
    bytes (never rescanning the fingerprint parquet), prefilters its
    rows through the merged filter, and only the maybe-dup remainder
    pays the anti-join against the committed store. Per-batch
    membership cost becomes O(batch) probes + O(batches) 1 MiB filter
    reads, independent of corpus size.

    Output contract and exactly-once protocol are IDENTICAL to the
    plain tier (asserted in tests): no false negatives, so every true
    duplicate still reaches the anti-join; the delta filter commits
    atomically with its batch (written before the marker, invisible
    until it)."""
    from lynx_spark.operators.dedup import (
        _bloom_positions,
        build_fingerprint_bloom,
    )

    # before the lineage binds: a rejected call leaves the store untouched
    if m_bits <= 0 or m_bits % 8:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        fp = batch.select(
            F.md5(F.col("text")).alias("fingerprint"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        in_batch = fp.groupBy("fingerprint").agg(
            F.min("doc_id").alias("survivor_id")
        )
        merged, complete = _committed_bloom(root, m_bits)
        if not complete:
            # a committed batch carries no filter (plain-tier history):
            # the merged bloom would report its fingerprints as fresh
            # (false negatives) — degrade to the plain tier's full
            # anti-join, correctness over the prefilter speedup
            seen = read_store_snapshot(spark, root, "fingerprints")
            surv = in_batch.join(
                seen.select("fingerprint"), "fingerprint", "left_anti"
            )
        elif merged is None:
            surv = in_batch
        else:
            bc = spark.sparkContext.broadcast(merged)
            m = m_bits

            @F.pandas_udf("boolean")
            def _maybe(fps: pd.Series) -> pd.Series:
                b = bc.value

                def chk(fp_hex) -> bool:
                    if fp_hex is None:
                        return False
                    return all(
                        b[pos >> 3] & (1 << (pos & 7))
                        for pos in _bloom_positions(fp_hex, m)
                    )

                return fps.map(chk)

            flagged = in_batch.withColumn(
                "_maybe", _maybe("fingerprint")
            ).persist()
            flagged.count()
            fresh = flagged.filter(~F.col("_maybe")).drop("_maybe")
            seen = read_store_snapshot(spark, root, "fingerprints")
            confirmed = (
                flagged.filter(F.col("_maybe"))
                .drop("_maybe")
                .join(seen.select("fingerprint"), "fingerprint", "left_anti")
            )
            surv = fresh.unionByName(confirmed)
        rows = batch.join(
            surv.select(F.col("survivor_id").alias("doc_id")), "doc_id"
        ).persist()
        rows.count()  # eager: three writes share it
        rows.write.mode("overwrite").parquet(
            str(_batch_dir(root, "corpus", batch_id))
        )
        delta_fp = rows.select(F.md5("text").alias("fingerprint"))
        delta_fp.write.mode("overwrite").parquet(
            str(_batch_dir(root, "fingerprints", batch_id))
        )
        delta_bits = build_fingerprint_bloom(delta_fp, m_bits)
        bdir = _batch_dir(root, "blooms", batch_id)
        bdir.mkdir(parents=True, exist_ok=True)
        (bdir / "filter.bin").write_bytes(delta_bits)
        rows.unpersist()
        return {"tier": "exact-bloom"}

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def drift_monitor_stream(
    docs: DataFrame,
    reference: DataFrame,
    cat_col: str,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
):
    """Per-micro-batch drift monitoring: every batch's categorical
    distribution is compared against a FIXED reference corpus via the
    PSI operator (quality.category_drift_psi — the batch twin is
    q116), and the per-category report lands under
    ``<store>/drift/batch=N`` with the usual marker-commit
    exactly-once contract. The deploy-time shape of "alert when the
    crawl shifts": the reference histogram is computed once per batch
    at category cardinality (model-sized), the batch is scanned once,
    nothing corpus-sized shuffles.

    Reports are per-batch snapshots (read them back with
    read_store_snapshot semantics on the ``drift`` family); a
    deployment would gate ingestion on ``sum(psi_term)`` of the
    latest batch."""
    from lynx_spark.operators.quality import category_drift_psi

    ref_cats = reference.select(F.col(cat_col))

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        report = category_drift_psi(batch, ref_cats, cat_col)
        report.write.mode("overwrite").parquet(
            str(_batch_dir(root, "drift", batch_id))
        )
        return {"tier": "drift"}

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def numeric_drift_monitor_stream(
    docs: DataFrame,
    reference: DataFrame,
    val_col: str,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    nbins: int = 20,
):
    """The numeric twin of drift_monitor_stream: every micro-batch's
    distribution over ``val_col`` is histogram-compared against the
    fixed reference via the shared KS operator
    (quality.numeric_drift_ks — batch twin q117), report under
    ``<store>/ksdrift/batch=N``, marker-commit exactly-once. A
    deployment gates ingestion on max(ks_term) of the latest batch."""
    from lynx_spark.operators.quality import numeric_drift_ks

    ref_vals = reference.select(F.col(val_col))

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        report = numeric_drift_ks(batch, ref_vals, val_col, nbins=nbins)
        report.write.mode("overwrite").parquet(
            str(_batch_dir(root, "ksdrift", batch_id))
        )
        return {"tier": "ksdrift"}

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def distinct_count_stream(
    docs: DataFrame,
    value_col: str,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
):
    """Streaming distinct counting via a PERSISTED HyperLogLog
    register store — the mergeable-sketch story end to end: each
    micro-batch sketches its values (quality.hll_registers), merges
    with the committed register table by max-per-register
    (quality.hll_merge — merging sketches IS the operation, no raw
    values retained), and writes the merged registers plus the
    running estimate under ``registers/batch=N`` / ``counts/batch=N``
    with the marker-commit exactly-once contract. State is 256 rows
    forever, regardless of stream volume — the reason sketches exist.

    Merged-estimate == union-estimate exactly (asserted in tests):
    max-merge makes replay/merge order irrelevant."""
    from lynx_spark.operators.quality import (
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
    )

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        regs = hll_registers(
            batch.select(F.col(value_col).cast("string").alias("s")), "s"
        )
        prior = read_store_snapshot(spark, root, "registers")
        merged = hll_merge(prior, regs) if prior is not None else regs
        merged = merged.persist()
        merged.count()  # eager: estimate + store write share it
        merged.write.mode("overwrite").parquet(
            str(_batch_dir(root, "registers", batch_id))
        )
        hll_estimate_from_registers(merged).write.mode("overwrite").parquet(
            str(_batch_dir(root, "counts", batch_id))
        )
        merged.unpersist()
        return {"tier": "hll"}

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def heavy_hitters_stream(
    docs: DataFrame,
    value_col: str,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    k: int = 100,
):
    """Streaming heavy hitters via a PERSISTED Misra–Gries summary —
    the streaming twin of ``quality.heavy_hitters_exact``'s pass 1:
    each micro-batch aggregates its values exactly (vocabulary grain
    for the batch), MG-compresses to ≤k rows, merges with the
    committed summary by count sum, and re-compresses — the PODS
    2012 mergeable-summaries operation, so the undercount bound
    n_total/(k+1) holds for ANY batch split and the surviving keys
    are a DETERMINISTIC superset of every value with true count >
    n_total/(k+1). State is ≤k rows forever.

    Compression subtracts the (k+1)-th largest count from every
    counter and drops the non-positive (at most k can exceed it) —
    the threshold is a (k+1)-row driver collect, model-sized by
    construction. Per batch the store gains ``summary/batch=N``
    (value, est_count — an underestimate of the true count by at
    most the bound) and ``totals/batch=N`` (n_total), with the
    marker-commit exactly-once contract. Unlike the batch operator
    there is no second exact-count pass (the stream is gone);
    consumers filter ``est_count`` against their own support
    threshold knowing a true heavy hitter can never be absent."""

    def _compress(counts: DataFrame) -> DataFrame:
        top = (
            counts.orderBy(F.desc("est_count"), F.asc("v"))
            .limit(k + 1)
            .collect()
        )
        if len(top) <= k:
            return counts
        m = top[-1]["est_count"]
        return counts.filter(F.col("est_count") > m).select(
            "v", (F.col("est_count") - F.lit(m)).alias("est_count")
        )

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        vals = batch.select(
            F.col(value_col).cast("string").alias("v")
        ).filter(F.col("v").isNotNull())
        bc = vals.groupBy("v").agg(
            F.count("*").cast("long").alias("est_count")
        )
        n_batch = vals.count()
        summary = _compress(bc)
        # summary/totals are FULL-snapshot-per-batch stores: unioning
        # batch dirs would double-count the summed counters
        prior = _latest_snapshot(spark, root, "summary")
        if prior is not None:
            summary = _compress(
                summary.unionByName(prior)
                .groupBy("v")
                .agg(F.sum("est_count").cast("long").alias("est_count"))
            )
        prior_tot = _latest_snapshot(spark, root, "totals")
        n_total = n_batch + (
            prior_tot.collect()[0]["n_total"] if prior_tot is not None else 0
        )
        summary = summary.persist()
        summary.count()  # eager: store write + commit share it
        summary.write.mode("overwrite").parquet(
            str(_batch_dir(root, "summary", batch_id))
        )
        spark.createDataFrame(
            [(int(n_total),)], "n_total long"
        ).write.mode("overwrite").parquet(
            str(_batch_dir(root, "totals", batch_id))
        )
        summary.unpersist()
        return {"tier": "misra_gries", "k": k}

    return _exactly_once(docs, store_dir, checkpoint_dir, body)


def percentile_stream(
    events: DataFrame,
    value_col: str,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
    grid: float = 0.01,
    percentiles: tuple[int, ...] = (25, 50, 75, 90, 99),
):
    """Streaming EXACT nearest-rank percentiles via a persisted
    grid-value histogram — the streaming twin of the q215/q182 order
    statistics: values snap to a fixed grid (default 0.01 — cents)
    at ingest, each micro-batch aggregates its grid-value counts
    exactly, and the committed histogram merges by count sum — a
    trivially mergeable summary, so the reported percentiles equal a
    batch nearest-rank computation over the full concatenated stream
    (to grid precision) for ANY batch split. State is the distinct
    grid values seen (value-range/grid rows — bounded by the value
    DOMAIN, not the stream length; the `grid` knob coarsens it for
    wide domains, exactly like q190's 1e-4 score grid).

    Per batch the store gains ``hist/batch=N`` (gv, cnt — the merged
    full histogram, value-grain) and ``pct/batch=N`` (pct, value,
    n_total — nearest-rank: smallest grid value whose cumulative
    count reaches ceil(p/100 * n)), with the marker-commit
    exactly-once contract shared by every store in this module."""
    # carried-state cache (r15): the merged histogram of the LAST
    # COMMITTED batch stays persisted across micro-batches, so batch
    # N+1 merges against the in-memory frame instead of re-reading the
    # prior hist parquet from the store every batch. The store layout
    # and exactly-once contract are untouched: the hist/pct files are
    # still written per batch, promotion happens only AFTER the commit
    # marker lands (a crash between hist-write and commit leaves the
    # cache un-promoted, and the replay re-merges from the last
    # COMMITTED state), and a fresh stream (restart) starts with an
    # empty cache and falls back to the parquet read. "merged" holds
    # the body's histogram until the post-commit promotion takes it.
    _carried: dict = {"batch": None, "hist": None, "merged": None}

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        spark = batch.sparkSession
        bh = (
            batch.select(
                F.floor(
                    F.col(value_col).cast("double") / F.lit(grid)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("gv")
            )
            .filter(F.col("gv").isNotNull())
            .groupBy("gv")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        committed = _committed_batches(root)
        if committed and _carried["batch"] == committed[-1]:
            prior = _carried["hist"]
        else:
            prior = _latest_snapshot(spark, root, "hist")
        if prior is not None:
            bh = (
                bh.unionByName(prior)
                .groupBy("gv")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        # persist WITHOUT an eager count (r14): the hist write below is
        # itself an action that populates the cache, and the percentile
        # pass then reads it — the separate count job per micro-batch
        # was pure scheduling overhead
        bh = _carried["merged"] = bh.persist()
        bh.write.mode("overwrite").parquet(
            str(_batch_dir(root, "hist", batch_id))
        )
        # nearest-rank percentiles over the value-grain histogram:
        # cumulative counts behind one ordered window (model-sized —
        # the histogram is domain-bounded), every requested p joined
        # against the first row reaching its rank
        from pyspark.sql.window import Window

        wv = Window.orderBy("gv").rowsBetween(
            Window.unboundedPreceding, 0
        )
        # the grand total rides the SAME window spec with an
        # unbounded-both frame (r15): a separate Window.partitionBy()
        # spec made a second Window node (and exchange); same
        # partitioning + ordering lets one window pass compute both
        # frames — identical long sums either way
        wn = Window.orderBy("gv").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = bh.select(
            "gv",
            F.sum("cnt").over(wv).cast("long").alias("cum"),
            F.sum("cnt").over(wn).cast("long").alias("n"),
        )
        pcts = spark.createDataFrame(
            [(int(p),) for p in percentiles], "pct long"
        )
        out = (
            cum.crossJoin(F.broadcast(pcts))
            .filter(
                F.col("cum")
                >= F.ceil(
                    F.col("pct").cast("double")
                    / F.lit(100.0)
                    * F.col("n").cast("double")
                ).cast("long")
            )
            .groupBy("pct")
            .agg(
                F.min("gv").alias("min_gv"),
                F.max("n").cast("long").alias("n_total"),
            )
            .select(
                "pct",
                (F.col("min_gv").cast("double") * F.lit(grid)).alias(
                    "value"
                ),
                "n_total",
            )
        )
        out.write.mode("overwrite").parquet(
            str(_batch_dir(root, "pct", batch_id))
        )
        return {"tier": "grid_histogram", "grid": grid}

    def promote(root: Path, batch_id: int) -> None:
        # promote the merged histogram to the carried cache only now
        # that the commit marker is durable; the previous state frame
        # (if any) is superseded and unpersists. Every _HIST_TRUNCATE
        # batches the promotion hands over the PARQUET-backed frame
        # instead: the in-memory chain's lineage otherwise grows one
        # union+agg layer per batch (an unbounded-analysis /
        # recompute-on-eviction hazard on long streams — the graph
        # loop's _TRUNCATE_EVERY discipline), and the lazy file read
        # costs nothing now while resetting the plan to a leaf.
        prev, bh = _carried["hist"], _carried["merged"]
        if (batch_id + 1) % _HIST_TRUNCATE == 0:
            _carried["batch"] = batch_id
            _carried["hist"] = bh.sparkSession.read.parquet(
                str(_batch_dir(root, "hist", batch_id))
            ).persist()
            bh.unpersist()
        else:
            _carried["batch"], _carried["hist"] = batch_id, bh
        if prev is not None:
            prev.unpersist()

    return _exactly_once(
        events, store_dir, checkpoint_dir, body, after_commit=promote
    )


def ohlc_stream(
    events: DataFrame,
    store_dir: str | Path,
    checkpoint_dir: str | Path,
):
    """Streaming OHLC bars per (day, event_type) — the incremental
    twin of q244's batch shape's sibling q230: OHLC state is a
    MERGEABLE summary as long as the open/close carry their ordering
    keys (first/last are NOT mergeable bare — merging two batches'
    "first values" needs to know WHICH is earlier, so the state keeps
    the (ts, event_id) witness next to each endpoint value and the
    merge re-minimizes over the witnesses). Values on the exact cent
    grid; the total (ts, event_id) order makes equal-timestamp
    endpoints deterministic, exactly like the batch operator.

    Per batch the store gains ``bars/batch=N`` — the full merged bar
    table (day, event_type, open, high, low, close, n_events, plus
    the endpoint witnesses) — under the marker-commit exactly-once
    contract shared by every store in this module. The reported bars
    equal the batch q230 computation over the concatenated stream
    for ANY batch split (tested)."""
    ENDPOINT = [
        "o_ts", "o_eid", "o_gv", "c_ts", "c_eid", "c_gv",
        "hi", "lo", "cnt",
    ]

    def _summarize(df: DataFrame) -> DataFrame:
        # min_by/max_by on the (ts, event_id) witness struct: one
        # aggregation, JVM-side, no window — works identically for a
        # raw micro-batch and for the union with prior state because
        # the state rows carry their witnesses
        key = F.struct(F.col("o_ts").alias("ts"), F.col("o_eid").alias("eid"))
        ckey = F.struct(F.col("c_ts").alias("ts"), F.col("c_eid").alias("eid"))
        return df.groupBy("day", "event_type").agg(
            F.min_by("o_ts", key).alias("o_ts"),
            F.min_by("o_eid", key).alias("o_eid"),
            F.min_by("o_gv", key).alias("o_gv"),
            F.max_by("c_ts", ckey).alias("c_ts"),
            F.max_by("c_eid", ckey).alias("c_eid"),
            F.max_by("c_gv", ckey).alias("c_gv"),
            F.max("hi").alias("hi"),
            F.min("lo").alias("lo"),
            F.sum("cnt").cast("long").alias("cnt"),
        )

    def body(root: Path, batch: DataFrame, batch_id: int) -> dict:
        gv = F.floor(F.col("value").cast("double") * F.lit(100.0) + F.lit(0.5)).cast(
            "long"
        )
        rows = batch.filter(F.col("value").isNotNull()).select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.col("ts").alias("o_ts"),
            F.col("event_id").cast("long").alias("o_eid"),
            gv.alias("o_gv"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").cast("long").alias("c_eid"),
            gv.alias("c_gv"),
            gv.alias("hi"),
            gv.alias("lo"),
            F.lit(1).cast("long").alias("cnt"),
        )
        state = _summarize(rows)
        prior = _latest_snapshot(batch.sparkSession, root, "state")
        if prior is not None:
            state = _summarize(
                state.unionByName(prior.select("day", "event_type", *ENDPOINT))
            )
        state = state.persist()
        state.count()  # eager: state write + bar projection share it
        state.write.mode("overwrite").parquet(
            str(_batch_dir(root, "state", batch_id))
        )
        (
            state.select(
                "day",
                "event_type",
                (F.col("o_gv").cast("double") / F.lit(100.0)).alias("open"),
                (F.col("hi").cast("double") / F.lit(100.0)).alias("high"),
                (F.col("lo").cast("double") / F.lit(100.0)).alias("low"),
                (F.col("c_gv").cast("double") / F.lit(100.0)).alias("close"),
                F.col("cnt").alias("n_events"),
            ).write.mode("overwrite").parquet(
                str(_batch_dir(root, "bars", batch_id))
            )
        )
        state.unpersist()
        return {"tier": "ohlc_bars"}

    return _exactly_once(events, store_dir, checkpoint_dir, body)
