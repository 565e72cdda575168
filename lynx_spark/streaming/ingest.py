"""Structured Streaming ingest — the optional streaming superset
(SURVEY §2B last rows: the reference has NO streaming surface; its
ingestion is push-based point writes and queries are point-in-time
snapshots. This module is the Spark-native continuous twin of that
pipeline, flagged as a deliberate superset).

Pipeline:

    JSON write-request lines (the /api/v1/write body contract,
    wal.rs:18-25)  ->  readStream  ->  typed columns with an event-time
    timestamp  ->  either
      (a) watermarked tumbling daily windows (the streaming equivalent
          of the buffer's daily PartitionKey, buffer.rs:8-28; late data
          inside the watermark lands in its day window, mirroring how
          the buffer routes out-of-order writes into day partitions), or
      (b) foreachBatch append into the SAME date-partitioned parquet
          layout the cold tier uses, so batch queries over
          <cold>/<namespace>/<table>/day=... see streamed data. The
          commit log's names and payloads are sources/coldtier.py's:
          this module only stages each micro-batch's parquet and calls
          it to publish and commit.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# the HTTP write body (wal.rs:18-25); tag values arrive as strings or
# numbers — read as string (query-time stringification, lynx.rs:128)
WRITE_SCHEMA = StructType(
    [
        StructField("namespace", StringType(), False),
        StructField("measurement", StringType(), False),
        StructField("value", StringType(), False),
        StructField("metadata", MapType(StringType(), StringType()), True),
        StructField("timestamp", LongType(), False),  # microseconds UTC
    ]
)


def read_write_stream(spark: SparkSession, json_dir: str | Path) -> DataFrame:
    """File-source stream of JSON write-request lines (one per line)."""
    return spark.readStream.schema(WRITE_SCHEMA).json(str(json_dir))


def parse_write_stream(raw: DataFrame) -> DataFrame:
    """Typed event stream: microsecond epoch -> event-time ``ts``."""
    return raw.select(
        "namespace",
        "measurement",
        "value",
        "metadata",
        F.timestamp_micros(F.col("timestamp")).alias("ts"),
    )


def dedup_stream(parsed: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup: drop re-delivered copies of a record
    within the watermark horizon — the streaming twin of q21's
    hash-groupBy dedup, and the standard guard in front of an
    at-least-once upstream (e.g. an HTTP client retrying writes).

    Keyed on the full record identity; the metadata map is folded to
    its JSON rendering because map columns cannot be dedup keys (a
    re-delivered record re-parses to the same key order, so the
    rendering is stable for the retry case this guards).
    ``dropDuplicatesWithinWatermark`` bounds the state store to the
    watermark window — constant state at any stream length."""
    keyed = parsed.withColumn("_meta_key", F.to_json("metadata"))
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(
            ["namespace", "measurement", "value", "_meta_key", "ts"]
        )
        .drop("_meta_key")
    )


def daily_rollup_stream(
    parsed: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Watermarked tumbling 1-day windows per (namespace, measurement):
    the streaming twin of the buffer's daily partitions. Data later
    than the watermark is dropped (the batch engine instead appends it
    to its day partition — that difference is the documented semantic
    gap between the snapshot model and the streaming superset)."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("day_window"),
            "namespace",
            "measurement",
        )
        .agg(
            F.count("*").alias("n"),
            # numeric extremes: value is a STRING by the data model
            # (lynx.rs:107); lexicographic min/max would order "10"
            # before "9". Non-numeric values become null and are
            # skipped by min/max.
            F.min(F.expr("try_cast(value AS DOUBLE)")).alias("min_value"),
            F.max(F.expr("try_cast(value AS DOUBLE)")).alias("max_value"),
        )
        .select(
            F.to_date(F.col("day_window.start")).alias("day"),
            "namespace",
            "measurement",
            "n",
            "min_value",
            "max_value",
        )
    )


def sliding_rate_stream(
    parsed: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding-window write rates per (namespace, measurement) — the
    overlapping-window companion to daily_rollup_stream's tumbling
    days: each event lands in window/slide overlapping windows, the
    shape behind moving-average dashboards and rate alerts. Watermark
    bounds state exactly as in the tumbling case; at scale the state
    store holds (#keys × windows-per-horizon) aggregates, independent
    of stream length."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window, slide).alias("w"),
            "namespace",
            "measurement",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "namespace",
            "measurement",
            "n",
        )
    )


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    tag: str,
    horizon: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair every left record
    with the right records carrying the same ``tag`` value whose
    event time falls within [left.ts, left.ts + horizon] — e.g. "for
    each deploy event, the error measurements from the same host in
    the next 10 minutes". The canonical Structured Streaming
    stream-stream join: both sides watermarked, and the time-range
    predicate is what lets Spark evict buffered state once the
    watermark passes a row's join horizon — without it the join state
    would grow with the stream. State per side is bounded by
    (watermark + horizon) of data, independent of stream length."""
    # rename FIRST, watermark the renamed event-time column: a
    # watermark attached before a projection that renames the column
    # does not follow the rename, and the join would buffer state
    # forever (and emit nothing under some trigger modes)
    lw = left.select(
        F.col("namespace").alias("l_namespace"),
        F.col("measurement").alias("l_measurement"),
        F.col("value").alias("l_value"),
        F.col("metadata").getItem(tag).alias("l_tag"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    rw = right.select(
        F.col("measurement").alias("r_measurement"),
        F.col("value").alias("r_value"),
        F.col("metadata").getItem(tag).alias("r_tag"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    return lw.join(
        rw,
        (F.col("l_tag") == F.col("r_tag"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        "l_namespace",
        "l_measurement",
        "l_value",
        F.col("l_tag").alias(tag),
        "l_ts",
        "r_measurement",
        "r_value",
        "r_ts",
    )


def stream_to_cold_tier(
    parsed: DataFrame,
    cold_dir: str | Path,
    checkpoint_dir: str | Path,
    sink_id: str = "stream",
    engine=None,
):
    """Continuously append the stream into the cold tier's hive layout
    (<cold>/<namespace>/<table>/day=YYYY-MM-DD); one stream fans out
    to many (namespace, table) directories.

    Delivery is EXACTLY-ONCE across micro-batch replays via the cold
    tier's commit log: each batch writes its output to a staging
    directory, and ``coldtier.commit_stream_batch`` moves the files to
    batch-id-deterministic names (invisible — TieredEngine only reads
    committed files), then atomically renames ONE commit JSON keyed by
    (sink_id, batch_id). A replayed batch whose commit exists is
    skipped outright; a replay of a half-moved batch overwrites the
    same deterministic names before committing, so no duplicate can
    become visible. ``sink_id`` must be unique per concurrent stream
    into the same cold dir (it namespaces batch ids and file names).
    Commit and file names, payloads and the sink ids reserved for the
    engine live in sources/coldtier.py, with the rest of the format.

    ``engine``: optional TieredEngine sharing this cold dir. When set,
    each committed batch calls ``engine.notify_external_commit(ns)``
    so the auto-optimize file-count watermark covers namespaces fed
    ONLY by this sink (zero engine flushes) — the r13-documented blind
    spot where a long-lived trickle stream accumulated files
    unboundedly until a manual /api/v1/optimize.

    Returns the StreamingQuery (caller controls trigger/termination)."""
    from lynx_spark.sources.coldtier import (
        commit_stream_batch,
        committed_stream_batch,
        open_stream_sink,
        stream_staging_dir,
    )

    open_stream_sink(cold_dir, sink_id)
    #: this sink's commit-log cache (commit files are immutable)
    commits: dict[str, dict] = {}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if committed_stream_batch(cold_dir, sink_id, batch_id):
            return  # replayed batch already committed: exactly-once
        stage = stream_staging_dir(cold_dir, sink_id, batch_id)
        rows = batch.withColumn("day", F.to_date("ts")).persist()
        try:
            # fan out per namespace/table so the directory layout
            # matches TieredEngine's; namespaces per micro-batch are
            # few. The persist means the source scan runs once, not
            # once per (table-discovery, per-table write).
            pairs = [
                (r["namespace"], r["measurement"])
                for r in rows.select("namespace", "measurement").distinct().collect()
            ]
            for ns, table in pairs:
                subset = rows.filter(
                    (F.col("namespace") == ns) & (F.col("measurement") == table)
                )
                # pivot tags into per-key string columns — the SAME
                # layout TieredEngine.flush writes, so batch SQL sees
                # streamed tags as ordinary nullable columns
                tag_keys = sorted(
                    r[0]
                    for r in subset.select(
                        F.explode(F.map_keys("metadata"))
                    ).distinct().collect()
                )
                out = subset.select(
                    # TIMESTAMP_NTZ to match the engine flush's Arrow
                    # schema — mixed LTZ/NTZ files in one table dir
                    # fail mergeSchema reads (session tz is UTC, so
                    # the wall-clock values are identical)
                    F.col("ts").cast("timestamp_ntz").alias("timestamp"),
                    "value",
                    *[
                        F.col("metadata").getItem(k).alias(k)
                        for k in tag_keys
                    ],
                    "day",
                )
                # overwrite: a retried batch rebuilds its staging dir
                out.write.mode("overwrite").partitionBy("day").parquet(
                    str(stage / ns / table)
                )
            commit_stream_batch(cold_dir, sink_id, batch_id, pairs, commits)
            if engine is not None:
                # file-count watermark for flush-less namespaces: the
                # engine never sees this commit through flush(), so
                # tell it directly (exactly-once is unaffected — the
                # pack is the same commit-log rewrite a manual
                # optimize does)
                for ns in {p[0] for p in pairs}:
                    engine.notify_external_commit(ns)
        finally:
            rows.unpersist()

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
