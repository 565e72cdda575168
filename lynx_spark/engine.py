"""The engine: write path and query path (re-creation of src/lynx.rs).

Write path (lynx.rs:63-68): WAL append FIRST, then buffer insert —
"Data MUST be appended to the WAL before making its way into the
in-memory buffer" (lynx.rs:31-33). A global lock serializes writers
like the reference's ``Mutex<Wal>`` (lynx.rs:34).

Query path (lynx.rs:70-151):
  1. extract the first FROM table from the SQL (lynx.rs:75)
  2. snapshot the namespace (buffer.rs:109-115); unknown -> None (404)
  3. concatenate ALL partitions of the target table in day order
     (lynx.rs:86-91)
  4. infer the schema: union of tag keys -> [timestamp, value, *tags]
     (lynx.rs:93-116); deviation: we SORT tag keys (the reference's
     HashSet order is nondeterministic — documented in SURVEY §1.4)
  5. row -> columnar: build an Arrow batch (lynx.rs:118-134)
  6. register the table as a temp view (lynx.rs:136-139) — under a
     per-engine lock with eager analysis, avoiding the reference's
     shared-context race (TODO at lynx.rs:138)
  7. hand the raw SQL to Spark SQL — Catalyst plays DataFusion's role
     (lynx.rs:141)

Startup recovery (lynx.rs:43-57): replay every WAL segment into the
buffer, then open a fresh active segment at highest_observed_id + 1.
"""

from __future__ import annotations

import threading
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from lynx_spark.buffer import Measurements, MemBuffer, partition_key
from lynx_spark.model import WriteRequest, tag_to_str
from lynx_spark.sqlutil import (
    TableNameError,
    extract_time_bounds,
    is_select_like,
    parse_table_name,
    referenced_tables,
)
from lynx_spark.wal import DEFAULT_MAX_SEGMENT_SIZE, Wal


class LynxEngine:
    """In-memory, durable, time-series engine on Spark SQL."""

    def __init__(
        self,
        spark: SparkSession,
        wal_dir: str | Path,
        max_segment_size: int = DEFAULT_MAX_SEGMENT_SIZE,
        multi_table: bool = False,
    ) -> None:
        self.spark = spark
        #: flagged superset (SURVEY §7 step 5): register every table of
        #: the namespace the query references, enabling JOINs across
        #: the ingest surface. Off by default — the reference registers
        #: only the first FROM table, so a JOIN's second table errors
        #: (500), and we preserve that.
        self.multi_table = multi_table
        self.buffer = MemBuffer()
        wal_dir = Path(wal_dir)
        wal_dir.mkdir(parents=True, exist_ok=True)
        # startup recovery: WAL is the source of truth (lynx.rs:44-53);
        # subclasses override _replay_wal to skip records their durable
        # tier already holds (TieredEngine's flush watermarks)
        highest, observed = self._replay_wal(wal_dir)
        self.wal = Wal(
            wal_dir,
            segment_id=highest + 1,
            max_segment_size=max_segment_size,
            closed_segments=observed,
        )
        self._wal_lock = threading.Lock()
        self._query_lock = threading.Lock()

    def _replay_wal(self, wal_dir: Path) -> tuple[int, list[int]]:
        return Wal.replay(wal_dir, self.buffer)

    # ------------------------------------------------------------- write

    def write(self, req: WriteRequest) -> None:
        """WAL append then buffer insert, in that order (lynx.rs:31-33,
        63-68). Both happen under the write lock so a concurrent flush
        (TieredEngine) can never observe the WAL record without its
        buffer row — the gap would let flush truncate a segment whose
        record is not yet queryable anywhere."""
        with self._wal_lock:
            self.wal.write(req)
            self.buffer.insert(req)

    # ------------------------------------------------------------- query

    def query(self, namespace: str, sql: str) -> DataFrame | None:
        """Run SQL against one table of one namespace.

        Returns None for an unknown namespace or table — the HTTP layer
        maps that to 404 (main.rs:83, lynx.rs:144-148). Parse/plan
        errors raise (HTTP 500).
        """
        table_name = self._target_table(sql)  # lynx.rs:75
        tables = self.buffer.tables(namespace) or {}  # snapshot, lynx.rs:78
        names = self._resolve_tables(sql, table_name, set(tables))
        if not names:
            return None
        return self._run_sql(
            sql,
            {name: self._hot_frame(tables[name], sql) for name in sorted(names)},
        )

    def _resolve_tables(
        self, sql: str, table_name: str | None, candidates: set[str]
    ) -> set[str]:
        """Tables the query registers, out of the namespace's
        ``candidates``; empty means 404: an unknown first-FROM table
        (or namespace), or, in multi-table mode, a CTE touching no
        table of this namespace."""
        if table_name is not None and table_name not in candidates:
            return set()
        if not self.multi_table:
            return {table_name}
        names = referenced_tables(sql, candidates)
        if table_name is not None:
            names.add(table_name)
        return names

    def _hot_frame(self, partitions: dict[str, Measurements], sql: str) -> DataFrame:
        """One table's buffered partitions as a DataFrame: the days the
        query's bounds select, concatenated in day order."""
        batch = measurements_to_arrow(
            [partitions[day] for day in select_days(partitions, sql)]
        )
        return self.spark.createDataFrame(batch)

    def _run_sql(self, sql: str, views: dict[str, DataFrame]) -> DataFrame:
        """Register ``views`` and run the query. Per-query
        re-registration so results reflect the latest snapshot
        (lynx.rs:136-139); spark.sql analyzes eagerly, so once it
        returns (still under the lock) the plan is bound to these
        views."""
        with self._query_lock:
            for name, df in views.items():
                df.createOrReplaceTempView(name)
            if self.multi_table:
                self._drop_stale_views(keep=set(views))
            return self.spark.sql(sql)

    def _target_table(self, sql: str) -> str | None:
        """First-FROM table for the 404 check (lynx.rs:75). Multi-table
        mode additionally relaxes the reference's parse_select
        restriction for read-shaped statements (WITH ... SELECT):
        there is no single plain first table then, so it returns None
        and the 404 check falls to the referenced-table set. Writes
        (INSERT) raise in every mode, as in the reference."""
        try:
            return parse_table_name(sql)
        except TableNameError:
            if self.multi_table and is_select_like(sql):
                return None
            raise

    def _drop_stale_views(self, keep: set[str]) -> None:
        """Multi-table mode only: drop temp views left by earlier
        queries (possibly other namespaces) that this query did not
        re-register — otherwise a JOIN against a table this namespace
        lacks would silently read another namespace's stale view
        instead of erroring. The catalog stores view names lowercased,
        so the keep-set comparison must be case-insensitive or a
        mixed-case measurement's fresh view would be swept. Called
        under _query_lock."""
        keep_lower = {n.lower() for n in keep}
        for t in self.spark.catalog.listTables():
            if t.isTemporary and t.name.lower() not in keep_lower:
                self.spark.catalog.dropTempView(t.name)


def select_days(partitions: dict[str, Measurements], sql: str) -> list[str]:
    """Day partitions to materialize, in day order — pruned by the
    query's timestamp bounds when they are extractable (SURVEY §4: the
    reference concatenates ALL partitions unconditionally,
    lynx.rs:87-91; this is the pruning its daily layout never got).
    SQL correctness is unaffected: the WHERE clause still runs; pruning
    only skips day buckets the bounds prove row-free."""
    lo, hi = extract_time_bounds(sql)
    if lo is None and hi is None:
        return sorted(partitions)
    lo_day = partition_key(lo) if lo is not None else None
    hi_day = partition_key(hi) if hi is not None else None
    return [
        day
        for day in sorted(partitions)
        if (lo_day is None or day >= lo_day) and (hi_day is None or day <= hi_day)
    ]


def measurements_to_arrow(parts: list[Measurements]) -> pa.Table:
    """Concatenated partitions -> one Arrow table with the inferred
    schema [timestamp, value, *sorted tag keys] (lynx.rs:93-134).

    timestamp: non-null microsecond timestamp; value: non-null string;
    tags: nullable strings ("not every tag may be present for every
    write", lynx.rs:110-114), numeric tags stringified (lynx.rs:128).
    """
    timestamps: list[int] = []
    values: list[str] = []
    metadata: list[dict] = []
    for m in parts:
        timestamps.extend(m.timestamps)
        values.extend(m.values)
        metadata.extend(m.metadata)

    tag_keys: set[str] = set()
    for md in metadata:
        tag_keys.update(md)
    sorted_keys = sorted(tag_keys)  # deviation: deterministic order

    fields = [
        pa.field("timestamp", pa.timestamp("us"), nullable=False),
        pa.field("value", pa.string(), nullable=False),
    ] + [pa.field(k, pa.string(), nullable=True) for k in sorted_keys]

    arrays: list[pa.Array] = [
        pa.array(timestamps, type=pa.timestamp("us")),
        pa.array(values, type=pa.string()),
    ]
    for key in sorted_keys:
        col = [tag_to_str(md[key]) if key in md else None for md in metadata]
        arrays.append(pa.array(col, type=pa.string()))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))
