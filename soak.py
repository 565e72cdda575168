#!/usr/bin/env python
"""Mixed-workload ingest soak (r13, VERDICT r12 task 3; probe + counting
hardening r14, VERDICT r13 task 7 + ADVICE items 1-2).

The auto-flush / auto-optimize machinery is unit-tested in crash
windows; this script is the sustained-load artifact: minutes of
concurrent burst + trickle ingest racing background flushes, WAL
truncation, commit-log compaction, and background file packing, with
queries sampling exactness the whole time. It drives the REAL write
path (TieredEngine.write -> WAL append -> buffer -> watermark
scheduling) and the REAL query path (hot snapshot ∪ committed cold
scan under the write lock), not mocks.

Invariants checked continuously and at drain:
- every sampled query is EXACT against the writer-side ground truth:
  writes serialize with the query snapshot on _wal_lock, so a query
  must return a count inside the [before, after] window read around
  it, with count(DISTINCT value) == count(*) (no row ever doubled by
  a flush/pack race, none lost);
- a NON-TRIVIAL probe (window + join + anti-join over the racing
  hot ∪ cold union, r13 verdict task 7) holds at every snapshot:
  burst writers emit value "w{wid}-{i}" with even i to cpu and odd i
  to mem, and writes are per-thread sequential, so any snapshot sees
  a per-writer PREFIX of the sequence — therefore (a) LAG over cpu
  ordered by i within each wid steps by exactly 2 from 0 (a gap ⇒
  lost row, a 0-step ⇒ duplicated row), (b) every mem row i has its
  cpu predecessor i-1 (anti-join empty), and (c) cpu rows without a
  mem successor number at most one per writer (the in-flight tail);
- final drain: rows out == rows in, value sets equal, per namespace;
- peak hot-row count stays bounded by the row watermark + the
  scheduling margin (driver memory bound under burst);
- visible cold files per (table, day) stay bounded by the
  auto-optimize watermark (scan health under trickle);
- zero errors from any thread.

Writes one JSON line to stdout and SOAK_OUT (default SOAK_r13.json).

    SOAK_SECONDS=120 python soak.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SOAK_SECONDS = float(os.environ.get("SOAK_SECONDS", "120"))
OUT = Path(__file__).resolve().parent / os.environ.get(
    "SOAK_OUT", "SOAK_r14.json"
)
AUTO_FLUSH_ROWS = 5_000
AUTO_FLUSH_AGE_S = 2.0
AUTO_OPTIMIZE_FILES = 5
DAY_US = 86_400_000_000


def main() -> None:
    from lynx_spark.model import WriteRequest
    from lynx_spark.session import get_spark
    from lynx_spark.sources.coldtier import TieredEngine, day_groups

    spark = get_spark("lynx_soak")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="lynx_soak_")
    eng = TieredEngine(
        spark,
        Path(tmp) / "wal",
        Path(tmp) / "cold",
        max_segment_size=1 << 20,
        auto_flush_rows=AUTO_FLUSH_ROWS,
        auto_flush_age_s=AUTO_FLUSH_AGE_S,
        auto_optimize_files=AUTO_OPTIMIZE_FILES,
        # multi_table lets the non-trivial probe JOIN cpu with mem in
        # one snapshot (same flag the m1 bench row soaks); the write
        # path is identical either way.
        multi_table=True,
    )

    stop = threading.Event()
    errors: list[str] = []
    # per-namespace write counters; only incremented AFTER the write
    # returns, so the counter is always <= rows actually visible
    counts = {"burst": 0, "trickle": 0}
    counts_lock = threading.Lock()

    def burst_writer(wid: int) -> None:
        """~2k rows/s per thread in 50-row batches across 2 tables and
        3 days — enough to cross the row watermark every second or two
        and keep flush/pack permanently busy without starving the
        query thread of CPU."""
        i = 0
        try:
            while not stop.is_set():
                for _ in range(50):
                    val = f"w{wid}-{i}"
                    eng.write(
                        WriteRequest(
                            "burst",
                            "cpu" if i % 2 == 0 else "mem",
                            val,
                            {"host": f"h{i % 20}"},
                            (i % 3) * DAY_US + i,
                        )
                    )
                    i += 1
                    with counts_lock:
                        counts["burst"] += 1
                time.sleep(0.025)
        except Exception as e:  # noqa: BLE001
            errors.append(f"burst_writer{wid}: {e!r}")

    def trickle_writer() -> None:
        """~10 rows/s: far below the row watermark, so only the AGE
        watermark flushes it — the small-file generator the optimize
        watermark exists for."""
        i = 0
        try:
            while not stop.is_set():
                eng.write(
                    WriteRequest("trickle", "sensor", f"t{i}", {}, i)
                )
                i += 1
                with counts_lock:
                    counts["trickle"] += 1
                time.sleep(0.1)
        except Exception as e:  # noqa: BLE001
            errors.append(f"trickle_writer: {e!r}")

    sampled = {"n": 0, "exact": 0}
    probed = {"n": 0, "exact": 0}
    peak_hot = {"burst": 0, "trickle": 0}
    max_files_per_day = {"n": 0}

    # Non-trivial probe (r13 verdict task 7): a multi-stage plan —
    # window (LAG), inner join, and anti-join — over the racing
    # hot ∪ cold union of BOTH burst tables, in ONE snapshot (the
    # engine registers every referenced table under the same
    # _wal_lock hold, so pc and pm are mutually consistent). The
    # closed-form oracle needs no timing window: per-writer prefix
    # visibility makes gaps == 0, unmatched_mem == 0, and
    # 0 <= n_cpu - n_join <= n_writers true at EVERY snapshot.
    PROBE_SQL = """
        WITH pc AS (
            SELECT CAST(substring(value, 2, instr(value, '-') - 2) AS BIGINT) AS wid,
                   CAST(substring(value, instr(value, '-') + 1) AS BIGINT) AS i
            FROM cpu
        ), pm AS (
            SELECT CAST(substring(value, 2, instr(value, '-') - 2) AS BIGINT) AS wid,
                   CAST(substring(value, instr(value, '-') + 1) AS BIGINT) AS i
            FROM mem
        ), lagged AS (
            SELECT wid, i,
                   lag(i) OVER (PARTITION BY wid ORDER BY i) AS prev
            FROM pc
        ), win AS (
            SELECT count(*) AS n_cpu,
                   sum(CASE WHEN prev IS NULL
                            THEN CASE WHEN i = 0 THEN 0 ELSE 1 END
                            WHEN i - prev = 2 THEN 0 ELSE 1 END) AS gaps
            FROM lagged
        ), j AS (
            SELECT count(*) AS n_join
            FROM pc JOIN pm ON pc.wid = pm.wid AND pm.i = pc.i + 1
        ), um AS (
            SELECT count(*) AS n_unmatched_mem
            FROM pm LEFT ANTI JOIN pc
              ON pc.wid = pm.wid AND pc.i = pm.i - 1
        )
        SELECT win.n_cpu, win.gaps, j.n_join, um.n_unmatched_mem
        FROM win, j, um
    """
    N_BURST_WRITERS = 2

    def run_probe() -> None:
        df = eng.query("burst", PROBE_SQL)
        if df is None:
            return
        row = df.collect()[0]
        probed["n"] += 1
        ok = (
            row["gaps"] == 0
            and row["n_unmatched_mem"] == 0
            and row["n_cpu"] >= 1
            and 0 <= row["n_cpu"] - row["n_join"] <= N_BURST_WRITERS
        )
        if ok:
            probed["exact"] += 1
        else:
            errors.append(
                f"probe: n_cpu={row['n_cpu']} gaps={row['gaps']} "
                f"n_join={row['n_join']} "
                f"unmatched_mem={row['n_unmatched_mem']}"
            )

    def visible_day_counts() -> dict[str, int]:
        with eng._wal_lock:
            committed = eng._committed_files()
        return {
            day: len(rels)
            for ns in ("burst", "trickle")
            for day, rels in day_groups(committed, ns).items()
        }

    def sampler() -> None:
        tables = {"burst": ["cpu", "mem"], "trickle": ["sensor"]}
        try:
            while not stop.is_set():
                for ns, tbls in tables.items():
                    # query per table and sum (multi-table JOIN needs
                    # the flag) — same lock-snapshot contract
                    before = counts[ns]
                    total = 0
                    distinct = 0
                    for t in tbls:
                        df = eng.query(
                            ns,
                            f"SELECT count(*) AS n, "
                            f"count(DISTINCT value) AS d FROM {t}",
                        )
                        if df is None:
                            continue  # namespace not yet written
                        row = df.collect()[0]
                        total += row["n"]
                        distinct += row["d"]
                    after = counts[ns]
                    # counters increment AFTER eng.write returns, so a
                    # row visible in the snapshot can be momentarily
                    # uncounted if the writer was descheduled between
                    # the two; retry the re-read for up to ~1s (r13
                    # ADVICE: a single 50ms grace could flip ok:false
                    # spuriously on a loaded box) before judging
                    retry_deadline = time.monotonic() + 1.0
                    while total > after and time.monotonic() < retry_deadline:
                        time.sleep(0.05)
                        after = counts[ns]
                    sampled["n"] += 1
                    # exactness: no duplication (distinct == total) and
                    # the count inside the concurrent-write window
                    if distinct == total and before <= total <= after:
                        sampled["exact"] += 1
                    else:
                        errors.append(
                            f"sampler {ns}: total={total} "
                            f"distinct={distinct} window=[{before},{after}]"
                        )
                # the non-trivial probe joins the two racing tables;
                # wait for both to exist (>= 1 row each per writer)
                if counts["burst"] >= 2 * N_BURST_WRITERS:
                    run_probe()
                for ns in peak_hot:
                    peak_hot[ns] = max(
                        peak_hot[ns], eng.buffer.row_count(ns)
                    )
                max_files_per_day["n"] = max(
                    max_files_per_day["n"],
                    max(visible_day_counts().values(), default=0),
                )
                time.sleep(1.0)
        except Exception as e:  # noqa: BLE001
            errors.append(f"sampler: {e!r}")

    threads = [
        threading.Thread(target=burst_writer, args=(w,), daemon=True)
        for w in range(2)
    ] + [
        threading.Thread(target=trickle_writer, daemon=True),
        threading.Thread(target=sampler, daemon=True),
    ]
    t0 = time.monotonic()
    for t in threads:
        t.start()
    time.sleep(SOAK_SECONDS)
    stop.set()
    for t in threads:
        t.join(timeout=60)
    wall = time.monotonic() - t0

    # drain: let in-flight background work settle, then flush the rest
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if eng.autoflush_idle() and eng.autooptimize_idle():
            break
        time.sleep(0.1)
    eng.close_autoflush()
    for ns in ("burst", "trickle"):
        eng.flush(ns)
    while time.monotonic() < deadline:
        if eng.autoflush_idle() and eng.autooptimize_idle():
            break
        time.sleep(0.1)

    # final exactness: rows out == rows in AND full value-set equality
    final = {}
    for ns, tbls in (("burst", ["cpu", "mem"]), ("trickle", ["sensor"])):
        total = 0
        distinct = 0
        for t in tbls:
            df = eng.query(
                ns,
                f"SELECT count(*) AS n, count(DISTINCT value) AS d FROM {t}",
            )
            row = df.collect()[0]
            total += row["n"]
            distinct += row["d"]
        final[ns] = {
            "rows_in": counts[ns],
            "rows_out": total,
            "distinct_out": distinct,
            "exact": total == counts[ns] and distinct == total,
        }

    day_counts = visible_day_counts()
    cdir = Path(tmp) / "cold" / "_commits"
    # Per-namespace counting (r13 ADVICE: a global flush commit count
    # let trickle flushes satisfy the burst-labeled metric): flush ids
    # run 1, 2, ... per namespace and survive snapshot folds, so a
    # namespace's flush count is its highest committed flush id.
    with eng._wal_lock:
        flushes_per_ns = {
            ns: eng._next_flush_id(ns) - 1 for ns in ("burst", "trickle")
        }
    n_flushes = flushes_per_ns["burst"]

    result = {
        "soak_seconds": round(wall, 1),
        "config": {
            "auto_flush_rows": AUTO_FLUSH_ROWS,
            "auto_flush_age_s": AUTO_FLUSH_AGE_S,
            "auto_optimize_files": AUTO_OPTIMIZE_FILES,
        },
        "namespaces": final,
        "all_exact": all(v["exact"] for v in final.values()),
        "queries_sampled": sampled["n"],
        "queries_exact": sampled["exact"],
        "probes_sampled": probed["n"],
        "probes_exact": probed["exact"],
        "peak_hot_rows": peak_hot,
        "hot_bound_held": peak_hot["burst"] <= 2 * AUTO_FLUSH_ROWS,
        "burst_flushes": n_flushes,
        "flushes_per_namespace": flushes_per_ns,
        "max_visible_files_per_day_seen": max_files_per_day["n"],
        "final_visible_files_per_day": day_counts,
        "final_max_files_per_day": max(day_counts.values(), default=0),
        "file_bound_held": max_files_per_day["n"]
        <= 2 * AUTO_OPTIMIZE_FILES,
        "wal_segments_left": len(list((Path(tmp) / "wal").glob("*.wal"))),
        "commit_files_left": len(list(cdir.glob("*.json"))),
        "folded_flush_watermark": max(flushes_per_ns.values()),
        "errors": errors[:20],
        # ok covers EVERY documented invariant (r13 review finding:
        # the bound flags were computed but excluded, so a run whose
        # background flushes/packs all silently failed — they are
        # logged, not added to `errors` — could still read ok:true; the
        # bounds are exactly what such a failure violates). n_flushes
        # > 0 additionally proves the background path actually ran.
        "ok": (
            not errors
            and all(v["exact"] for v in final.values())
            and sampled["exact"] == sampled["n"]
            and sampled["n"] > 0
            and probed["exact"] == probed["n"]
            and probed["n"] > 0
            and peak_hot["burst"] <= 2 * AUTO_FLUSH_ROWS
            and max_files_per_day["n"] <= 2 * AUTO_OPTIMIZE_FILES
            and n_flushes > 0
        ),
    }
    OUT.write_text(json.dumps(result, indent=1))
    print(json.dumps(result))
    eng.wal.close()
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
