#!/usr/bin/env python
"""Real process-kill recovery artifact (r14, VERDICT r13 task 2).

Every crash window so far was unit-tested with in-process fault
injection; this script kills the ACTUAL server process (SIGKILL — no
atexit, no finally blocks, no flushes) at the windows the WAL contract
must survive, restarts it on the same directories, and verifies the
reference's WAL-is-source-of-truth promise (src/lynx.rs:31-33) across
a real process boundary:

  kill 1  mid-burst: SIGKILL lands while HTTP writes are in flight.
          Every ACKNOWLEDGED write must replay (acked ⊆ visible); at
          most the writes never acked may be missing (visible ⊆ sent);
          nothing duplicates.
  kill 2  quiesced, WAL-only: all writes acked, nothing flushed —
          the whole namespace lives in WAL + hot buffer. rows-out
          must equal rows-in exactly after replay.
  kill 3  mid-optimize: SIGKILL races a /api/v1/optimize rewrite of a
          many-file day partition. The commit-log rename is atomic, so
          the visible row set must be IDENTICAL whether or not the
          rewrite landed; zero duplicates either way. Besides the timed
          races, one attempt kills after the optimize returned (commit
          landed for certain) and one builds the lost-commit state by
          hand (an uncommitted part-opt copy of a visible file plus a
          .tmp-opt file, no commit JSON); ``ok`` requires both branches.
  kill 4  torn segment create: a kill between segment-file create and
          header flush leaves a 0-byte (or partial-header) .wal; the
          r14 replay fix must boot through it with data intact (found
          live by a restart probe; before the fix this bricked every
          subsequent start).

Ground truth is the client-side ledger of acknowledged writes — the
only thing a user of the reference can rely on. Writes one JSON object
to CRASH_OUT (default CRASH_r14.json) and prints it.

    python crash_check.py
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent
OUT = REPO / os.environ.get("CRASH_OUT", "CRASH_r14.json")
PORT = int(os.environ.get("CRASH_PORT", "3199"))
BASE = f"http://127.0.0.1:{PORT}"


def post(path: str, payload: dict, timeout: float = 120.0):
    req = urllib.request.Request(
        f"{BASE}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.status, r.read()


def start_server(wal_dir: Path, cold_dir: Path) -> subprocess.Popen:
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        LYNX_WAL_DIRECTORY=str(wal_dir),
        LYNX_COLD_DIRECTORY=str(cold_dir),
        LYNX_HTTP_ADDR=f"127.0.0.1:{PORT}",
    )
    proc = subprocess.Popen(
        [sys.executable, "-m", "lynx_spark.server"],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            raise RuntimeError(f"server died at startup: rc={proc.returncode}")
        try:
            with urllib.request.urlopen(f"{BASE}/health", timeout=2) as r:
                if r.status == 200:
                    return proc
        except (urllib.error.URLError, OSError):
            time.sleep(0.5)
    raise RuntimeError("server did not become healthy in 120s")


def sigkill(proc: subprocess.Popen) -> None:
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=30)


def visible_values() -> list[str]:
    status, body = post(
        "/api/v1/query",
        {
            "namespace": "crash",
            "query": "SELECT value FROM cpu",
            "format": "Json",
        },
    )
    if status != 200:
        raise AssertionError(f"query returned {status}")
    return [row["value"] for row in json.loads(body)]


def check(cond: bool, msg: str, errors: list[str]) -> bool:
    if not cond:
        errors.append(msg)
    return cond


def main() -> None:
    tmp = Path(tempfile.mkdtemp(prefix="lynx_crash_"))
    wal_dir, cold_dir = tmp / "wal", tmp / "cold"
    errors: list[str] = []
    result: dict = {}
    ledger: list[str] = []  # every value the server ACKED with a 200

    # ---------------------------------------------- kill 1: mid-burst
    proc = start_server(wal_dir, cold_dir)
    sent: list[str] = []
    acked: list[str] = []
    burst_stop = threading.Event()

    def burst() -> None:
        i = 0
        while not burst_stop.is_set():
            val = f"a{i}"
            sent.append(val)
            try:
                status, _ = post(
                    "/api/v1/write",
                    {
                        "namespace": "crash",
                        "measurement": "cpu",
                        "value": val,
                        "metadata": {"host": f"h{i % 10}"},
                        "timestamp": i * 1000,
                    },
                    timeout=10,
                )
            except (urllib.error.URLError, OSError, TimeoutError):
                return  # the kill landed mid-request
            if status == 200:
                acked.append(val)
            i += 1

    t = threading.Thread(target=burst, daemon=True)
    t.start()
    time.sleep(1.5)  # SIGKILL lands while writes are in flight
    sigkill(proc)
    burst_stop.set()
    t.join(timeout=30)
    ledger.extend(acked)

    proc = start_server(wal_dir, cold_dir)  # replay
    vis = visible_values()
    vis_set, acked_set, sent_set = set(vis), set(acked), set(sent)
    k1 = {
        "sent": len(sent),
        "acked": len(acked),
        "visible_after_restart": len(vis),
        "acked_all_replayed": acked_set <= vis_set,
        "nothing_fabricated": vis_set <= sent_set,
        "zero_duplicates": len(vis) == len(vis_set),
    }
    check(k1["acked_all_replayed"], "kill1: acked write lost", errors)
    check(k1["nothing_fabricated"], "kill1: unsent value visible", errors)
    check(k1["zero_duplicates"], "kill1: duplicate after replay", errors)
    check(len(acked) > 100, "kill1: burst too small to be meaningful", errors)
    # unacked-but-visible rows become ground truth (their WAL append
    # preceded the lost response; they will replay forever after)
    ledger.extend(sorted(vis_set - acked_set))
    result["kill1_mid_burst"] = k1

    # --------------------------------- kill 2: quiesced, WAL-only rows
    base_n = len(ledger)
    for i in range(300):
        val = f"b{i}"
        status, _ = post(
            "/api/v1/write",
            {
                "namespace": "crash",
                "measurement": "cpu",
                "value": val,
                "metadata": {},
                "timestamp": (i + 10_000) * 1000,
            },
        )
        if status != 200:
            raise AssertionError("kill2 setup write failed")
        ledger.append(val)
    # no flush: all 300 rows exist ONLY in the WAL (+ hot buffer)
    sigkill(proc)
    proc = start_server(wal_dir, cold_dir)
    vis = visible_values()
    k2 = {
        "rows_in": len(ledger),
        "rows_out": len(vis),
        "exact": sorted(vis) == sorted(ledger),
        "new_rows_survived": len(vis) - base_n == 300,
    }
    check(k2["exact"], "kill2: rows-out != rows-in after replay", errors)
    result["kill2_wal_only"] = k2

    # ------------------------------------- kill 3: mid-optimize rewrite
    # Race the SIGKILL against the rewrite at several delays, then
    # witness BOTH branches of the atomic-commit contract for certain:
    # commit landed (kill after the optimize returned; packed set
    # visible) and commit lost (the state a kill between the part-opt
    # rename and the commit rename leaves, built by hand as kill 4
    # builds torn segments; original files visible). Either way the
    # row set must be identical.
    def fire_optimize() -> None:
        try:
            post("/api/v1/optimize", {"namespace": "crash"}, timeout=60)
        except (urllib.error.URLError, OSError, TimeoutError):
            pass  # killed mid-request: the point

    def lose_optimize_commit() -> None:
        day_dir = cold_dir / "crash" / "cpu" / "day=1970-01-01"
        newest = max(day_dir.glob("part-flush*.parquet"))  # visible
        orphan = day_dir / "part-opt999999-00000.parquet"
        orphan.write_bytes(newest.read_bytes())
        (day_dir / ".tmp-opt999999-00001").write_bytes(
            newest.read_bytes()[:64]
        )

    attempts = []
    val_counter = 0
    for delay in (0.02, 0.08, 0.25, "after_return", "lost_commit"):
        # rebuild a many-small-file day: 8 single-row flush files
        for _ in range(8):
            val = f"c{val_counter}"
            val_counter += 1
            post(
                "/api/v1/write",
                {
                    "namespace": "crash",
                    "measurement": "cpu",
                    "value": val,
                    "metadata": {},
                    "timestamp": (val_counter + 20_000) * 1000,
                },
            )
            ledger.append(val)
            status, _ = post("/api/v1/flush", {"namespace": "crash"})
            if status != 200:
                raise AssertionError("kill3 flush failed")
        commits_before = {
            p.name for p in (cold_dir / "_commits").glob("*.json")
        }
        if delay == "after_return":
            fire_optimize()
        elif delay == "lost_commit":
            lose_optimize_commit()
        else:
            opt_thread = threading.Thread(target=fire_optimize, daemon=True)
            opt_thread.start()
            time.sleep(delay)
        sigkill(proc)
        if isinstance(delay, float):
            opt_thread.join(timeout=30)
        new_commits = {
            p.name for p in (cold_dir / "_commits").glob("*.json")
        } - commits_before
        rewrite_landed = any(
            n.startswith(("optimize-", "snapshot-")) for n in new_commits
        )
        proc = start_server(wal_dir, cold_dir)
        vis = visible_values()
        att = {
            "kill_delay_s": delay,
            "rewrite_commit_landed": rewrite_landed,
            "rows_in": len(ledger),
            "rows_out": len(vis),
            "exact": sorted(vis) == sorted(ledger),
            "zero_duplicates": len(vis) == len(set(vis)),
        }
        check(
            att["exact"],
            f"kill3(delay={delay}): row set changed across optimize kill",
            errors,
        )
        check(
            att["zero_duplicates"],
            f"kill3(delay={delay}): duplicate after rewrite race",
            errors,
        )
        attempts.append(att)
    branches = {a["rewrite_commit_landed"] for a in attempts}
    check(
        branches == {False, True},
        f"kill3: witnessed only rewrite_commit_landed={sorted(branches)}",
        errors,
    )
    result["kill3_mid_optimize"] = {
        "attempts": attempts,
        "branches_witnessed": sorted(branches, key=str),
    }

    # --------------------------------------- kill 4: torn segment create
    sigkill(proc)
    # fabricate what a kill between create and header-flush leaves:
    # the exact artifact a live SIGTERM probe produced in r14 (a
    # 0-byte segment) plus the partial-header variant
    seg_ids = sorted(int(p.stem) for p in wal_dir.glob("*.wal"))
    (wal_dir / f"{seg_ids[-1] + 1}.wal").write_bytes(b"")
    (wal_dir / f"{seg_ids[-1] + 2}.wal").write_bytes(b"LYN")
    proc = start_server(wal_dir, cold_dir)  # pre-fix: bricked forever
    vis = visible_values()
    # the next active segment must start ABOVE the torn ids
    new_ids = sorted(int(p.stem) for p in wal_dir.glob("*.wal"))
    k4 = {
        "torn_segments_injected": 2,
        "booted": True,
        "rows_out": len(vis),
        "exact": sorted(vis) == sorted(ledger),
        "next_segment_above_torn": new_ids[-1] > seg_ids[-1] + 2,
    }
    check(k4["exact"], "kill4: data lost through torn segments", errors)
    check(
        k4["next_segment_above_torn"],
        "kill4: new segment collided with torn ids",
        errors,
    )
    result["kill4_torn_segment"] = k4
    sigkill(proc)

    result["errors"] = errors
    result["ok"] = not errors
    OUT.write_text(json.dumps(result, indent=1))
    print(json.dumps(result))
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
