#!/usr/bin/env python3
"""lynx_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

Workloads: ``mixed`` (TieredEngine under an HTTP writer and reader)
and ``analytics`` (three registry queries in passes). See README.md
beside this file for what each measures and why.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` the layers are wrapped with spans and the result carries
the per-layer metrics instead. Every answer is checked; a wrong one
makes ``correct`` false and the exit code 1.

Stdout ends with two JSON lines: a report (environment, steadiness
diagnostics, further latencies, sample counts, exact counts), then the
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

E2E_UNITS = {
    "setup_s": "s",
    "retained_mb": "MB",
    "query_ms": "ms",
    "cycle_s": "s",
}


@dataclass
class Ctx:
    seed: int
    run_dir: Path
    sh: object  # harness.SparkHandle
    tracer: object | None


def pin_environment(run_dir: Path) -> None:
    """Spark sized to this host; every temporary file inside the run
    directory; UTC so rendered timestamps match the generator's."""
    from perfbench.harness import nproc

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = str(run_dir / "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["TMPDIR"] = str(tmp)
    # the JVM spark-submit runs first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None


def main() -> int:
    from perfbench import harness
    from perfbench.w_analytics import Analytics
    from perfbench.w_mixed import Mixed

    workloads = {w.name: w for w in (Mixed, Analytics)}
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fails here, before any output, when the program is not beside us
    import lynx_spark  # noqa: F401

    # a terminated run still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_dir = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    sh = None
    tracer = None
    try:
        pin_environment(run_dir)
        sh = harness.start_spark(str(run_dir / "tmp"))
        ctx = Ctx(seed=args.seed, run_dir=run_dir, sh=sh, tracer=None)
        # inputs are generated before any wrapper is in place
        wl = workloads[args.workload](ctx)
        if args.trace:
            from perfbench.layers import instrument
            from perfbench.trace import Tracer

            tracer = ctx.tracer = Tracer()
            instrument(tracer, sh.spark)
        setups = []
        for _ in range(1 + wl.setups):
            if hasattr(wl, "prepare"):
                wl.prepare()
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        priming_s = setups.pop(0)
        warm_s = wl.warm() if hasattr(wl, "warm") else 0.0
        if tracer is not None:
            replay = tracer.durations_ns().get("wal.replay", [])
            replay_rows = tracer.counts.get("wal.replay_rows", [])
            tracer.reset()
        probe0 = harness.host_speed_us()
        steal0, load0, gc0 = harness.host_steal_s(), harness.loadavg_1m(), sh.gc_ms()
        t0 = time.perf_counter()
        cpu0 = harness.proc_cpu_ms(os.getpid()) + sh.jvm_cpu_ms()
        res = wl.measure(args.seconds)
        cpu_s = (harness.proc_cpu_ms(os.getpid()) + sh.jvm_cpu_ms() - cpu0) / 1e3
        measured_s = time.perf_counter() - t0
        steal1, load1, gc1 = harness.host_steal_s(), harness.loadavg_1m(), sh.gc_ms()
        probe1 = harness.host_speed_us()
        rss_driver, rss_jvm = harness.vm_mb(), harness.vm_mb(sh.jvm_pid)
        retained = harness.vm_mb(field="VmRSS") + sh.heap_live_mb()
        versions = sh.versions()
        if tracer is not None:
            from perfbench.layers import UNITS, layer_metrics

            extra = dict(res["extra"])
            extra["jvm.gc_ms"] = gc1 - gc0
            if replay:
                extra["wal.replay_s"] = harness.median(replay) / 1e9
                extra["wal.replay_rows"] = harness.median(replay_rows)
            values = layer_metrics(tracer, args.workload, extra)
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
            tracer.unpatch()
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(out_dir / f"spans-{args.workload}-{args.seed}.jsonl")
        e2e = dict(res["e2e"], setup_s=harness.median(setups), retained_mb=retained)
        if tracer is None:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    finally:
        if sh is not None:
            sh.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = not res["errors"]
    report = {
        "report": {
            "workload": args.workload,
            "seed": args.seed,
            "seed_applies": args.workload != "analytics",
            "trace": args.trace,
            "nproc": harness.nproc(),
            "versions": versions,
            "jvm_start_s": sh.start_s,
            "e2e": e2e,
            "more": res["more"],
            "priming_setup_s": priming_s,
            "setups_s": setups,
            "peak_rss_mb": {"driver": rss_driver, "jvm": rss_jvm, "total": rss_driver + rss_jvm},
            "warm_s": warm_s,
            "measured_s": measured_s,
            "cpu_s": cpu_s,
            "steal_s": steal1 - steal0,
            "loadavg_1m": [load0, load1],
            "host_probe_us": [probe0, probe1],
            "jvm_gc_ms": gc1 - gc0,
            "failed_frac": res["failed"] / max(1, res["attempted"]),
            "samples": res["samples"],
            "cycles_s": res["cycles_s"],
            "per_call_s": res.get("per_call_s"),
            "exact": res["exact"],
            "errors": res["errors"][:20],
        }
    }
    print(json.dumps(report, separators=(",", ":")))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            },
            separators=(",", ":"),
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
