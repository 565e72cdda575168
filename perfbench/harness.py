"""Process-level plumbing shared by every workload: the Spark session's
lifetime, host and JVM probes, and the statistics the metrics use.

Nothing here imports ``lynx_spark`` at module level, so ``run.py`` can
pin the environment before the package (and pyspark) is imported.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- stats


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def iqm(xs: list[float]) -> float:
    """Interquartile mean: the mean of the samples left after the
    lowest and the highest quarter (``(len + 1) // 4`` each, so three
    samples give their median) are dropped. Like the median it ignores
    outliers; unlike the median it does not jump from one mode to the
    other when the host's speed switches between a fast and a slow
    state, as it does here every second or two."""
    s = sorted(xs)
    k = (len(s) + 1) // 4
    return statistics.fmean(s[k : len(s) - k])


def per_shape(stat, samples: list[tuple[str, float]]) -> float:
    """Mean over shapes of ``stat`` of each shape's samples: unlike a
    statistic of the pooled samples, it does not move with how many of
    each shape a run happened to finish."""
    by_shape: dict[str, list[float]] = {}
    for shape, x in samples:
        by_shape.setdefault(shape, []).append(x)
    return statistics.fmean(stat(xs) for xs in by_shape.values())


def pct(xs: list[float], p: int) -> float:
    """p-th percentile (inclusive interpolation); the median when the
    sample is too small to interpolate."""
    if len(xs) < 2:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


# ------------------------------------------------------- host probes


def host_steal_s() -> float:
    """Cumulative CPU steal of the whole host, in CPU-seconds
    (``/proc/stat``, aggregate ``cpu`` line, 8th field)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def vm_mb(pid: int | str = "self", field: str = "VmHWM") -> float:
    """A /proc status memory field of one process (by default the peak
    resident set, VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def proc_cpu_ms(pid: int) -> float:
    """User + system CPU of one process so far, in ms."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) * 1000.0 / _TICK


_PROBE_BODY = (
    b'{"namespace":"probe","measurement":"cpu","value":"1",'
    b'"metadata":{"host":"host-01"},"timestamp":1709251200000000}'
)


def host_speed_us(batches: int = 9, n: int = 2000) -> float:
    """Median time of one JSON parse-and-dump round trip of a write
    body, in µs: how fast this host runs single-threaded Python at the
    moment. It does not touch the program, so a change to the program
    cannot move it; a busier host can."""
    xs = []
    for _ in range(batches):
        t0 = time.perf_counter()
        for _ in range(n):
            json.dumps(json.loads(_PROBE_BODY))
        xs.append((time.perf_counter() - t0) / n * 1e6)
    return median(xs)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ Spark


@dataclass
class SparkHandle:
    """The session plus what the probes need: the JVM child's pid and
    the gateway that owns it."""

    spark: object
    jvm_pid: int
    start_s: float
    _gateway: object = field(repr=False, default=None)

    @property
    def sc(self):
        return self.spark.sparkContext

    def gc_ms(self) -> float:
        """Total collection time over the JVM's GC MXBeans, in ms."""
        jvm = self.sc._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def jvm_cpu_ms(self) -> float:
        return proc_cpu_ms(self.jvm_pid)

    def heap_live_mb(self) -> float:
        """JVM heap in use after two full collections half a second
        apart, in MiB: what the session keeps alive (cached blocks,
        plans, views). Read right after one collection, the figure was
        6–22 MB higher than after a second one 0.5 s later, by an
        amount that changed from run to run."""
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def job_group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under one job group, as its
        status tracker holds them."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return jobs, stages, tasks

    def versions(self) -> dict:
        import pyarrow

        jvm = self.sc._jvm
        return {
            "spark": self.spark.version,
            "pyarrow": pyarrow.__version__,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        """Stop the session, then close the gateway and wait for the
        JVM child to exit (it exits when its stdin closes)."""
        self.spark.stop()
        gw = self._gateway
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def start_spark(tmp_dir: str) -> SparkHandle:
    """Start the program's tuned session (``lynx_spark.session``) with
    the JVM's temporary files kept under ``tmp_dir``."""
    from pyspark import SparkContext

    from lynx_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "lynx_perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData "
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gw = SparkContext._gateway
    return SparkHandle(
        spark=spark, jvm_pid=gw.proc.pid, start_s=start_s, _gateway=gw
    )
