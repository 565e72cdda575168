"""``analytics``: three registry queries, called through
``REGISTRY[name].fn`` and ``collect()``-ed, in passes over the fixed
sf0.01 tables in ``perfbench/data/sf0.01`` (seed 42; the run's
``--seed`` does not change them). Nothing is unpersisted between
calls, as in a long-lived session. The HTTP layers are absent.

Set-up (repeated, median reported): a load of each table the queries
read. After the timed set-ups, one untimed warm pass lets JIT
compilation and planning caches settle; its time is reported as a
diagnostic, not a metric. The run measures whole passes until its
seconds are up, at least one.
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from pathlib import Path

from perfbench.harness import iqm, median, pct, per_shape
from perfbench.layers import ANALYTICS_QUERIES

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
ORACLE = Path(__file__).resolve().parent / "oracle_sf0.01.json"
#: untimed passes before the measured ones; the first pass after a
#: single warm pass was still 15-30% slower than the passes after it
WARM_PASSES = 2


def _normalize(v):
    """As the repository's DuckDB-oracle test normalizes a cell."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
    return v


def rowset_digest(columns: list[str], rows: list[tuple]) -> str:
    """sha256 of the order-insensitive rowset: columns sorted by name,
    every cell ``str()``-ed, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rs = sorted(tuple(str(_normalize(r[i])) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for r in rs:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


class Analytics:
    name = "analytics"
    #: timed set-ups per run, after one untimed one; a set-up is seven
    #: ~40 ms Spark jobs, so fifteen of them span a few seconds of the
    #: host's swings, as five ``mixed`` set-ups do
    setups = 15

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.oracle = json.loads(ORACLE.read_text())["queries"]
        self.tables = sorted({t for q in ANALYTICS_QUERIES for t in self.oracle[q]["tables"]})
        self._calls = 0

    def setup(self) -> None:
        """Load (scan and count) every table the queries read."""
        from lynx_spark.sources.tables import load_table

        for t in self.tables:
            load_table(self.ctx.sh.spark, str(DATA), t).count()

    def _call(self, q: str):
        """(seconds, columns, rows) of one collected call."""
        from lynx_spark.plans.analytics import REGISTRY

        sh = self.ctx.sh
        tr = self.ctx.tracer
        self._calls += 1
        group = f"{q}#{self._calls}"
        if tr is not None:
            sh.sc.setJobGroup(group, q)
            cpu0, rdd0 = sh.jvm_cpu_ms(), sh.persistent_rdds()
            idx = tr.begin(f"analytics.{q}")
        t0 = time.perf_counter()
        df = REGISTRY[q].fn(sh.spark, str(DATA))
        rows = [tuple(r) for r in df.collect()]
        wall = time.perf_counter() - t0
        if tr is not None:
            tr.end(idx)
            jobs, stages, tasks = sh.job_group_counts(group)
            sh.sc.setJobGroup("", "")
            for name, v in (
                ("jobs", jobs),
                ("stages", stages),
                ("tasks", tasks),
                ("jvm_cpu_ms", sh.jvm_cpu_ms() - cpu0),
                ("cached_rdds_left", sh.persistent_rdds() - rdd0),
            ):
                tr.count(f"analytics.{q}.{name}", v)
        return wall, list(df.columns), rows

    def warm(self) -> float:
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            for q in ANALYTICS_QUERIES:
                self._call(q)
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> dict:
        tr = self.ctx.tracer
        calls: list[float] = []
        passes: list[float] = []
        per_q: dict[str, list[float]] = {q: [] for q in ANALYTICS_QUERIES}
        errors: list[str] = []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            for q in ANALYTICS_QUERIES:
                wall, cols, rows = self._call(q)
                calls.append(wall)
                per_q[q].append(wall)
                want = self.oracle[q]
                if len(rows) != want["rows"] or rowset_digest(cols, rows) != want["sha256"]:
                    errors.append(f"{q}: rowset differs from the DuckDB oracle digest")
            passes.append(time.perf_counter() - t0)
        q_shaped = [(q, x) for q, xs in per_q.items() for x in xs]
        e2e = {
            "query_ms": per_shape(iqm, q_shaped) * 1e3,
            "cycle_s": iqm(passes),
        }
        more = {
            "query_p50_ms": per_shape(median, q_shaped) * 1e3,
            "cycle_p50_s": median(passes),
            "query_p90_ms": pct(calls, 90) * 1e3,
        }
        extra: dict[str, float] = {}
        exact: dict[str, list] = {}
        if tr is not None:
            for q in ANALYTICS_QUERIES:
                extra[f"analytics.{q}.wall_s"] = median(per_q[q])
                for name in ("jobs", "stages", "tasks", "jvm_cpu_ms", "cached_rdds_left"):
                    extra[f"analytics.{q}.{name}"] = median(tr.counts[f"analytics.{q}.{name}"])
                exact[q] = [
                    tr.counts[f"analytics.{q}.{n}"][0] for n in ("jobs", "stages", "tasks")
                ]
        return {
            "e2e": e2e,
            "more": more,
            "attempted": len(calls),
            "failed": 0,
            "errors": errors,
            "extra": extra,
            "samples": {"calls": len(calls), "passes": len(passes)},
            "cycles_s": passes,
            "per_call_s": per_q,
            "exact": exact,
        }
