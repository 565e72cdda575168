"""Which program callables are traced, and how spans and counts become
the per-layer metrics.

Each span name is declared with the workloads that must reach it;
:func:`layer_metrics` reports every metric on every workload, 0 where
the workload bypasses the layer.
"""

from __future__ import annotations

from perfbench.harness import median
from perfbench.trace import Tracer

#: iterative, job-scheduling-bound operators (HITS, BFS) and the
#: persist/leak sites (kNN graph, HITS)
ANALYTICS_QUERIES = (
    "q140_hits",
    "q255_bfs_reachability",
    "q83_knn_graph",
)

#: span -> workloads that must fire it
SPANS = {
    "server.write": ("mixed",),
    "server.query": ("mixed",),
    "server.flush": ("mixed",),
    "server.optimize": ("mixed",),
    "model.parse": ("mixed",),
    "engine.write": ("mixed",),
    "wal.append": ("mixed",),
    "wal.encode": ("mixed",),
    "wal.replay": ("mixed",),
    "buffer.insert": ("mixed",),
    "buffer.snapshot": ("mixed",),
    "engine.query": ("mixed",),
    "engine.select_days": ("mixed",),
    "engine.arrow": ("mixed",),
    "engine.create_df": ("mixed",),
    "engine.analyze": ("mixed",),
    "spark.collect": ("mixed", "analytics"),
    "formatting.render": ("mixed",),
    "coldtier.flush": ("mixed",),
    "coldtier.optimize": ("mixed",),
    **{f"analytics.{q}": ("analytics",) for q in ANALYTICS_QUERIES},
}

#: per-layer metric -> unit, in report order
UNITS = {
    "server.write_self_us": "us",
    "server.query_self_ms": "ms",
    "model.parse_us": "us",
    "engine.write_wait_us": "us",
    "wal.append_us": "us",
    "wal.bytes_per_row": "B",
    "wal.segments_live": "count",
    "wal.replay_s": "s",
    "wal.replay_rows": "count",
    "buffer.insert_us": "us",
    "buffer.snapshot_ms": "ms",
    "buffer.snapshot_rows": "count",
    "engine.days_selected_frac": "ratio",
    "engine.arrow_ms": "ms",
    "engine.arrow_rows": "count",
    "engine.create_df_ms": "ms",
    "engine.analyze_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "jvm.gc_ms": "ms",
    "formatting.render_ms": "ms",
    "formatting.bytes_out": "B",
    "coldtier.flush_ms": "ms",
    "coldtier.flush_rows": "count",
    "coldtier.files_written": "count",
    "coldtier.optimize_ms": "ms",
    "coldtier.cold_files": "count",
}
for _q in ANALYTICS_QUERIES:
    UNITS.update(
        {
            f"analytics.{_q}.wall_s": "s",
            f"analytics.{_q}.jobs": "count",
            f"analytics.{_q}.stages": "count",
            f"analytics.{_q}.tasks": "count",
            f"analytics.{_q}.jvm_cpu_ms": "ms",
            f"analytics.{_q}.cached_rdds_left": "count",
        }
    )


def _snapshot_rows(tr: Tracer, args, out) -> None:
    # a flush snapshots the buffer too; only a query's snapshot counts
    if out is not None and tr.current() == "engine.query":
        tr.count(
            "buffer.snapshot_rows",
            sum(len(m) for parts in out.values() for m in parts.values()),
        )


def _days_selected(tr: Tracer, args, out) -> None:
    if args[0]:
        tr.count("engine.days_selected_frac", len(out) / len(args[0]))


def _arrow_rows(tr: Tracer, args, out) -> None:
    # a flush converts each day it writes; only a query's conversion counts
    if tr.current() == "engine.query":
        tr.count("engine.arrow_rows", out.num_rows)


def instrument(tr: Tracer, spark) -> None:
    """Wrap the layers' public callables. Names imported into another
    module are wrapped at every lookup site."""
    from lynx_spark import engine, formatting, server, wal
    from lynx_spark.buffer import MemBuffer
    from lynx_spark.model import WriteRequest
    from lynx_spark.sources import coldtier

    tr.patch(WriteRequest, "from_json_dict", "model.parse")
    tr.patch(engine.LynxEngine, "write", "engine.write")
    tr.patch(wal.Wal, "write", "wal.append")
    tr.patch(
        wal, "encode_write_request", "wal.encode",
        lambda t, a, out: t.count("wal.bytes", len(out)),
    )
    tr.patch(MemBuffer, "insert", "buffer.insert")
    tr.patch(MemBuffer, "tables", "buffer.snapshot", _snapshot_rows)
    tr.patch(coldtier.TieredEngine, "query", "engine.query")
    for mod in (engine, coldtier):
        tr.patch(mod, "select_days", "engine.select_days", _days_selected)
        tr.patch(mod, "measurements_to_arrow", "engine.arrow", _arrow_rows)
    tr.patch(type(spark), "createDataFrame", "engine.create_df")
    tr.patch(type(spark), "sql", "engine.analyze")
    tr.patch(type(spark.range(0)), "collect", "spark.collect")
    for mod in (formatting, server):
        for fn in ("rows_to_json", "rows_to_table"):
            tr.patch(
                mod, fn, "formatting.render",
                lambda t, a, out: t.count("formatting.bytes_out", len(out)),
            )
    tr.patch(
        coldtier.TieredEngine, "flush", "coldtier.flush",
        lambda t, a, out: t.count("coldtier.flush_rows", out),
    )
    tr.patch(coldtier.TieredEngine, "optimize", "coldtier.optimize")


def layer_metrics(tr: Tracer, workload: str, extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric: medians of span times and of the counts
    recorded at the boundaries; ``extra`` carries what was measured
    elsewhere (set-up replay, JVM GC, WAL files, analytics counts)."""
    tr.require([s for s, wls in SPANS.items() if workload in wls])
    selft = tr.self_times_ns()
    dur = tr.durations_ns()
    parents = _parent_names(tr)

    def under(name: str, parent: str) -> list[int]:
        return [d for d, p in zip(dur.get(name, []), parents.get(name, [])) if p == parent]

    def med(xs, scale):
        return median(xs) / scale if xs else 0.0

    out = {name: 0.0 for name in UNITS}
    out["server.write_self_us"] = med(selft.get("server.write", []), 1e3)
    out["server.query_self_ms"] = med(selft.get("server.query", []), 1e6)
    out["model.parse_us"] = med(dur.get("model.parse", []), 1e3)
    out["engine.write_wait_us"] = med(selft.get("engine.write", []), 1e3)
    out["wal.append_us"] = med(dur.get("wal.append", []), 1e3)
    out["buffer.insert_us"] = med(dur.get("buffer.insert", []), 1e3)
    # a flush snapshots and converts the buffer too, under its own span
    out["buffer.snapshot_ms"] = med(under("buffer.snapshot", "engine.query"), 1e6)
    out["engine.arrow_ms"] = med(under("engine.arrow", "engine.query"), 1e6)
    out["engine.create_df_ms"] = med(dur.get("engine.create_df", []), 1e6)
    out["engine.analyze_ms"] = med(dur.get("engine.analyze", []), 1e6)
    out["spark.collect_ms"] = med(dur.get("spark.collect", []), 1e6)
    out["formatting.render_ms"] = med(dur.get("formatting.render", []), 1e6)
    out["coldtier.flush_ms"] = med(dur.get("coldtier.flush", []), 1e6)
    out["coldtier.optimize_ms"] = med(dur.get("coldtier.optimize", []), 1e6)
    for name in (
        "buffer.snapshot_rows",
        "engine.days_selected_frac",
        "engine.arrow_rows",
        "formatting.bytes_out",
        "coldtier.flush_rows",
    ):
        out[name] = med(tr.counts.get(name, []), 1)
    wal_bytes = tr.counts.get("wal.bytes", [])
    if wal_bytes:
        out["wal.bytes_per_row"] = sum(wal_bytes) / len(wal_bytes)
    for name, v in extra.items():
        if name not in out:
            raise KeyError(f"unknown per-layer metric {name}")
        out[name] = float(v)
    return out


def _parent_names(tr: Tracer) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for name, _, end, parent, _ in tr.spans:
        if end:
            out.setdefault(name, []).append(tr.spans[parent][0] if parent >= 0 else "")
    return out
