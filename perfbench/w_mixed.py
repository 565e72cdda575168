"""``mixed``: a production-shaped TieredEngine under one closed-loop
HTTP client, driven in-process through ``werkzeug.test.Client``.

The client writes in rounds of ``ROUND_WRITES``, each round into a
fresh namespace, over two measurements whose timestamps advance 30 s of
data time per write, so a round crosses two UTC days. After every
``QUERY_EVERY`` writes it sends the next query of a rotation of count,
last-hour-by-host and all-days group-by over hot and cold data of the
round. It flushes the namespace after every ``FLUSH_EVERY`` writes and
optimizes after every ``OPTIMIZE_EVERY``-th flush; no background timers.

Queries come from the writing client rather than a second thread: two
client threads in one interpreter share its lock, which made a query
wait for the writer about as long as it ran (~220 ms alone, ~360 ms
beside the writer) and doubled the run-to-run spread of both gated
times.

Every round holds the same data and queries it at the same points, so
what a query scans does not grow with how many writes the run managed.
The run stops at the end of the round in progress when its seconds are
up.

Set-up (repeated, median reported): a fresh engine recovered from a WAL
of ``PRELOAD`` writes, one flush of them to the cold tier, and one warm
call per query shape.
"""

from __future__ import annotations

import itertools
import time
from pathlib import Path

from perfbench import gen
from perfbench.harness import iqm, median, pct, per_shape

PRELOAD = 20_000
ROUND_WRITES = 8_000
FLUSH_EVERY = 2_000
QUERY_EVERY = 500
OPTIMIZE_EVERY = 2
JSON = "application/json"
SERVER_SPANS = {
    "/api/v1/write": "server.write",
    "/api/v1/query": "server.query",
    "/api/v1/flush": "server.flush",
    "/api/v1/optimize": "server.optimize",
}


def traced_app(app, tr):
    """The WSGI callable with one server span per request; spans a
    request causes share its id."""
    ids = itertools.count()

    def call(environ, start_response):
        tr.set_request(f"r{next(ids)}")
        idx = tr.begin(SERVER_SPANS.get(environ.get("PATH_INFO"), "server.other"))
        try:
            return list(app(environ, start_response))
        finally:
            tr.end(idx)

    return call


def client(app, tr):
    from werkzeug.test import Client

    return Client(traced_app(app, tr) if tr is not None else app)


class Mixed:
    name = "mixed"
    #: timed set-ups per run (~1.3 s each), after one untimed set-up
    #: that lets a fresh JVM compile and cache what set-up runs;
    #: setup_s is their median
    setups = 5

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.stream = gen.WriteStream(ctx.seed)
        self.queries = gen.MixedQueries(self.stream)
        self.history = gen.Round(gen.MIXED_NS, 0)
        self.preload = self.stream.wal_bytes(self.history, PRELOAD)
        self.engine = None
        self._setups = 0

    # ------------------------------------------------------------ setup

    def prepare(self) -> None:
        """Untimed: a fresh directory holding the preload WAL."""
        if self.engine is not None:
            self.engine.wal.close()
        base = self.ctx.run_dir / f"mixed-{self._setups}"
        self._setups += 1
        self.wal_dir = base / "wal"
        self.cold_dir = base / "cold"
        self.wal_dir.mkdir(parents=True)
        (self.wal_dir / "0.wal").write_bytes(self.preload)

    def setup(self) -> None:
        from lynx_spark.server import create_app
        from lynx_spark.sources.coldtier import TieredEngine

        tr = self.ctx.tracer
        # recovery: the constructor replays the WAL into the hot buffer
        idx = tr.begin("wal.replay") if tr is not None else None
        self.engine = TieredEngine(self.ctx.sh.spark, self.wal_dir, self.cold_dir)
        if tr is not None:
            tr.end(idx)
            tr.count("wal.replay_rows", self.engine.buffer.row_count(self.history.ns))
        self.app = create_app(self.engine)
        c = client(self.app, tr)
        r = c.post("/api/v1/flush", json={"namespace": self.history.ns})
        if r.status_code != 200 or r.get_json()["rows_flushed"] != PRELOAD:
            raise RuntimeError(f"preload flush failed: {r.status_code} {r.data!r}")
        self._preload_files = len(list(self.cold_dir.rglob("part-flush*.parquet")))
        for k in range(len(gen.MixedQueries.SHAPES)):
            _, sql, _ = self.queries.sql(k, PRELOAD)
            r = c.post("/api/v1/query", json={"namespace": self.history.ns, "query": sql, "format": "Json"})
            if r.status_code != 200:
                raise RuntimeError(f"warm query failed: {r.status_code}")

    # ---------------------------------------------------------- measure

    def measure(self, seconds: float) -> dict:
        tr = self.ctx.tracer
        sh = self.ctx.sh
        c = client(self.app, tr)
        rounds: list[gen.Round] = []
        w_lat: list[float] = []
        other_lat: list[float] = []  # flushes and optimizes
        flushes: list[tuple[float, int, int]] = []  # (s, rows moved, rows acked since the last)
        round_s: list[float] = []
        replaced: list[int] = []  # files each optimize of the last round replaced
        q_log: list[tuple] = []  # (seconds, shape, params, round, acked, issued, body)
        failed = {"write": 0, "other": 0, "query": 0}  # non-2xx responses

        def query(k: int, r: int, acked: int, issued: int) -> None:
            shape, sql, params = self.queries.sql(k, acked)
            if tr is not None:
                sh.sc.setJobGroup(f"q{k}", shape)
            t0 = time.perf_counter()
            resp = c.post(
                "/api/v1/query",
                json={"namespace": rounds[r].ns, "query": sql, "format": "Json"},
            )
            dt = time.perf_counter() - t0
            if resp.status_code != 200:
                failed["query"] += 1
            else:
                q_log.append((dt, shape, params, r, acked, issued, resp.data))
            if tr is not None:
                for name, v in zip(("jobs", "stages", "tasks"), sh.job_group_counts(f"q{k}")):
                    tr.count(f"spark.{name}", v)

        t_start = time.perf_counter()
        t_end = t_start + seconds
        k = 0  # queries sent
        while not rounds or time.perf_counter() < t_end:
            r = len(rounds)
            rd = gen.Round(f"{gen.MIXED_NS}_r{r}", PRELOAD + r * ROUND_WRITES)
            rounds.append(rd)
            replaced.clear()
            t_round = time.perf_counter()
            acked = last_flushed = 0
            for j in range(ROUND_WRITES):
                body = self.stream.body(rd, j)
                t0 = time.perf_counter()
                resp = c.post("/api/v1/write", data=body, content_type=JSON)
                w_lat.append(time.perf_counter() - t0)
                if resp.status_code == 200:
                    acked = j + 1
                else:
                    failed["write"] += 1
                if (j + 1) % QUERY_EVERY == 0:
                    query(k, r, acked, j + 1)
                    k += 1
                if (j + 1) % FLUSH_EVERY:
                    continue
                t0 = time.perf_counter()
                resp = c.post("/api/v1/flush", json={"namespace": rd.ns})
                dt = time.perf_counter() - t0
                if resp.status_code != 200:
                    failed["other"] += 1
                    continue
                other_lat.append(dt)
                flushes.append((dt, resp.get_json()["rows_flushed"], acked - last_flushed))
                last_flushed = acked
                if (j + 1) % (FLUSH_EVERY * OPTIMIZE_EVERY):
                    continue
                t0 = time.perf_counter()
                resp = c.post("/api/v1/optimize", json={"namespace": rd.ns})
                dt = time.perf_counter() - t0
                if resp.status_code != 200:
                    failed["other"] += 1
                    continue
                other_lat.append(dt)
                replaced.append(resp.get_json()["files_replaced"])
            round_s.append(time.perf_counter() - t_round)
        wall = time.perf_counter() - t_start

        # ---- answer checks, after the clock stops
        errors = []
        for _, rows, expected in flushes:
            if rows != expected:
                errors.append(f"flush moved {rows} rows, {expected} were acked since the last")
        for _, shape, params, r, acked, iss, body in q_log:
            err = self.queries.check(shape, params, rounds[r], acked, iss, body)
            if err is not None:
                errors.append(f"{shape}: {err}")

        q_lat = [q[0] for q in q_log]
        q_shaped = [(q[1], q[0]) for q in q_log]
        e2e = {
            "query_ms": per_shape(iqm, q_shaped) * 1e3,
            "cycle_s": iqm(round_s),
        }
        more = {
            "query_p50_ms": per_shape(median, q_shaped) * 1e3,
            "cycle_p50_s": median(round_s),
            "write_p50_us": median(w_lat) * 1e6,
            "write_p99_us": pct(w_lat, 99) * 1e6,
            "writes_per_s": len(w_lat) / wall,
            "query_p90_ms": pct(q_lat, 90) * 1e3,
            "flush_p50_ms": median([f[0] for f in flushes]) * 1e3,
        }
        extra = {}
        exact = {
            "preload_sha256": gen.digest(self.preload),
            "preload_wal_bytes": len(self.preload),
            "preload_rows": PRELOAD,
            "round_cold_files": self._round_files(rounds[-1], replaced),
        }
        if tr is not None:
            extra = self._layer_extra(tr, rounds[-1], len(flushes), replaced)
            # Spark jobs, stages and tasks of the first round's queries,
            # which every run sends at the same points of the same data
            exact["round0_spark"] = [
                sum(tr.counts[f"spark.{n}"][: ROUND_WRITES // QUERY_EVERY])
                for n in ("jobs", "stages", "tasks")
            ]
        return {
            "e2e": e2e,
            "more": more,
            "attempted": (
                len(w_lat) + len(other_lat) + failed["other"] + len(q_log) + failed["query"]
            ),
            "failed": sum(failed.values()),
            "errors": errors,
            "extra": extra,
            "samples": {
                "writes": len(w_lat), "queries": len(q_log), "rounds": len(round_s),
                "flushes": len(flushes), "optimizes": len(other_lat) - len(flushes),
            },
            "cycles_s": round_s,
            "exact": exact,
        }

    def _round_files(self, rd: gen.Round, replaced: list[int]) -> int:
        """Visible cold files of one finished round's namespace."""
        ns_dir = self.cold_dir / rd.ns
        return len(list(ns_dir.rglob("part-*.parquet"))) - sum(replaced)

    def _layer_extra(self, tr, rd: gen.Round, n_flushes: int, replaced: list[int]) -> dict:
        flush_files = len(list(self.cold_dir.rglob("part-flush*.parquet")))
        return {
            "spark.jobs_per_query": median(tr.counts["spark.jobs"]),
            "spark.stages_per_query": median(tr.counts["spark.stages"]),
            "spark.tasks_per_query": median(tr.counts["spark.tasks"]),
            # the set-up's flush of the preload wrote the rest
            "coldtier.files_written": (flush_files - self._preload_files) / max(1, n_flushes),
            "coldtier.cold_files": self._round_files(rd, replaced),
            "wal.segments_live": len(list(Path(self.wal_dir).glob("*.wal"))),
        }
