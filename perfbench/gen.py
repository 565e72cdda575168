"""Seeded input generators and the plain-Python expectations the
workloads check answers against. Same seed, same bytes.

Nothing here touches the program: the generators produce HTTP bodies
and WAL bytes, and the expectations are computed from the generated
rows directly.
"""

from __future__ import annotations

import hashlib
import json
import random
from array import array
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_HOUR_US = 3_600_000_000


def utc(us: int) -> datetime:
    return _EPOCH + timedelta(microseconds=us)


def sql_ts(us: int) -> str:
    """A whole-second timestamp as a SQL literal body."""
    return utc(us).strftime("%Y-%m-%d %H:%M:%S")


# ================================================================ mixed

MIXED_NS = "mixed"
MIXED_TABLES = ("cpu", "mem")
MIXED_HOSTS = 20
MIXED_T0 = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
#: data time between consecutive writes of a round; 8,000 writes span
#: 2.8 days, so every round crosses two UTC day boundaries
MIXED_STEP_US = 30_000_000


@dataclass(frozen=True)
class Round:
    """A run of writes into one namespace: write ``j`` of the round is
    write ``base + j`` of the stream, goes to table ``j % 2`` and is
    stamped ``MIXED_T0 + j * MIXED_STEP_US``. Every round covers the
    same data time, so each holds the same amount of data."""

    ns: str
    base: int


class WriteStream:
    """The writer's input: a seeded host and value per stream index.
    They are generated on demand, in order, and kept for the answer
    checks."""

    def __init__(self, seed: int) -> None:
        self._rng = random.Random(f"mixed-{seed}")
        self.hosts = array("B")
        self.values = array("H")

    def _extend(self, n: int) -> None:
        while len(self.hosts) < n:
            self.hosts.append(self._rng.randrange(MIXED_HOSTS))
            self.values.append(self._rng.randrange(1000))

    def host(self, rd: Round, j: int) -> int:
        self._extend(rd.base + j + 1)
        return self.hosts[rd.base + j]

    def value(self, rd: Round, j: int) -> int:
        self._extend(rd.base + j + 1)
        return self.values[rd.base + j]

    def body(self, rd: Round, j: int) -> bytes:
        h = self.host(rd, j)
        return (
            f'{{"namespace":"{rd.ns}","measurement":"{MIXED_TABLES[j % 2]}",'
            f'"value":"{self.value(rd, j)}","metadata":{{"host":"host-{h:02d}",'
            f'"dc":"dc-{h % 3}"}},"timestamp":{ts(j)}}}'
        ).encode()

    def wal_bytes(self, rd: Round, n: int) -> bytes:
        """One WAL segment holding writes ``0 .. n-1`` of a round,
        encoded with the program's record codec: what a crashed writer
        leaves behind."""
        from lynx_spark.model import WriteRequest
        from lynx_spark.wal import WAL_HEADER, encode_write_request

        parts = [WAL_HEADER]
        for j in range(n):
            h = self.host(rd, j)
            req = WriteRequest(
                rd.ns, MIXED_TABLES[j % 2], str(self.value(rd, j)),
                {"host": f"host-{h:02d}", "dc": f"dc-{h % 3}"}, ts(j),
            )
            parts.append(encode_write_request(req))
        return b"".join(parts)


def ts(j: int) -> int:
    """Timestamp of write ``j`` of a round."""
    return MIXED_T0 + j * MIXED_STEP_US


def writes(table: int, lo: int, hi: int) -> range:
    """Round positions in ``[lo, hi)`` that went to ``table``."""
    return range(lo + ((table - lo) % 2), hi, 2)


class MixedQueries:
    """The reader's rotation: count, last hour by host, all days
    grouped, over one round's namespace. Each check bounds the answer
    by the round's writes acked before the query started and issued
    when it returned: fewer means a lost row, more a row counted
    twice."""

    SHAPES = ("m_count", "m_last_hour", "m_days")

    def __init__(self, stream: WriteStream) -> None:
        self.s = stream

    def sql(self, k: int, acked: int) -> tuple[str, str, tuple]:
        shape = self.SHAPES[k % 3]
        t = (k // 3) % 2
        table = MIXED_TABLES[t]
        if shape == "m_count":
            return shape, f"SELECT count(*) AS n FROM {table}", (t,)
        if shape == "m_last_hour":
            lo = ts(acked - 1) - _HOUR_US
            return (
                shape,
                f"SELECT host, count(*) AS n FROM {table} "
                f"WHERE timestamp >= TIMESTAMP '{sql_ts(lo)}' GROUP BY host",
                (t, lo),
            )
        return (
            shape,
            f"SELECT CAST(timestamp AS DATE) AS day, count(*) AS n, "
            f"sum(CAST(value AS BIGINT)) AS total FROM {table} "
            f"GROUP BY CAST(timestamp AS DATE)",
            (t,),
        )

    def check(
        self, shape: str, params: tuple, rd: Round, acked: int, issued: int, body: bytes
    ) -> str | None:
        """None when the answer is within bounds, else why not."""
        rows = json.loads(body)
        t = params[0]
        if shape == "m_count":
            lo = len(writes(t, 0, acked))
            hi = len(writes(t, 0, issued))
            n = rows[0]["n"]
            return None if lo <= n <= hi else f"count {n} not in [{lo}, {hi}]"
        if shape == "m_last_hour":
            since = params[1]
            first = max(0, -(-(since - MIXED_T0) // MIXED_STEP_US))
            got = {r["host"]: r["n"] for r in rows}
            lo_c: dict[str, int] = {}
            hi_c: dict[str, int] = {}
            for j in writes(t, first, issued):
                h = f"host-{self.s.host(rd, j):02d}"
                hi_c[h] = hi_c.get(h, 0) + 1
                if j < acked:
                    lo_c[h] = lo_c.get(h, 0) + 1
            for h in set(got) | set(hi_c):
                if not lo_c.get(h, 0) <= got.get(h, 0) <= hi_c.get(h, 0):
                    return f"{h}: {got.get(h, 0)} not in [{lo_c.get(h, 0)}, {hi_c.get(h, 0)}]"
            return None
        got = {r["day"]: (r["n"], r["total"]) for r in rows}
        lo_d: dict[str, list[int]] = {}
        hi_d: dict[str, list[int]] = {}
        for j in writes(t, 0, issued):
            day = utc(ts(j)).date().isoformat()
            v = self.s.value(rd, j)
            for acc, ok in ((hi_d, True), (lo_d, j < acked)):
                if ok:
                    c = acc.setdefault(day, [0, 0])
                    c[0] += 1
                    c[1] += v
        for day in set(got) | set(hi_d):
            n, total = got.get(day, (0, 0))
            (ln, lt), (hn, ht) = lo_d.get(day, (0, 0)), hi_d.get(day, (0, 0))
            if not (ln <= n <= hn and lt <= total <= ht):
                return f"{day}: ({n}, {total}) not in [({ln}, {lt}), ({hn}, {ht})]"
        return None


def digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()
