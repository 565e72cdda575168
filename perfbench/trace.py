"""Spans around the program's layer boundaries, recorded from outside.

The benchmark wraps public callables of each layer (class attributes
and module-level names) for the length of a traced run. A span records
(name, start, end, parent, request id); spans stay in memory and are
written out when the run ends. A layer's self time is its span's
duration minus the time its child spans cover.

Some program modules import a function by name (``coldtier`` imports
``measurements_to_arrow`` and ``select_days`` from ``engine``;
``server`` imports the two formatters), so every lookup site of such a
name is patched, and :meth:`Tracer.require` fails the run when a
declared span never fired.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from typing import Any, Callable

_now = time.perf_counter_ns


class Tracer:
    def __init__(self) -> None:
        # (name, start_ns, end_ns, parent index or -1, request id)
        self.spans: list[tuple[str, int, int, int, str]] = []
        # name -> list of numbers recorded at the span's boundary
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._tls = threading.local()
        self._lock = threading.Lock()
        #: every span name that ever fired, kept across reset()
        self.fired: set[str] = set()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------- recording

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_request(self, rid: str) -> None:
        self._tls.rid = rid

    def begin(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        with self._lock:
            idx = len(self.spans)
            self.fired.add(name)
            self.spans.append(
                (name, _now(), 0, parent, getattr(self._tls, "rid", ""))
            )
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        end = _now()
        self._stack().pop()
        name, start, _, parent, rid = self.spans[idx]
        self.spans[idx] = (name, start, end, parent, rid)

    def current(self) -> str:
        """Name of this thread's innermost open span, or ""."""
        st = self._stack()
        return self.spans[st[-1]][0] if st else ""

    def reset(self) -> None:
        """Drop recorded spans and counts (between set-up and the
        measured phase); the set of fired names is kept."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name].append(value)

    def wrap(
        self,
        fn: Callable,
        name: str,
        on_result: Callable[["Tracer", tuple, Any], None] | None = None,
    ) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if on_result is not None:
                on_result(self, args, out)
            return out

        return traced

    # -------------------------------------------------------- patching

    def patch(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper; plain
        functions, methods, classmethods and staticmethods alike."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new: object = classmethod(self.wrap(raw.__func__, name, on_result))
        elif isinstance(raw, staticmethod):
            new = staticmethod(self.wrap(raw.__func__, name, on_result))
        else:
            new = self.wrap(raw, name, on_result)
        self._undo.append((owner, attr, raw))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    # ------------------------------------------------------- analysis

    def self_times_ns(self) -> dict[str, list[int]]:
        """name -> self time (duration minus direct children) of every
        finished span."""
        child = [0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0 and end:
                child[parent] += end - start
        out: dict[str, list[int]] = defaultdict(list)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end:
                out[name].append(end - start - child[i])
        return out

    def durations_ns(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = defaultdict(list)
        for name, start, end, _, _ in self.spans:
            if end:
                out[name].append(end - start)
        return out

    def require(self, names: list[str]) -> None:
        """Fail loudly when a span the workload must reach never fired
        (a wrapper bound at the wrong lookup site records nothing)."""
        missing = [n for n in names if n not in self.fired]
        if missing:
            raise RuntimeError(f"declared spans never fired: {missing}")

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, separators=(",", ":")))
                f.write("\n")
