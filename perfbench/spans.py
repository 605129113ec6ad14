"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id) plus counter deltas read
at the same boundaries. Spans are opened around calls into the
program's layers by wrapping instance methods from the benchmark's own
files; nothing inside ``ziggurat_spark`` is changed. Spans stay in a
list until ``dump`` writes them at the end of the run.

Nesting follows a per-thread stack. ``foreachBatch`` bodies run on a
py4j callback thread whose stack starts empty, so a span opened there
takes the main thread's innermost open span as its parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    #: counter name -> delta between span start and end
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``. When not, nothing is wrapped and
    a ``span`` block costs one attribute test, so the untraced run
    measures the program as it is."""

    def __init__(self, run_id: str, enabled: bool, counters: dict[str, Callable[[], int]]):
        self.run_id = run_id
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _read(self) -> dict:
        return {k: fn() for k, fn in self.counters.items()}

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> tuple[Span, dict]:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        c0 = self._read()
        with self._lock:
            sp = Span(len(self.spans), name, parent.id if parent else None,
                      self.run_id, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        return sp, c0

    def _close(self, sp: Span, c0: dict) -> None:
        sp.end = time.perf_counter()
        c1 = self._read()
        sp.counters = {k: c1[k] - c0[k] for k in c0}
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (a bound method or function attribute)
        with a traced twin, when tracing is enabled."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)
        setattr(obj, attr, self.traced(name, fn))

    def traced(self, name: str, fn: Callable) -> Callable:
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, and summed
        counter deltas. Self time is the span's duration minus the part
        of its interval covered by its children (children on other
        threads can overlap each other; their union is subtracted)."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, dict] = {}
        for sp in self.spans:
            covered = _union_len(
                [(max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])]
            )
            rec = out.setdefault(
                sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "counters": {}}
            )
            rec["calls"] += 1
            rec["total_s"] += sp.dur
            rec["self_s"] += sp.dur - covered
            for k, v in sp.counters.items():
                rec["counters"][k] = rec["counters"].get(k, 0) + v
        return out

    def durations(self, name: str) -> list[float]:
        return [sp.dur for sp in self.spans if sp.name == name]

    def counter_deltas(self, name: str, counter: str) -> list[int]:
        return [sp.counters.get(counter, 0) for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(sp) for sp in self.spans],
                    "self_times": self.self_times(),
                },
                f,
            )

    def span_cost_s(self, n: int = 200) -> float:
        """Measured cost of one traced call (wrapper, two counter
        reads, bookkeeping) on a no-op, in seconds. Used with the span
        count to size the tracing overhead of this run."""
        probe = Tracer("probe", True, self.counters)
        noop = probe.traced("noop", lambda: None)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        return (time.perf_counter() - t0) / n


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.sp = None

    def __enter__(self):
        if self.tracer.enabled:
            self.sp, self.c0 = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sp is not None:
            self.tracer._close(self.sp, self.c0)
        return False


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
