"""A benchmark-owned StreamingQueryListener: one record per completed
micro-batch, with Spark's own per-phase durations.

``triggerExecution`` spans a trigger from its start to the commit of
its offsets, so it is the micro-batch latency the route workload
reports. ``addBatch`` is the foreachBatch body (the engine's dataflow);
the remainder of the trigger is Spark's micro-batch overhead.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
)


class ProgressLog(StreamingQueryListener):
    def __init__(self):
        self.records: list[dict] = []
        self._seen: set[tuple[str, int]] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        key = (str(p.runId), int(p.batchId))
        dur = dict(p.durationMs or {})
        rec = {
            "query": p.name or str(p.id),
            "batch_id": int(p.batchId),
            "rows": int(p.numInputRows or 0),
        }
        for ph in PHASES:
            rec[ph] = float(dur.get(ph, 0.0))
        with self._lock:
            # Spark re-emits the last progress when a query idles
            if key in self._seen:
                return
            self._seen.add(key)
            self.records.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_query(self, name: str) -> list[dict]:
        with self._lock:
            return [r for r in self.records if r["query"] == name]

    def wait_for(self, name: str, n: int, timeout_s: float = 30.0) -> list[dict]:
        """Progress events reach the listener asynchronously; wait until
        ``n`` batches of query ``name`` have arrived."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            recs = self.for_query(name)
            if len(recs) >= n:
                return recs
            time.sleep(0.05)
        return self.for_query(name)
