"""Spans recorded by the benchmark around its calls into the engine.

Spans live in memory and are written out when the run ends. A span that
``counts`` Spark work sets a job group around the call, flushes the
listener bus afterwards and drains the event log: the calls run one at
a time, so the events drained belong to that call. The event-log reader
is the bench harness's ``_EventLogReader``.
"""

from __future__ import annotations

import contextlib
import json
import time

COUNT_KEYS = ("jobs", "tasks", "cpu_sec", "shuffle_write_mb")


class Tracer:
    def __init__(self, evdir: str):
        from bench import _EventLogReader

        self.spark = None  # set once the session is up
        self.reader = _EventLogReader(evdir)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.metrics_ok = True

    def drain(self) -> dict:
        """Flush the listener bus so the event log holds every finished
        job, then read the events logged since the last drain. A failed
        flush marks the run's counts unreliable."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # py4j error from the JVM side
            self.metrics_ok = False
        return self.reader.drain()

    @contextlib.contextmanager
    def span(self, name: str, counts: bool = False):
        """Record ``name`` around the block. ``counts`` attaches the
        Spark jobs/tasks/CPU/shuffle of the block (leaf spans only)."""
        if counts:
            sc = self.spark.sparkContext
            self.drain()  # drop events of earlier, unspanned work
            sc.setJobGroup(name, name)
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counts:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                m = self.drain()
                rec.update({k: m.get(k, 0) for k in COUNT_KEYS})

    def self_time(self, rec: dict) -> float:
        """Duration minus the time its direct children cover."""
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"metrics_ok": self.metrics_ok, "spans": self.spans}, f)
