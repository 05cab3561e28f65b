"""Spans, Spark job counts and small statistics for the benchmark.

Spans are recorded from the benchmark's own code, around its calls into
the engine's layers. A span has a name, start, end, parent and the id of
the operation it belongs to. Job, stage and task counts per operation
come from Spark's status tracker: each traced operation runs under its
own job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

# Spans whose name starts with this are the benchmark's own wrappers
# around one operation; every other span names an engine layer.
BENCH_PREFIX = "bench."
IDLE_GROUP = "perfbench-untimed"


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def host_iters(seconds: float = 0.25) -> int:
    """Iterations of a single-process busy loop in ``seconds``: a marker of
    how much CPU the host gave this run, reported next to its timings."""
    end = time.perf_counter() + seconds
    n = 0
    while time.perf_counter() < end:
        n += 1
    return n


class Tracer:
    """Times operations; when tracing is active, also records spans and
    tags the operation's Spark jobs with a job group.

    ``enabled`` is fixed for the run (``--trace``); ``active`` is off
    while a traced run warms up, so warm-up stays out of the numbers.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self.t0 = time.perf_counter()
        self.instrument_s = 0.0  # time spent setting job groups

    @contextlib.contextmanager
    def op(self, kind: str, span: str | None = None):
        """One timed operation: a request, a pipeline step or a set-up step.
        Yields its record; ``record["ms"]`` is set on exit and
        ``record["ok"]`` is False if the operation raised."""
        rec = {"id": len(self.ops), "kind": kind, "ok": True}
        self.ops.append(rec)
        if self.active:
            rec["group"] = f"perfbench-op-{rec['id']}"
            self._set_group(rec["group"], kind)
        self._op = rec["id"]
        start = time.perf_counter()
        try:
            with self.span(span or BENCH_PREFIX + kind):
                yield rec
        except Exception as exc:  # counted as a failed operation
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec["ms"] = (time.perf_counter() - start) * 1e3
            self._op = None
            if self.active:
                self._set_group(IDLE_GROUP, "outside timed operations")

    def _set_group(self, group: str, description: str) -> None:
        start = time.perf_counter()
        self.sc.setJobGroup(group, description)
        self.instrument_s += time.perf_counter() - start

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span around each call while tracing is active."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count_jobs(self) -> None:
        """Fill jobs/stages/tasks/failed_tasks into every traced operation."""
        time.sleep(1.0)  # let the listener bus deliver the last job-end events
        st = self.sc.statusTracker()
        for rec in self.ops:
            if "group" not in rec:
                continue
            jobs = st.getJobIdsForGroup(rec["group"])
            stage_ids = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
            stages = [i for s in stage_ids if (i := st.getStageInfo(s))]
            rec["jobs"] = len(jobs)
            rec["stages"] = sum(1 for i in stages if i.numCompletedTasks)
            rec["tasks"] = sum(i.numCompletedTasks for i in stages)
            rec["failed_tasks"] = sum(i.numFailedTasks for i in stages)

    def self_ms(self) -> list[float]:
        """Self time of each span: its duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [(s["end"] - s["start"] - child[i]) * 1e3 for i, s in enumerate(self.spans)]

    def layer_table(self) -> dict[str, dict]:
        """Per span name: calls, total ms and self ms."""
        table: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        for s, own in zip(self.spans, self.self_ms()):
            row = table[s["name"]]
            row["calls"] += 1
            row["total_ms"] += (s["end"] - s["start"]) * 1e3
            row["self_ms"] += own
        return dict(table)

    def spans_named(self, name: str, self_time: bool = False) -> list[float]:
        """Durations (or self times) in ms of every span called ``name``."""
        own = self.self_ms() if self_time else None
        return [
            own[i] if self_time else (s["end"] - s["start"]) * 1e3
            for i, s in enumerate(self.spans)
            if s["name"] == name
        ]

    def attributed_ms(self, op_ids: set[int]) -> float:
        """Time of ``op_ids`` covered by engine-layer spans: an operation
        span named after a layer counts whole; a benchmark wrapper counts
        only through its direct children."""
        total = 0.0
        for s in self.spans:
            if s["op"] not in op_ids or s["name"].startswith(BENCH_PREFIX):
                continue
            parent = self.spans[s["parent"]] if s["parent"] is not None else None
            if parent is None or parent["name"].startswith(BENCH_PREFIX):
                total += (s["end"] - s["start"]) * 1e3
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)
