"""Spans around the benchmark's calls into each layer of the program.

A span records name, start, end, parent and run id, and — read from the
Spark driver when the span ends — the jobs and stages submitted while it
was open. Jobs are attributed by job-id range, not by job group: the
program submits some jobs from its own worker threads, which carry no
job group. Stage data (tasks, failed tasks, shuffle bytes) is read as
each span ends, before a busy operation can push it out of the status
store's retention window.

Spark is lazy, so in traced mode the benchmark materializes each layer's
output at its boundary (``materialize``); the span then holds that
layer's work and nothing downstream recomputes it.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("sid", "name", "parent", "t0", "t1", "jobs", "tasks",
                 "failed_tasks", "shuffle_write_bytes", "counts", "children_s")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.sid, self.name, self.parent = sid, name, parent
        self.t0 = self.t1 = 0.0
        self.jobs = self.tasks = self.failed_tasks = self.shuffle_write_bytes = 0
        self.counts: dict[str, float] = {}
        self.children_s = 0.0

    @property
    def self_s(self) -> float:
        return (self.t1 - self.t0) - self.children_s

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "start": self.t0, "end": self.t1, "self_s": self.self_s,
                "jobs": self.jobs, "tasks": self.tasks,
                "failed_tasks": self.failed_tasks,
                "shuffle_write_bytes": self.shuffle_write_bytes,
                "counts": self.counts}


class Tracer:
    """Collects spans when ``enabled``; otherwise every method is a no-op
    pass-through so the untraced path runs the same calls unchanged."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(self._next_id, name, self._stack[-1].sid if self._stack else None)
        self._next_id += 1
        j0, s0 = self._dag.nextJobId(), self._dag.nextStageId()
        self._stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1].children_s += sp.t1 - sp.t0
            sp.jobs = self._dag.nextJobId() - j0
            for stage_id in range(s0, self._dag.nextStageId()):
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # evicted or never registered
                    continue
                sp.tasks += st.numCompleteTasks() + st.numFailedTasks()
                sp.failed_tasks += st.numFailedTasks()
                sp.shuffle_write_bytes += st.shuffleWriteBytes()
            self.spans.append(sp)

    def materialize(self, df):
        """Compute ``df`` now and cut its lineage (traced mode only)."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [s.as_dict() for s in self.spans]}, f)

    def per_op(self, op_name: str) -> list[dict[str, float]]:
        """One dict per ``op_name`` span: for every child layer span,
        ``<layer>.busy_s``, ``.spark_jobs``, ``.tasks``, ``.failed_tasks``,
        ``.shuffle_write_bytes`` and its own counts, summed per layer."""
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                by_parent.setdefault(s.parent, []).append(s)
        ops = []
        for op in (s for s in self.spans if s.name == op_name):
            agg: dict[str, float] = {"op_s": op.t1 - op.t0}
            for ch in by_parent.get(op.sid, []):
                layer, _, kind = ch.name.partition("/")
                vals = {"busy_s": ch.self_s, "spark_jobs": ch.jobs,
                        "tasks": ch.tasks, "failed_tasks": ch.failed_tasks,
                        "shuffle_write_bytes": ch.shuffle_write_bytes}
                if kind:
                    vals[f"{kind}_s"] = ch.self_s
                vals.update(ch.counts)
                for k, v in vals.items():
                    agg[f"{layer}.{k}"] = agg.get(f"{layer}.{k}", 0) + v
            ops.append(agg)
        return ops


def median_of(ops: list[dict[str, float]], key: str) -> float:
    vals = [op.get(key, 0) for op in ops]
    return float(statistics.median(vals)) if vals else 0.0
