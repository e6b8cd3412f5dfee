"""Spans around calls into the package's layers, for the traced run.

The package has no hooks of its own, so a traced run wraps the public
functions a workload reaches — in every package module that imported
them by name — and restores them when it ends. A span holds its name,
start, end, parent and the run id; spans stay in memory and are written
out once, when the run ends.

Lazy layers (functions that return a DataFrame) are timed by
materializing their output: the wrapper persists the returned frame and
runs it through ``actions.materialize`` inside the span, so later
consumers read the cache and the next span measures only its own work.
A cached input is materialized before the span opens, which bills it to
the caller's span instead of this one.

Self time is a span's duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.persisted: list = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] += value

    # -- derived figures -------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s.start
            for c in sorted(kids[i], key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans],
                       "counts": self.counts}, f, indent=1)

    # -- wrapping --------------------------------------------------------
    def patch(self, owner, name: str, make_wrapper) -> bool:
        """Replace ``owner.name`` with ``make_wrapper(original)`` in
        ``owner`` and in every package module that holds the same object.
        Returns False when ``owner`` has no such attribute."""
        orig = getattr(owner, name, None)
        if orig is None:
            return False
        wrapped = make_wrapper(orig)
        targets = [owner] + [m for m in list(sys.modules.values())
                             if m is not owner and m is not None
                             and getattr(m, "__name__", "").startswith(PACKAGE)
                             and getattr(m, name, None) is orig]
        for t in targets:
            self._undo.append((t, name, orig))
            setattr(t, name, wrapped)
        return True

    def restore(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()

    def eager(self, span_name: str):
        """Wrapper factory: one span around each call."""
        def make(orig):
            def wrapped(*args, **kwargs):
                with self.span(span_name):
                    return orig(*args, **kwargs)
            return wrapped
        return make

    def lazy(self, span_name: str, on_output=None):
        """Wrapper factory for a function returning a DataFrame: the
        output is persisted and materialized inside the span;
        ``on_output(args, kwargs, out)`` then takes counts outside it."""
        from pyspark.sql import DataFrame

        from tf_prisma_api_data_ingestion_spark.actions import materialize

        def make(orig):
            def wrapped(*args, **kwargs):
                for x in (*args, *kwargs.values()):
                    if isinstance(x, DataFrame) and x.is_cached:
                        materialize(x)
                with self.span(span_name):
                    out = orig(*args, **kwargs).persist()
                    materialize(out)
                self.persisted.append(out)
                if on_output is not None:
                    on_output(args, kwargs, out)
                return out
            return wrapped
        return make


PACKAGE = "tf_prisma_api_data_ingestion_spark"


# -- Spark's own accounting ---------------------------------------------

def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of one job group, read
    from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


def event_log_bytes(log_dir: str) -> dict[str, dict[str, int]]:
    """Shuffle bytes written and bytes spilled to disk, per job group,
    from Spark's JSON event logs (complete once the session stops; one
    file per session, stage ids restart in each)."""
    import os

    out: dict[str, dict[str, int]] = defaultdict(
        lambda: {"shuffle_bytes": 0, "spill_bytes": 0})
    for fname in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    out[g]["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                                ).get("Shuffle Bytes Written", 0)
                    out[g]["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)
