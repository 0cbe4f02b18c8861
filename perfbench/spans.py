"""In-memory spans for the traced benchmark run.

A span wraps one call into a layer: name, start, end, parent, and the id of
the operation it belongs to (one id per incremental run, one per query,
``setup`` for set-up).  While a span is open it owns a Spark job group, so
the jobs, stages, tasks and failed tasks that call launches are read back
from ``statusTracker()`` when it closes.  Spans stay in memory and are
written out once, when the run ends.

``NullTracer`` is what the untraced run uses: its spans cost a context
manager and nothing else.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def job_counts(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and failed tasks launched under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "counts")

    def __init__(self, sid: int, name: str, op: str, parent: int | None):
        self.sid = sid
        self.name = name
        self.op = op
        self.parent = parent
        self.start = time.perf_counter()
        self.end = self.start
        self.counts: dict[str, float] = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None

    def count(self, span, key: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, op or (parent.op if parent else "setup"),
                  parent.sid if parent else None)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"bench-span-{sp.sid}"
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.counts.update(job_counts(self.sc, group))
            if parent is not None:
                self.sc.setJobGroup(f"bench-span-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, span, key: str, value: float) -> None:
        span.counts[key] = span.counts.get(key, 0) + value

    # --- summaries -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover (children
        of one span run one after another, so they never overlap)."""
        covered: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.dur
        return {sp.sid: sp.dur - covered.get(sp.sid, 0.0) for sp in self.spans}

    def subtree_counts(self, key: str) -> dict[int, float]:
        """Per span: its own count plus every descendant's."""
        total = {sp.sid: sp.counts.get(key, 0) for sp in self.spans}
        for sp in reversed(self.spans):  # children are appended after parents
            if sp.parent is not None:
                total[sp.parent] += total[sp.sid]
        return total

    def layer_stats(self, name: str, key: str | None = None) -> float:
        """One number per layer: the median over timed operations of the
        layer's per-operation sum (its duration, or ``key``'s subtree
        count).  Set-up spans stand in when no timed operation reached the
        layer; a layer no span reached reads 0."""
        values = (
            {sp.sid: sp.dur for sp in self.spans}
            if key is None
            else self.subtree_counts(key)
        )
        per_op: dict[str, float] = {}
        for sp in self.spans:
            if sp.name == name:
                per_op[sp.op] = per_op.get(sp.op, 0.0) + values[sp.sid]
        timed = [v for op, v in per_op.items() if op != "setup"]
        if timed:
            return statistics.median(timed)
        return per_op.get("setup", 0.0)

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        layers: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            agg = layers.setdefault(sp.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += sp.dur
            agg["self_s"] += selfs[sp.sid]
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            **extra,
            "layers": layers,
            "spans": [
                {
                    "id": sp.sid,
                    "name": sp.name,
                    "op": sp.op,
                    "parent": sp.parent,
                    "start_s": sp.start - t0,
                    "end_s": sp.end - t0,
                    "self_s": selfs[sp.sid],
                    **sp.counts,
                }
                for sp in self.spans
            ],
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


def dir_snapshot(path: str) -> dict[str, tuple[int, int, int]]:
    """relative file path -> (size, mtime_ns, inode) for every data file."""
    snap = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            snap[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return snap


def dir_diff(before: dict, after: dict) -> tuple[int, int]:
    """(bytes written, partition directories rewritten) between snapshots:
    a partition counts when any of its files was added, changed or
    removed."""
    written = 0
    parts = set()
    for rel, meta in after.items():
        if before.get(rel) != meta:
            written += meta[0]
            parts.add(os.path.dirname(rel))
    for rel in before.keys() - after.keys():
        parts.add(os.path.dirname(rel))
    return written, len(parts)
