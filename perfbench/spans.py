"""Spans at the package's layer boundaries, recorded from outside it.

The traced run wraps the public functions through which one layer calls the
next (the package itself is not edited): every call becomes a span with a
name, a start, an end, the span that caused it and the id of the operation
(chunk, request or query) it belongs to. Spans stay in memory until the run
ends. Spark job groups tie jobs to operations, and the in-process status
store supplies the executor side of each job; no UI or network is needed.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass

from stats import self_time


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Span recorder for one client thread (the benchmark drives Spark from
    a single thread, so a stack gives every span its parent)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, keep=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) by a
        wrapper that records a span around every call. ``keep``, if given,
        receives each result after its span has closed."""
        is_map = isinstance(owner, dict)
        orig = owner[attr] if is_map else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if keep is not None:
                keep(result)
            return result

        if is_map:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)

    # ------------------------------------------------------------ queries

    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def within(self, parent: Span, prefix: str) -> list[Span]:
        """Spans whose name starts with ``prefix`` anywhere below ``parent``."""
        below = {parent.sid}
        out = []
        for s in self.spans[parent.sid + 1:]:
            if s.parent in below:
                below.add(s.sid)
                if s.name.startswith(prefix):
                    out.append(s)
        return out

    def total_ms(self, parent: Span, prefix: str) -> float:
        return sum(s.ms for s in self.within(parent, prefix))

    def self_ms(self, s: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == s.sid]
        return self_time(s.start, s.end, kids) * 1000.0


class JobLedger:
    """One Spark job group per operation, read back from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def group(self, gid: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def counters(self, groups: list[str]) -> dict[str, float]:
        """Executor-side totals over every job of ``groups``. Skipped stages
        (shuffle output reused from an earlier job) did no work and are left
        out."""
        from py4j.protocol import Py4JError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = [j for g in groups for j in self.jobs(g)]
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            (
                "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes",
            ),
            0.0,
        )
        out["jobs"] = float(len(jobs))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def storage_used_bytes(self) -> int:
        """Block-manager storage memory in use, summed over executors."""
        used = 0
        it = self.sc._jsc.sc().getExecutorMemoryStatus().valuesIterator()
        while it.hasNext():
            t = it.next()
            used += t._1() - t._2()
        return used
