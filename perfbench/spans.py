"""Span tracing and Spark status-store collection, both from outside the
program.

``Tracer`` wraps public functions of the engine's modules at run time
(it never edits them): each call records a span ``(name, start, end,
parent, request id)`` in memory; the spans are written out when the
benchmark ends. A layer's self time is its spans' duration minus the
part covered by child spans.

``SparkJobs`` reads job and stage data from the JVM status store, which
is populated even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, span id, parent id, request id)
        self.spans: list[tuple[str, float, float, int, int | None, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, int]]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append((sid, parent[1] if parent else sid))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(
                (name, t0, t1, sid, parent[0] if parent else None,
                 parent[1] if parent else sid)
            )

    def wrap(self, owner, attr: str, name: str, observe=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``observe(tracer, args, kwargs, result)`` may add counts."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if observe is not None:
                observe(tracer, args, kwargs, out)
            return out

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, *_ in self.spans if n == name]

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self times (duration minus direct children)."""
        child = defaultdict(float)
        for _n, s, e, _sid, parent, _rid in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, list[float]] = defaultdict(list)
        for n, s, e, sid, _p, _rid in self.spans:
            out[n].append(max(0.0, (e - s) - child.get(sid, 0.0)))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for n, s, e, sid, parent, rid in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e, "id": sid,
                                    "parent": parent, "request": rid}) + "\n")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkJobs:
    """Jobs, stages and task metrics from the application status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in the wall-clock window [t0, t1]."""
        seq = self.store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = _opt_ms(j.submissionTime())
            if sub is None or not (t0 <= sub <= t1):
                continue
            sids = j.stageIds()
            out.append({
                "id": j.jobId(),
                "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                "start": sub,
                "end": _opt_ms(j.completionTime()) or t1,
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        return out

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, jobs: list[dict], window_s: float) -> dict[str, float]:
        tot = defaultdict(float)
        tot["jobs"] = len(jobs)
        seen: set[int] = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # a skipped stage has no attempt data
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["input_mb"] += st.inputBytes() / 2**20
                tot["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        busy = _union([(j["start"], j["end"]) for j in jobs])
        tot["driver_share"] = max(0.0, 1.0 - busy / window_s) if window_s > 0 else 0.0
        return dict(tot)

    def totals_for_ids(self, ids: list[int], window_s: float) -> dict[str, float]:
        jobs = []
        for jid in ids:
            j = self.store.job(jid)
            sids = j.stageIds()
            jobs.append({
                "start": _opt_ms(j.submissionTime()) or 0.0,
                "end": _opt_ms(j.completionTime()) or 0.0,
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        return self.totals(jobs, window_s)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
