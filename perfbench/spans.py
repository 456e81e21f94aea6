"""Spans around the benchmark's calls into each layer of the package.

``Clock.call(name, fn, ...)`` times one call. With tracing off that is
all it does. With tracing on it also records a span (name, start, end,
parent span, op id) and runs the call under a Spark job group of its
own, so the jobs, stages and tasks it launched can be attributed to it
afterwards. Spans stay in memory; ``resolve()`` reads the job counts
from ``statusTracker()`` and the stage metrics from the JVM status
store once, at the end of the run, and ``dump()`` writes them out.

Probe children (``probe=True``) re-run a step of their parent on the
same inputs just before the parent's call, e.g. ``storages.read`` and
``queries.compile`` inside ``database.search_df``. ``paid()`` leaves
them out of what the caller paid; subtracting them once more from the
call gives the parent's self time (``database.build_ms``).

``inner(obj, attr, name)`` times the package's own calls to one
method of an object (``storages.append_points`` inside
``database.insert_multiple``), so a traced op calls the same public
function an untraced one does.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Any, Callable, Dict, List, Optional


class Clock:
    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[int] = []
        self._op = 0
        self.round = 0

    # -- ops and spans ------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """One caller-visible operation; its spans share an op id."""
        self._op += 1
        with self.span(name) as s:
            yield s

    @contextmanager
    def span(self, name: str, probe: bool = False, **attrs):
        rec: Dict[str, Any] = {
            "id": len(self.spans), "name": name, "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "probe": probe, "round": self.round, **attrs,
        }
        if self.traced:
            self.spans.append(rec)
            self._stack.append(rec["id"])
            sc = self.spark.sparkContext
            sc.setJobGroup(f"perfbench-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.traced:
                self._stack.pop()
                sc = self.spark.sparkContext
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(
                        f"perfbench-{parent['id']}", parent["name"]
                    )
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, fn: Callable, *args, probe: bool = False,
             **kwargs):
        """Time ``fn(*args, **kwargs)``; returns (result, seconds)."""
        with self.span(name, probe=probe) as s:
            out = fn(*args, **kwargs)
        return out, s["end"] - s["start"]

    @contextmanager
    def inner(self, obj, attr: str, name: str):
        """While tracing, time each call the package makes to
        ``obj.attr`` as a span ``name``, by shadowing the bound method
        on the instance; the caller's own call path is unchanged."""
        if not self.traced:
            yield
            return
        fn = getattr(obj, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, timed)
        try:
            yield
        finally:
            delattr(obj, attr)

    # -- attribution ---------------------------------------------------
    def children(self, sid: int) -> List[Dict[str, Any]]:
        return [s for s in self.spans if s["parent"] == sid]

    def duration(self, s: Dict[str, Any]) -> float:
        return s["end"] - s["start"]

    def paid(self, s: Dict[str, Any]) -> float:
        """What the caller paid: the span minus its probes (leaf calls)."""
        return self.duration(s) - sum(
            self.duration(p) for p in self.descendants(s["id"]) if p["probe"]
        )

    def descendants(self, sid: int) -> List[Dict[str, Any]]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def resolve(self, settle_s: float = 1.0) -> None:
        """Attach job/stage/task counts and stage metrics to each span.
        Counts are the span's own group only; ``inclusive()`` sums a
        subtree."""
        if not self.traced or not self.spans:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        deadline = time.time() + 10 * settle_s
        time.sleep(settle_s)
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.1)
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(f"perfbench-{s['id']}"))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s["jobs"] = len(jobs)
            s["stages"] = len(stage_ids)
            agg = {"tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
                   "input_records": 0}
            for sid in stage_ids:
                m = stage_metrics(self.spark, sid)
                if m is None:
                    info = tracker.getStageInfo(sid)
                    agg["tasks"] += info.numTasks if info else 0
                    continue
                for k in agg:
                    agg[k] += m[k]
            s.update(agg)

    def inclusive(self, s: Dict[str, Any], key: str) -> float:
        return s.get(key, 0) + sum(
            d.get(key, 0) for d in self.descendants(s["id"])
        )

    def dump(self, path: str, ops: list) -> None:
        """Write the spans and the per-op (round, traced, kind, seconds)
        records as one JSON document."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": ops}, f)


def stage_metrics(spark, stage_id: int) -> Optional[Dict[str, float]]:
    """Task count, executor run time, shuffle bytes and input records of
    one stage, from the JVM status store (works with the UI disabled).
    None if the stage was evicted or the store's API moved; callers then
    fall back to the public ``statusTracker`` task count."""
    from py4j.protocol import Py4JError

    try:
        st = spark.sparkContext._jsc.sc().statusStore().lastStageAttempt(
            int(stage_id))
        return {
            "tasks": int(st.numCompleteTasks()) + int(st.numFailedTasks()),
            "task_s": st.executorRunTime() / 1000.0,
            "shuffle_bytes": int(st.shuffleReadBytes())
            + int(st.shuffleWriteBytes()),
            "input_records": int(st.inputRecords()),
        }
    except Py4JError:
        return None


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> Dict[int, int]:
    """CPU ticks used so far by this process and each process descended
    from it (the Spark JVM, Python workers), by pid: user plus system
    time of its own threads and of its children it has reaped."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    kids: Dict[int, List[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            # utime, stime, cutime, cstime
            out[pid] = sum(int(x) for x in stats[pid][11:15])
        todo.extend(kids.get(pid, ()))
    return out


def cpu_between(a: Dict[int, int], b: Dict[int, int]) -> float:
    """CPU seconds the process tree used from snapshot ``a`` to ``b``.
    A process that ends between them counts only once its parent has
    reaped it."""
    return sum(t - a.get(pid, 0) for pid, t in b.items()) / _TICK


def median(xs) -> Optional[float]:
    xs = sorted(xs)
    if not xs:
        return None
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])
