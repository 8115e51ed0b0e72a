"""Spans, Spark job accounting and host probes for the traced run.

Spans are timed from outside the program, around calls into its public
functions, and kept in memory.  After each traced op the op's Spark jobs
(tagged with a per-op job group) are read back from the in-process status
store, which works with the UI disabled.
"""

from __future__ import annotations

import contextlib
import os
import re
import time

# Job names are "<action> at <call site>", and reads and writes share
# action names (csv, json, parquet), so the span a job started in decides
# between schema inference and sink writes.  AQE's broadcast and subquery
# jobs carry Spark-internal call sites.
JOB_KINDS = ("collect", "count", "localCheckpoint", "save", "infer", "broadcast", "other")
_COLLECT = {"toArrow", "collect", "collectAsArrowToPython", "toPandas",
            "first", "take", "head", "showString", "toLocalIterator"}


def job_kind(name: str, span: str | None) -> str:
    action = name.split(" at ", 1)[0].strip()
    if span == "sources.register":
        return "infer"
    if action in _COLLECT:
        return "collect"
    if span == "writers.write" or action == "save":
        return "save"
    if action in ("count", "localCheckpoint"):
        return action
    if re.search(r"broadcast|subquery|\$anonfun", name, re.I):
        return "broadcast"
    return "other"


def innermost(spans, t: float) -> str | None:
    """Name of the shortest span containing time ``t``."""
    inside = [(b - a, name) for name, a, b, _p, _o in spans if a <= t <= b]
    return min(inside)[1] if inside else None


class Tracer:
    """Records (name, start, end, parent, op) spans while ``on``; with it
    off, as for every untraced op, a span is a no-op."""

    def __init__(self):
        self.on = False
        self.spans: list[tuple[str, float, float, str | None, int]] = []
        self._stack: list[str] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((name, t0, time.time(), parent, self.op))

    @contextlib.contextmanager
    def wrapping(self, targets: list[tuple[object, str, str]]):
        """Temporarily replace ``obj.attr`` by a spanned wrapper for each
        (obj, attr, span name); a no-op when tracing is off."""
        if not self.on:
            yield
            return
        saved = []
        for obj, attr, name in targets:
            fn = getattr(obj, attr)
            saved.append((obj, attr, fn))

            def wrapper(*a, _fn=fn, _name=name, **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            setattr(obj, attr, wrapper)
        try:
            yield
        finally:
            for obj, attr, fn in reversed(saved):
                setattr(obj, attr, fn)

    def op_spans(self, op: int) -> list[tuple[str, float, float, str | None, int]]:
        return [s for s in self.spans if s[4] == op]


def _opt(x):
    return x.get() if x.isDefined() else None


def group_jobs(spark, group: str) -> list[dict]:
    """Jobs of one job group with their stage metrics, from the status
    store; waits for the listener bus so the last job is complete."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        j = store.job(jid)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                s = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if str(s.status()) == "SKIPPED":
                continue
            stages.append({
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "gc_ms": s.jvmGcTime(),
                "shuffle_bytes": s.shuffleWriteBytes(),
            })
        out.append({
            "name": j.name(),
            "start": sub.getTime() / 1e3 if sub else None,
            "end": done.getTime() / 1e3 if done else None,
            "stages": stages,
        })
    return out


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# ---------------------------------------------------------------------------
# host probes

def steal_s() -> float:
    """Cumulative CPU steal of the host, all CPUs, in seconds."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(st[11]) + int(st[12])) / tick
    return total


def hwm_mb(pids: list[int]) -> float:
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
        except OSError:
            continue
    return total


def floors_ms(spark, python: bool) -> tuple[float, float | None]:
    """(one-task SQL job, one-task Python identity job) in ms: the
    scheduling floors every op pays, measured to explain drift.  The Python
    floor, whose first call also starts a Python worker, only if ``python``."""
    t = time.perf_counter()
    spark.range(1).count()
    empty = (time.perf_counter() - t) * 1e3
    if not python:
        return empty, None
    t = time.perf_counter()
    spark.sparkContext.parallelize(range(64), 1).map(lambda x: x).count()
    return empty, (time.perf_counter() - t) * 1e3
