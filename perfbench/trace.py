"""Spans around calls into the program's layers, with per-span Spark
counters read from the status store.

A span records name, start, end, parent, workload and run id. While a
span is the innermost open one, every Spark job the driver thread starts
carries the span's job group; at span end the benchmark reads those
jobs' stages from the status store (it works with the UI disabled) and
sums their task counters. Counters are the span's OWN jobs; a parent
does not include its children's.

Spans are kept in memory and written once, at exit. With tracing off
every method is a pass-through, so the untraced run executes the calls
exactly as written.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager

def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] its children cover
    (overlapping children are merged, parts outside the span ignored)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


class StageCounters:
    """Sums task counters over the stages of a job group's jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def read(self, group: str) -> dict:
        # the status store is fed by the async listener bus: drain it so
        # the group's finished stages carry their final metrics
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "task_run_s": 0.0,
               "input_bytes": 0, "scan_task_cpu_s": 0.0, "shuffle_bytes": 0,
               "spill_bytes": 0}
        seen = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage skipped or evicted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                if st.inputBytes() > 0:
                    out["scan_task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """Span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool, workload: str, run_id: str):
        self.enabled = enabled
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: StageCounters | None = None
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def attach(self, spark) -> None:
        if self.enabled:
            self.counters = StageCounters(spark)
            self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._stack[-1]["id"] if self._stack else None,
               "workload": self.workload, "run_id": self.run_id, **attrs}
        group = f"pb-{self.run_id}-{sid}"
        self._stack.append(rec)
        if self.counters is not None:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counters is not None:
                if self._stack:
                    self._sc.setJobGroup(f"pb-{self.run_id}-{self._stack[-1]['id']}",
                                         self._stack[-1]["name"])
                else:
                    self._sc._jsc.clearJobGroup()
                rec.update(self.counters.read(group))
            self.spans.append(rec)

    def stage(self, name: str, fn):
        """Call ``fn``; traced, inside a span and with its DataFrame
        result materialized at the span boundary."""
        if not self.enabled:
            return fn()
        with self.span(name):
            df = fn()
            return df.localCheckpoint(eager=True)

    def finish(self, nproc: int) -> None:
        """Derive wall, self time and busy share for every span."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = self_time(s["start"], s["end"], kids.get(s["id"], []))
            if "task_run_s" in s:
                s["busy_frac"] = s["task_run_s"] / max(s["wall_s"] * nproc, 1e-9)

    def median(self, name: str, key: str) -> float:
        vals = [s[key] for s in self.spans if s["name"] == name and key in s]
        return float(statistics.median(vals)) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=float)
