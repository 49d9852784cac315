"""Tracing for the benchmark's traced run (`--trace 1`).

Spans are recorded from the benchmark's own files around each call into
a layer, kept in memory, and written out once at the end. A span that
names a phase also tags the Spark jobs it fires with a job group, so
jobs, stages, tasks, executor run time, shuffle bytes and GC time can
be attributed to the phase afterwards: jobs from the status tracker at
span end, the engine counters from the Spark event log, which the
runner enables only for traced runs. Py4J round trips are counted by
wrapping `ClientServerConnection.send_command`, the hook
`tools/py4j_count.py` uses.

With tracing off, `span()` only yields; the untraced run measures the
end-to-end metrics without any of this bookkeeping.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class _Py4JCounter:
    def __init__(self):
        import py4j.clientserver as cs

        self.calls = 0
        self.paused = False
        self._cs = cs
        self._orig = cs.ClientServerConnection.send_command
        counter = self

        def counting(conn, *a, **kw):
            if not counter.paused:
                counter.calls += 1
            return counter._orig(conn, *a, **kw)

        cs.ClientServerConnection.send_command = counting

    def close(self) -> None:
        self._cs.ClientServerConnection.send_command = self._orig


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._py4j = _Py4JCounter() if enabled else None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def _bookkeeping(self):
        t = time.perf_counter()
        self._py4j.paused = True
        try:
            yield
        finally:
            self._py4j.paused = False
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, phase: str | None = None, **attrs):
        """Record `name` around the body. With a `phase`, jobs fired in
        the body (and not in a nested phase span) join a job group of
        their own, counted at span end."""
        if not self.enabled:
            yield None
            return
        with self._bookkeeping():
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "run_id": self.run_id,
                "phase": phase,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(rec)
            if phase is not None:
                rec["group"] = f"{self.run_id}:{phase}:{rec['id']}"
                self._sc.setJobGroup(rec["group"], name)
            calls0 = self._py4j.calls
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._bookkeeping():
                rec["py4j_calls"] = self._py4j.calls - calls0
                self._stack.pop()
                if phase is not None:
                    tracker = self._sc.statusTracker()
                    rec["jobs"] = len(tracker.getJobIdsForGroup(rec["group"]))
                    outer = next((s for s in reversed(self._stack) if s.get("group")), None)
                    if outer is None:
                        self._sc.setLocalProperty("spark.jobGroup.id", None)
                        self._sc.setLocalProperty("spark.job.description", None)
                    else:
                        self._sc.setJobGroup(outer["group"], outer["name"])

    def close(self) -> None:
        if self._py4j is not None:
            self._py4j.close()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def duration_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def children(spans: list[dict], parent: dict, name: str | None = None) -> list[dict]:
    return [s for s in spans if s["parent"] == parent["id"] and (name is None or s["name"] == name)]


def descendants(spans: list[dict], root: dict) -> list[dict]:
    ids, out = {root["id"]}, []
    for s in spans:  # spans are appended in start order, parents first
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


ENGINE_COUNTERS = ("stages", "tasks", "executor_run_ms", "shuffle_bytes", "gc_ms")


def engine_counters(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: stages and tasks run, executor run time, shuffle
    bytes written and JVM GC time, summed from the Spark event log, and
    the wall-clock ms at which the group's first job was submitted."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(ENGINE_COUNTERS, 0))
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        first = out[group].get("first_job_ms")
                        t = ev["Submission Time"]
                        out[group]["first_job_ms"] = t if first is None else min(first, t)
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group and m:
                        c = out[group]
                        c["tasks"] += 1
                        c["executor_run_ms"] += m.get("Executor Run Time", 0)
                        c["gc_ms"] += m.get("JVM GC Time", 0)
                        c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
    return out
