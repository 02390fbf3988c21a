"""Tracing for the traced run: spans recorded around calls into each layer,
and the Spark event log that attributes jobs, stages and tasks to them.

Every span sets its id as the Spark job group while it is open, so each job
in the event log names the innermost span that submitted it. Jobs submitted
by a streaming micro-batch carry the batch id instead (Spark sets
`streaming.sql.batchId` on every job of a batch).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Plan nodes that run Python code in a worker (the pandas/Arrow UDF boundary).
PYTHON_EVAL_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
    "AggregateInPandas", "WindowInPandas", "PythonUDTF",
)
STATEFUL_TX_FILTER_NODE = "FlatMapGroupsInPandasWithState"


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    With `enabled` false every method is a no-op, so the untraced run pays
    nothing but a function call per span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.overhead_s = 0.0  # time spent in the tracer itself

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = f"s{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        # spans of one operation share the id of its root span
        rec = {"id": sid, "name": name, "parent": parent,
               "op": self._op_of(parent) if parent else sid}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield sid
        finally:
            t_out = time.perf_counter()
            rec["end"] = t_out
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t_out

    def _op_of(self, sid: str) -> str:
        return next(s["op"] for s in self.spans if s["id"] == sid)

    def with_self_time(self) -> list[dict]:
        """Spans with `self_s`: duration minus its children's durations
        (children never overlap: one thread opens them in turn)."""
        kids: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.with_self_time()}, f)


class EventLog:
    """Jobs, stages and tasks read back from one uncompressed event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "ran": False, "tasks": 0, "scopes": "", "group": None,
            "batch": None, "exec_ms": 0, "durations": [],
            "shuffle_bytes": 0, "spill_bytes": 0,
        })

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
            }
        elif kind == "SparkListenerStageSubmitted":
            info, props = e["Stage Info"], e.get("Properties") or {}
            st = self._stage(info["Stage ID"])
            st["group"] = props.get("spark.jobGroup.id")
            st["batch"] = props.get("streaming.sql.batchId")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["ran"] = True
            st["tasks"] += info["Number of Tasks"]
            st["scopes"] += " ".join(r.get("Scope", "") for r in info["RDD Info"])
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(e["Stage ID"])
            m, ti = e.get("Task Metrics") or {}, e["Task Info"]
            st["exec_ms"] += m.get("Executor Run Time", 0)
            st["durations"].append(ti["Finish Time"] - ti["Launch Time"])
            st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)

    def jobs_where(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if pred(j)]

    def stages_where(self, pred) -> list[dict]:
        """Stages that actually ran (a skipped stage never completes)."""
        return [s for s in self.stages.values() if s["ran"] and pred(s)]


def task_skew(stages: list[dict]) -> float:
    """Slowest task over median task in the stage with most executor time."""
    if not stages:
        return 0.0
    d = sorted(max(stages, key=lambda s: s["exec_ms"])["durations"])
    if not d:
        return 0.0
    med = d[len(d) // 2]
    return d[-1] / med if med else 1.0
