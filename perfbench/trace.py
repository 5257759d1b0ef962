"""In-memory spans around the benchmark's calls into each layer, plus the
Spark work those calls caused, read back from Spark's own event log.

A span has a name, start, end (epoch seconds), parent span and op id.
Spans are kept in memory and written as one JSON file when the run ends.
Spark jobs and SQL executions are attached after the run to the innermost
span whose interval contains their submission time: the load is one
closed-loop client, so no two ops overlap.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when enabled; a disabled tracer is a no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    def open(self, name: str, **counts) -> Span | None:
        """Start a span under the innermost open one; None when disabled."""
        if not self.enabled:
            return None
        sp = Span(len(self.spans), name, time.time(), 0.0,
                  self._stack[-1] if self._stack else None, self.op, dict(counts))
        self.spans.append(sp)
        self._stack.append(sp.id)
        return sp

    def close(self, sp: Span | None) -> None:
        """End ``sp`` and any span still open inside it."""
        if sp is None:
            return
        sp.end = time.time()
        while self._stack and self._stack.pop() != sp.id:
            pass

    @contextmanager
    def span(self, name: str, **counts):
        sp = self.open(name, **counts)
        try:
            yield sp
        finally:
            self.close(sp)

    def add(self, name: str, start: float, end: float, parent: int | None,
            op: int | None = None, **counts) -> Span:
        """Attach a span measured elsewhere (Spark job, micro-batch phase)."""
        sp = Span(len(self.spans), name, start, end, parent,
                  self.op if op is None else op, dict(counts))
        self.spans.append(sp)
        return sp

    def innermost(self, t: float, within: list[Span]) -> Span | None:
        best = None
        for sp in within:
            if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children's intervals cover."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        clipped = [(max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])]
        out[sp.id] = (sp.end - sp.start) - union_length([(s, e) for s, e in clipped if e > s])
    return out


# ---------------------------------------------------------------- event log
@dataclass
class SparkWork:
    jobs: list[dict] = field(default_factory=list)      # id, start, end, stages
    stages: dict = field(default_factory=dict)          # id -> tasks, run_s, shuffle
    executions: list[dict] = field(default_factory=list)  # id, start, accs
    acc_names: dict = field(default_factory=dict)       # acc id -> (node, metric, plan text)
    acc_values: dict = field(default_factory=dict)      # acc id -> final value


def _walk_plan(info: dict, names: dict, ids: set) -> None:
    node, text = info.get("nodeName", ""), info.get("simpleString", "")
    for m in info.get("metrics", []):
        names[m["accumulatorId"]] = (node, m["name"], text)
        ids.add(m["accumulatorId"])
    for c in info.get("children", []):
        _walk_plan(c, names, ids)


def read_event_log(log_dir: str) -> SparkWork:
    """Parse the single uncompressed, non-rolling event log in ``log_dir``."""
    (path,) = glob.glob(f"{log_dir}/*")
    w = SparkWork()
    execs: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                w.jobs.append({"id": e["Job ID"], "start": e["Submission Time"] / 1e3,
                               "end": None, "stages": e["Stage IDs"]})
            elif kind == "SparkListenerJobEnd":
                for j in w.jobs:
                    if j["id"] == e["Job ID"]:
                        j["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                acc = {a["Name"]: a["Value"] for a in info.get("Accumulables", []) if "Name" in a}
                for a in info.get("Accumulables", []):
                    v = a.get("Value")
                    if isinstance(v, (int, float)) or (isinstance(v, str) and v.lstrip("-").isdigit()):
                        w.acc_values[a["ID"]] = max(int(v), w.acc_values.get(a["ID"], 0))
                w.stages[info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"],
                    "run_s": int(acc.get("internal.metrics.executorRunTime", 0)) / 1e3,
                    "shuffle_bytes": sum(int(acc.get(k, 0)) for k in (
                        "internal.metrics.shuffle.write.bytesWritten",
                        "internal.metrics.shuffle.read.remoteBytesRead",
                        "internal.metrics.shuffle.read.localBytesRead")),
                }
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                ex = {"id": e["executionId"], "start": e["time"] / 1e3, "accs": set()}
                execs[ex["id"]] = ex
                w.executions.append(ex)
                _walk_plan(e["sparkPlanInfo"], w.acc_names, ex["accs"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = execs.get(e["executionId"])
                if ex is not None:
                    _walk_plan(e["sparkPlanInfo"], w.acc_names, ex["accs"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    w.acc_values[acc_id] = max(int(v), w.acc_values.get(acc_id, 0))
    return w
