"""Metric code of the benchmark: no Spark, unit-tested in test_metrics.py.

Definitions (one set, used by every workload):

- Latency samples are pooled over all op types of a run.
- ``p50`` is ``statistics.median`` of the pooled samples.
- The tail is the highest nearest-rank percentile with at least
  ``TAIL_BEYOND`` samples above it.  When there are too few samples
  for that percentile to lie above the median, the tail IS the median
  (reported as percentile 50), so the tail is never below the p50.
- ``error_rate`` is failed-or-wrong ops over ops attempted; every
  failure is kept with its op type and cause.
"""

from __future__ import annotations

import json
import math
import re
import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10
MAX_END_TO_END = 16
MAX_PER_LAYER = 128
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float
    beyond: int
    samples: int


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> Tail:
    """Highest percentile with >= ``beyond`` samples above it, never below the median."""
    if not samples:
        raise ValueError("tail of no samples")
    s = sorted(samples)
    n = len(s)
    i = n - 1 - beyond  # 0-based rank with exactly `beyond` samples after it
    if i < n // 2:
        return Tail(statistics.median(s), 50.0, n - (n + 1) // 2, n)
    return Tail(s[i], 100.0 * (i + 1) / n, beyond, n)


def p50(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


@dataclass
class Op:
    op_type: str
    wall_s: float
    records: int
    ok: bool
    cause: str = ""


@dataclass
class OpLog:
    """Every attempted op of the timed loop, in order."""

    ops: list[Op] = field(default_factory=list)

    def add(self, op_type: str, wall_s: float, records: int, ok: bool, cause: str = "") -> None:
        if not ok and not cause:
            raise ValueError("a failed op needs a cause")
        self.ops.append(Op(op_type, wall_s, records, ok, cause))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    def error_rate(self) -> float:
        if not self.ops:
            raise ValueError("no ops attempted")
        return self.failed / self.attempted

    def failures(self) -> list[dict]:
        return [
            {"index": i, "op": o.op_type, "cause": o.cause}
            for i, o in enumerate(self.ops)
            if not o.ok
        ]

    def walls(self) -> list[float]:
        """Pooled latency samples: every op, failed ones included (a failed
        op still cost its wall time and counts against the tail)."""
        return [o.wall_s for o in self.ops]

    def records_per_s(self) -> float:
        """Records fully consumed by correct ops over the summed op wall."""
        wall = sum(o.wall_s for o in self.ops)
        return sum(o.records for o in self.ops if o.ok) / wall

    def per_type_p50(self) -> dict[str, float]:
        """Per-op-type medians, only when the run mixes several op types."""
        types = sorted({o.op_type for o in self.ops})
        if len(types) < 2:
            return {}
        return {t: p50([o.wall_s for o in self.ops if o.op_type == t]) for t in types}


class Report:
    """Validated metric set: name grammar, unit grammar, finite values, cap."""

    def __init__(self, cap: int):
        self.cap = cap
        self.metrics: dict[str, dict] = {}

    def add(self, name: str, value: float, unit: str) -> None:
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if name in self.metrics:
            raise ValueError(f"metric {name} reported twice")
        if isinstance(value, bool) or not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} has non-finite value {value!r}")
        if len(self.metrics) >= self.cap:
            raise ValueError(f"more than {self.cap} metrics")
        self.metrics[name] = {"value": value, "unit": unit}

    def check_declared(self, declared: list[dict]) -> None:
        """The report holds exactly the declared metrics, with their units."""
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in self.metrics.items()}
        if want != got:
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
            raise ValueError(f"metrics differ from declaration: missing={missing} extra={extra} unit={wrong}")


def validate_declaration(bench: dict) -> None:
    """Check a BENCHMARK.json object against the metric grammar and caps."""
    e2e, layer = bench["end_to_end"], bench["per_layer"]
    if not 1 <= len(e2e) <= MAX_END_TO_END:
        raise ValueError(f"{len(e2e)} end-to-end metrics (1..{MAX_END_TO_END})")
    if not 1 <= len(layer) <= MAX_PER_LAYER:
        raise ValueError(f"{len(layer)} per-layer metrics (1..{MAX_PER_LAYER})")
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in bench["workloads"]]
    if len(set(names)) != len(names):
        raise ValueError("a name is used twice")
    for m in e2e + layer:
        if not NAME_RE.fullmatch(m["name"]) or not UNIT_RE.fullmatch(m["unit"]):
            raise ValueError(f"bad metric {m}")
        if m["better"] not in ("lower", "higher"):
            raise ValueError(f"bad direction {m}")
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            raise ValueError(f"bad end-to-end metric {m}")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        raise ValueError("setup_s (s, lower) must be declared")
    if setup[0]["bound"] < max(m["bound"] for m in e2e):
        raise ValueError("setup_s must carry the largest bound")


def result_line(correct: bool, attempted: int, failed: int, report: Report) -> str:
    if attempted < 1:
        raise ValueError("attempted must be >= 1")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": report.metrics,
    })
