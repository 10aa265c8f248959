"""The workloads. Each module defines a ``Workload`` class with:

- ``generate(rep)``: one set-up repetition — seeded inputs written under
  the run's work directory (set-up is repeated and its median reported);
- ``warm_up()``: untimed ops of every kind, so lazy set-up and JIT finish
  before timing;
- ``measure(seconds, tracer)``: the ops of a fixed amount of work set by
  ``seconds`` (whole rounds, batches or request blocks) → ``[Op]``, each
  checked outside its timed region (a failed check marks the op failed
  and sets ``Op.wrong``);
- ``trace(tracer)``: install the span wrappers for the traced run;
- ``layer_metrics(ops, tracer)``: the workload's own per-layer numbers.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


@dataclass
class Ctx:
    spark: object
    seed: int
    workdir: object           # env.Workdir
    cpus: int


@dataclass
class Op:
    id: str
    kind: str
    latency_s: float
    ok: bool = True
    wrong: bool = False       # output check failed (as opposed to an error)
    error: str | None = None
    info: dict = field(default_factory=dict)

    def fail(self, message: str, wrong: bool = False) -> None:
        self.ok = False
        self.wrong = self.wrong or wrong
        self.error = self.error or message


class Base:
    """Defaults for a closed loop: no latency limit, and throughput is
    ops per second of op time."""

    LIMIT_S = math.inf

    def busy_seconds(self, ops: list[Op]) -> float:
        return sum(op.latency_s for op in ops)


def concurrently(ctx: Ctx, calls) -> list:
    """Run the calls on ``ctx.cpus`` threads and return their results.
    Warm-ups use it: the engine's one-off costs (class loading, code
    generation, Python worker start) overlap instead of adding up."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(ctx.cpus) as pool:
        futures = [pool.submit(call) for call in calls]
        return [f.result() for f in futures]


def percentile(values, q: float) -> float:
    """Nearest rank: the smallest value with at least ``q`` of the
    sample at or below it."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def by_kind(ops) -> dict[str, list[float]]:
    """Op kind → its latencies, in run order."""
    out: dict[str, list[float]] = {}
    for op in ops:
        out.setdefault(op.kind, []).append(op.latency_s)
    return out


def spans_named(tracer, name: str) -> list[dict]:
    return [s for s in tracer.spans if s["name"] == name]


def span_s(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]
