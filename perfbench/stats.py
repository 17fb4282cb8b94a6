"""Pure helpers of the benchmark: the percentile rule, failure
accounting and interval arithmetic. No Spark import, so the self-test
runs without a JVM."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field
from typing import NamedTuple


def summarize(samples: "list[float]") -> dict:
    """Median, the highest nearest-rank percentile that still has at
    least ten samples beyond it, and the sample count.

    With ``n`` samples the highest such rank is ``n - 10`` (1-based), so
    a high percentile exists only from 11 samples on; ``hi_pct`` is that
    rank as a whole percentage of ``n`` (rounded down)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None,
           "hi_pct": None, "hi": None}
    if n >= 11:
        rank = n - 10
        out["hi_pct"] = 100 * rank // n
        out["hi"] = xs[rank - 1]
    return out


class Op(NamedTuple):
    kind: str
    wall_s: float
    cpu_s: float
    steal_s: float
    items: int      # input the op consumed (events, docs); 0 when it failed
    ok: bool


@dataclass
class OpLedger:
    """Timed operations of one run, in order, and how many were
    attempted and failed (raised, or failed their check)."""

    attempted: int = 0
    failed: int = 0
    ops: "list[Op]" = field(default_factory=list)

    def record(self, kind: str, wall_s: float, ok: bool, cpu_s: float = 0.0,
               steal_s: float = 0.0, items: int = 1) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.ops.append(Op(kind, wall_s, cpu_s, steal_s, items if ok else 0,
                           ok))

    def fail(self, n: int = 1) -> None:
        """Mark ``n`` already-recorded ops as failed (a check that runs
        after the timed phase, outside the clock)."""
        self.failed += n

    def by_kind(self, attr: str = "wall_s") -> "dict[str, list[float]]":
        out: dict = {}
        for op in self.ops:
            out.setdefault(op.kind, []).append(getattr(op, attr))
        return out

    @property
    def failure_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def union_length(intervals: "list[tuple[float, float]]") -> float:
    """Length of the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def uncovered(lo: float, hi: float, intervals: "list[tuple[float, float]]") -> float:
    """Part of ``[lo, hi]`` that no interval covers. A span's self time
    is this over its child spans; its no-job time is this over its Spark
    jobs' run intervals."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return (hi - lo) - union_length(clipped)
