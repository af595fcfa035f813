"""Summary statistics and the result line."""

from __future__ import annotations

import json
import math

# the tail is the highest of these percentiles with at least
# TAIL_MIN_BEYOND samples above it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with >= TAIL_MIN_BEYOND of ``n``
    samples beyond it, or None when even the median has fewer."""
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:  # float-safe
            return q
    return None


def latency_summary(values, tail_q: float) -> dict:
    """Median and tail of a latency sample. The tail is taken at the
    workload's fixed ``tail_q`` (so it keeps its meaning when a faster
    program fits more samples in a run), lowered to the highest ladder
    percentile the sample supports when it has too few samples, and the
    maximum below 2*TAIL_MIN_BEYOND samples."""
    n = len(values)
    supported = tail_percentile(n)
    q = tail_q if supported is not None and supported >= tail_q else supported
    return {
        "n": n,
        "p50": percentile(values, 50.0),
        "tail_q": q if q is not None else 100.0,
        "tail": percentile(values, q) if q is not None else max(values),
    }


class Ops:
    """Operations attempted and failed, with the cause of each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.causes: list[str] = []

    def record(self, problems: list[str], label: str) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.causes.append(f"{label}: {'; '.join(problems)}")
        return not problems

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def result_line(ops: Ops, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed if ops.attempted else 1,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
