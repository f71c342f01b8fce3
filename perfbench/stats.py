"""Pure arithmetic behind the benchmark's metrics (unit-tested in
tests/test_harness.py)."""
import json
import math

# A percentile is reported only when at least this many samples lie
# beyond it; below that it is an extreme order statistic, not a tail.
MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p, min_beyond=MIN_BEYOND):
    """The p-th percentile (0 < p < 100) by the nearest-rank rule, or
    None when fewer than `min_beyond` samples lie above that rank."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))  # 1-based nearest rank
    if n - rank < min_beyond:
        return None
    return s[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def offstage(wall, stage_intervals, lo, hi):
    """Driver time outside every stage: wall minus the union of the
    stage intervals that fall inside [lo, hi]."""
    return wall - union_length(stage_intervals, lo, hi)


def parse_result(stdout):
    """The result object: the last non-empty line of the command's
    standard output, which must be one JSON object."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"last line is not a result object: {lines[-1][:200]}")
    return obj
