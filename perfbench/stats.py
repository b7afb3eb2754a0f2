"""Latency summaries and metric units of the benchmark's result line."""

from __future__ import annotations

import math
import statistics

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it (nearest rank), else the median."""
    n = len(values)
    p = math.floor(100 * (n - TAIL_BEYOND) / n) if n > TAIL_BEYOND else 0
    if p <= 50:
        return statistics.median(values), 50
    return sorted(values)[math.ceil(p * n / 100) - 1], p


def latency_summary(records: list[dict]) -> tuple[float, float, str]:
    """(op_p50_s, op_tail_s, what the tail stands for), taken per
    operation and then across operations, so that a mix of fast and slow
    operations does not put the pooled median in the gap between them:
    op_p50_s is the median of the per-op medians, op_tail_s the largest
    per-op ``tail``.  ``records`` carry ``op`` and ``latency_s``."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["latency_s"])
    p50 = statistics.median(statistics.median(v) for v in by_op.values())
    tails = {op: tail(v) for op, v in by_op.items()}
    op, (value, pct) = max(tails.items(), key=lambda kv: kv[1][0])
    return p50, value, f"p{pct} of {op}, n={len(by_op[op])}"


def unit_of(name: str) -> str:
    """The unit of a metric, from its name's suffix."""
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    if name.endswith(("_bytes", "bytes_sent", "bytes_returned")):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith(("_skew", "_ratio")):
        return "ratio"
    return "count"
