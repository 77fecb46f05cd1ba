"""Spark-free arithmetic behind the benchmark's numbers.

Everything here is pure Python so it can be tested without a JVM
(``perfbench/tests/test_arith.py``).
"""

from __future__ import annotations

import math
from collections import Counter


def interval_union(intervals, lo=None, hi=None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given. Empty or inverted intervals count nothing."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's self time: its duration minus the part of ``[start, end]``
    covered by its children's ``(start, end)`` intervals."""
    return (end - start) - interval_union(children, start, end)


def tail_rank(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile (0-100) of ``n`` samples that still has at
    least ``min_beyond`` samples strictly above it, or None when even the
    median lacks them. p90 needs n >= 100; p50 needs n >= 20."""
    if n - min_beyond < 1:
        return None
    q = 100.0 * (n - min_beyond) / n
    return q if q >= 50.0 else None


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0-100) of a non-empty sequence: the
    smallest sample with at least q% of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[rank - 1])


def median(values) -> float:
    """Median of a non-empty sequence (mean of the middle pair when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def recall_at_k(got_ids, true_ids, k: int = 10) -> float:
    """|top-k(got) ∩ top-k(true)| / |top-k(true)|; 1.0 when the truth is
    empty (nothing to find)."""
    truth = set(list(true_ids)[:k])
    if not truth:
        return 1.0
    return len(truth & set(list(got_ids)[:k])) / len(truth)


def topk_mismatch(got, want, ndigits: int = 6) -> bool:
    """True when two ranked ``[(doc_id, score), ...]`` lists differ.

    Ranks and rounded scores must match exactly; doc ids must match wherever
    the rounded score is unique across both lists. Documents whose true
    scores tie are interchangeable at the cutoff: a float sum in another
    addition order can move them by one ulp."""
    if len(got) != len(want):
        return True
    g = [(int(d), round(float(s), ndigits)) for d, s in got]
    w = [(int(d), round(float(s), ndigits)) for d, s in want]
    cnt = Counter(s for _, s in g + w)
    for (gd, gs), (wd, ws) in zip(g, w):
        if gs != ws:
            return True
        if cnt[gs] == 2 and gd != wd:
            return True
    return False


def proc_stat_cores(text: str) -> tuple[int, int]:
    """(busy, steal) jiffies summed over the aggregate ``cpu`` line of
    /proc/stat. Busy is user + nice + system + irq + softirq; idle, iowait,
    steal and the guest fields (already inside user/nice) are excluded."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            f = [int(x) for x in parts[1:]] + [0] * 10
            user, nice, system, _idle, _iow, irq, softirq, steal = f[:8]
            return user + nice + system + irq + softirq, steal
    raise ValueError("no aggregate cpu line in /proc/stat")
