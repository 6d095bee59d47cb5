"""Arithmetic behind the benchmark's metrics: medians, the tail percentile
rule, interval unions, span self time, driver-only time and the
external-CPU stamp. Pure functions over plain numbers, so the tests in
perfbench/tests can pin them without a JVM."""

import math

TAIL_CANDIDATES = (0.99, 0.9, 0.75)
MIN_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def nearest_rank(xs, p):
    """The p-quantile by the nearest-rank method: the smallest sample with
    at least p of the samples at or below it."""
    xs = sorted(xs)
    k = max(1, math.ceil(p * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-quantile."""
    return n - max(1, math.ceil(p * n))


def tail(xs, candidates=TAIL_CANDIDATES, min_beyond=MIN_BEYOND):
    """(p, value) for the highest percentile with at least `min_beyond`
    samples beyond it. With too few samples for any candidate, the median
    stands in, reported as p = 0.5."""
    n = len(xs)
    for p in sorted(candidates, reverse=True):
        if beyond(n, p) >= min_beyond:
            return p, nearest_rank(xs, p)
    return 0.5, median(xs)


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count
    once, empty or inverted intervals count zero."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi]; those outside vanish."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Spans
    and children are (start, end) pairs."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_only(span, jobs):
    """Span wall minus the union of its jobs' intervals: the time no Spark
    job of the span was running."""
    return self_time(span, jobs)


def external_cpu_s(box_jiffies, clk_tck, own_cpu_s):
    """CPU-seconds that other processes burned during a pass: the box's
    non-idle CPU over the pass minus the benchmark's own. Jiffy rounding
    can push a quiet pass slightly below zero; that reads as zero."""
    if box_jiffies < 0:
        return None
    return max(0.0, box_jiffies / float(clk_tck) - own_cpu_s)

