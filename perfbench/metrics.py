"""Pure helpers behind the benchmark's metrics: percentiles, interval
unions and span self time. No I/O; tested by test_metrics.py."""
import math
import re
from collections import defaultdict

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def p50(xs):
    """Median of the samples, None when there are none."""
    if not xs:
        return None
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def p90(xs):
    """Nearest-rank 90th percentile, reported only when at least 10
    samples lie beyond it (so at least 100 samples); None otherwise."""
    n = len(xs)
    k = math.ceil(0.9 * n)
    if n == 0 or n - k < 10:
        return None
    return sorted(xs)[k - 1]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    """The intervals cut to the window [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans) -> dict:
    """Self time per layer: each span's duration minus the part of it
    covered by its child spans (spans give `layer`, `start`, `end` and
    `parent`, the index of the enclosing span or -1)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for i, s in enumerate(spans):
        covered = union_length(clipped(children[i], s["start"], s["end"]))
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def job_split(op_start, op_end, jobs):
    """(union of the operation's job intervals, wall time outside them):
    `scheduler.job_s` and `driver.only_s` of one operation."""
    in_jobs = union_length(clipped(jobs, op_start, op_end))
    return in_jobs, (op_end - op_start) - in_jobs
