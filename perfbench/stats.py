"""Statistics shared by the metrics: the percentile rule, span self time
and failure accounting. Pure functions, tested in perfbench/tests.
"""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank `p` percentile of `xs`."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)] if s else None


def tail(xs, target=90.0, beyond=10):
    """The `target` percentile of `xs`, or, when fewer than `beyond`
    samples lie beyond it, the highest percentile that still has
    `beyond` samples beyond it. Nearest-rank percentiles.

    Returns (value, percentile, n); (None, None, n) when no percentile
    has `beyond` samples beyond it (n <= beyond).
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None, None, n
    idx = min(math.ceil(target / 100.0 * n) - 1, n - 1 - beyond)
    return s[idx], 100.0 * (idx + 1) / n, n


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover (overlapping children counted once).

    `spans` is a list of dicts with id, parent, start_ns and end_ns.
    Returns {id: self_ns}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = sorted((max(c["start_ns"], s["start_ns"]),
                       min(c["end_ns"], s["end_ns"]))
                      for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def failure_counts(ops):
    """(attempted, failed) over a run's ops: every op is one attempt, and
    an op fails if it raised or its output was wrong."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed


def failed_frac(ops):
    attempted, failed = failure_counts(ops)
    return failed / attempted if attempted else 1.0


def spread(values):
    """Inter-quartile range over the median, as statistics.quantiles
    gives the quartiles."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
