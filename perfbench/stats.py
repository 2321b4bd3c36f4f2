"""Pure helpers that turn a run's raw record into metrics."""
import math
import statistics


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value, n). With n samples, the sample at sorted
    index n - 11 has exactly ten above it; its percentile is the share
    of samples at or below it. With ten samples or fewer no percentile
    has ten beyond it, and the maximum is returned as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return 100.0, xs[-1], n
    i = n - 11
    return 100.0 * (i + 1) / n, xs[i], n


def self_times(spans):
    """Self time per span kind: each span's duration minus the part of
    its interval that its children cover (children clipped to the
    parent, overlapping children counted once).

    `spans` is a list of dicts with id, parent, kind, start_ms, end_ms.
    Returns {kind: milliseconds}."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        cover, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(lo, c["start_ms"]), min(hi, c["end_ms"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    cover += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            cover += cur_hi - cur_lo
        out[s["kind"]] = out.get(s["kind"], 0.0) + (hi - lo) - cover
    return out


def failures(ops, checks):
    """(attempted, failed): an op fails when it raised or when its
    output check says so; an op with no check result at all fails too,
    since its output was never shown to be right."""
    attempted = len(ops)
    failed = sum(1 for o in ops
                 if not o.get("ok", False) or checks.get(o["key"]) is not True)
    return attempted, failed


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles, exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
