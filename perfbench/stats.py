"""Arithmetic of the benchmark, kept free of I/O so it can be unit tested
(`python3 perfbench/test_stats.py`)."""
import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples strictly above it.

    Returns (percentile, value, samples_beyond, n), or None when fewer than
    `beyond + 1` samples exist. The percentile of the k-th smallest of n
    samples (1-based) is 100 * k / n.
    """
    s = sorted(samples)
    n = len(s)
    k = n - beyond - 1  # 0-based index with exactly `beyond` samples after it
    while k >= 0:
        above = sum(1 for x in s if x > s[k])
        if above >= beyond:
            return 100.0 * (k + 1) / n, s[k], above, n
        k -= 1
    return None


def union(intervals):
    """Merges (start, end) intervals; returns the sorted disjoint list."""
    out = []
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def covered(intervals, lo=None, hi=None):
    """Length of the union of intervals, clipped to [lo, hi] when given."""
    total = 0.0
    for a, b in union(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        total += max(0.0, b - a)
    return total


def idle(op_start, op_end, tasks):
    """Time inside [op_start, op_end] during which no task runs."""
    return (op_end - op_start) - covered(tasks, op_start, op_end)


def busy_cores(tasks):
    """Mean tasks in flight while any task runs: summed task time over the
    length of the union of task intervals (0 when no task ran)."""
    span = covered(tasks)
    return sum(b - a for a, b in tasks if b > a) / span if span > 0 else 0.0


def self_times(spans):
    """Self time of each span: its duration minus the part its children cover.

    `spans` is a list of dicts with id, parent, start, end; returns id -> s.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def fail_rate(failed, attempted):
    """(rate, "failed/attempted") — the rate always printed with its base."""
    if attempted <= 0:
        raise ValueError("fail_rate needs at least one attempted operation")
    return failed / attempted, f"{failed}/{attempted}"


def failures(passes, expected):
    """(pass, op, reason) of every op run, warm-up pass included, that raised
    or whose checked output differs from `expected`; and the number of ops run.
    A mismatch counts once in each pass where it happens."""
    out = []
    ops = [(p["pass"], o) for p in passes for o in p["ops"]]
    for p, o in ops:
        if o["error"] or expected.get(o["name"]) != o["check"]:
            out.append((p, o["name"], o["error"] or f"output {o['check']!r}"))
    return out, len(ops)
