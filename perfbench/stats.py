"""The benchmark's arithmetic, kept apart so tests/test_stats.py can pin it."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=10):
    """The highest percentile that leaves at least `beyond` samples above
    it, by nearest rank: (value, percentile, n). With too few samples to
    leave `beyond` above any rank, the maximum is returned as p100."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(values)
    if n <= beyond:
        return s[-1], 100.0, n
    rank = n - beyond  # 1-based nearest rank; n - rank samples lie beyond
    return s[rank - 1], 100.0 * rank / n, n


def sum_of_medians(samples):
    """samples: {query: [values]} -> sum over queries of each median."""
    return sum(median(v) for v in samples.values() if v)


def geomean_of_medians(samples):
    """Geometric mean over queries of each query's median: every query
    weighs the same, whatever its length."""
    meds = [median(v) for v in samples.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def idle_core_ms(wall_ms, cores, task_run_ms):
    """Core time during an execution not spent running tasks: what the
    cores spent waiting on scheduling, the driver and stage barriers."""
    return wall_ms * cores - task_run_ms


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """spans: dicts with id, name, start, end, parent. Returns {span id:
    self time}, a span's duration minus the part of its interval its
    children cover (overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def spread(values):
    """Quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
