"""The benchmark's arithmetic: percentiles, span self time and the ratios
it reports. Pure functions, tested in test_stats.py."""
import math


def percentile(values, q, min_beyond=10):
    """The q-th percentile (0 < q < 100) by the nearest-rank rule, or None
    when fewer than `min_beyond` samples lie strictly above its rank.

    A tail percentile read from too few samples is mostly noise; refusing
    it keeps a reported p90 honest.
    """
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(values):
    """Median; the mean of the two middle values for an even count."""
    xs = sorted(values)
    if not xs:
        return None
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def geomean(values):
    """Geometric mean of positive values; None when there are none."""
    if not values:
        return None
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values):
    """Inter-quartile distance as a share of the median, with quartiles as
    `statistics.quantiles(values, n=4)` gives them."""
    import statistics
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    direct children cover. Children are clipped to their parent, and
    overlapping children count once. `spans` are dicts with id, parent,
    t0_ns, t1_ns; returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["t0_ns"], s["t1_ns"]
        kids = [(max(a, c["t0_ns"]), min(b, c["t1_ns"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (b - a) - covered([k for k in kids if k[1] > k[0]])
    return out


def self_sum_error(spans, walls):
    """Largest gap, over the requests in `walls` ({req: wall_ns}, the wall
    time the caller measured around each request), between that wall time
    and the sum of the self times of the request's spans. The gap grows
    when spans leave part of a request uncovered, when a span is lost, or
    when sibling spans overlap, since their shared time then counts twice."""
    own = self_times(spans)
    total = {}
    for s in spans:
        total[s["req"]] = total.get(s["req"], 0) + own[s["id"]]
    return max((abs(wall - total.get(req, 0)) for req, wall in walls.items()), default=0)


def core_busy_ratio(executor_run_ms, wall_ms, cores):
    """Share of the cores' time in the window that executors spent running
    tasks."""
    if wall_ms <= 0 or cores <= 0:
        return 0.0
    return executor_run_ms / (wall_ms * cores)


def failed_ratio(outcomes):
    """Operations that failed unexpectedly over operations attempted.
    `outcomes` holds one of "ok", "expected_reject" or "failed" per
    operation; an expected rejection is a correct answer, not a failure."""
    if not outcomes:
        return 0.0
    return sum(1 for o in outcomes if o == "failed") / len(outcomes)
