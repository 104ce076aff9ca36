"""Summary statistics shared by the benchmark and its steadiness mode."""
import statistics

# Candidate percentiles above the median, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100), at least 1
    return xs[int(k) - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile rank."""
    return n - max(1, -(-n * p // 100))


def harrell_davis_median(values, steps=16):
    """The Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, the i-th of n weighted by the Beta((n+1)/2, (n+1)/2)
    probability of ((i-1)/n, i/n) (midpoint rule, `steps` points each).
    When the values form clusters, as latencies of different op kinds do,
    the sample median jumps between clusters as ranks swap; this moves
    smoothly."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    a = (n + 1) / 2
    w = []
    for i in range(n):
        pts = ((i + (k + 0.5) / steps) / n for k in range(steps))
        # the Beta(a, a) density up to a constant, scaled to 1 at x = 1/2
        w.append(sum((4 * x * (1 - x)) ** (a - 1) for x in pts))
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def latency_summary(values):
    """The median (Harrell-Davis), plus the highest tail percentile with at
    least MIN_BEYOND samples beyond it (None when no tail percentile
    qualifies), and the sample count."""
    n = len(values)
    tail = next((p for p in TAIL_PERCENTILES if samples_beyond(n, p) >= MIN_BEYOND),
                None)
    return {"n": n, "p50": harrell_davis_median(values),
            "tail_p": tail, "tail": percentile(values, tail) if tail else None}


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")
