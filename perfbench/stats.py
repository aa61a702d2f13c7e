"""The benchmark's statistics: percentiles with the tail rule, failure
counting, and the agreement check between two sets of runs.

Percentiles use the nearest-rank definition on the sorted samples. A
tail percentile is reported only when at least ten samples lie beyond
it, so its value rests on more than a handful of outliers.
"""
import math
import statistics

TAIL_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} out of range")
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100.0 * len(xs))) - 1]


def beyond(n, p):
    """Samples strictly after the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, wanted=90):
    """The highest whole percentile, at most `wanted`, with at least
    TAIL_BEYOND samples beyond it among n; None when even the median
    lacks them."""
    for p in range(wanted, 49, -1):
        if beyond(n, p) >= TAIL_BEYOND:
            return p
    return None


def latency_summary(values, wanted=90):
    """Median and supported tail of latency samples, with the count."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50) if n else None}
    p = tail_percentile(n, wanted)
    out["tail_pct"] = p
    out["tail"] = percentile(values, p) if p else None
    return out


def geomean(values):
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def entry_latency(ops):
    """Typical latency of a set of entries: the geometric mean over
    entries of each entry's median time. Every entry weighs the same,
    whatever its size, and it moves smoothly, where the pooled median of
    a few unlike entries jumps from one entry to another."""
    per = {}
    for name, ms in ops:
        per.setdefault(name, []).append(ms)
    return geomean([statistics.median(v) for v in per.values()])


def failure_ratio(attempted, failed):
    """Share of attempted ops that threw or returned a wrong result."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def spread(values):
    """Inter-quartile range as a share of the median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def worse_by(base, new, better):
    """How much `new` is worse than `base`, as a share of `base` (<= 0 if not worse)."""
    if base == 0:
        return 0.0 if new == base else math.inf
    return (new - base) / base if better == "lower" else (base - new) / base


def agreement(first, second, specs):
    """Check two run sets of one workload against the metric bounds.

    `first` and `second` map metric name -> list of values; `specs` is
    the BENCHMARK.json end_to_end list. Every spread but setup_s must
    stay within its bound in each set, and no second median may be worse
    than the first by more than the bound. Returns a list of problems
    (empty when the sets agree) and a per-metric summary.
    """
    problems, summary = [], {}
    for spec in specs:
        name, bound = spec["name"], spec["bound"]
        a, b = first.get(name), second.get(name)
        if not a or not b or len(a) < 2 or len(b) < 2:
            problems.append(f"{name}: too few values")
            continue
        sa, sb = spread(a), spread(b)
        drift = worse_by(statistics.median(a), statistics.median(b), spec["better"])
        summary[name] = {"median_1": statistics.median(a), "median_2": statistics.median(b),
                         "spread_1": sa, "spread_2": sb, "worse_by": drift, "bound": bound}
        if name != "setup_s":
            for label, s in (("first", sa), ("second", sb)):
                if s > bound:
                    problems.append(f"{name}: {label} set spread {s:.3f} > bound {bound}")
        if drift > bound:
            problems.append(f"{name}: second median worse by {drift:.3f} > bound {bound}")
    return problems, summary
