"""Summary statistics for benchmark samples."""

import statistics

# A tail percentile is reported only where at least this many samples lie
# beyond it.
TAIL_BEYOND = 10


def median(values):
    values = list(values)
    return statistics.median(values) if values else None


def tail(values, beyond=TAIL_BEYOND):
    """Highest percentile with at least `beyond` samples above it.

    Returns (percentile, value), or None when there are too few samples:
    with n sorted samples, the value at rank n - beyond - 1 has exactly
    `beyond` samples above it, and sits at percentile 100 * rank / (n - 1).
    """
    values = sorted(values)
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond - 1
    pct = 100.0 * rank / (n - 1) if n > 1 else 100.0
    return pct, values[rank]


def summary(values):
    """Median, tail percentile and sample count of one timing."""
    values = list(values)
    t = tail(values)
    return {
        "median": median(values),
        "tail_pct": None if t is None else round(t[0], 1),
        "tail": None if t is None else t[1],
        "n": len(values),
    }


def quartile_spread(values):
    """(median, q1, q3, (q3 - q1) / median) as the steadiness rule takes
    them: `statistics.quantiles(values, n=4)`."""
    values = list(values)
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def compare_sets(first, second, metrics):
    """Steadiness verdict for two run sets of the same code.

    `first` and `second` map metric name -> list of per-run values;
    `metrics` is the BENCHMARK.json end_to_end list. A metric passes when
    the quartile spread of each set is within its bound and the second
    median is not worse than the first by more than the bound.
    """
    rows = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = first.get(name, []), second.get(name, [])
        if len(a) < 2 or len(b) < 2:
            rows.append({"name": name, "ok": False, "reason": "too few runs"})
            continue
        ma, qa1, qa3, sa = quartile_spread(a)
        mb, qb1, qb3, sb = quartile_spread(b)
        if m["better"] == "lower":
            drift = (mb - ma) / abs(ma) if ma else 0.0
        else:
            drift = (ma - mb) / abs(ma) if ma else 0.0
        spread_ok = sa <= bound and sb <= bound
        rows.append({
            "name": name, "bound": bound,
            "first": {"median": ma, "q1": qa1, "q3": qa3, "spread": sa},
            "second": {"median": mb, "q1": qb1, "q3": qb3, "spread": sb},
            "worse_by": drift,
            "ok": spread_ok and drift <= bound,
        })
    return rows
