"""The benchmark's one statistics routine and its one output line."""
import json
import statistics

# Percentiles the report may quote, lowest first.
PERCENTILES = (50, 90, 99, 99.9)


def highest_percentile(n):
    """Highest percentile in PERCENTILES with at least ten of n samples
    beyond it, or None when not even the median has."""
    best = None
    for p in PERCENTILES:
        if round(n * (100 - p) / 100, 9) >= 10:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def summarize(values):
    """Median, plus the highest percentile the sample supports, with the
    sample count: {"n": .., "median": .., "p90": ..}."""
    out = {"n": len(values)}
    if values:
        out["median"] = statistics.median(values)
        p = highest_percentile(len(values))
        if p is not None and p > 50:
            out[f"p{p:g}"] = percentile(values, p)
    return out


def result_line(correct, attempted, failed, metrics, units):
    """The last stdout line: one JSON object, every metric with its unit."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }, separators=(",", ":"))
