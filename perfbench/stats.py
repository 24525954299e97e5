"""Pure statistics of the benchmark: latency accounting, the tail rule and
the metric line. No I/O here, so every rule is unit-tested
(`python3 -m unittest discover -s perfbench -p 'test_*.py'`).
"""
import math
import statistics

# The paper's access-latency target; a failed operation counts as missing it.
LIMIT_S = 2.0
# The tail is the highest percentile that still has this many samples beyond it.
TAIL_BEYOND = 10


def latency(op, limit=LIMIT_S):
    """Latency of one op from its intended start. A failed op is counted as
    missing the limit: its latency is at least `limit`."""
    lat = op["end"] - op["intended"]
    return lat if op["ok"] else max(lat, limit)


def p50(samples):
    if not samples:
        raise ValueError("no samples")
    return float(statistics.median(samples))


def tail(samples, beyond=TAIL_BEYOND):
    """(value, percentile, count_beyond): the largest sample value that at
    least `beyond` samples strictly exceed, the share of samples at or below
    it in percent, and how many samples lie beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond a tail")
    k = n - beyond - 1
    while k > 0 and sum(1 for x in xs if x > xs[k]) < beyond:
        k -= 1
    over = sum(1 for x in xs if x > xs[k])
    if over < beyond:
        raise ValueError(f"ties leave fewer than {beyond} samples beyond any value")
    return xs[k], 100.0 * (n - over) / n, over


def nearest_rank(samples, q):
    """The q-quantile (0 < q <= 1) by the nearest-rank rule."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def generator_lag(ops):
    """Send lag of open-loop ops: actual start minus intended start."""
    return [max(0.0, o["start"] - o["intended"]) for o in ops]


def backlog_max(ops):
    """Most open-loop ops that were due but not yet sent at any due time."""
    best = 0
    for o in ops:
        t = o["intended"]
        best = max(best, sum(1 for p in ops if p["intended"] <= t < p["start"]))
    return best


def closed_rate(ops, phase_start):
    """Completed ops per second of a closed-loop phase that began at
    `phase_start`, timed to the last completion."""
    done = [o for o in ops if o["ok"]]
    if not done:
        return 0.0
    span = max(o["end"] for o in done) - phase_start
    return len(done) / span if span > 0 else 0.0


def metric_line(values, units):
    """{"name": {"value": v, "unit": u}} for each name in `units`; every
    value must be present and finite and every unit non-empty."""
    out = {}
    for name, unit in units.items():
        if not unit:
            raise ValueError(f"metric {name} has no unit")
        if name not in values:
            raise ValueError(f"metric {name} was not measured")
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {v}")
        out[name] = {"value": v, "unit": unit}
    return out
