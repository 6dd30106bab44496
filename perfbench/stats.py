"""Arithmetic behind the benchmark's numbers: medians, tail
percentiles with enough samples behind them, ratios and span self
times. Kept free of I/O so ``test_stats.py`` can pin it down."""
import math
import statistics

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0)


def percentile(values, p):
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, min_beyond=10):
    """The highest of TAIL_LEVELS that has at least ``min_beyond``
    samples above it, as (level, value); None if none qualifies."""
    n = len(values)
    for p in TAIL_LEVELS:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p, percentile(values, p)
    return None


def summary(values):
    """Median, best-supported tail percentile and sample count."""
    if not values:
        return {"n": 0}
    out = {"n": len(values), "p50": statistics.median(values)}
    t = tail(values)
    if t:
        out[f"p{t[0]:g}"] = t[1]
    return out


def ratio(num, den):
    """``num / den``, or None when the denominator is zero."""
    return num / den if den else None


def self_times(spans):
    """Per span name: (total, self) duration, where a span's self time
    is its duration minus that of its direct children. ``spans`` are
    (id, parent, op, name, t0, t1) tuples."""
    child_sum = {}
    for s in spans:
        child_sum[s[1]] = child_sum.get(s[1], 0) + (s[5] - s[4])
    out = {}
    for s in spans:
        dur = s[5] - s[4]
        tot, own = out.get(s[3], (0, 0))
        out[s[3]] = (tot + dur, own + dur - child_sum.get(s[0], 0))
    return out


def overhead_pct(traced, untraced):
    """Tracing overhead in %: over the keys present in both, the
    geometric mean of (median traced ms / untraced ms), minus 1.
    ``traced`` maps a statement key to its traced times, ``untraced``
    to the time of its untraced repetition. None when no key matches."""
    ratios = [statistics.median(traced[k]) / u
              for k, u in untraced.items() if k in traced and u > 0]
    if not ratios:
        return None
    return 100.0 * (math.exp(sum(math.log(r) for r in ratios) / len(ratios))
                    - 1.0)
