"""The benchmark's arithmetic: percentiles, span self time, the wave
critical path and the tracing overhead. Pure functions, tested by
perfbench/test_stats.py."""
import statistics

TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks (NumPy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile that leaves at least ten of `n`
    samples above it, or None when even the median does not."""
    ok = [p for p in candidates if n * (100.0 - p) >= 1000.0 - 1e-6]
    return max(ok) if ok else None


def median(values):
    return statistics.median(values)


def op_median(values, whole_ms):
    """Median op time. RunReport times model nodes in whole milliseconds;
    for such samples this is the grouped median (each value spread over
    its 1 ms bin), so the estimate does not jump by whole milliseconds."""
    return statistics.median_grouped(values, 1) if whole_ms else median(values)


def self_times(spans):
    """{span id: self time} for spans given as dicts with id, start, end and
    parent: a span's duration minus the part of its interval that its
    child spans cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def critical_ms(waves, node_ms):
    """Sum over the DAG's waves of each wave's slowest node: the time a
    wave-barrier scheduler needs even with unlimited cores. Nodes that did
    not run count as 0."""
    return sum(max((node_ms.get(n, 0.0) for n in wave), default=0.0)
               for wave in waves)


def overhead_frac(traced_run_s, untraced_run_s):
    """Median traced run time over median untraced run time, minus one."""
    return median(traced_run_s) / median(untraced_run_s) - 1.0

