"""Statistics the benchmark reports: the per-kind p50, the tail-percentile
rule, span self times and the per-layer aggregation of a trace."""
import math
import statistics

TAIL_LADDER = (99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(values, p):
    """The p-th percentile, interpolated linearly between the two nearest
    ranks (numpy's default; `statistics.quantiles(method="inclusive")`)."""
    s = sorted(values)
    h = (len(s) - 1) * p / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (h - lo) * (s[hi] - s[lo])


def kind_p50(latencies_by_kind):
    """The geometric mean over op kinds of each kind's median latency.

    A workload mixes op kinds whose latencies differ severalfold, so the
    median of the pooled latencies falls where two kinds' ranges meet and
    jumps between them from run to run. Each kind's own median is steady,
    and the geometric mean weighs every kind once: a kind that gets x%
    slower moves the result as much as any other kind would."""
    if not latencies_by_kind:
        return 0.0
    return statistics.geometric_mean([statistics.median(v) for v in latencies_by_kind.values()])


def beyond(n, p):
    """How many of n samples rank above the p-th percentile."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail(values):
    """(percentile, value, samples beyond it) for the highest percentile
    of 99/95/90/75 with at least ten samples beyond it. Below 38 samples
    no percentile qualifies; p75 is still returned, with its smaller
    count beyond, so that the metric keeps one definition from run to
    run instead of jumping to another percentile."""
    n = len(values)
    if not n:
        return 75, 0.0, 0
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            break
    return p, percentile(values, p), beyond(n, p)


def self_times(spans):
    """Self time (ns) of every attached span: its duration minus the part
    of its interval that its attached children cover. Detached spans (side
    probes recorded outside their op) get their plain duration and are not
    subtracted from any parent."""
    children = {}
    for s in spans:
        if not s.get("detached") and s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cursor = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], cursor), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (hi - lo) - covered
    return out


def median(values, default=0.0):
    return statistics.median(values) if values else default
