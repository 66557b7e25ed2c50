"""The benchmark's arithmetic: percentiles, freshness from creation
stamps, span self time and attribution of listener events to spans.

Spans and events are plain dicts as the JVM side writes them; all times
are epoch milliseconds.
"""
import math
import re


def percentile(values, q):
    """The q-quantile (0 <= q <= 1) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' betacf."""
    tiny = 1e-300

    def guard(v):
        return v if abs(v) > tiny else tiny
    c, d = 1.0, 1.0 / guard(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        even = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        odd = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        for coef in (even, odd):
            d = 1.0 / guard(1.0 + coef * d)
            c = guard(1.0 + coef / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def hd_quantile(values, q):
    """The Harrell-Davis estimate of the q-quantile (0 < q < 1): every
    order statistic weighted by the Beta(q(n+1), (1-q)(n+1)) mass over
    its rank interval (Harrell and Davis, Biometrika 1982). It estimates
    the same quantile as `percentile`, but on a few dozen samples that
    fall in clusters it does not jump from one cluster to the next when
    a single sample moves."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(xs, cdf, cdf[1:]))


def samples_beyond(n, q):
    """How many of n samples lie above the q-quantile."""
    return n - 1 - math.floor((n - 1) * q)


def median(values):
    return percentile(values, 0.5)


BATCH_FILE = re.compile(r"batch(\d+)-")


def batch_of(path):
    """Consumer batch id from a store file name (`batch{id}-...`)."""
    m = BATCH_FILE.search(path.rsplit("/", 1)[-1])
    return int(m.group(1)) if m else None


def freshness(drops, file_keys, key_batch, visible):
    """Per paced file: ms from its due time until the last of its new
    readings was visible. drops[i] = (due, actual) of file i;
    file_keys[i] = keys it stores first; key_batch maps key -> consumer
    batch; visible maps batch id -> visible time. Files that store no
    new key are skipped. Returns (latencies, visible time per file)."""
    lat, seen = [], []
    for (due, _), keys in zip(drops, file_keys):
        if not keys:
            continue
        t = max(visible[key_batch[k]] for k in keys)
        lat.append(t - due)
        seen.append((due, t))
    return lat, seen


def backlog_max(seen):
    """Most files dropped but not yet visible at any drop instant, given
    (due, visible) per file."""
    return max(sum(1 for d, v in seen if d <= due < v) for due, _ in seen)


def self_time(spans):
    """Span id -> its duration minus the part of it its children cover
    (children clipped to the parent, overlaps among children counted
    once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
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


def attribute(t, query, spans):
    """The span an event at time t belongs to: among spans of the same
    streaming query ('' for none) that are open at t, the innermost one,
    i.e. the latest to start. Event times have whole-millisecond
    resolution, so span bounds are widened to whole milliseconds.
    Returns the span id, or None."""
    best = None
    for s in spans:
        if s["query"] != query:
            continue
        if math.floor(s["start"]) <= t <= math.ceil(s["end"]):
            if best is None or (s["start"], s["id"]) > (best["start"], best["id"]):
                best = s
    return best["id"] if best else None
