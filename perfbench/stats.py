"""Pure helpers of the benchmark: percentiles, span self time and the
JSON record. No I/O; pinned by tests/test_pure.py."""
import json
import math

LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def tail_percentile(n):
    """The highest percentile of LADDER that leaves at least ten samples
    beyond it among n, or None when even the median does not."""
    best = None
    for p in LADDER:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def geomean(values):
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def self_times(spans):
    """{span id: self time in ns} for spans (name, trace, id, parent,
    start_ns, end_ns): the span's duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s[3], []).append((s[4], s[5]))
    out = {}
    for name, trace, sid, parent, start, end in spans:
        covered, cur_s, cur_e = 0, None, None
        for cs, ce in sorted(children.get(sid, [])):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def layer_self_ms(spans):
    """Self time summed per layer (the span name up to its first dot)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = s[0].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s[2]] / 1e6
    return out


def record(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. metrics: {name: (value, unit)}."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
