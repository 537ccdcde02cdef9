"""Metric rules: percentiles with a tail rule, self time from spans, layer rollups."""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def percentile(values, q):
    """Nearest-rank q-quantile of `values`, or None when fewer than
    TAIL_SAMPLES samples lie strictly beyond its rank."""
    if not values:
        return None
    s = sorted(values)
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < TAIL_SAMPLES:
        return None
    return s[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def median_of_medians(samples_by_op):
    """Median over ops of each op's median latency across passes: every op
    of the fixed list weighs the same, and one slow pass moves no op."""
    return median([statistics.median(v) for v in samples_by_op.values() if v])


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def op_spans(op_rec, queries, jobs):
    """Split one op's wall time (ms) into layers.

    `queries` are the planning-tracker records and `jobs` the Spark jobs
    whose start falls inside the op. Catalyst phases are the `plan`
    layer, jobs the op's `job_layer`, the rest the op's own `layer`."""
    t0, t1 = op_rec["t0"], op_rec["t1"]
    job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    phase_iv = [tuple(iv) for q in queries for iv in q["phases"].values()]
    plan = sum(self_time(iv, job_iv) for iv in phase_iv)
    job = union_length(job_iv, t0, t1)
    return {"self": self_time((t0, t1), phase_iv + job_iv), "plan": plan, "job": job}


def phase_ms(queries, name):
    return sum(q["phases"][name][1] - q["phases"][name][0]
               for q in queries if name in q["phases"])


def attribute(ops, queries, jobs):
    """Group query and job records under the op whose interval holds their
    start (the runner is single-client, so ops never overlap)."""
    out = [([], []) for _ in ops]
    starts = [o["t0"] for o in ops]

    def owner(t):
        # last op starting by t; event clocks have millisecond resolution
        lo, hi, idx = 0, len(ops) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            if starts[mid] <= t + 1.0:
                idx, lo = mid, mid + 1
            else:
                hi = mid - 1
        if idx is None or t > ops[idx]["t1"] + 1.0:
            return None
        return idx

    for q in queries:
        start = min((iv[0] for iv in q["phases"].values()), default=None)
        i = owner(start) if start is not None else None
        if i is not None:
            out[i][0].append(q)
    for j in jobs:
        i = owner(j["start_ms"])
        if i is not None:
            out[i][1].append(j)
    return out
