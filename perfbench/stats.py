"""Metric computation from the JVM's measurement records.

Timings are medians plus a p90 that is only reported when its class has
at least P90_MIN_SAMPLES samples in the run (otherwise None, with the
sample count alongside). Self time of a span is its duration minus the
part of it that its children cover.
"""
import math
import statistics
from collections import defaultdict

P90_MIN_SAMPLES = 100


def p50(values):
    return statistics.median(values) if values else None


def p90(values):
    """Nearest-rank 90th percentile, or None below the sample-count rule."""
    if len(values) < P90_MIN_SAMPLES:
        return None
    s = sorted(values)
    return s[math.ceil(0.9 * len(s)) - 1]


def timing(values):
    return {"n": len(values), "p50": p50(values), "p90": p90(values)}


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_jobs(spans, jobs):
    """Parent of each job: the innermost span of the same op that was open
    when the job started. Returns {span idx: [job, ...]}."""
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    out = defaultdict(list)
    for j in jobs:
        inside = [s for s in by_op.get(j["op"], ()) if s["start"] <= j["start"] <= s["end"]]
        if inside:
            out[max(inside, key=lambda s: s["start"])["idx"]].append(j)
    return out


def self_times(spans, jobs):
    """Self time per layer (µs). Jobs form the layer `spark.jobs`; their
    union under a span is subtracted from that span."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start"], s["end"]))
    job_kids = attach_jobs(spans, jobs)
    layers = defaultdict(float)
    for s in spans:
        lo, hi = s["start"], s["end"]
        jobs_here = [(j["start"], j["end"]) for j in job_kids.get(s["idx"], ())]
        covered = union_length(kids[s["idx"]] + jobs_here, lo, hi)
        layers[s["layer"]] += (hi - lo) - covered
        # a job that starts in a span and outlives it is charged here too
        layers["spark.jobs"] += union_length(jobs_here, lo, hi)
    return dict(layers)


def ms(us):
    return us / 1000.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def med(xs):
    """p50 that reads 0 for a layer with no samples."""
    return p50(xs) if xs else 0.0
