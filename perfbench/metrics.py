"""Pure metric arithmetic for the benchmark: percentiles, interval unions,
self time, and the span tree of a traced run. No I/O here, so the
self-tests in ``test_perfbench.py`` cover exactly what run.py reports."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise it is refused (None).
MIN_TAIL_SAMPLES = 10


def median(values):
    return statistics.median(values) if values else None


def tail_percentile(values, q):
    """The ``q`` quantile (0 < q < 1) of ``values``, or None when fewer than
    ``MIN_TAIL_SAMPLES`` samples lie strictly beyond it.

    Nearest-rank on the sorted samples: index ceil(q * n) - 1."""
    n = len(values)
    if n == 0:
        return None
    s = sorted(values)
    k = max(0, math.ceil(q * n - 1e-9) - 1)
    value = s[k]
    beyond = sum(1 for v in s if v > value)
    if beyond < MIN_TAIL_SAMPLES:
        return None
    return value


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``intervals`` [(start, end)], each clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, child_intervals):
    """A span's duration minus the part of [start, end] its children cover."""
    return (end - start) - union_length(child_intervals, start, end)


def build_spans(ops, jobs, stages):
    """Flat span list of a traced run: one span per operation, its phase
    children, Spark job spans under the phase that was running when the
    job started (else under the operation), and stage spans under their
    job. Every span carries its operation's id and its self time."""
    spans = []
    next_id = [0]

    def add(parent, op_id, name, kind, start, end):
        next_id[0] += 1
        span = {"id": next_id[0], "parent": parent, "op": op_id,
                "name": name, "kind": kind, "start": start, "end": end}
        spans.append(span)
        return span

    jobs_by_op, stages_by_job = {}, {}
    for j in jobs:
        jobs_by_op.setdefault(str(j["op"]), []).append(j)
    for s in stages:
        stages_by_job.setdefault(s["job"], []).append(s)
    children = {}
    for op in ops:
        if not op["traced"]:
            continue
        op_id = str(op["id"])
        root = add(None, op_id, op["name"], "op", op["start"], op["end"])
        phase_spans = [add(root["id"], op_id, p["name"], "phase",
                           p["start"], p["end"]) for p in op["phases"]]
        for j in jobs_by_op.get(op_id, []):
            end = j["end"] if j["end"] else j["start"]
            parent = root
            for p in phase_spans:
                if p["start"] <= j["start"] <= p["end"]:
                    parent = p
                    break
            js = add(parent["id"], op_id, f"job {j['id']}", "job",
                     j["start"], end)
            for s in stages_by_job.get(j["id"], []):
                if str(s["op"]) == op_id and s["end"]:
                    add(js["id"], op_id, f"stage {s['id']}.{s['attempt']}",
                        "stage", s["start"], s["end"])
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self"] = self_time(s["start"], s["end"], children.get(s["id"], []))
    return spans

