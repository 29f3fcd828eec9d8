"""Arithmetic of the benchmark: turns the raw record one JVM run writes
into the metrics run.py prints. Pure functions, tested in
test_metrics.py."""

import bisect
import math


def percentile(xs, q):
    """Nearest-rank percentile (q in [0, 1]) with its sample count."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))
    return s[k], len(s)


def geomean(xs):
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def fastest_per_query(passes):
    """{query id: its fastest time in seconds over the passes}. Noise on a
    shared host only ever adds time, so the fastest of repeated passes
    is the steadiest estimate of a query's time."""
    best = {}
    for p in passes:
        for q in p["queries"]:
            best[q["id"]] = min(best.get(q["id"], math.inf), q["seconds"])
    return best


def batch_end_ms(b):
    """A micro-batch ends at its progress timestamp plus batchDuration."""
    return b["start_ms"] + b["batch_ms"]


def commit_times(consumer):
    """(cumulative lines committed, batch end in ms) after each consumer
    batch that committed new lines, in batch order. Each batch's record
    carries the queue lines it committed (`lines`, from the harness).
    With one shard and one producer, queue order is send order, so line
    i (0-based) was committed by the first batch whose cumulative count
    exceeds i."""
    out, done = [], 0
    for b in sorted(consumer, key=lambda b: b["batch"]):
        if b["lines"] > 0:
            done += b["lines"]
            out.append((done, batch_end_ms(b)))
    return out


def phase_numbers(run, k, skip=0):
    """Phase k of one pipeline run, from its line `skip` on: (messages,
    due time of the first, end of the batch that committed the last,
    per-message freshness). Freshness is batch end minus the line's
    scheduled send time: line j of a phase is due at its start plus
    j / rate (a burst has every line due at the start). A phase with a
    line no batch committed is an error."""
    phases = run["phases"]
    ph = phases[k]
    first = sum(p["count"] for p in phases[:k])
    step = 1000.0 / ph["rate"] if ph["rate"] > 0 else 0.0
    commits = commit_times(run["consumer"])
    if not commits or commits[-1][0] < first + ph["count"]:
        raise ValueError(f"phase {k} was not fully committed")
    cums = [c for c, _ in commits]
    fresh = []
    for j in range(skip, ph["count"]):
        end = commits[bisect.bisect_right(cums, first + j)][1]
        fresh.append(end - (ph["start_ms"] + j * step))
    return ph["count"] - skip, ph["start_ms"] + skip * step, end, fresh


def role_numbers(run, role):
    """Pooled over the phases playing `role`: (msgs/s from each phase's
    first due time to the commit of its last line, freshness samples,
    due time of the first timed line, [(start, end)] windows)."""
    msgs = span = 0.0
    fresh, windows = [], []
    for k, r in enumerate(run["roles"]):
        if r != role:
            continue
        n, lo, hi, f = phase_numbers(run, k, run["skip"])
        msgs += n
        span += (hi - lo) / 1000.0
        fresh += f
        windows.append((lo, hi))
    return msgs / span, fresh, windows[0][0], windows


def busy_frac(batches, windows):
    """Share of the [start, end] windows during which a micro-batch of
    this query was running."""
    total = sum(hi - lo for lo, hi in windows)
    if total <= 0:
        raise ValueError("empty window")
    busy = 0.0
    for lo, hi in windows:
        for b in batches:
            busy += max(0.0, min(batch_end_ms(b), hi) - max(b["start_ms"], lo))
    return busy / total


def union_ms(spans, lo, hi):
    """Length of the union of [start, end] spans, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def family(query_id):
    """Registry family of a query id: its leading letters (ob, dd, ...)."""
    return query_id.rstrip("0123456789")
