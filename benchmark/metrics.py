"""Pure functions that turn one run's raw records into metrics.

Nothing here touches Spark, DuckDB or the clock, so every rule that
decides a reported number is unit-tested in tests/test_metrics.py.
"""
import hashlib

LAYERS = ["queries", "plans", "operators.Dedup", "operators.SimilaritySearch",
          "operators", "la", "storage", "streaming", "advisor", "sink"]
COUNTERS = ["cpu_s", "deser_s", "gc_s", "sched_wait_s", "shuffle_mb",
            "spill_mb", "result_mb", "io_mb", "tasks"]
STREAM_PHASES = {"latestOffset_s": "latestOffset", "getBatch_s": "getBatch",
                 "queryPlanning_s": "queryPlanning", "addBatch_s": "addBatch",
                 "walCommit_s": "walCommit", "trigger_s": "triggerExecution"}
MB = 1024.0 * 1024.0


def tail(values, beyond=10):
    """Latency at the highest percentile that leaves at least `beyond`
    samples above it: the (beyond+1)-th largest value.

    Returns (value, percentile, n). When that percentile would not lie
    above the median (2 * beyond samples or fewer), no tail can be told
    apart from the median, and the maximum is returned at percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 2 * beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def _merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def self_time(spans, busy):
    """Total time inside `spans` not covered by any `busy` interval.

    Both are (start, end) pairs; spans are the benchmark's calls into the
    program, busy intervals are Spark jobs (from any thread). Overlapping
    spans are counted once.
    """
    jobs = _merge(busy)
    total = 0.0
    for s, e in _merge(spans):
        covered = sum(max(0.0, min(e, je) - max(s, js)) for js, je in jobs)
        total += (e - s) - covered
    return total


def stage_owner(tag, submit_ms, span_by_tag, slack_ms=1.0):
    """Whether a stage is attributed through its tag: the tag names a span
    of this window, and the stage was submitted while that span was open.
    A tag inherited by a pooled thread from an earlier span fails the
    second test and counts as untagged, like a missing tag."""
    span = span_by_tag.get(tag) if tag is not None else None
    return span is not None and span[0] - slack_ms <= submit_ms <= span[1] + slack_ms


def layer_counters(stages, spans):
    """Aggregate stage records into `<layer>.<counter>` values.

    `stages` rows are [id, attempt, tag, layer, submit_ms, cpu_ns,
    deser_ms, gc_ms, sched_ms, shuffle_b, spill_b, result_b, io_b, tasks];
    `spans` rows are [tag, kind, start_ms, end_ms]. Returns the counters,
    the untagged CPU seconds and the untagged stage fraction.
    """
    span_by_tag = {t: (s, e) for t, _, s, e in spans}
    out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
    untagged_cpu, untagged = 0.0, 0
    for (_, _, tag, layer, submit, cpu_ns, deser, gc, sched, shuffle, spill,
         result, io, tasks) in stages:
        if not stage_owner(tag, submit, span_by_tag):
            untagged += 1
            untagged_cpu += cpu_ns / 1e9
            continue
        for c, v in zip(COUNTERS, (cpu_ns / 1e9, deser / 1e3, gc / 1e3,
                                   sched / 1e3, shuffle / MB, spill / MB,
                                   result / MB, io / MB, tasks)):
            out[f"{layer}.{c}"] += v
    frac = untagged / len(stages) if stages else 0.0
    return out, untagged_cpu, frac


def span_totals(spans):
    """Seconds spent in each kind of span."""
    tot = {}
    for _, kind, s, e in spans:
        tot[kind] = tot.get(kind, 0.0) + (e - s) / 1e3
    return tot


def skipped_frac(jobs, layer="sink"):
    """Stages a job reused (skipped) over the stages it listed, over the
    jobs whose result stage belongs to `layer`."""
    rows = [j for j in jobs if j[5] == layer]
    total = sum(j[3] for j in rows)
    return sum(j[4] for j in rows) / total if total else 0.0


def streaming_metrics(st):
    out = {"streaming.queries": float(st["queries"]),
           "streaming.batches": float(st["batches"]),
           "streaming.start_s": st["start_ms"] / 1e3}
    for name, key in STREAM_PHASES.items():
        out[f"streaming.{name}"] = st["duration_ms"].get(key, 0) / 1e3
    return out


def _canon_value(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return (type(v).__name__, str(v))


def canonical(cols, rows):
    """Order-insensitive canonical form of a result: columns sorted by
    name, every value typed and rendered exactly (floats by repr), rows
    sorted. The same rule as the repository's DuckDB oracle compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def result_hash(cols, rows):
    """(row count, sha256 of the canonical form) of a result."""
    names, canon = canonical(cols, rows)
    h = hashlib.sha256(repr(names).encode())
    for row in canon:
        h.update(repr(row).encode())
    return len(canon), h.hexdigest()
