"""Turn one run's raw measurements into the benchmark's metric record.

The JVM side (`perfbench.Main`) writes raw samples: commit walls, read
walls, spans, Spark job counters, check outcomes. Everything derived
from them -- percentiles, the tail rule, span self time, the error
count, the per-layer numbers and the record itself -- is computed here,
so it can be tested without Spark.
"""

import json
import math
import statistics

CORES = 4

# name -> (unit, better); the order is the order of BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "committed_rows_per_s": ("rows/s", "higher"),
    "commit_ms_p50": ("ms", "lower"),
    "commit_ms_tail": ("ms", "lower"),
    "stored_bytes_per_row": ("bytes", "lower"),
    "live_heap_peak_mb": ("MB", "lower"),
}

QUERIES = ["q01", "q44", "q49", "q215"]

PER_LAYER = {
    "gen.busy_ms": ("ms", "lower"),
    "gen.rows_per_s": ("rows/s", "higher"),
    "route.busy_ms": ("ms", "lower"),
    "route.shuffle_bytes": ("bytes", "lower"),
    "write.busy_ms": ("ms", "lower"),
    "write.files": ("count", "lower"),
    "write.bytes": ("bytes", "lower"),
    "commit.driver_ms": ("ms", "lower"),
    "commit.jobs": ("count", "lower"),
    "commit.stages": ("count", "lower"),
    "commit.tasks": ("count", "lower"),
    "commit.sched_wait_ms": ("ms", "lower"),
    "commit.growth": ("ratio", "lower"),
    "dedup.fingerprint_ms": ("ms", "lower"),
    "dedup.mark_seen_ms": ("ms", "lower"),
    "dedup.append_ms": ("ms", "lower"),
    "dedup.filter_bytes": ("bytes", "lower"),
    "dedup.kept_ratio": ("ratio", "higher"),
    "pii.redact_ms": ("ms", "lower"),
    "pii.redacted": ("count", "higher"),
    "expect.busy_ms": ("ms", "lower"),
    "expect.quarantined_ratio": ("ratio", "lower"),
    "tables.read_set_ms": ("ms", "lower"),
    "tables.resolve_ms": ("ms", "lower"),
    "tables.files_listed": ("count", "lower"),
    "tables.scan_ms": ("ms", "lower"),
    "tables.join_exchanges": ("count", "lower"),
}
for _q in QUERIES:
    PER_LAYER[_q + ".ms"] = ("ms", "lower")
    PER_LAYER[_q + ".jobs"] = ("count", "lower")
    PER_LAYER[_q + ".stages"] = ("count", "lower")
    PER_LAYER[_q + ".shuffle_bytes"] = ("bytes", "lower")
PER_LAYER["spark.cpu_util"] = ("ratio", "higher")
PER_LAYER["spark.gc_ms"] = ("ms", "lower")


def median(values):
    return statistics.median(values)


def nearest_rank(sorted_values, pct):
    """The pct-th percentile by nearest rank: the smallest sample with
    at least pct% of the samples at or below it."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1]


def tail(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    its nearest-rank value, as (percentile, value). With `beyond` or
    fewer samples no percentile has that many beyond it, and the tail is
    the maximum, reported as percentile 100."""
    s = sorted(values)
    n = len(s)
    for pct in range(99, 0, -1):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            return pct, nearest_rank(s, pct)
    return 100, s[-1]


def spread(values):
    """Distance between the first and third quartile as a share of the
    median -- the steadiness measure the benchmark is accepted on."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans, jobs):
    """Self time of every span: its duration minus the part of it that
    its child spans and the Spark jobs it submitted cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for j in jobs:
        if j["end_ms"] >= 0:
            children.setdefault(j["span"], []).append((j["start_ms"], j["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def descendants(spans, root_ids):
    """Ids of the given spans and every span below them."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), list(root_ids)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo.extend(by_parent.get(i, []))
    return out


def jobs_under(raw, span_ids):
    ids = descendants(raw["spans"], span_ids)
    return [j for j in raw["jobs"] if j["span"] in ids]


def spans_named(raw, name):
    return [s for s in raw["spans"] if s["name"] == name]


def end_to_end(raw):
    commits = [c["ms"] for c in raw["commits"]]
    rows = raw["rows_committed"]
    _, tail_ms = tail(commits)
    return {
        "setup_s": raw["setup_ms"] / 1000.0,
        "committed_rows_per_s": rows / (raw["commit_loop_ms"] / 1000.0),
        "commit_ms_p50": median(commits),
        "commit_ms_tail": tail_ms,
        "stored_bytes_per_row": raw["live_bytes"] / raw["table_rows_committed"],
        "live_heap_peak_mb": max(raw["heap_after_gc_mb"]),
    }


def _quartile_growth(values):
    """Median of the last quarter of the samples over the median of the
    first quarter (at least one sample each)."""
    q = max(1, len(values) // 4)
    return median(values[-q:]) / median(values[:q])


def per_layer(raw):
    """Every per-layer metric. Layers a workload does not run read 0."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update({k: v for k, v in raw["layers"].items() if k in PER_LAYER})
    spans = raw["spans"]
    selfs = self_times(spans, raw["jobs"])

    timed_ids = [s["id"] for s in spans_named(raw, "timed")]
    commit_spans = [s for s in spans_named(raw, "commit") if s["parent"] in timed_ids]
    per_commit = [jobs_under(raw, [s["id"]]) for s in commit_spans]
    if commit_spans:
        out["commit.driver_ms"] = median([selfs[s["id"]] for s in commit_spans])
        out["commit.jobs"] = median([len(js) for js in per_commit])
        out["commit.stages"] = median([sum(j["stages"] for j in js) for js in per_commit])
        out["commit.tasks"] = median([sum(j["tasks"] for j in js) for js in per_commit])
        out["commit.sched_wait_ms"] = median(
            [sum(j["sched_delay_ms"] for j in js) for js in per_commit])
        out["commit.growth"] = _quartile_growth([c["ms"] for c in raw["commits"]])

    route = spans_named(raw, "layer.route")
    if route:
        out["route.shuffle_bytes"] = sum(
            j["shuffle_write_bytes"] for j in jobs_under(raw, [route[0]["id"]]))

    reads = spans_named(raw, "reads")
    if reads:
        out["tables.read_set_ms"] = reads[0]["end_ms"] - reads[0]["start_ms"]
    out["tables.resolve_ms"] = raw["read_resolve_ms"]
    out["tables.scan_ms"] = raw["read_scan_ms"]
    out["tables.files_listed"] = raw["read_files"]
    out["tables.join_exchanges"] = raw["read_join_exchanges"]

    timed_passes = [s["id"] for s in spans_named(raw, "queries")]
    for q in QUERIES:
        qspans = [s for s in spans if s["name"].startswith("query." + q + "_")
                  and s["parent"] in timed_passes]
        if not qspans:
            continue
        per_pass = [jobs_under(raw, [s["id"]]) for s in qspans]
        out[q + ".ms"] = median([s["end_ms"] - s["start_ms"] for s in qspans])
        out[q + ".jobs"] = median([len(js) for js in per_pass])
        out[q + ".stages"] = median([sum(j["stages"] for j in js) for js in per_pass])
        out[q + ".shuffle_bytes"] = median(
            [sum(j["shuffle_write_bytes"] for j in js) for js in per_pass])

    timed = spans_named(raw, "timed")
    if timed:
        t = timed[0]
        js = jobs_under(raw, [t["id"]])
        wall = t["end_ms"] - t["start_ms"]
        out["spark.cpu_util"] = sum(j["cpu_ms"] for j in js) / (wall * CORES)
        out["spark.gc_ms"] = sum(j["gc_ms"] for j in js)
    return out


def record(raw, trace):
    """The result record: correctness, the attempt and failure counts,
    and the end-to-end metrics (untraced) or per-layer metrics (traced)."""
    if trace:
        values, units = per_layer(raw), PER_LAYER
    else:
        values, units = end_to_end(raw), END_TO_END
    failed = raw["failed"]
    return {
        "correct": failed == 0 and all(c["ok"] for c in raw["checks"]),
        "attempted": raw["attempted"],
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k][0]} for k in units},
    }


def dumps(rec):
    return json.dumps(rec)


def loads(line):
    rec = json.loads(line)
    if set(rec) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("record keys: %s" % sorted(rec))
    return rec


def self_time_report(raw):
    """Self time summed per span name, in ms."""
    selfs = self_times(raw["spans"], raw["jobs"])
    out = {}
    for s in raw["spans"]:
        out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
    return out


def overhead(traced, untraced_records):
    """Traced minus untraced end-to-end values, as a share of the median
    of the untraced runs of the same workload."""
    out = {}
    for name in END_TO_END:
        base = [r["metrics"][name]["value"] for r in untraced_records
                if name in r.get("metrics", {})]
        if base and name in traced:
            m = median(base)
            out[name] = {"traced": traced[name], "untraced_median": m,
                         "runs": len(base), "share": (traced[name] - m) / m}
    return out
