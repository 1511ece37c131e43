"""Metrics from one run's raw record (the JVM's result.json).

End-to-end metrics come from the untraced run. Per-layer metrics come
from the traced run's spans and listener records; the job-active union,
driver gap and slot utilisation are computed here from the recorded job
list, so they can be tested on a hand-made event list.
"""
import math
import statistics

# Nearest-rank percentiles the tail is chosen from, highest first.
LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def nearest_rank(sorted_xs, p):
    i = max(0, math.ceil(p / 100.0 * len(sorted_xs)) - 1)
    return i, sorted_xs[i]


def tail(values, beyond=10):
    """The highest ladder percentile with at least `beyond` samples above
    its nearest-rank index: (value, percentile, samples_beyond), or None
    when even the median has fewer."""
    xs = sorted(values)
    for p in LADDER:
        if not xs:
            break
        i, v = nearest_rank(xs, p)
        if len(xs) - 1 - i >= beyond:
            return v, p, len(xs) - 1 - i
    return None


def p50(values):
    return statistics.median(values) if values else None


def intervals_union(intervals):
    """Total length covered by [start, end] intervals (overlaps once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def scheduler(jobs, window, task_s, cores):
    """Job-active time, driver gap and slot utilisation over `window`
    (start_ms, end_ms) from job records with start_ms/end_ms."""
    w0, w1 = window
    clipped = [(max(j["start_ms"], w0), min(j["end_ms"], w1)) for j in jobs
               if j["end_ms"] >= w0 and j["start_ms"] <= w1]
    active = intervals_union(clipped) / 1e3
    wall = (w1 - w0) / 1e3
    util = task_s / (active * cores) if active > 0 else 0.0
    return dict(job_active_s=active, driver_gap_s=max(0.0, wall - active),
                slot_util=util)


def _classes(raw):
    """Latencies by op class; an op that threw has latency NaN."""
    by = {}
    for s in raw["samples"]:
        if not math.isnan(s["ms"]):
            by.setdefault(s["cls"], []).append(s["ms"])
    return by


def _group(cls):
    return "ann" if cls.startswith("ann.") else cls


def latency_summary(values):
    out = {"n": len(values), "p50_ms": p50(values)}
    t = tail(values)
    if t:
        out.update(tail_ms=t[0], tail_pct=t[1], tail_beyond=t[2])
    return out


# Ops that are one lexical search: the reference search drivers on
# tfidf_corpus, the indexed probe plus rank on serve_mixed.
SEARCH_CLASSES = ("q6_search", "q7_rank", "search")


def end_to_end(raw, inputs, mismatches, checked):
    """The end-to-end metrics plus a details record.

    `docs_per_s` is docs × ops per cycle ÷ cycle time, the cycle time
    being the sum over one cycle of each op's median latency, the four
    ANN codecs pooled: the closed loop has no idle time between ops, so
    this is the pass wall time the loop sustains, robust to a slow
    outlier and to the loop ending part-way through a cycle."""
    by = _classes(raw)
    ok = [x for v in by.values() for x in v]
    attempted = len(raw["samples"]) + checked
    failed = len(mismatches)
    cycle = raw["extra"]["cycle"]
    groups = {}
    for c, v in by.items():
        groups.setdefault(_group(c), []).extend(v)
    if all(c in by for c in cycle):
        cycle_s = sum(p50(groups[_group(c)]) for c in cycle) / 1e3
        docs_per_s = inputs["docs"] * len(cycle) / cycle_s
    else:  # a class never completed: fall back to completed ops per second
        docs_per_s = inputs["docs"] * len(ok) / raw["window_s"]
    search = [x for c in SEARCH_CLASSES for x in by.get(c, [])]
    details = {
        "window_s": raw["window_s"],
        "ops": len(raw["samples"]),
        "fail_frac": failed / attempted if attempted else 0.0,
        "mismatches": [{"op": op, "reason": why} for op, why in mismatches],
        "latency_by_class": {c: latency_summary(v) for c, v in sorted(by.items())},
        "search": latency_summary(search),
        "ann": latency_summary(groups.get("ann", [])),
        "refresh": latency_summary(by.get("write", [])),
        "extra": {k: v for k, v in raw["extra"].items() if k != "oracle_sql"},
    }
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "docs_per_s": (docs_per_s, "1/s"),
        "search_p50_ms": (p50(search), "ms"),
        "rss_peak_mb": (raw["rss_peak_kb"] / 1024.0, "MB"),
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "details": details,
    }


def per_layer(raw):
    """Per-layer metrics of the measured window, mostly per measured op.

    Jobs, stages and tasks count when the job was tagged with a measured
    op; planning phases count when they start inside the window; spans
    are the benchmark's own, around each public call."""
    tr = raw["trace"]
    spans = [s for s in tr["spans"] if s["op"].startswith("m")]
    ops = [s for s in spans if s["parent"] == -1]
    n = max(1, len(ops))
    w0 = min(s["start_ms"] for s in ops)
    w1 = max(s["start_ms"] + s["dur_s"] * 1e3 for s in ops)
    jobs = [j for j in tr["jobs"] if j["op"].startswith("m")]
    cls_of = {j["id"]: j["cls"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in cls_of]
    plans = [p for p in tr["plans"] if w0 <= p["start_ms"] <= w1]

    def tot(key, scale=1.0):
        return sum(s[key] for s in stages) * scale

    def mean_span(prefix):
        xs = [s["dur_s"] for s in spans if s["name"].startswith(prefix)]
        return sum(xs) / len(xs) if xs else 0.0

    task_s = tot("run_ms", 1e-3)
    sched = scheduler(jobs, (w0, w1), task_s, raw["cores"])
    probe_rows = sum(s["in_rows"] for s in stages if cls_of[s["job"]] == "search")
    state_builds = [s["dur_s"] for s in tr["spans"] if s["name"].startswith("serve.state.")]
    m = {
        "scan.bytes": (tot("in_bytes") / n, "B/op"),
        "scan.rows": (tot("in_rows") / n, "rows/op"),
        "build.s": (sum(s["dur_s"] for s in spans if s["name"] == "build") / n, "s/op"),
        "build.jobs": (sum(j["phase"] == "build" for j in jobs) / n, "count/op"),
        "plan.s": (sum(p["s"] for p in plans) / n, "s/op"),
        "plan.executions": (len(plans) / n, "count/op"),
        "sched.jobs": (len(jobs) / n, "count/op"),
        "sched.stages": (len(stages) / n, "count/op"),
        "sched.tasks": (tot("tasks") / n, "count/op"),
        "sched.job_active_s": (sched["job_active_s"] / n, "s/op"),
        "sched.driver_gap_s": (sched["driver_gap_s"] / n, "s/op"),
        "sched.slot_util": (sched["slot_util"], "ratio"),
        "sched.task_failures": (tot("failures"), "count"),
        "exec.task_s": (task_s / n, "s/op"),
        "exec.cpu_s": (tot("cpu_ns", 1e-9) / n, "s/op"),
        "exec.gc_s": (tot("gc_ms", 1e-3) / n, "s/op"),
        "shuffle.write_bytes": (tot("shuffle_write") / n, "B/op"),
        "shuffle.read_bytes": (tot("shuffle_read") / n, "B/op"),
        "shuffle.fetch_wait_s": (tot("fetch_wait_ms", 1e-3) / n, "s/op"),
        "shuffle.spill_bytes": (tot("spill") / n, "B/op"),
        "cache.rdds": (tr["cache_rdds"] / n, "count/op"),
        "cache.peak_bytes": (tr["cache_peak_bytes"], "B"),
        "write.bytes": (tot("out_bytes") / n, "B/op"),
        "write.rows": (tot("out_rows") / n, "rows/op"),
        "index.probe_s": (mean_span("index.probe"), "s"),
        "index.rows_per_hit": (probe_rows / raw["result_rows"]
                               if raw["result_rows"] else 0.0, "ratio"),
        "serve.state_s": (sum(state_builds) / len(state_builds)
                          if state_builds else 0.0, "s"),
        "serve.refresh_s": (mean_span("serve.refresh."), "s"),
    }
    for t in ("float", "pq", "hamming", "int8"):
        m[f"serve.search_s.{t}"] = (mean_span(f"serve.search.{t}"), "s")
    return {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "window_s": (w1 - w0) / 1e3,
        "ops": n,
    }
