"""Metrics of one benchmark run, computed from the harness's raw record.

The harness (perfbench/harness) writes what it timed and, in a traced
run, what Spark's listeners reported. Everything below is plain
arithmetic on that record, so perfbench/test_metrics.py can check it on
synthetic samples and spans.

Times in the record are epoch milliseconds. Warm-up evaluations carry
negative pass numbers; the measured passes are numbered from 0.
"""
import statistics

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "plans.exchanges": "count",
    "gate.build_s": "s",
    "gate.action_s": "s",
    "gate.build_self_s": "s",
    "gate.action_self_s": "s",
    "gate.build_jobs": "count",
    "gate.action_jobs": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.task_failures": "count",
    "sched.slack_s": "s",
    "sched.useful_task_ratio": "ratio",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "sources.input_bytes": "B",
    "sources.input_rows": "rows",
    "sources.output_bytes": "B",
    "sources.output_rows": "rows",
    "mem.spill_bytes": "B",
    "mem.peak_exec_bytes": "B",
    "cache.stored_bytes": "B",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "B",
    "stream_rows_per_s": "rows/s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile of `xs` with at least `beyond` samples
    above it: (value, percentile, n). With `beyond` samples or fewer no
    percentile qualifies, and the maximum is returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond - 1
    return s[k], 100.0 * (k + 1) / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - covered(kids.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def slack_s(wall_s, exec_run_s, cores):
    """Wall time the executors' cores were not running tasks."""
    return wall_s - exec_run_s / cores


def useful_task_ratio(useful, tasks):
    """Tasks that read or wrote at least one record, over all tasks."""
    return useful / tasks if tasks else 0.0


def query_p50(samples):
    """The median over gates of each gate's median latency. The median
    of the pooled latencies would fall between two gates' clusters and
    follow the extremes of both."""
    by_gate = {}
    for s in samples:
        by_gate.setdefault(s["gate"], []).append((s["t2"] - s["t0"]) / 1e3)
    return median([median(v) for v in by_gate.values()])


def _timed(samples):
    return [s for s in samples if s["pass"] >= 0]


def end_to_end(raw):
    """The user-visible metrics, and beside them the gate-latency tail
    (value, percentile, sample count) and the evaluation counts.

    The tail is reported but not bounded: a run holds 3-4 gates x 2-4
    passes, so its index lands on the edge between two gates' latency
    clusters and jumps when the pass count changes by one."""
    timed = [s for s in _timed(raw["samples"]) if s["ok"]]
    lat = [(s["t2"] - s["t0"]) / 1e3 for s in timed]
    value, pct, n = tail(lat)
    metrics = {
        "setup_s": median(raw["setup_s"]),
        "pass_s": median([(p["t1"] - p["t0"]) / 1e3 for p in raw["passes"]]),
        "cpu_s": median([p["cpu_s"] for p in raw["passes"]]),
        "query_p50_s": query_p50(timed),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }
    attempted = len(raw["samples"])
    failed = sum(1 for s in raw["samples"] if not s["ok"])
    info = {"query_tail_s": value, "query_tail_pct": pct, "query_tail_n": n,
            "passes": len(raw["passes"]), "attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted if attempted else 0.0}
    return metrics, info


def _locate(samples, t):
    """The sample whose evaluation interval holds time `t`."""
    for s in samples:
        if s["t0"] <= t <= s["t2"]:
            return s
    return None


def attribute(raw):
    """Tie every listener record to (gate, pass, phase): jobs by the
    local properties the harness set, anything else by time."""
    samples = raw["samples"]

    def by_time(t):
        s = _locate(samples, t)
        if s is None:
            return None, None, None
        return s["gate"], s["pass"], "build" if t < s["t1"] else "action"

    jobs = {}
    for j in raw.get("jobs", []):
        j = dict(j)
        if j.get("gate") is None or j.get("pass") is None:
            j["gate"], j["pass"], j["phase"] = by_time(j["t0"])
        jobs[j["id"]] = j
    stages = []
    for s in raw.get("stages", []):
        s = dict(s)
        job = jobs.get(s.get("job"))
        if job is not None:
            s["gate"], s["pass"] = job["gate"], job["pass"]
        else:
            s["gate"], s["pass"], _ = by_time(s["t0"] or 0.0)
        stages.append(s)
    # Catalyst phases: a memoized frame reports the same phases again,
    # so each (phase, start, end) counts once, in the evaluation it
    # happened in.
    phases = {}
    for q in raw.get("queries", []):
        for name, p in _phases(q).items():
            phases[(name, p["t0"], p["t1"])] = None
    planning = []
    for name, t0, t1 in sorted(phases, key=lambda k: k[1]):
        gate, pss, _ = by_time(t0)
        planning.append({"phase": name, "t0": t0, "t1": t1, "gate": gate, "pass": pss})
    exchanges = [{"gate": q["gate"], "pass": q["pass"], "exchanges": q["exchanges"]}
                 for q in raw.get("queries", []) if q.get("func") == "final"]
    batches = []
    for b in raw.get("batches", []):
        b = dict(b)
        b["gate"], b["pass"], b["phase"] = by_time(b["t0"])
        batches.append(b)
    return list(jobs.values()), stages, planning, exchanges, batches


def _phases(q):
    return {k: v for k, v in q.items() if isinstance(v, dict) and "t0" in v}


PLAN_PHASES = ("analysis", "optimization", "planning")


def phase_s(planning, name):
    return sum(p["t1"] - p["t0"] for p in planning if p["phase"] == name) / 1e3


def spans_with_listeners(raw, jobs, stages, batches):
    """The harness's spans plus job, stage and streaming-batch spans,
    each under the span of its gate's build or action step."""
    spans = list(raw.get("spans", []))
    step = {(s["name"], s["attrs"]["pass"], s["kind"]): s["id"]
            for s in spans if s["kind"] in ("build", "action")}
    next_id = max([s["id"] for s in spans] + [0]) + 1
    job_span = {}
    for j in jobs:
        if "t1" not in j:
            continue
        parent = step.get((j["gate"], j["pass"], j["phase"]), 0)
        spans.append({"id": next_id, "parent": parent, "kind": "job", "name": str(j["id"]),
                      "t0": j["t0"], "t1": j["t1"], "attrs": {}})
        job_span[j["id"]] = next_id
        next_id += 1
    for s in stages:
        if s.get("t0") is None or s.get("t1") is None:
            continue
        spans.append({"id": next_id, "parent": job_span.get(s.get("job"), 0), "kind": "stage",
                      "name": str(s["id"]), "t0": s["t0"], "t1": s["t1"], "attrs": {}})
        next_id += 1
    for b in batches:
        spans.append({"id": next_id, "parent": step.get((b["gate"], b["pass"], b["phase"]), 0),
                      "kind": "batch", "name": str(b["batch"]),
                      "t0": b["t0"], "t1": b["t0"] + b["trigger_ms"], "attrs": {}})
        next_id += 1
    return spans


def per_layer(raw):
    """Per-layer metrics over the measured passes, per pass unless the
    name says otherwise (ratios, percentiles and peaks are over all of
    them)."""
    jobs, stages, planning, exchanges, batches = attribute(raw)
    npass = max(1, len(raw["passes"]))
    cores = raw["cpus"]

    def timed(x):
        return x.get("pass") is not None and x["pass"] >= 0

    jobs = [j for j in jobs if timed(j)]
    tstages = [s for s in stages if timed(s)]
    planning = [p for p in planning if timed(p)]
    exchanges = [x for x in exchanges if timed(x)]
    batches = [b for b in batches if timed(b)]
    samples = _timed(raw["samples"])
    spans = spans_with_listeners(raw, jobs, tstages, batches)
    own = self_times(spans)

    def total(key, xs=tstages):
        return sum(x.get(key, 0) for x in xs)

    def per_pass(x):
        return x / npass

    exec_run_s = total("run_ms") / 1e3
    wall_s = sum((p["t1"] - p["t0"]) / 1e3 for p in raw["passes"])
    lo, hi = raw["loop"]
    before = [v for t, v in raw.get("cache_series", []) if t < lo]
    during = [v for t, v in raw.get("cache_series", []) if lo <= t < hi]
    cache_peak = max(during + before[-1:] + [0])
    trig = [b["trigger_ms"] for b in batches]
    rows = sum(b["rows"] for b in batches)
    return {
        "plans.analysis_s": per_pass(phase_s(planning, "analysis")),
        "plans.optimization_s": per_pass(phase_s(planning, "optimization")),
        "plans.planning_s": per_pass(phase_s(planning, "planning")),
        "plans.exchanges": per_pass(sum(x["exchanges"] for x in exchanges)),
        "gate.build_s": per_pass(sum((s["t1"] - s["t0"]) / 1e3 for s in samples)),
        "gate.action_s": per_pass(sum((s["t2"] - s["t1"]) / 1e3 for s in samples)),
        "gate.build_self_s": per_pass(sum(own[s["id"]] for s in spans
                                          if s["kind"] == "build" and s["attrs"]["pass"] >= 0) / 1e3),
        "gate.action_self_s": per_pass(sum(own[s["id"]] for s in spans
                                           if s["kind"] == "action" and s["attrs"]["pass"] >= 0) / 1e3),
        "gate.build_jobs": per_pass(sum(1 for j in jobs if j["phase"] == "build")),
        "gate.action_jobs": per_pass(sum(1 for j in jobs if j["phase"] == "action")),
        "sched.jobs": per_pass(len(jobs)),
        "sched.stages": per_pass(len(tstages)),
        "sched.tasks": per_pass(total("tasks")),
        "sched.task_failures": per_pass(total("task_failures")),
        "sched.slack_s": per_pass(slack_s(wall_s, exec_run_s, cores)),
        "sched.useful_task_ratio": useful_task_ratio(total("useful_tasks"), total("tasks")),
        "exec.run_s": per_pass(exec_run_s),
        "exec.cpu_s": per_pass(total("cpu_ns") / 1e9),
        "exec.gc_s": per_pass(total("gc_ms") / 1e3),
        "shuffle.write_bytes": per_pass(total("shuffle_write_bytes")),
        "shuffle.read_bytes": per_pass(total("shuffle_read_bytes")),
        "shuffle.fetch_wait_s": per_pass(total("fetch_wait_ms") / 1e3),
        "sources.input_bytes": per_pass(total("input_bytes")),
        "sources.input_rows": per_pass(total("input_rows")),
        "sources.output_bytes": per_pass(total("output_bytes")),
        "sources.output_rows": per_pass(total("output_rows")),
        "mem.spill_bytes": per_pass(total("spill_bytes")),
        "mem.peak_exec_bytes": max([s.get("peak_exec_bytes", 0) for s in tstages] + [0]),
        "cache.stored_bytes": cache_peak,
        "streaming.batches": per_pass(len(batches)),
        "streaming.batch_p50_ms": median(trig),
        "streaming.batch_max_ms": max(trig + [0]),
        "streaming.add_batch_ms": per_pass(sum(b["add_batch_ms"] for b in batches)),
        "streaming.query_planning_ms": per_pass(sum(b["planning_ms"] for b in batches)),
        "streaming.commit_ms": per_pass(sum(b["commit_ms"] for b in batches)),
        "streaming.state_rows": max([b["state_rows"] for b in batches] + [0]),
        "streaming.state_mem_bytes": max([b["state_mem_bytes"] for b in batches] + [0]),
        "stream_rows_per_s": rows / (sum(trig) / 1e3) if sum(trig) else 0.0,
    }


def layer_table(raw):
    """Per gate, seconds per measured pass in each layer: the rows of
    the notes' "which fixed cost dominates" table."""
    jobs, stages, planning, _, batches = attribute(raw)
    npass = max(1, len(raw["passes"]))
    cores = raw["cpus"]
    rows = {}
    for s in _timed(raw["samples"]):
        r = rows.setdefault(s["gate"], {"module": s["module"], "wall_s": 0.0, "build_s": 0.0,
                                        "action_s": 0.0, "planning_s": 0.0, "build_jobs": 0,
                                        "jobs": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
                                        "slack_s": 0.0, "batches": 0, "add_batch_ms": 0,
                                        "batch_planning_ms": 0, "commit_ms": 0})
        r["wall_s"] += (s["t2"] - s["t0"]) / 1e3
        r["build_s"] += (s["t1"] - s["t0"]) / 1e3
        r["action_s"] += (s["t2"] - s["t1"]) / 1e3
    for p in planning:
        if p["pass"] is not None and p["pass"] >= 0 and p["gate"] in rows \
                and p["phase"] in PLAN_PHASES:
            rows[p["gate"]]["planning_s"] += (p["t1"] - p["t0"]) / 1e3
    for j in jobs:
        if j.get("pass") is not None and j["pass"] >= 0 and j["gate"] in rows:
            rows[j["gate"]]["jobs"] += 1
            rows[j["gate"]]["build_jobs"] += j["phase"] == "build"
    for s in stages:
        if s.get("pass") is not None and s["pass"] >= 0 and s["gate"] in rows:
            rows[s["gate"]]["exec_run_s"] += s.get("run_ms", 0) / 1e3
            rows[s["gate"]]["exec_cpu_s"] += s.get("cpu_ns", 0) / 1e9
    for b in batches:
        if b.get("pass") is not None and b["pass"] >= 0 and b["gate"] in rows:
            r = rows[b["gate"]]
            r["batches"] += 1
            r["add_batch_ms"] += b["add_batch_ms"]
            r["batch_planning_ms"] += b["planning_ms"]
            r["commit_ms"] += b["commit_ms"]
    for r in rows.values():
        r["slack_s"] = slack_s(r["wall_s"], r["exec_run_s"], cores)
        for k in list(r):
            if k != "module":
                r[k] = r[k] / npass
    return rows
