"""Turns the runner's span file into metrics.

Record kinds (one JSON object a line, written by graftbench.Main):
  setup      k, seconds
  iteration  id, phase (setup|timed|traced|check), start, end, restaged,
             and for traced/check passes output_files, g14_requests,
             g14_results
  call       id (<iteration>/<query>/<build|exec>), parent, query, phase,
             start, end, error
  job        id, parent (the call id set on the driver thread), start,
             end, call_site, ok                     (traced runs only)
  stage      id, parent (job), span (call id), start, end, tasks
  task       stage, span, start, end and its counters
  host       when (before|after), calib_ms, calib_par_ms, steal_s
  process    peak_rss_mb
Times are epoch milliseconds.
"""
import json
import statistics

CORES = 4
MB = 1024 * 1024
# genai source files whose Spark jobs are timed as pipeline stages
GENAI_STAGES = ["Jsonl", "BatchWorkflow", "ResultSink", "GenAI"]


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def with_self_times(records):
    """Adds self_ms to every span: its duration minus the part of it
    that its child spans cover. Levels: iteration > call > job > stage."""
    spans = [r for r in records if r["kind"] in ("iteration", "call", "job", "stage")]
    children = {}
    for r in spans:
        if r.get("parent") is not None:
            children.setdefault(r["parent"], []).append((r["start"], r["end"]))
    for r in spans:
        if r["start"] is None or r["end"] is None:
            continue
        kids = [(a, b) for a, b in children.get(r["id"], []) if a is not None and b is not None]
        r["self_ms"] = (r["end"] - r["start"]) - covered(kids, r["start"], r["end"])
    return records


def iterations(records, phase):
    return [r for r in records if r["kind"] == "iteration" and r["phase"] == phase]


def makespans(records, phase):
    return [(r["end"] - r["start"]) / 1e3 for r in iterations(records, phase)]


def end_to_end(records, rows):
    """The user-visible metrics of an untraced run."""
    setups = [r["seconds"] for r in records if r["kind"] == "setup"]
    span = median(makespans(records, "timed"))
    rss = [r["peak_rss_mb"] for r in records if r["kind"] == "process"]
    return {
        "setup_s": (median(setups), "s"),
        "makespan_s": (span, "s"),
        "items_per_s": (rows / span if span else 0.0, "1/s"),
        "peak_rss_mb": (rss[0] if rss else 0.0, "MB"),
    }


def _in(r, lo, hi):
    return r["start"] is not None and lo <= r["start"] < hi


def iteration_layers(records, it, queries):
    """Per-layer metrics of one traced iteration. Runtime counters take
    every job, stage and task that started inside the iteration (one
    client, so nothing else runs then); per-query counters take the
    jobs and stages parented by that query's calls."""
    lo, hi = it["start"], it["end"]
    wall = (hi - lo) / 1e3
    jobs = [r for r in records if r["kind"] == "job" and _in(r, lo, hi)]
    stages = [r for r in records if r["kind"] == "stage" and _in(r, lo, hi)]
    tasks = [r for r in records if r["kind"] == "task" and _in(r, lo, hi)]
    task_s = sum(t["end"] - t["start"] for t in tasks) / 1e3
    busy = covered([(t["start"], t["end"]) for t in tasks], lo, hi) / 1e3
    m = {
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": len(tasks), "spark.task_s": task_s,
        "spark.gc_s": sum(t.get("gc_ms", 0) for t in tasks) / 1e3,
        "spark.idle_s": wall - busy,
        "spark.core_util": task_s / (wall * CORES) if wall else 0.0,
        "shuffle.write_mb": sum(t.get("shuffle_write_b", 0) for t in tasks) / MB,
        "shuffle.read_mb": sum(t.get("shuffle_read_b", 0) for t in tasks) / MB,
        "shuffle.fetch_wait_s": sum(t.get("fetch_wait_ms", 0) for t in tasks) / 1e3,
        "scan.records": sum(t.get("records_read", 0) for t in tasks),
        "output.mb": sum(t.get("bytes_written", 0) for t in tasks) / MB,
        "output.files": it.get("output_files", 0),
    }
    for src in GENAI_STAGES:
        m[f"genai.{src}.s"] = sum(
            j["end"] - j["start"] for j in jobs
            if (j.get("call_site") or "").split(" at ")[-1].startswith(f"{src}.scala:")) / 1e3
    req = it.get("g14_requests", 0)
    m["genai.results_ratio"] = it.get("g14_results", 0) / req if req else 0.0
    # a query the workload does not call reads 0 on every counter
    for q in queries:
        for phase in ("build", "exec"):
            m[f"{q}.{phase}_s"] = 0.0
            m[f"{q}.{phase}_jobs"] = 0
        m[f"{q}.shuffle_mb"] = 0.0
    own = {}
    for c in records:
        if c["kind"] == "call" and c["parent"] == it["id"] and c["query"] in queries:
            own[c["id"]] = c["query"], c["phase"]
            m[f"{c['query']}.{c['phase']}_s"] = (c["end"] - c["start"]) / 1e3
    for j in jobs:
        if j.get("parent") in own:
            q, phase = own[j["parent"]]
            m[f"{q}.{phase}_jobs"] += 1
    for t in tasks:
        if t.get("span") in own:
            m[f"{own[t['span']][0]}.shuffle_mb"] += t.get("shuffle_write_b", 0) / MB
    return m


def layers(records, queries):
    """Medians over the traced iterations of each per-layer metric, plus
    the staging, host and tracing-overhead readings of the run."""
    per_it = [iteration_layers(records, it, queries) for it in iterations(records, "traced")]
    out = {k: median([m[k] for m in per_it]) for k in per_it[0]} if per_it else {}
    timed = iterations(records, "timed") + iterations(records, "traced")
    out["stage.reuse_ratio"] = (
        sum(not it["restaged"] for it in timed) / len(timed) if timed else 0.0)
    hosts = [r for r in records if r["kind"] == "host"]
    out["host.calib_ms"] = median([h["calib_ms"] for h in hosts])
    out["host.calib_par_ms"] = median([h["calib_par_ms"] for h in hosts])
    out["host.steal_s"] = (max(h["steal_s"] for h in hosts) - min(h["steal_s"] for h in hosts)
                           if hosts else 0.0)
    out["trace.overhead_s"] = (median(makespans(records, "traced"))
                               - median(makespans(records, "timed")))
    return {k: (v, unit(k)) for k, v in out.items()}


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name.endswith("ratio") or name.endswith("util"):
        return "ratio"
    return "count"
