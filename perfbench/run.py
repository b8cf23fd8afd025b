"""The repo benchmark: one workload, closed loop, on local[4].

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the runner from source (perfbench/build.py),
generates the workload's corpus from the seed (perfbench/gen.py), runs
it (graftbench.Main), checks every query's output against its DuckDB
oracle (perfbench/oracle.py) and prints, as the last line, one JSON
object: correct, attempted, failed and metrics — the end-to-end
metrics untraced, the per-layer metrics traced. The line before it
holds the run's details: corpus, per-iteration times, host evidence,
oracle-unchecked queries and the span file's path.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {
    "batch_pipeline": ["g14_workflow_run"],
    "curation": ["d7_cluster", "s1_knn_brute", "s4_ivf_probe"],
}
ALL_QUERIES = [q for qs in WORKLOADS.values() for q in qs]
SETUPS = 3
# untimed iterations between the set-ups and the timed loop: the first
# few iterations after a fresh session still run measurably slower
WARM_S = 5
# a run must end within 180 s once built: the runner gets this long,
# the check and the report the rest
RUNNER_DEADLINE_S = 150


def jvm(cp, run_dir, args, timeout):
    """Runs graftbench.Main; its log goes to run_dir/jvm.log."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap keeps the driver's resident set from following the
    # collector's resizing decisions
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.JAVA_OPENS + ["-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                       timeout=timeout)


def main():
    started = time.time()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = p.parse_args()

    try:
        cp = build.build()
    except (RuntimeError, subprocess.SubprocessError) as e:
        sys.exit(f"build failed: {e}")
    import oracle  # needs the repo's tools/, present wherever the build is
    run_started = time.time()
    out_root = os.path.join(build.OUT, "runs")
    run_dir = os.path.join(out_root, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    corpus = gen.generate(a.workload, a.seed, data)
    corpus["gen_s"] = time.time() - run_started

    queries = WORKLOADS[a.workload]
    raw = os.path.join(run_dir, "spans.raw.jsonl")
    try:
        jvm(cp, run_dir, ["--data", data, "--work", run_dir, "--spans", raw,
                          "--queries", ",".join(queries), "--setups", str(SETUPS),
                          "--warm", str(WARM_S),
                          "--seconds", str(a.seconds), "--trace", str(a.trace)],
            timeout=RUNNER_DEADLINE_S - (time.time() - run_started))
    except subprocess.SubprocessError as e:
        with open(os.path.join(run_dir, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"runner failed: {e}")
    records = metrics.with_self_times(metrics.load(raw))

    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        wrong, unchecked = oracle.check(data, os.path.join(run_dir, f"setup{SETUPS}"),
                                        os.path.join(run_dir, f"setup{SETUPS - 1}"),
                                        queries, json.load(f))
    threw = [r for r in records if r["kind"] == "call" and r["error"]]
    # a call that threw in the checked pass has already counted
    checked_threw = {c["query"] for c in threw if c["parent"] == f"s{SETUPS}"}
    wrong = {q: e for q, e in wrong.items() if e and q not in checked_threw}
    attempted = len([r for r in records if r["kind"] == "call" and r["phase"] == "build"])
    failed = len(threw) + len(wrong)

    spans = os.path.join(out_root, f"{a.workload}-seed{a.seed}-trace{a.trace}.spans.jsonl")
    with open(spans, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    hosts = {h["when"]: {k: v for k, v in h.items() if k not in ("kind", "when")}
             for h in records if h["kind"] == "host"}
    detail = {
        "workload": a.workload, "seed": a.seed, "corpus": corpus,
        "setup_s": [r["seconds"] for r in records if r["kind"] == "setup"],
        "makespan_s": metrics.makespans(records, "timed"),
        "traced_makespan_s": metrics.makespans(records, "traced"),
        "host": hosts, "fail_ratio": failed / attempted if attempted else 1.0,
        "oracle_unchecked": unchecked, "wrong": wrong,
        "threw": [f"{c['id']}: {c['error']}" for c in threw][:10],
        "spans": spans, "wall_s": time.time() - started,
    }
    values = (metrics.layers(records, ALL_QUERIES) if a.trace
              else metrics.end_to_end(records, corpus["rows"]))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not wrong and not threw, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
