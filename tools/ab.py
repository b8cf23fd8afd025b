#!/usr/bin/env python3
"""Paired A/B of two git revisions on the repo benchmark (perfbench).

Usage: python3 tools/ab.py PARENT CHANGE --seeds 111-120
           [--workloads batch_pipeline,curation] [--out DIR]

Exports each revision with `git archive` into its own directory under
DIR (default: a new temporary directory), builds both, then for every
seed and workload runs `python3 perfbench/run.py --trace 0` once per
side for BENCHMARK.json's `run_seconds`, the parent first on the 1st,
3rd, ... seed and the change first on the others, so neither side
always runs second. Passing the same
revision twice is the A/A mode: two identical trees, run as pairs,
show how far a pair swings with no code difference. The workloads
default to all of BENCHMARK.json's.

Prints, per workload and end-to-end metric of BENCHMARK.json, the
median (q1-q3) of each side, change/parent of the medians, the pairs
the change won, and the metric's bound; then the per-pair makespan
ratios and any run that was not `correct` or had failed calls. The raw
results are kept in DIR/ab.json. Nothing under `perfbench/` is changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=dest, check=True,
                   stdout=subprocess.DEVNULL)


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"{tree}: {workload} seed {seed} printed nothing:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    p = argparse.ArgumentParser()
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--seeds", required=True, help="e.g. 111-120")
    p.add_argument("--workloads", help="comma-separated; default: BENCHMARK.json's")
    p.add_argument("--out")
    a = p.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    out = a.out or tempfile.mkdtemp(prefix="graft_ab_")
    trees = {"parent": os.path.join(out, "parent"), "change": os.path.join(out, "change")}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        export(rev, trees[side])

    results = []  # one record per (workload, seed): both sides' last lines
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            pair = {"workload": w, "seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(trees[side], w, seed, bench["run_seconds"])
            results.append(pair)
            print(f"# {w} seed {seed} ({order[0]} first): " + ", ".join(
                f"{s} makespan {pair[s]['metrics']['makespan_s']['value']:.3f}"
                for s in ("parent", "change")), file=sys.stderr, flush=True)
    with open(os.path.join(out, "ab.json"), "w") as f:
        json.dump({"parent": a.parent, "change": a.change, "pairs": results}, f, indent=1)

    print("| workload | metric | parent | change | change/parent | change better | bound |")
    print("|---|---|--:|--:|--:|--:|--:|")
    for w in workloads:
        pairs = [r for r in results if r["workload"] == w]
        for name, m in metrics.items():
            val = {s: [r[s]["metrics"][name]["value"] for r in pairs] for s in ("parent", "change")}
            lower = m["better"] == "lower"
            won = sum((c < p) if lower else (c > p) for p, c in zip(val["parent"], val["change"]))
            (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(val["parent"]), quartiles(val["change"])
            print(f"| {w} | {name} | {pm:.4g} ({pq1:.4g}–{pq3:.4g}) | {cm:.4g} ({cq1:.4g}–{cq3:.4g}) "
                  f"| {cm / pm:.3f} | {won}/{len(pairs)} | {m['bound']} |")
    for w in workloads:
        ratios = [f"{r['seed']}{r['first'][0]} {r['change']['metrics']['makespan_s']['value'] / r['parent']['metrics']['makespan_s']['value']:.2f}"
                  for r in results if r["workload"] == w]
        print(f"{w} makespan change/parent per pair (p/c = side run first): {', '.join(ratios)}")
    bad = [f"{r['workload']} seed {r['seed']} {s}" for r in results for s in ("parent", "change")
           if not r[s]["correct"] or r[s]["failed"]]
    print("every run correct, 0 failed" if not bad else "NOT correct or failed: " + "; ".join(bad))
    print(f"raw results: {os.path.join(out, 'ab.json')}")


if __name__ == "__main__":
    main()
