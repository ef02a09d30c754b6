#!/usr/bin/env python3
"""A/B the benchmark: this checkout against a parent commit, same host.

    python3 scripts/perf_ab.py [--parent REV] [--seeds N] [--workloads a,b,...]

The parent (REV, default HEAD, so the change is the working tree) is cloned
afresh into perfbench/out/ab/parent and builds its own classes there:
copying target/ from another checkout makes zinc write classes into the
wrong tree, and a clone leaves this repository's .git untouched. For each
seed 1..N and each workload it runs perfbench/run.py (--trace 0, for
BENCHMARK.json's run_seconds) once in each checkout, one run at a time, the
parent first on odd seeds and the change first on even seeds. Every result
file is copied to perfbench/out/ab/results/{parent,change}/ and
perfbench/compare.py prints the medians, quartile spreads and changes of
the two sets. The script then prints, per workload and end-to-end metric,
the pairs the change won (a pair is one seed's parent and change runs; ties
count for neither), and every run as seed:setup_s/op_p50_ms/items_per_s.
The exit status is compare.py's (1 if a metric is worse than its bound),
or 1 if a run was not correct or had failures.
"""
import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "perfbench" / "out" / "ab"


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"perf_ab: run.py failed in {checkout} ({workload} seed {seed}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def fmt(v):
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", default="HEAD", help="parent commit (default HEAD)")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default="arcgis-incoming,arcgis-outgoing,query-suite")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = [m["name"] for m in spec["end_to_end"]]
    lower_is_better = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    sha = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    parent = OUT / "parent"
    shutil.rmtree(parent, ignore_errors=True)
    parent.parent.mkdir(parents=True, exist_ok=True)
    subprocess.run(["git", "clone", "--quiet", "--no-checkout", str(ROOT), str(parent)], check=True)
    subprocess.run(["git", "checkout", "--quiet", "--detach", sha], cwd=parent, check=True)
    print(f"perf_ab: parent {a.parent} ({sha[:10]}) cloned to {parent}", file=sys.stderr)

    sides = {"parent": parent, "change": ROOT}
    workloads = a.workloads.split(",")
    for side in sides:
        d = OUT / "results" / side
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)

    results = {side: {w: {} for w in workloads} for side in sides}
    bad = 0
    for seed in range(1, a.seeds + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for w in workloads:
            for side in order:
                r = run(sides[side], w, seed, spec["run_seconds"])
                name = f"{w}-s{seed}-t0.json"
                shutil.copy(sides[side] / "perfbench" / "out" / "results" / name,
                            OUT / "results" / side / name)
                results[side][w][seed] = {m: r["metrics"][m]["value"] for m in metrics}
                if not r["correct"] or r["failed"]:
                    bad += 1
                print(f"perf_ab: seed {seed} {w} {side}: correct={r['correct']} failed={r['failed']} "
                      + " ".join(f"{m}={fmt(results[side][w][seed][m])}" for m in metrics),
                      file=sys.stderr)

    cmp = subprocess.run([sys.executable, str(ROOT / "perfbench" / "compare.py"),
                          str(OUT / "results" / "parent"), str(OUT / "results" / "change")], cwd=ROOT)
    print()
    for w in workloads:
        pa, pc = results["parent"][w], results["change"][w]
        won = {m: sum(1 for s in pa if (pc[s][m] < pa[s][m] if lower_is_better[m] else pc[s][m] > pa[s][m]))
               for m in metrics}
        print(f"{w}: pairs won " + ", ".join(f"{m} {won[m]}/{len(pa)}" for m in metrics))
    print(f"Every run, seed:{'/'.join(metrics)}:")
    for w in workloads:
        for side in sides:
            runs = results[side][w]
            cells = " ".join(f"s{s}:" + "/".join(fmt(runs[s][m]) for m in metrics) for s in sorted(runs))
            print(f"  {w} {side} [{cells}]")
    print(f"runs not correct or with failures: {bad}")
    sys.exit(cmp.returncode or (1 if bad else 0))


if __name__ == "__main__":
    main()
