#!/usr/bin/env python3
"""Summarize or compare sets of benchmark results.

    python3 perfbench/compare.py <results_dir>            # medians and spread
    python3 perfbench/compare.py <before_dir> <after_dir>  # before vs after

A results directory holds the JSON files perfbench/run.py writes to
perfbench/out/results/ (copy them aside per commit). Only untraced runs
(--trace 0) count. For each workload and end-to-end metric it prints the
median, the quartile spread as a share of the median, and, for two sets, the
change of the median against the metric's bound from BENCHMARK.json.

Results are only comparable from the same host: the script refuses to
compare sets whose host records (cores, JVM, heap, JVM flags, Spark version)
differ, within a set or between sets.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HOST_KEYS = ("nproc", "jvm", "max_heap_mb", "jvm_args", "spark")


def load(d):
    runs = [json.loads(p.read_text()) for p in sorted(Path(d).glob("*.json"))]
    runs = [r for r in runs if not r["detail"]["trace"]]
    if not runs:
        sys.exit(f"no untraced results in {d}")
    return runs


def host(r):
    return {k: r["detail"]["host"].get(k) for k in HOST_KEYS}


def spread(values):
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets = [load(d) for d in sys.argv[1:]]
    hosts = {json.dumps(host(r), sort_keys=True) for s in sets for r in s}
    if len(hosts) > 1:
        print("refusing to compare: the results come from different hosts:", file=sys.stderr)
        for h in sorted(hosts):
            print("  " + h, file=sys.stderr)
        sys.exit(2)
    print("host:", next(iter(hosts)))
    workloads = sorted({r["detail"]["workload"] for s in sets for r in s})
    worse = 0
    for w in workloads:
        per_set = [[r for r in s if r["detail"]["workload"] == w] for s in sets]
        incorrect = sum(1 for s in per_set for r in s if not r["correct"])
        print(f"\n{w}: runs {' / '.join(str(len(s)) for s in per_set)}"
              + (f", {incorrect} INCORRECT" if incorrect else ""))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name] for r in s] for s in per_set]
            if not all(vals):
                continue
            cells = [f"{statistics.median(v):12.4f} ±{spread(v):6.1%}" for v in vals]
            line = f"  {name:14} {m['unit']:5} " + "  ".join(cells) + f"  bound {bound:.0%}"
            if len(vals) == 2:
                a, b = statistics.median(vals[0]), statistics.median(vals[1])
                change = (b - a) / a
                bad = change > bound if m["better"] == "lower" else -change > bound
                worse += bad
                line += f"  change {change:+7.1%}" + ("  WORSE" if bad else "")
            elif name != "setup_s" and spread(vals[0]) > bound:
                line += "  SPREAD ABOVE BOUND"
            print(line)
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
