#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <query-suite|arcgis-incoming|arcgis-outgoing> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --make-digests <graft.Verify dump dir>

The first run in a checkout builds the harness and the program from source
with sbt (perfbench/build.sbt depends on the repository's own build); later
runs reuse the build while the sources are unchanged. Each run is one fresh
JVM. With --trace 0 the printed metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics (a workload reports 0
for a layer it does not touch). The full result, with the host record, is
kept in perfbench/out/results/. --make-digests rewrites perfbench/digests.json
from a Verify dump (see perfbench/make_digests.sh).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
CLASSPATH = BENCH / "target" / "perfbench.classpath"
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# temporary files stay inside the checkout: java.io.tmpdir under out/, and
# no hsperfdata file in the system temp directory
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    f"-Djava.io.tmpdir={OUT / 'work' / 'tmp'}", "-Dspark.ui.enabled=false",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the program's and the harness's."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def build(stamp):
    if CLASSPATH.exists():
        lines = CLASSPATH.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(3, f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(3, "build failed")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(f"{stamp}\n{lines[-1]}\n")
    return lines[-1]


def commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["query-suite", "arcgis-incoming", "arcgis-outgoing"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-digests", metavar="DUMP")
    args = ap.parse_args()
    if not args.make_digests and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    spec_path = ROOT / "BENCHMARK.json"
    for need in (spec_path, ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            fail(2, f"{need.relative_to(ROOT)} is missing: run from a full checkout")
    spec = json.loads(spec_path.read_text())

    stamp = source_stamp()
    cp = build(stamp)
    started = time.monotonic()
    (OUT / "work" / "tmp").mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    if args.make_digests:
        sys.exit(subprocess.run([java, *JVM_FLAGS, "-cp", cp, "graft.perfbench.Digests",
                                 args.make_digests, str(BENCH / "digests.json")], cwd=ROOT).returncode)

    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    result_path = OUT / "results" / f"{name}.json"
    result_path.unlink(missing_ok=True)
    cmd = [java, *JVM_FLAGS, "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", str(ROOT), "--out", str(result_path)]
    with open(OUT / "logs" / f"{name}.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            fail(4, f"run exceeded {RUN_LIMIT_S} s; see perfbench/out/logs/{name}.log")
    shutil.rmtree(OUT / "work", ignore_errors=True)
    if code != 0 or not result_path.exists():
        fail(5, f"benchmark JVM exited {code}; see perfbench/out/logs/{name}.log")

    result = json.loads(result_path.read_text())
    result["detail"]["host"].update({"commit": commit(), "sources": stamp})
    result_path.write_text(json.dumps(result, indent=1))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in result["metrics"]:
            metrics[m["name"]] = {"value": result["metrics"][m["name"]], "unit": m["unit"]}
        elif args.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(6, f"end-to-end metric {m['name']} missing from the result")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
