#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve|bulk_geocode|ingest_serve> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness
(perfbench/build.py) when their sources changed, then runs the harness
JVM. Everything it writes goes under .bench_build/ in the checkout. The last
line of standard output is the result object; the line before it is the
report (input properties, every end-to-end metric, per-layer detail). A
traced run's report also carries `tracing_overhead`: its end-to-end values
relative to the last untraced run of the same workload and seed in this
checkout, when there is one.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

from build import BUILD, TMP, build, fail, run_group

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
RESULTS = os.path.join(BUILD, "results")
WORKLOADS = ("serve", "bulk_geocode", "ingest_serve")
JVM_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    cp = build()
    # work directories a killed run left behind
    for d in os.listdir(BUILD):
        if d.startswith("run-"):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap size, so the collector's pacing does not drift with
    # when it chose to grow the heap
    cmd = ["java", *flags, "-XX:-UsePerfData", "-Xms4g", "-Xmx4g",
           f"-Djava.io.tmpdir={TMP}", "-cp", cp,
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", ROOT]
    rc, out = run_group(cmd, JVM_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if rc != 0 or not result:
        sys.stderr.write(out[-2000:])
        fail(f"benchmark JVM exited with {rc}" if rc != 0 else "no result line")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    got = list(json.loads(result[-1])["metrics"])
    if sorted(got) != sorted(want):
        fail(f"the run reported {got}, BENCHMARK.json lists {want}")
    report = [json.loads(l) for l in lines if l.startswith('{"report"')]
    if report:
        report = report[-1]
        e2e = report["report"].get("end_to_end", {})
        os.makedirs(RESULTS, exist_ok=True)
        saved = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-untraced.json")
        if not a.trace:
            with open(saved, "w") as f:
                json.dump(e2e, f)
        elif os.path.exists(saved):
            with open(saved) as f:
                untraced = json.load(f)
            report["report"]["tracing_overhead"] = {
                m: e2e[m] / v - 1.0 for m, v in untraced.items()
                if isinstance(v, (int, float)) and v and isinstance(e2e.get(m), (int, float))}
        print(json.dumps(report))
    print(result[-1])


if __name__ == "__main__":
    main()
