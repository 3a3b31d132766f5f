#!/usr/bin/env python3
"""Compare the benchmark on two checkouts: the parent commit and a change.

    python3 perfbench/compare.py --parent <checkout> --change <checkout>

Runs `perfbench/run.py` in each checkout with identical settings: ten
pairs on every workload of BENCHMARK.json (read from the change's
checkout), one pair per seed (seeds 1000 to 1009), alternating which side
runs first. The runs are kept in the change's checkout under
.bench_build/perfbench/compare-runs.json. Then, for every workload and
end-to-end metric:

  gain        the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range, in the metric's better direction, and
              the change fails no more operations than the parent;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  no regression shown, but the parent's own spread (IQR over
              median) is wider than the bound, and not every change run
              beats every parent run;
  unchanged   none of the above.

The share of failed operations (failed / attempted) is compared per
workload as well. Exit status is 1 if any regression or failure increase
is found.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr[-500:]}"}
    return json.loads(lines[-1])


PAIRS = 10
SEED_BASE = 1000


def collect(a):
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    runs = {"bench": bench, "pairs": []}
    for i in range(PAIRS):
        seed = SEED_BASE + i
        for w in [w["name"] for w in bench["workloads"]]:
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "workload": w, "first": order[0]}
            for side in order:
                pair[side] = run_once(getattr(a, side), w, seed, bench["run_seconds"])
                print(f"pair {i} {w} {side}: {json.dumps(pair[side])[:200]}", file=sys.stderr)
            runs["pairs"].append(pair)
    return runs


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdicts(runs):
    bench = runs["bench"]
    rows, bad = [], False
    for w in sorted({p["workload"] for p in runs["pairs"]}):
        ps = [p for p in runs["pairs"] if p["workload"] == w
              and "metrics" in p.get("parent", {}) and "metrics" in p.get("change", {})]
        if len(ps) < PAIRS:
            rows.append({"workload": w, "verdict": f"{len(ps)} of {PAIRS} pairs complete"})
            bad = True
            continue
        fail = {s: sum(p[s]["failed"] for p in ps) / max(1, sum(p[s]["attempted"] for p in ps))
                for s in ("parent", "change")}
        more_failures = fail["change"] > fail["parent"]
        bad |= more_failures
        rows.append({"workload": w, "metric": "failed_share", "parent": fail["parent"],
                     "change": fail["change"],
                     "verdict": "more failures" if more_failures else "no more failures"})
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            par = [p["parent"]["metrics"][name]["value"] for p in ps]
            chg = [p["change"]["metrics"][name]["value"] for p in ps]
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(1 for c, p in zip(chg, par) if better(c, p))
            worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed
            spread = (pq3 - pq1) / pmed
            if (wins >= 0.9 * PAIRS and abs(cmed - pmed) > (pq3 - pq1)
                    and better(cmed, pmed) and not more_failures):
                v = "gain"
            elif worse_by > m["bound"]:
                v = "regression"
                bad = True
            elif spread > m["bound"] and not all(better(c, p) for c in chg for p in par):
                v = "unresolved"
            else:
                v = "unchanged"
            rows.append({"workload": w, "metric": name, "pairs": len(ps), "wins": wins,
                         "parent_median": pmed, "parent_q1": pq1, "parent_q3": pq3,
                         "change_median": cmed, "change_q1": cq1, "change_q3": cq3,
                         "worse_by": worse_by, "parent_spread": spread,
                         "bound": m["bound"], "verdict": v})
    return rows, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    a = ap.parse_args()
    runs = collect(a)
    out = os.path.join(a.change, ".bench_build", "perfbench", "compare-runs.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(runs, f, indent=1)
    rows, bad = verdicts(runs)
    for r in rows:
        if "parent_median" in r:
            print(f"{r['workload']:14s} {r['metric']:18s} parent {r['parent_median']:.4g} "
                  f"[{r['parent_q1']:.4g}, {r['parent_q3']:.4g}]  change {r['change_median']:.4g} "
                  f"[{r['change_q1']:.4g}, {r['change_q3']:.4g}]  wins {r['wins']}/{r['pairs']}  "
                  f"{r['verdict']}")
        else:
            print(f"{r['workload']:14s} {r.get('metric', ''):18s} {r['verdict']} "
                  + (f"(parent {r['parent']:.4f}, change {r['change']:.4f})" if "parent" in r else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
