#!/usr/bin/env python3
"""Steadiness of the benchmark on one commit.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b]
                                [--first-seed N] [--out FILE]

Runs two sets of `--runs` runs of every workload in BENCHMARK.json (or of
`--workloads`), each `run_seconds` long and each with its own seed; the sets
use different seeds, and workloads are interleaved so host drift spreads
evenly. For each end-to-end metric on each workload it prints both sets'
medians, quartiles and spreads (distance between the quartiles as a share of
the median, as statistics.quantiles(values, n=4) gives them), how far the
second set's median moved from the first's in the worse direction, and
whether both stay within the bound BENCHMARK.json fixes. It also compares
the share of failed operations between the sets. Exits 1 if anything
disagrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETS = 2


def run_once(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    if r.returncode != 0 or not res.get("correct"):
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"steady: {workload} seed {seed} failed (exit {r.returncode})")
    res["wall_s"] = time.time() - t0
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "steady.json"))
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    results = {}  # (set, workload) -> list of run results
    for s in range(SETS):
        for i in range(a.runs):
            seed = a.first_seed + 1000 * s + i
            for w in workloads:
                res = run_once(w, seed, seconds)
                results.setdefault((s, w), []).append(res)
                print(f"set {s + 1} run {i + 1} {w} seed {seed}: {res['wall_s']:.0f} s", file=sys.stderr, flush=True)

    ok = True
    report = []
    for w in workloads:
        print(f"== {w}")
        shares = set()
        for s in range(SETS):
            rs = results[(s, w)]
            shares.add((sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)))
        failed_shares = {f / t for f, t in shares}
        if len(failed_shares) > 1:
            ok = False
            print(f"  failed share differs between sets: {sorted(shares)}")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            row = {"workload": w, "metric": name, "unit": m["unit"], "bound": bound, "sets": []}
            for s in range(SETS):
                vals = [r["metrics"][name]["value"] for r in results[(s, w)]]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                row["sets"].append({"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": vals})
            first, last = row["sets"][0]["median"], row["sets"][1]["median"]
            worse = (last - first) / first if lower else (first - last) / first
            spread_ok = all(x["spread"] <= bound for x in row["sets"])
            agree = spread_ok and worse <= bound
            ok &= agree
            row.update(worse=worse, agree=agree)
            report.append(row)
            sets = "  ".join(f"set{k + 1} median {x['median']:.6g} [{x['q1']:.6g}, {x['q3']:.6g}] spread {x['spread']:.3f}"
                             for k, x in enumerate(row["sets"]))
            print(f"  {name} ({m['unit']}, bound {bound}): {sets}; worse by {worse:+.3f} -> "
                  f"{'agree' if agree else 'DISAGREE'}")
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"steady: {'all metrics agree' if ok else 'some metrics disagree'}; details in {os.path.relpath(a.out, ROOT)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
