#!/usr/bin/env python3
"""Steadiness of the benchmark: run it N times per workload and print the
median, quartiles and relative spread of every metric.

    python3 perfbench/steady.py --runs 10 [--seed0 1] [--trace 0|1]
        [--workloads a,b] [--json OUT]

Run from the repository root. Run i uses seed seed0 + i for every
workload; the order of the workloads alternates between runs. The spread
is (q3 - q1) / median with quartiles from statistics.quantiles(n=4); a
metric is flagged when it exceeds a third of its bound in BENCHMARK.json
(setup_s is flagged only against its whole bound: its runs differ by JVM
start-up, and its median is what a later change is held to).
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import quartiles, spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads")
    ap.add_argument("--json")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = (a.workloads.split(",") if a.workloads
             else [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = {w: [] for w in names}
    for i in range(a.runs):
        for w in (names if i % 2 == 0 else names[::-1]):
            cmd = bench["command"] + ["--workload", w, "--seed", str(a.seed0 + i),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(a.trace)]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not line.startswith("{"):
                sys.exit(f"run {i} of {w} failed with exit {r.returncode}")
            res = json.loads(line)
            results[w].append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                            if k in bounds or a.trace)
            print(f"[{i}] {w} seed={a.seed0 + i} {res['attempted']}/{res['failed']} "
                  f"correct={res['correct']} {vals}", flush=True)
    summary = {}
    for w, rs in results.items():
        print(f"\n== {w}: {len(rs)} runs, failed share "
              f"{sorted({r['failed'] / r['attempted'] for r in rs})}")
        summary[w] = {}
        for k in rs[0]["metrics"]:
            xs = [r["metrics"][k]["value"] for r in rs]
            if len(xs) < 2:
                continue
            q1, q2, q3 = quartiles(xs)
            sp = spread(xs) if q2 else 0.0
            b = bounds.get(k)
            flag = ""
            if b is not None and sp > (b if k == "setup_s" else b / 3):
                flag = "  <-- above its limit"
            print(f"  {k:26s} median {q2:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
                  f"spread {sp:7.2%}" + (f"  bound {b:.0%}" if b is not None else "") + flag)
            summary[w][k] = {"median": q2, "q1": q1, "q3": q3, "spread": sp,
                             "unit": rs[0]["metrics"][k]["unit"]}
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"runs": a.runs, "seed0": a.seed0, "trace": a.trace,
                       "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
