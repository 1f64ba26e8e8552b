#!/usr/bin/env python3
"""Run the benchmark several times per workload, each with its own seed, and
report for every end-to-end metric its median and its spread: the distance
between the first and third quartile (statistics.quantiles(n=4)) as a share
of the median, next to a third of the metric's bound.

    python3 perfbench/spread.py --runs 10 [--workloads fs_meta,ann_index]
                                [--seed0 100] [--json out.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = ([w["name"] for w in spec["workloads"]] if not a.workloads
             else a.workloads.split(","))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {}
    worst = 0.0
    for w in names:
        values, walls = {}, []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            p = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]),
                "--trace", str(a.trace)], cwd=ROOT, capture_output=True,
                text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print("%s seed %d: exit %d\n%s" % (w, seed, p.returncode,
                                                   p.stderr[-2000:]))
                sys.exit(1)
            res = json.loads(lines[-1])
            if not res["correct"]:
                print("%s seed %d: incorrect output\n%s"
                      % (w, seed, p.stdout))
                sys.exit(1)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        record[w] = {"values": values, "walls": walls}
        print("%s: %d runs, wall median %.1f s, max %.1f s\n    walls %s"
              % (w, a.runs, statistics.median(walls), max(walls),
                 " ".join("%.1f" % t for t in walls)))
        for k, vs in values.items():
            med = statistics.median(vs)
            if len(vs) < 2:
                print("  %-22s %.6g" % (k, med))
                continue
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("inf")
            b = bounds.get(k)
            flag = ""
            if b is not None:
                worst = max(worst, spread / b)
                flag = "  ok" if spread < b / 3 else (
                    "  WITHIN BOUND" if spread <= b else "  OVER BOUND")
            print("  %-22s median %-14.6g spread %.4f%s\n    %s" % (
                k, med, spread,
                "" if b is None else " (bound %.2f, a third %.3f)%s"
                % (b, b / 3, flag),
                " ".join("%.4g" % v for v in vs)))
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(record, fh, indent=1)
    print("worst spread / bound: %.3f" % worst)


if __name__ == "__main__":
    main()
