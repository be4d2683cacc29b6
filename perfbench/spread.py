#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each end-to-end metric's
spread: the distance between the first and third quartile of its values as
a share of their median (statistics.quantiles(values, n=4)).

Usage (from the repository root):
  python3 perfbench/spread.py <workload>[,<workload>...] <first seed> <n seeds> [seconds]
"""
import json
import statistics
import subprocess
import sys
import time


def main():
    workloads = sys.argv[1].split(",")
    first, n = int(sys.argv[2]), int(sys.argv[3])
    seconds = sys.argv[4] if len(sys.argv) > 4 else "10"
    bounds = {m["name"]: m.get("bound") for m in json.load(open("BENCHMARK.json"))["end_to_end"]}
    for w in workloads:
        values = {}
        for seed in range(first, first + n):
            t0 = time.time()
            r = subprocess.run(["python3", "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", seconds, "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}", flush=True)
                continue
            res = json.loads(lines[-1])
            print(f"{w} seed {seed} ({time.time() - t0:.0f} s): correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
            print(f"{w:12s} {k:28s} median {med:12.4f}  spread {spread:6.3f}  bound {b}{flag}", flush=True)


if __name__ == "__main__":
    main()
