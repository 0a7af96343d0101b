#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Runs each workload once per seed, untraced, one run at a time, and prints
for every end-to-end metric the median over the runs and the spread: the
distance between the first and third quartile as a share of the median
(Python's statistics.quantiles(values, n=4)). A spread above a third of
the metric's bound in BENCHMARK.json is flagged. Usage, from the root of a
checkout:

    python3 perfbench/spread.py --seeds 1-10 [--workloads etl_batch,lake_read] [--out raw.json]

With --out, every run's metrics, and the workload's own metric lines, are
also written to that file as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    raw = {}
    for w in names:
        values = raw.setdefault(w, {})
        lines = raw.setdefault(w + " metric lines", {})
        for s in seeds(args.seeds):
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                    str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {s}: exit {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {s}: incorrect result {res}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for line in out.stdout.splitlines()[:-1]:
                parts = line.split()
                if len(parts) == 5 and parts[0] == "metric":
                    lines.setdefault(parts[2], []).append(float(parts[3]))
            print(f"{w} seed {s}: {time.time() - t0:.0f}s wall", flush=True)
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
            if k != "setup_s":
                worst = max(worst, spread / bounds[k])
            flag = "  <-- over a third of bound" if spread > bounds[k] / 3 else ""
            print(f"{w:11s} {k:14s} median {med:12.4f}  spread {spread:6.3f}  "
                  f"bound {bounds[k]:.2f}{flag}", flush=True)
    print(f"largest spread / bound (setup_s aside): {worst:.2f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)


if __name__ == "__main__":
    main()
