#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <first_seed> <runs>

For each seed in turn it runs every workload of BENCHMARK.json once,
untraced, for the benchmark's `run_seconds`, so slow spells of the host
fall on all workloads alike. It then prints, per workload and metric,
the median and the distance between the first and third quartiles as a
share of the median, next to the metric's bound and to the spread of
the same metric before it was scaled to the reference host speed, and
the same for the host gauge of the run records (the mean of the
harness's HostGauge over the timed ops). It exits
with 1 when a metric other than `setup_s` spreads beyond its bound.
"""
import glob
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".perfbench_work", "results")


def spread(values):
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [med] * 3
    return med, (q[2] - q[0]) / med


def main():
    first_seed, n_runs = int(sys.argv[1]), int(sys.argv[2])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    runs = []
    for seed in range(first_seed, first_seed + n_runs):
        for w in workloads:
            t0 = time.time()
            r = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            record = max(glob.glob(os.path.join(
                RESULTS, f"{w}-seed{seed}-trace0-*.json")), key=os.path.getmtime)
            with open(record) as f:
                rec = json.load(f)
            gauge = rec["gauge_ms"]["timed"]
            runs.append({"workload": w, "seed": seed, "gauge": gauge,
                         "raw": rec["raw"], "wall_s": time.time() - t0, **res})
            print(f"{w} seed {seed}: correct={res['correct']} gauge={gauge:.2f}ms " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
    gauge_med, gauge_spread = spread([r["gauge"] for r in runs])
    print(f"== host gauge: median {gauge_med:.2f} ms, iqr/median {gauge_spread:.3f}")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    beyond = []
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        print(f"== {w}: {len(mine)} runs, mean wall "
              f"{statistics.mean(r['wall_s'] for r in mine):.1f} s, "
              f"all correct: {all(r['correct'] for r in mine)}")
        for k, bound in bounds.items():
            med, s = spread([r["metrics"][k]["value"] for r in mine])
            _, raw = spread([r["raw"][k] for r in mine])
            print(f"  {k:14s} median {med:12.4f}  iqr/median {s:.3f}  "
                  f"unscaled {raw:.3f}  bound {bound}")
            if s > bound and k != "setup_s":
                beyond.append(f"{w}/{k}")
    if beyond:
        sys.exit(f"spread beyond the bound: {', '.join(beyond)}")


if __name__ == "__main__":
    main()
