#!/usr/bin/env python3
"""Split the end-to-end change between two traced runs into layers.

    python3 perfbench/layer_diff.py BASE NEW

BASE and NEW are trace files written by `run.py --trace 1`, or
directories of them (several runs of one side are pooled per workload).
For each workload present on both sides it prints the change of the
mean traced op wall time, split into the change of each span's self
time (the self times of an op add up to its wall time, so the rows add
up to the total), then the change of every per-layer metric, then the
ten ops whose wall time moved most, each with the self time that moved most.
"""
import argparse
import glob
import json
import os
from collections import defaultdict


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    by_wl = defaultdict(list)
    for f in files:
        t = json.load(open(f))
        by_wl[t["run"]["args"]["workload"]].append(t)
    return by_wl


def pooled(traces):
    """Mean per op of wall and self times, mean of each per-layer metric,
    and the mean wall and self times per op name."""
    ops = [o for t in traces for o in t["ops"]]
    n = max(len(ops), 1)
    self_ms = defaultdict(float)
    by_name = defaultdict(lambda: {"n": 0, "wall_ms": 0.0, "self_ms": defaultdict(float)})
    for o in ops:
        for k, v in o["self_ms"].items():
            self_ms[k] += v / n
        e = by_name[o["name"]]
        e["n"] += 1
        e["wall_ms"] += o["wall_ms"]
        for k, v in o["self_ms"].items():
            e["self_ms"][k] += v
    for e in by_name.values():
        e["wall_ms"] /= e["n"]
        for k in e["self_ms"]:
            e["self_ms"][k] /= e["n"]
    metrics = defaultdict(float)
    for t in traces:
        for k, v in t["run"]["per_layer"].items():
            metrics[k] += v / len(traces)
    return {"wall_ms": sum(o["wall_ms"] for o in ops) / n, "self_ms": self_ms,
            "metrics": metrics, "by_name": by_name, "runs": len(traces), "ops": len(ops)}


def pct(new, old):
    return f"{(new - old) / old * 100:+.1f}%" if old else "   n/a"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    for wl in sorted(set(base) & set(new)):
        b, c = pooled(base[wl]), pooled(new[wl])
        print(f"== {wl}: base {b['runs']} runs / {b['ops']} ops, "
              f"new {c['runs']} runs / {c['ops']} ops")
        print(f"{'op wall (mean)':28s} {b['wall_ms']:12.1f} {c['wall_ms']:12.1f} "
              f"{c['wall_ms'] - b['wall_ms']:+11.1f} ms {pct(c['wall_ms'], b['wall_ms'])}")
        print("  self time by span (rows add up to the wall change)")
        for k in sorted(set(b["self_ms"]) | set(c["self_ms"])):
            x, y = b["self_ms"].get(k, 0.0), c["self_ms"].get(k, 0.0)
            print(f"  {k:26s} {x:12.1f} {y:12.1f} {y - x:+11.1f} ms {pct(y, x)}")
        print("  per-layer metrics")
        for k in sorted(set(b["metrics"]) | set(c["metrics"])):
            x, y = b["metrics"].get(k, 0.0), c["metrics"].get(k, 0.0)
            print(f"  {k:32s} {x:14.4g} {y:14.4g} {y - x:+14.4g} {pct(y, x)}")
        movers = sorted(set(b["by_name"]) & set(c["by_name"]),
                        key=lambda n: -abs(c["by_name"][n]["wall_ms"] - b["by_name"][n]["wall_ms"]))
        if len(movers) > 1:
            print("  top 10 ops by wall change, with the span that moved most")
            for name in movers[:10]:
                x, y = b["by_name"][name], c["by_name"][name]
                spans = set(x["self_ms"]) | set(y["self_ms"])
                k = max(spans, key=lambda s: abs(y["self_ms"].get(s, 0) - x["self_ms"].get(s, 0)))
                print(f"  {name:32s} {y['wall_ms'] - x['wall_ms']:+10.1f} ms "
                      f"({pct(y['wall_ms'], x['wall_ms'])}); {k} "
                      f"{y['self_ms'].get(k, 0) - x['self_ms'].get(k, 0):+.1f} ms")
        print()


if __name__ == "__main__":
    main()
