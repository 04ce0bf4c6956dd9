#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds run records as run.py appends them to
<work>/results.jsonl (one JSON object per run). For every workload and
metric present in both sets it prints the parent and change medians with
their quartiles, the pair wins (runs with the same seed, counted for the
change when it is better by the metric's direction) and a verdict:
"unresolved" when either side's quartile spread, as a share of its
median, exceeds the metric's bound from BENCHMARK.json; otherwise
"better", "worse" or "same" by whether the median moved by more than the
bound. Metrics without a bound (the per-layer ones) get no verdict.
"""

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':15s} {'metric':38s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'wins':>6s}  verdict")
    for w in sorted(set(parent) & set(change)):
        names = sorted({k for r in parent[w] for k in r["metrics"]} &
                       {k for r in change[w] for k in r["metrics"]})
        for name in names:
            m = spec.get(name, {"better": "lower"})
            lower = m["better"] == "lower"
            p = {r["seed"]: r["metrics"][name]["value"] for r in parent[w] if name in r["metrics"]}
            c = {r["seed"]: r["metrics"][name]["value"] for r in change[w] if name in r["metrics"]}
            pq, cq = quartiles(sorted(p.values())), quartiles(sorted(c.values()))
            pairs = [s for s in p if s in c]
            wins = sum(1 for s in pairs if (c[s] < p[s] if lower else c[s] > p[s]))
            verdict = ""
            if "bound" in m:
                spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (pq, cq))
                delta = (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else 0.0
                if spread > m["bound"]:
                    verdict = "unresolved"
                elif abs(delta) <= m["bound"]:
                    verdict = "same"
                else:
                    verdict = "better" if (delta < 0) == lower else "worse"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{w:15s} {name:38s} {fmt(pq):>34s} {fmt(cq):>34s} "
                  f"{wins:>3d}/{len(pairs):<2d}  {verdict}")


if __name__ == "__main__":
    main()
