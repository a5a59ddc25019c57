#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 nhsbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result lines as `run.py` appends them to
`.bench_build/nhsbench/results.jsonl` (one JSON object per run, with its
stamp). For every workload and metric the script prints both medians, the
relative change and each side's quartile spread. Runs stamped with a
different cpu count are not comparable: the script flags them and exits
with code 1.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    runs = defaultdict(list)
    cpus = set()
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                s = r["stamp"]
                cpus.add(s["cpus"])
                runs[(s["workload"], s["trace"])].append(r["result"])
    return runs, cpus


def summary(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (base, base_cpus), (new, new_cpus) = load(sys.argv[1]), load(sys.argv[2])
    if base_cpus != new_cpus or len(base_cpus) > 1:
        print(f"WARNING: cpu counts differ ({sorted(base_cpus)} vs {sorted(new_cpus)}); "
              "these runs are not comparable")
        status = 1
    else:
        status = 0
    print(f"{'workload':16} {'metric':34} {'base':>14} {'new':>14} {'change':>8} "
          f"{'base_iqr':>8} {'new_iqr':>8}")
    for key in sorted(set(base) & set(new)):
        metrics = sorted(set().union(*(r["metrics"] for r in base[key])))
        for m in metrics:
            b = [r["metrics"][m]["value"] for r in base[key] if m in r["metrics"]]
            n = [r["metrics"][m]["value"] for r in new[key] if m in r["metrics"]]
            if not b or not n:
                continue
            (bm, bs), (nm, ns) = summary(b), summary(n)
            change = (nm - bm) / abs(bm) if bm else 0.0
            print(f"{key[0]:16} {m:34} {bm:14.4f} {nm:14.4f} {change:+8.1%} "
                  f"{bs:8.1%} {ns:8.1%}")
    sys.exit(status)


if __name__ == "__main__":
    main()
