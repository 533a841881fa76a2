#!/usr/bin/env python3
"""Spread of repeated runs of one workload.

    python3 perfbench/spread.py out-1.json out-2.json ...

Each file holds the output of one `run.py` run. For every metric, prints
the median, the distance between the first and third quartile as a share
of the median, and, for an end-to-end metric, its bound in BENCHMARK.json
and whether the spread stays under a third of it.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def last_json(path):
    with open(path) as fh:
        return json.loads(fh.read().strip().splitlines()[-1])


def main(paths):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    runs = [last_json(p) for p in paths]
    print(f"{len(runs)} runs, all correct: {all(r['correct'] for r in runs)}, "
          f"failed/attempted: {sorted({(r['failed'], r['attempted']) for r in runs})}")
    for name in runs[0]["metrics"]:
        vs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        rel = (q[2] - q[0]) / med if med else 0.0
        line = f"{name:40s} median {med:14.4f}  iqr/median {rel:7.4f}"
        if name in bounds:
            line += f"  bound {bounds[name]:.2f}  {'ok' if rel < bounds[name] / 3 else 'WIDE'}"
        print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
