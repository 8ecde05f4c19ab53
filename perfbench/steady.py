#!/usr/bin/env python3
"""Steadiness check: repeat one workload over several seeds and print each
end-to-end metric's spread against its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest [--runs 10] [--first-seed 1]

The spread is the distance between the first and third quartiles
(statistics.quantiles, n=4) as a share of the median. A metric is steady
when its spread is under a third of its bound; setup_s is reported but
not held to that.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k in values:
            values[k].append(r["metrics"][k]["value"])
    steady = True
    for name, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        ok = name == "setup_s" or spread < bounds[name] / 3
        steady &= ok
        print(f"{name:14s} median={med:<12.5g} spread={spread:6.3f} bound={bounds[name]:.2f} "
              f"{'ok' if ok else 'TOO WIDE'}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
