"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload dashboard --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one after another, and prints per
metric the median and the interquartile range as a share of the median,
the same statistic the acceptance rule uses (``statistics.quantiles(values,
n=4)``).  Each result line is appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds_of(args.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=600, check=False)
        wall = time.perf_counter() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        runs.append(res)
        rec = {"workload": args.workload, "seed": seed, "wall_s": wall,
               "result": res}
        print(json.dumps(rec), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
    if not runs:
        return 1
    print(f"{args.workload}: {len(runs)} runs, "
          f"{sum(not r['correct'] for r in runs)} not correct")
    for name in runs[0]["metrics"]:
        med, iqr = spread([r["metrics"][name]["value"] for r in runs])
        print(f"  {name:40s} median {med:14.6g}  iqr/median {iqr:7.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
