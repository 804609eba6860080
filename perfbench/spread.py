#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10] [--trace 0]

Runs `perfbench/run.py` once per seed, one run at a time, from the current
directory (the checkout root). For every metric of the result lines it
prints the median, the quartiles (`statistics.quantiles(values, n=4)`) and
the distance between the quartiles as a share of the median, and the wall
time of each run. Append `--json <file>` to keep every result line.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--json")
    a = ap.parse_args()
    results, walls = [], []
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            r = json.loads(last)
        except ValueError:
            r = None
        vals = " ".join(f"{k}={v['value']:.4g}"
                        for k, v in sorted(r["metrics"].items())) if r else ""
        print(f"seed {seed}: exit {p.returncode}, {walls[-1]:.1f} s, "
              f"{'correct' if r and r['correct'] else 'NOT correct'} {vals}",
              flush=True)
        if r is None or p.returncode != 0:
            continue
        results.append(r)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results, f, indent=1)
    if len(results) < 2:
        sys.exit(1)
    print(f"runs {len(results)}, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for name in sorted(results[0]["metrics"]):
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:34s} median {statistics.median(vals):12.4f}  "
              f"q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"iqr/median {(q3 - q1) / statistics.median(vals):.3f}")


if __name__ == "__main__":
    main()
