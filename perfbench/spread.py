#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload lake_scan --seeds 1-10 [--seconds N]

Runs perfbench/run.py once per seed and prints, for each end-to-end
metric, the median of the runs and the distance between the first and
third quartiles (statistics.quantiles, n=4) as a share of the median,
next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--verbose", action="store_true",
                    help="also print each run's per-kind latencies")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for s in seeds(a.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", str(seconds),
             "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"seed {s}: exit {proc.returncode}")
            continue
        lines = proc.stdout.strip().splitlines()
        if a.verbose:
            print("\n".join(l for l in lines if l.startswith(("op ", "setup"))))
        r = json.loads(lines[-1])
        row = {k: m["value"] for k, m in r["metrics"].items()}
        print(f"seed {s}: correct={r['correct']} failed={r['failed']} " +
              " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for m in bench["end_to_end"]:
        v = values.get(m["name"], [])
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:32s} median={statistics.median(v):.5g} "
              f"iqr/median={(q3 - q1) / statistics.median(v):.4f} "
              f"bound={m['bound']}")


if __name__ == "__main__":
    main()
