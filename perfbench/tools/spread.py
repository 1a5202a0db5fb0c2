"""Run the benchmark on several seeds; report each metric's median and spread.

Usage, from the checkout root:

    python3 perfbench/tools/spread.py --workload tol_serve --seeds 1 2 3 \
        [--seconds 10] [--trace 0] [--out perfbench/results/runs.jsonl]

Each run appends {"workload", "seed", "wall_s", "detail", "result"} to
--out. The spread is (Q3 - Q1) / median, with the quartiles that
statistics.quantiles(values, n=4) gives.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def summarize(runs):
    names = list(runs[0]["result"]["metrics"])
    print(f"{'metric':40s} {'median':>14s} {'spread':>8s}  n={len(runs)}")
    for n in names:
        v = [r["result"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(v)
        spread = float("nan")
        if len(v) >= 2 and med:
            q = statistics.quantiles(v, n=4)
            spread = (q[2] - q[0]) / med
        print(f"{n:40s} {med:14.4f} {spread:8.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in a.seeds:
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        wall = time.monotonic() - t0
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
            continue
        run = {"workload": a.workload, "seed": seed, "wall_s": round(wall, 1),
               "detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}
        runs.append(run)
        print(f"seed {seed}: {wall:.0f} s, correct={run['result']['correct']}", file=sys.stderr)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(run) + "\n")
    if runs:
        summarize(runs)
    return 0 if len(runs) == len(a.seeds) else 1


if __name__ == "__main__":
    sys.exit(main())
