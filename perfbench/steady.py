#!/usr/bin/env python3
"""Steadiness tool: run one workload repeatedly and summarize each metric.

    python3 perfbench/steady.py --workload W [--runs 10] [--seed0 1] [--trace 0|1]

Runs `perfbench/run.py` once per seed (seed0, seed0+1, ...) with the
`run_seconds` of BENCHMARK.json, each in a JVM of its own, one after the
other. Prints, per metric, the median and quartiles of the runs (Python's
statistics.quantiles(n=4)), the spread (q3 - q1) / median, and the metric's
bound; then the share of failed operations and the wall time per run. The
last line is the same summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, shares, walls = {}, set(), []
    for seed in range(a.seed0, a.seed0 + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            sys.exit(f"seed {seed}: run.py exited {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        if not r["correct"]:
            sys.exit(f"seed {seed}: outputs are not correct")
        shares.add((r["failed"], r["attempted"]))
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s, attempted {r['attempted']}, failed {r['failed']}",
              file=sys.stderr)
        for line in p.stderr.splitlines():
            if line.startswith("perfbench:"):
                print("  " + line, file=sys.stderr)

    summary = {"workload": a.workload, "runs": a.runs, "seed0": a.seed0,
               "failed_share": sorted({f / n for f, n in shares}),
               "wall_s": round(sum(walls), 1), "metrics": {}}
    print(f"{'metric':40} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        summary["metrics"][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
        b = bounds.get(k)
        print(f"{k:40} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f} {b if b is not None else '':>6}")
    print(f"failed share {summary['failed_share']}, {summary['wall_s']} s for {a.runs} runs")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
