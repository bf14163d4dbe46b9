"""Steadiness check: run one workload repeatedly, each run a fresh
process with its own seed, and print every metric's median, quartiles
and spread ((q3 - q1) / median, quartiles as statistics.quantiles(n=4)
gives them) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload session_mix --runs 10 [--first-seed 1]

Run from the root of the checkout. The summary is also written to
perfbench/out/steady-<workload>.json.
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


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results, walls = [], []
    for i in range(a.runs):
        seed = a.first_seed + i
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        walls.append(time.time() - t)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        results.append(res)
        print(f"seed {seed}: {walls[-1]:.1f}s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr, flush=True)

    summary = {"workload": a.workload, "runs": a.runs, "first_seed": a.first_seed,
               "wall_s": walls, "metrics": {},
               "all_correct": all(r["correct"] for r in results),
               "failed_share": [r["failed"] / r["attempted"] for r in results]}
    print(f"{'metric':28} {'q1':>11} {'median':>11} {'q3':>11} {'spread':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3, sp = spread(vals) if len(vals) > 1 and statistics.median(vals) else (0, 0, 0, 0)
        b = bounds.get(name)
        flag = "" if b is None or sp < b / 3 else ("  > bound/3" if sp <= b else "  > bound")
        print(f"{name:28} {q1:11.4g} {med:11.4g} {q3:11.4g} {sp:8.3f} {b if b is not None else '-':>6}{flag}")
        summary["metrics"][name] = {"values": vals, "q1": q1, "median": med, "q3": q3,
                                    "spread": sp, "bound": b}
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steady-{a.workload}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
