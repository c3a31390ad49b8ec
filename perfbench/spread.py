"""Run the benchmark on several seeds and print each end-to-end
metric's median and spread (inter-quartile distance over the median,
from ``statistics.quantiles(values, n=4)``), next to its bound in
BENCHMARK.json.  Run from the repository root:

    python3 perfbench/spread.py --workload olap_reads --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in a.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        out = json.loads(lines[-1])
        info = [ln for ln in lines if ln.startswith(("drift", "FAILED"))]
        print(f"seed {seed}: correct={out['correct']} "
              f"failed={out['failed']}/{out['attempted']} "
              f"wall={walls[-1]:.1f}s " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()))
        for ln in info:
            print("   ", ln)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {len(a.seeds)} runs, wall median "
          f"{statistics.median(walls):.1f}s total {sum(walls):.0f}s")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':14s} {'median':>10s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        q = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"{k:14s} {med:10.4f} {(q[2] - q[0]) / med:8.4f} "
              f"{bounds.get(k, float('nan')):6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
