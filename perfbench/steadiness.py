"""Run the benchmark on several seeds and report how steady it is.

    python3 perfbench/steadiness.py --workload crawl_deep --seeds 1-10 [--trace 1]

For every metric: the median and the spread (distance between the first
and third quartile, ``statistics.quantiles(values, n=4)``, as a share of
the median), next to the metric's bound from BENCHMARK.json.  Runs are
sequential; each one's JSON result line is also echoed.
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
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, check=False)
        walls.append(time.time() - t0)
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
        print(f"seed {seed} exit {proc.returncode} wall {walls[-1]:.1f}s "
              f"{line}", flush=True)
        if proc.returncode != 0:
            return 1
        for name, m in json.loads(line)["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"\n{args.workload} trace={args.trace}: {len(walls)} runs, "
          f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for name, vs in values.items():
        b = bounds.get(name)
        print(f"{name:40s} median {statistics.median(vs):12.4f}  "
              f"spread {spread(vs):6.3f}"
              + (f"  bound {b}" if b is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
