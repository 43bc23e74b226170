"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py <workload> <first_seed> <n_seeds> [--seconds S] [--trace 0|1]

Each run is a fresh ``run.py`` process. For every metric it prints the
median of the runs and the distance between the first and third quartile as
a share of that median (``statistics.quantiles(values, n=4)``), plus the wall
time of each run. Compare the spreads with the bounds in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("n_seeds", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.n_seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=root, capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1), **res}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2 and metrics.median(vs):
            spread = metrics.iqr_spread(vs)
            bound = bounds.get(k)
            print(f"{k:32s} median={metrics.median(vs):10.4f} spread={spread:.4f} bound={bound}")
    print(f"wall per run: median={metrics.median(walls):.1f}s max={max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
