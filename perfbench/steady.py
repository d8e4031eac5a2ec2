"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steady.py --workload query_tpch --seeds 1-10 [--trace 0]

For every metric of the result lines it prints the median, the quartiles
and the quartile spread (Q3 - Q1 over the median) beside the bound that
BENCHMARK.json fixes, plus each run's wall time. Runs are sequential, from
the root of the checkout; the result lines go to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    results, walls = [], []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload,
                                  "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", args.trace]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=900)
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        print(f"seed {seed}: {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": walls[-1],
                                    **res}) + "\n")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        spread = quartile_spread(vals) if med and len(vals) > 1 else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None else (
            "  ok" if spread < bound / 3 else "  WIDE")
        print(f"{name:40s} median={med:<14.6g} spread={spread:7.2%}"
              f" bound={bound}{flag}")
    print(f"wall per run: median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
