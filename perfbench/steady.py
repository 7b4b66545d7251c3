"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --workload <name> --seeds 1 2 3 4 5

Runs ``run.py`` once per seed (trace off, BENCHMARK.json's
``run_seconds``), one after another, from the repository root, and
prints for each end-to-end metric its median, the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), and that spread against the
metric's bound in BENCHMARK.json; then each run's wall time.
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

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=False)
        walls.append(time.perf_counter() - t0)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect: {lines[-2]}")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        for key in ("measure_cpu_s", "measure_steal_s"):
            if key in detail:
                values.setdefault(key, []).append(detail[key])
        print(f"seed {seed}: {walls[-1]:.0f} s cpu={detail.get('measure_cpu_s', 0):.1f} "
              f"steal={detail.get('measure_steal_s', 0):.1f} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for name, vals in values.items():
        if name not in bounds:  # diagnostics of the measured phase
            print(f"{name:20s} median={stats.median(vals):12.4f} "
                  f"spread={stats.quartile_spread(vals):.4f}")
            continue
        spread = stats.quartile_spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{name:20s} median={stats.median(vals):12.4f} spread={spread:.4f} "
              f"bound/3={bounds[name] / 3:.4f} {'ok' if spread < bounds[name] / 3 else 'WIDE'}")
    print(f"run walls: median {stats.median(walls):.0f} s, max {max(walls):.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
