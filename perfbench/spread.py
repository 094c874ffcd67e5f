"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload live --seeds 1-10 [--seconds S]

Runs the benchmark once per seed, one run at a time, and prints per
metric the ten values' median and the distance between their first
and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1]) if lines[-1].startswith("{") else {}
        detail = json.loads(lines[-2]).get("detail", {}) if len(lines) > 1 else {}
        print(f"seed {seed}: exit {proc.returncode}, {time.time() - t0:.1f} s, "
              f"correct {res.get('correct')}, attempted {res.get('attempted')}, "
              f"failed {res.get('failed')}", flush=True)
        print("  " + ", ".join(f"{k}={v['value']:.4g}" for k, v in detail.items()), flush=True)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
        for name, m in res.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:28s} n={len(xs):2d} median={med:12.4f} spread={spread:7.4f} "
              f"bound={bounds.get(name)} values={[round(x, 4) for x in xs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
