"""Run the benchmark repeatedly and report the spread of every metric.

    python3 perfbench/steadiness.py --workload trail_query --seeds 1-10 [--trace 0]

Runs ``run.py`` once per seed, one run at a time, and prints for each
metric its median and its spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from ``BENCHMARK.json``. Every run's
JSON line and wall time is kept in ``.perfbench/steadiness-<workload>-
trace<t>.json``.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.time()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, "result": result})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {vals}", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench",
                        f"steadiness-{args.workload}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(runs, fh, indent=1)
    print(f"{'metric':36} {'median':>14} {'spread':>8} {'bound':>6}")
    for name in runs[0]["result"]["metrics"]:
        med, sp = spread([r["result"]["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if sp <= bound / 3 else "WIDE")
        print(f"{name:36} {med:14.6g} {sp:8.3f} {bound if bound else '-':>6} {flag}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
          f"max {max(r['wall_s'] for r in runs):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
