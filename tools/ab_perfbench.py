"""Paired A/B runs of the repo benchmark (``perfbench/run.py``) from two
checkouts: a parent commit and a change.

    python3 tools/ab_perfbench.py --parent ../parent --change . \\
        --workload trail_query --seeds 501-510 [--metric ops_per_s] \\
        [--trace 0] [--seconds 5] [--out ab.json]

Each seed is one pair: the parent and the change each run once, one after
the other, with that seed, each in a fresh process in its own checkout.
The order alternates from pair to pair (parent first, then change first)
so a drift of the host during the series does not favour one side. For
every metric (by default the end-to-end metrics of ``BENCHMARK.json``) it
prints the per-pair values, each side's median, the parent's IQR
(``statistics.quantiles(n=4)``), the median gap and the number of pairs
the change wins in the metric's ``better`` direction. A gain is shown when
the change wins nearly every pair and the median gap exceeds the parent's
IQR. Only runs paired in time are comparable on a shared host; do not mix
pairs from different series.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``checkout``: its JSON line plus
    the wall time."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    t0 = time.time()
    out = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True,
                         text=True, timeout=900)
    wall = time.time() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{checkout} seed {seed} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    # the report lines ("<metric> <value> <unit>") carry the per-kind
    # figures an untraced run leaves out of its JSON line
    result["report"] = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) in (2, 3) and not line.startswith("#"):
            try:
                result["report"][parts[0]] = float(parts[1])
            except ValueError:
                pass
    return result


def value(result: dict, name: str) -> float:
    if name in result["metrics"]:
        return result["metrics"][name]["value"]
    return result["report"][name]


def summarize(better: str, pairs: list[tuple[float, float]]) -> dict:
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    q1, _, q3 = statistics.quantiles(parent, n=4) if len(parent) > 1 else (0, 0, 0)
    med_p, med_c = statistics.median(parent), statistics.median(change)
    sign = 1 if better == "higher" else -1
    return {
        "parent_median": med_p,
        "change_median": med_c,
        "parent_iqr": q3 - q1,
        "gap": med_c - med_p,
        "wins": sum(sign * (c - p) > 0 for p, c in pairs),
        "pairs": len(pairs),
        "gap_exceeds_iqr": sign * (med_c - med_p) > q3 - q1,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="one pair per seed, e.g. 501-510")
    ap.add_argument("--metric", action="append",
                    help="metric to compare, from the JSON line or the report "
                         "(repeatable; default: the end-to-end metrics)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds per run (default: BENCHMARK.json)")
    ap.add_argument("--out", help="write every run's JSON line here")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    names = args.metric or [m["name"] for m in bench["end_to_end"]]
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]

    runs = []
    for i, seed in enumerate(seeds(args.seeds)):
        sides = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            sides.reverse()
        pair = {"seed": seed, "order": [s for s, _ in sides]}
        for side, checkout in sides:
            pair[side] = run_once(checkout, args.workload, seed, seconds, args.trace)
        runs.append(pair)
        vals = "  ".join(
            f"{n} {value(pair['parent'], n):.4g} -> {value(pair['change'], n):.4g}"
            for n in names)
        ok = all(pair[s]["correct"] and not pair[s]["failed"] for s in ("parent", "change"))
        print(f"seed {seed} ({pair['order'][0]} first): {vals}  "
              f"wall {pair['parent']['wall_s']:.0f}/{pair['change']['wall_s']:.0f} s  "
              f"answers {'PASS' if ok else 'FAIL'}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)

    print(f"{'metric':24} {'parent':>10} {'change':>10} {'gap':>10} "
          f"{'parent IQR':>10} {'wins':>6}  gap > IQR")
    for n in names:
        s = summarize(better.get(n, "higher"), [
            (value(r["parent"], n), value(r["change"], n)) for r in runs])
        print(f"{n:24} {s['parent_median']:10.4g} {s['change_median']:10.4g} "
              f"{s['gap']:+10.4g} {s['parent_iqr']:10.4g} "
              f"{s['wins']:>3}/{s['pairs']:<2}  {'yes' if s['gap_exceeds_iqr'] else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
