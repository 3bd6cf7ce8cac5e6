#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, and tracing overhead.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload serve --seeds 1 --overhead

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
repository root. For every end-to-end metric it prints the median and
the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next
to the metric's bound from ``BENCHMARK.json``. ``--overhead`` runs each
seed untraced and traced and prints traced minus untraced per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> list[dict]:
    """The JSON lines one run printed (the result last)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    return [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    values: dict[str, list[float]] = {}
    over: dict[str, list[float]] = {}
    for seed in args.seeds:
        lines = run(args.workload, seed, seconds, 0)
        res = lines[-1]
        print(json.dumps({"seed": seed, **lines[0], "correct": res["correct"], "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if args.overhead:
            traced = run(args.workload, seed, seconds, 1)[0]["traced_end_to_end"]
            for k, v in traced.items():
                over.setdefault(k, []).append(v["value"] - res["metrics"][k]["value"])

    print(f"{'metric':<20}{'median':>12}{'spread':>9}{'bound':>7}  values")
    for k, vals in values.items():
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        flag = "" if spread < bounds.get(k, 1) / 3 else "  <-- over a third of its bound"
        print(f"{k:<20}{med:>12.4f}{spread:>9.3f}{bounds.get(k, float('nan')):>7}  "
              f"{[round(v, 3) for v in vals]}{flag}")
    for k, d in over.items():
        print(f"tracing overhead {k}: median {statistics.median(d):+.4f} over {len(d)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
