"""Steadiness check: sets of runs of the same code, each run with another
seed, and each end-to-end metric's spread against its bound.

    python3 perfbench/steadiness.py --runs 10 --sets 2 [--workloads a,b] [--trace]

Per workload and metric it prints the median, the distance between the
first and third quartile (`statistics.quantiles(values, n=4)`) as a share
of the median, and whether that spread is within the metric's bound and
within a third of it. With two sets it also prints how much worse the
second set's median is than the first's, against the same bound. With
``--trace`` it adds one traced run per workload and prints the tracing
overhead: traced minus untraced `setup_s` and `cold_s` for the same seed.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    """(detail line, result line, wall seconds) of one run."""
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        print(f"  incorrect: {detail['errors']}", file=sys.stderr)
    if detail.get("loaded"):
        print(f"  loaded run: {detail['machine']}", file=sys.stderr)
    return detail, result, wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m for m in spec["end_to_end"]}
    report: dict = {}
    all_ok = True
    for wl in args.workloads.split(","):
        sets: list[dict[str, list[float]]] = []
        walls: list[float] = []
        for s in range(args.sets):
            vals: dict[str, list[float]] = {}
            for i in range(args.runs):
                seed = args.first_seed + s * args.runs + i
                _, res, wall = run_once(wl, seed, spec["run_seconds"], 0)
                walls.append(wall)
                for name, m in res["metrics"].items():
                    vals.setdefault(name, []).append(m["value"])
                print(f"{wl} set {s + 1} seed {seed}: {wall:.1f}s "
                      + " ".join(f"{k}={v[-1]:.4g}" for k, v in vals.items()), flush=True)
            sets.append(vals)
        rows = {}
        for name, m in bounds.items():
            first = sets[0][name]
            row = {"median": statistics.median(first), "spread": spread(first),
                   "bound": m["bound"]}
            row["within_bound"] = row["spread"] <= m["bound"]
            row["within_third"] = row["spread"] <= m["bound"] / 3
            if len(sets) == 2:
                second = statistics.median(sets[1][name])
                worse = (second - row["median"]) / row["median"]
                if m["better"] == "higher":
                    worse = -worse
                row.update(second_median=second, second_spread=spread(sets[1][name]),
                           second_worse_by=worse, drift_ok=worse <= m["bound"])
                row["within_bound"] = row["within_bound"] and row["second_spread"] <= m["bound"]
            all_ok = all_ok and row["within_bound"] and row.get("drift_ok", True)
            rows[name] = row
        report[wl] = {"metrics": rows, "run_wall_s": {
            "median": statistics.median(walls), "max": max(walls), "sum": sum(walls)}}
        if args.trace:
            # a traced run prints per-layer metrics; its end-to-end values
            # are in its detail line
            # a traced run skips the timed window: only the figures it
            # shares with an untraced run are compared
            traced, res, wall = run_once(wl, args.first_seed, spec["run_seconds"], 1)
            plain = run_once(wl, args.first_seed, spec["run_seconds"], 0)[0]
            all_ok = all_ok and res["correct"]
            report[wl]["traced"] = {"correct": res["correct"], "wall_s": wall, "overhead": {
                name: traced["measured"][name] - plain["measured"][name]
                for name in ("setup_s", "cold_s")}}
        print(json.dumps({wl: report[wl]}, indent=1), flush=True)
    print("STEADY" if all_ok else "NOT STEADY")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
