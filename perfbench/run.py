"""Code-memory benchmark: one run of one workload.

    python3 perfbench/run.py --workload index_search --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its inputs from the seed
(a Python project for `index_search`, analytics tables for
`catalog_headline`), drives the public API of the package (see
workloads.py), checks every output and prints two JSON lines: a detail
record (percentiles with sample counts, `failed_ops_frac`, machine state
and a `loaded` flag, errors), then the result line the metrics in
BENCHMARK.json are read from: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. A traced run also writes its spans
to ``.bench_out/spans-<workload>-<seed>.json``.

`failed_ops_frac` is not among the metrics, which must never be 0; the
result line carries the same figure as `failed` out of `attempted`.

Scratch files live in a per-run directory under ``.bench_out/`` that is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

from harness import PACKAGE, ROOT, pin_environment
from workloads import WORKLOADS, run_session


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "api.py")):
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=out_dir)
    pin_environment(work)
    sys.path.insert(0, ROOT)
    try:
        res = run_session(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    outcome = res["outcome"]
    measured = {**res["metrics"], **res["layers"]}
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "failed_ops_frac": outcome.failed / max(outcome.attempted, 1),
        "loaded": res["detail"]["machine"]["loaded"],
        "errors": outcome.errors,
        "measured": measured,
        **res["detail"],
    }))
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        print(f"error: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
